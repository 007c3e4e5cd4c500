"""Self-check of the benchmark at a tiny input size.

    python3 perfbench/selfcheck.py

From the root of a checkout, for every workload in BENCHMARK.json:

- an untraced run must print every end-to-end metric, and a traced run
  every per-layer metric, each with the unit BENCHMARK.json gives it, and
  both must pass their correctness checks;
- a run with one deliberately corrupted expected answer must report a
  failed check, which proves the checks are live.

It also checks that the benchmark exits with an error, printing no result,
in a directory that holds only BENCHMARK.json and the benchmark's files.
Exits 0 when everything holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

SPEC = json.loads(Path("BENCHMARK.json").read_text())


def run(workload: str, trace: int, *extra: str, cwd: str = ".") -> tuple[int, dict | None]:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--tiny", *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return proc.returncode, None


def main() -> int:
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for wl in (w["name"] for w in SPEC["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = run(wl, trace)
            expect(rc == 0 and res is not None, f"{wl} trace={trace}: exit 0 with a result")
            if res is None:
                continue
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{wl} trace={trace}: result keys")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{wl} trace={trace}: checks pass ({res['failed']}/{res['attempted']} failed)")
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{wl} trace={trace}: every {key} metric with its unit"
                   + ("" if got == want else f" (missing {sorted(set(want) - set(got))},"
                      f" extra {sorted(set(got) - set(want))},"
                      f" unit {[k for k in want if k in got and got[k] != want[k]]})"))
            if trace == 0:
                zero = [k for k, v in res["metrics"].items() if not v["value"]]
                expect(not zero, f"{wl}: no end-to-end metric is 0 {zero}")
        rc, res = run(wl, 0, "--corrupt")
        expect(res is not None and res["failed"] > 0 and not res["correct"],
               f"{wl}: a corrupted expectation is reported as failed")

    bare = Path(".bench_work") / f"bare-{os.getpid()}"
    bare.mkdir(parents=True)
    try:
        shutil.copy("BENCHMARK.json", bare)
        for p in SPEC["paths"]:
            shutil.copytree(p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = run(SPEC["workloads"][0]["name"], 0, cwd=str(bare))
        expect(rc != 0 and res is None, "exits non-zero without a result when the program is absent")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            bare.parent.rmdir()
        except OSError:
            pass  # a run's scratch is still there

    print("self-check " + ("passed" if not problems else f"FAILED: {len(problems)} problem(s)"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
