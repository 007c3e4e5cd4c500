"""Tracing overhead: run one workload untraced and traced on the same seed
and print, per end-to-end metric, the traced value relative to the
untraced one.

    python3 perfbench/overhead.py --workload small_files --seed 1 --seconds 6
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", default="6")
    args = ap.parse_args()
    e2e = {}
    for trace in (0, 1):
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", args.seconds, "--trace", str(trace)]
        proc = subprocess.run(cmd, stdout=subprocess.DEVNULL)
        if proc.returncode != 0:
            print(f"run with --trace {trace} failed", file=sys.stderr)
            return 1
        path = Path(".bench_out") / f"e2e-{args.workload}-{args.seed}-trace{trace}.json"
        e2e[trace] = json.loads(path.read_text())
    print(f"{'metric':34s} {'untraced':>12s} {'traced':>12s} {'traced/untraced':>16s}")
    for name, (plain, unit) in e2e[0].items():
        traced = e2e[1][name][0]
        print(f"{name:34s} {plain:12.4g} {traced:12.4g} {traced / plain:16.3f}  {unit}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
