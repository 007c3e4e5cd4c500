"""Benchmark of the product service: lookups, then ingest while serving.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload small_files --seed 1 --seconds 6 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones.
See perfbench/README.md for the workloads, the metrics and which layer
metric should move which end-to-end metric.

Every run starts its own Spark session and builds its fixture twice
(set-up, timed, median reported). Then one closed-loop HTTP client runs
against an ``ApiServer``: first batches of lookups on the base table for
``--seconds`` seconds, then the workload's deliveries, each uploaded,
ingested, checked through its status and read back until the new version
shows (freshness). Every answer is checked against the generator's model.
Scratch files live under ``.bench_work/`` in the checkout and are removed at
the end; traces go to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import functools
import http.client
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path
from urllib.parse import quote

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from gen import Model  # noqa: E402

#: Workload parameters: ``base`` and ``delivery`` are in records (the
#: delivery the fixture is built from, and each delivery of the ingest
#: phase), ``deliveries`` is how many the ingest phase uploads. 20k records
#: of this generator are ~4.7 MiB, above the program's 4 MiB array split
#: threshold, so those deliveries take the array->JSONL conversion path;
#: 1k records (~230 KiB) take the whole-file parse path.
WORKLOADS = {
    "small_files": {"base": 5_000, "delivery": 1_000, "deliveries": 2},
    "large_files": {"base": 5_000, "delivery": 20_000, "deliveries": 1},
}
UPSERT_SHARE = 0.30
INVALID_SHARE = 0.02
#: Fixture builds per run; set-up reports their median. The first one
#: also pays the JVM and Python worker warm-up.
SETUP_PASSES = 2
#: Untimed lookup batches before the timed read phase. Lookups keep getting
#: faster over a JVM's first ~30 s of lookups (JIT), steeply at first; these
#: lift the timed window off the steep part, where a run's medians would
#: move with how fast the host happened to be during the warm-up.
WARM_BATCHES = 2
#: tiny sizes for the self-check (perfbench/selfcheck.py)
TINY = {"base": 300, "delivery": 100, "deliveries": 1}
STATUS_DONE = ("processed", "processed_with_errors")


def _processes() -> dict[int, tuple[int, bytes, int]]:
    """pid -> (parent pid, state, resident bytes) of every process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited while listing
        fields = raw[raw.rfind(b")") + 2:].split()
        out[int(d)] = (int(fields[1]), fields[0], int(fields[21]) * page)
    return out


def _descendants(procs: dict | None = None) -> list[int]:
    procs = procs or _processes()
    out, frontier = [], {os.getpid()}
    while frontier:
        frontier = {p for p, (ppid, _, _) in procs.items() if ppid in frontier}
        out += frontier
    return out


def _tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants (the
    driver JVM and its Python workers), in MiB."""
    procs = _processes()
    pids = [os.getpid(), *_descendants(procs)]
    return sum(procs[p][2] for p in pids if p in procs) / 2**20


class RssSampler:
    """Samples the process tree's resident memory in a background thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_mb())
        return False


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file() and not f.is_symlink())


def _base_and_deltas(wh_dir: Path) -> tuple[str | None, int]:
    """Published base version and its committed delta dirs, read from the
    warehouse directory (the layout ``ProductWarehouse`` documents)."""
    link = wh_dir / "products"
    if not link.is_symlink():
        return None, 0
    base = os.readlink(link)
    n = sum(1 for d in wh_dir.glob(f"{base}.d*") if (d / "_delta_commit").exists())
    return base, n


class Client:
    """Closed-loop HTTP client: one request at a time."""

    def __init__(self, host: str, port: int, tracer):
        self.host, self.port, self.tracer = host, port, tracer
        self.requests = 0
        self.errors = 0

    def call(self, method: str, path: str, body: bytes | None = None, headers=None):
        self.requests += 1
        with self.tracer.span("api.http"):
            conn = http.client.HTTPConnection(self.host, self.port, timeout=600)
            try:
                conn.request(method, path, body=body, headers=headers or {})
                resp = conn.getresponse()
                status, data = resp.status, resp.read()
            finally:
                conn.close()
        if status >= 500:
            self.errors += 1
        return status, json.loads(data)


class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.params = TINY if args.tiny else WORKLOADS[args.workload]
        self.work = work
        self.attempted = 0
        self.failures: list[str] = []
        #: read-phase latencies per kind
        self.lat: dict[str, list[float]] = {k: [] for k in ("code", "search", "status")}
        self.read_s = 0.0
        self.deliveries: list[dict] = []
        self.deltas_at_read: list[int] = []
        self.hits = self.code_lookups = self.rows_returned = 0
        self.conversion_s: list[float] = []
        self.written = 0
        self.seen_files: dict[str, tuple[int, int]] = {}
        self.spark = self.server = self.tracer = None

    # -- checks ----------------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    # -- set-up ----------------------------------------------------------------

    def start_session(self):
        from data_pipeline_challenge_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master="local[4]", shuffle_partitions=4)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def build_fixture(self, payload: bytes, name: str, i: int):
        """One set-up pass: a fresh warehouse holding the base delivery,
        ingested through the library batch path."""
        from data_pipeline_challenge_spark import pipeline
        from data_pipeline_challenge_spark.sources import landing

        wh_dir, landing_dir = self.work / f"wh{i}", self.work / f"landing{i}"
        t0 = time.perf_counter()
        lf = landing.upload(payload, landing_dir, orig_name=name)
        report = pipeline.ProductWarehouse(self.spark, wh_dir).ingest(landing_dir)
        secs = time.perf_counter() - t0
        return secs, lf.file_id, report.files.get(lf.file_id), wh_dir, landing_dir

    def setup(self, model: Model) -> dict:
        from data_pipeline_challenge_spark.api import ApiServer

        session_s = self.start_session()
        from spans import Tracer

        self.tracer = Tracer(self.spark, enabled=bool(self.args.trace))
        self.tracer.install()
        payload, pending = model.delivery(self.params["base"], 0.0, INVALID_SHARE)
        passes = []
        for i in range(1 if self.args.tiny else SETUP_PASSES):
            if i:
                shutil.rmtree(self.work / f"wh{i - 1}", ignore_errors=True)
                shutil.rmtree(self.work / f"landing{i - 1}", ignore_errors=True)
            secs, fid, counters, wh_dir, landing_dir = self.build_fixture(payload, "base.json", i)
            passes.append(secs)
            self.check_counters(counters, pending, f"base delivery pass {i}")
        model.commit(pending, fid)
        self.wh_dir = wh_dir
        t0 = time.perf_counter()
        self.server = ApiServer(self.spark, wh_dir, landing_dir, auto_process=False).start()
        self.client = Client(self.server.host, self.server.port, self.tracer)
        self.fids = [fid]
        # first touch of each read route, so the timed loop starts warm
        for path in (f"/product/find/code/{model.hot_code()}", "/product/find/name/partial/x",
                     f"/upload/status/{fid}"):
            self.client.call("GET", path)
        # start every timed loop from the same heap state
        self.spark.sparkContext._jvm.System.gc()
        server_s = time.perf_counter() - t0
        self.snapshot_written()
        self.written = 0
        return {
            "setup.session_s": session_s,
            "setup.pass_s": statistics.median(passes),
            "setup.server_s": server_s,
            "setup_s": session_s + statistics.median(passes) + server_s,
        }

    def check_counters(self, got: dict | None, pending: dict, what: str) -> None:
        want = {
            "total_records": pending["total"],
            "records_processed": pending["total"] - pending["invalid"],
            "records_failed": pending["invalid"],
        }
        got = {k: (got or {}).get(k) for k in want}
        self.check(got == want, f"{what}: counters {got} != {want}")

    def snapshot_written(self) -> None:
        """Add the bytes of warehouse files created since the last call."""
        for f in self.wh_dir.rglob("*"):
            if f.is_file() and not f.is_symlink():
                st = f.stat()
                key = (st.st_size, st.st_mtime_ns)
                if self.seen_files.get(str(f)) != key:
                    self.seen_files[str(f)] = key
                    self.written += st.st_size

    # -- the timed phases ---------------------------------------------------------

    def read_phase(self, model: Model) -> None:
        """Untimed warm-up batches, then batches of lookups on the base
        table until --seconds have passed (at least one batch)."""
        for _ in range(0 if self.args.tiny else WARM_BATCHES):
            for kind, arg in model.lookup_mix():
                self.lookup(model, kind, arg, timed=False)
        t0 = time.perf_counter()
        deadline = t0 + self.args.seconds
        while not self.deltas_at_read or time.perf_counter() < deadline:
            self.deltas_at_read.append(_base_and_deltas(self.wh_dir)[1])
            for kind, arg in model.lookup_mix():
                self.lookup(model, kind, arg)
        self.read_s = time.perf_counter() - t0

    def deliver(self, model: Model) -> None:
        """Upload one delivery, ingest it, check its status, and read one of
        its updated codes until the new version shows."""
        from data_pipeline_challenge_spark.sources import json_ingest

        tr, client = self.tracer, self.client
        payload, pending = model.delivery(self.params["delivery"], UPSERT_SHARE, INVALID_SHARE)
        if self.args.corrupt and not self.deliveries:
            pending["invalid"] += 1  # a wrong expectation the checks must catch
        base_before, _ = _base_and_deltas(self.wh_dir)

        t_up = time.perf_counter()
        tr.begin_op("upload")
        status, body = client.call("POST", "/upload", payload,
                                   {"Content-Type": "application/json", "X-Filename": "delivery.json"})
        tr.end_op()
        fid = body.get("file_id")
        self.check(status == 200 and bool(fid), f"upload: {status} {body}")

        t_ing = time.perf_counter()
        op = tr.begin_op("ingest")
        status, body = client.call("POST", "/admin/ingest")
        tr.end_op()
        t_done = time.perf_counter()
        self.check(status == 200 and fid in body.get("files", {}), f"ingest: {status} {body}")
        self.check_counters(body.get("files", {}).get(fid), pending, "ingest response")
        self.conversion_s.append(sum(c["seconds"] for c in json_ingest.LAST_CONVERSION_STATS.values()))
        base_after, _ = _base_and_deltas(self.wh_dir)
        folded = base_after != base_before
        if folded:
            tr.retype_op(op, "fold")

        # status until processed: ingest is synchronous, so the first poll
        # must already see it
        tr.begin_op("status")
        status, body = client.call("GET", f"/upload/status/{fid}")
        tr.end_op()
        self.check(status == 200 and body.get("status") in STATUS_DONE, f"status after ingest: {body}")
        self.check_counters(body, pending, "status counters")

        # freshness: read an updated code until the new version shows
        upserted = [c for c in pending["valid"] if c in model.table] or list(pending["valid"])
        code = upserted[0]
        self.deltas_at_read.append(_base_and_deltas(self.wh_dir)[1])
        for _ in range(50):
            tr.begin_op("lookup.code")
            status, body = client.call("GET", f"/product/find/code/{code}")
            tr.end_op()
            if status == 200 and body.get("file_id") == fid:
                break
        t_fresh = time.perf_counter()
        self.check(status == 200 and body.get("file_id") == fid, f"freshness read of {code}: {body}")
        model.commit(pending, fid)
        self.fids.append(fid)
        if tr.enabled:
            self.snapshot_written()
        self.deliveries.append({
            "valid": len(pending["valid"]), "total": pending["total"], "bytes": pending["bytes"],
            "upserts": pending["upserts"], "ingest_s": t_done - t_ing,
            "delivery_s": t_done - t_up, "freshness_s": t_fresh - t_up, "folded": folded,
        })

    def timed_call(self, op_type: str, key: str, path: str, timed: bool):
        """GET ``path``; when ``timed``, as one traced operation whose
        latency goes to ``self.lat[key]``."""
        if not timed:
            return self.client.call("GET", path)
        self.tracer.begin_op(op_type)
        t0 = time.perf_counter()
        status, body = self.client.call("GET", path)
        self.lat[key].append(time.perf_counter() - t0)
        self.tracer.end_op()
        return status, body

    def lookup(self, model: Model, kind: str, arg: str, timed: bool = True) -> None:
        """One lookup, checked against the model. Untimed (warm-up)
        lookups are checked too, but feed no metric."""
        if kind == "status":
            fid = model.rng.choice(self.fids)
            status, body = self.timed_call("status", "status", f"/upload/status/{fid}", timed)
            self.check(status == 200 and body.get("status") in STATUS_DONE, f"status {fid}: {body}")
            return
        route = {"code": "code", "miss": "code", "exact": "name/exact", "partial": "name/partial"}[kind]
        key = "code" if route == "code" else "search"
        status, body = self.timed_call(f"lookup.{key}", key, f"/product/find/{route}/{quote(arg, safe='')}",
                                       timed)
        rows = 0
        if kind == "code":
            name, fid, rev = model.table[arg]
            ok = status == 200 and (body.get("product_name"), body.get("file_id"), body.get("rev")) == (name, fid, rev)
            rows = int(status == 200)
            self.check(ok, f"code {arg}: {status} {body.get('file_id')} != {fid}")
        elif kind == "miss":
            ok = False
            self.check(status == 404, f"miss {arg}: {status}")
        elif kind == "exact":
            got = {p["code"] for p in body.get("products", [])}
            rows = len(got)
            self.check(status == 200 and got == model.expect_exact(arg), f"exact {arg!r}: {len(got)} rows")
        else:
            products = body.get("products", [])
            want = model.expect_partial_count(arg)
            rows = len(products)
            ok = status == 200 and len(products) == want and all(
                arg.lower() in (p.get("product_name") or "").lower() for p in products)
            self.check(ok, f"partial {arg!r}: {len(products)} rows, want {want}")
        if timed:
            self.rows_returned += rows
            if route == "code":
                self.code_lookups += 1
                self.hits += ok

    # -- the run ---------------------------------------------------------------

    def run(self) -> dict:
        model = Model(self.args.seed)
        self.work.mkdir(parents=True, exist_ok=True)
        with RssSampler() as rss:
            setup = self.setup(model)
            t0 = time.perf_counter()
            self.read_phase(model)
            for _ in range(self.params["deliveries"]):
                self.deliver(model)
            window_s = time.perf_counter() - t0
            print(f"perfbench: setup {setup}, {len(self.lat['code'])} code lookups in {self.read_s:.1f}s, "
                  f"{len(self.deliveries)} deliveries, {window_s:.1f}s in all", file=sys.stderr)
            self.final_checks(model)
            peak_rss = rss.peak
            analytics = {}
            if self.tracer.enabled:
                self.tracer.collect_counters()
                import analytics as an

                analytics = an.traced_pass(self.spark, self.tracer, self.args.seed, HERE / "data" / "sf0.001",
                                           self.work / "indexes", self.check)
                self.tracer.collect_counters()
                analytics = an.resolve_jobs(analytics, self.tracer)
        metrics = self.end_to_end(setup, peak_rss, model)
        self.e2e = metrics
        if self.tracer.enabled:
            metrics = self.per_layer(setup, model, window_s, analytics)
        return metrics

    def final_checks(self, model: Model) -> None:
        from data_pipeline_challenge_spark.pipeline import ProductWarehouse

        n = ProductWarehouse(self.spark, self.wh_dir).products().count()
        self.check(n == len(model.table), f"distinct codes {n} != {len(model.table)}")

    def end_to_end(self, setup: dict, peak_rss: float, model: Model) -> dict:
        d = self.deliveries
        med = statistics.median
        n_reads = sum(len(v) for v in self.lat.values())
        return {
            "setup_s": (setup["setup_s"], "s"),
            "peak_rss_mb": (peak_rss, "MiB"),
            "lookup.code_p50_s": (med(self.lat["code"]), "s"),
            "lookup.search_p50_s": (med(self.lat["search"]), "s"),
            "lookup.requests_per_s": (n_reads / self.read_s, "1/s"),
            "status.p50_s": (med(self.lat["status"]), "s"),
            "ingest.records_per_s": (sum(x["valid"] for x in d) / sum(x["ingest_s"] for x in d), "1/s"),
            "ingest.freshness_p50_s": (med(x["freshness_s"] for x in d), "s"),
            "storage.bytes_per_input_byte": (_dir_bytes(self.wh_dir) / model.input_bytes, "ratio"),
        }

    def per_layer(self, setup: dict, model: Model, window_s: float, analytics: dict) -> dict:
        import layers

        out = layers.derive(self.tracer, self)
        d = self.deliveries
        out.update({
            "setup.session_s": (setup["setup.session_s"], "s"),
            "setup.pass_s": (setup["setup.pass_s"], "s"),
            "run.deliveries": (len(d), "count"),
            "run.read_s": (self.read_s, "s"),
            "ingest.delivery_s": (statistics.mean(x["delivery_s"] for x in d), "s"),
            "run.window_s": (window_s, "s"),
            "input.upsert_share": (sum(x["upserts"] for x in d) / sum(x["valid"] for x in d), "ratio"),
            "input.invalid_share": (model.invalid / model.records, "ratio"),
            "input.hit_share": (self.hits / max(1, self.code_lookups), "ratio"),
            "input.deltas_at_read_max": (max(self.deltas_at_read), "count"),
            "lookup.samples": (len(self.lat["code"]) + len(self.lat["search"]), "count"),
            "pipeline.folds": (sum(x["folded"] for x in d), "count"),
            "jsonl.conversion_s": (statistics.mean(self.conversion_s), "s"),
            "json_ingest.records_invalid": (sum(x["total"] - x["valid"] for x in d), "count"),
            "storage.bytes_written_per_input_byte": (self.written / sum(x["bytes"] for x in d), "ratio"),
            "api.requests": (self.client.requests, "count"),
            "api.http_errors": (self.client.errors, "count"),
        })
        out.update(analytics)
        return out

    def close(self) -> None:
        """Stop the server and Spark, wait for the driver JVM and its
        Python workers to exit, and remove the scratch directory. Every
        step runs even if an earlier one fails: a kill in the middle of a
        Spark call leaves the gateway connection unusable."""
        from pyspark import SparkContext

        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish cleaning up
        children = _descendants()
        steps = []
        if self.server is not None:
            steps.append(self.server.stop)
        if self.tracer is not None:
            steps.append(self.tracer.uninstall)
        if self.spark is not None:
            steps.append(self.spark.stop)
        if SparkContext._gateway is not None:
            steps.append(functools.partial(_stop_gateway, SparkContext._gateway))
        for step in steps:
            try:
                step()
            except Exception as exc:  # noqa: BLE001 - keep cleaning up
                print(f"perfbench: clean-up step failed: {exc!r}", file=sys.stderr)
        _wait_gone(children)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            self.work.parent.rmdir()
        except OSError:
            pass  # another run's scratch is still there


def _stop_gateway(gateway) -> None:
    """Shut the Py4J gateway down and wait for the driver JVM to exit."""
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for processes that were started under this one to exit; kill
    what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    while True:
        procs = _processes()
        left = [p for p in pids if p in procs and procs[p][1] != b"Z"]
        if not left or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _isolate(tmp: Path) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # the JVM's perf-data files go to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.local.dir={tmp} --conf spark.sql.warehouse.dir={tmp}/spark-warehouse "
        "pyspark-shell"
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, one set-up pass (self-check)")
    ap.add_argument("--corrupt", action="store_true", help="with --tiny: corrupt one expected answer")
    args = ap.parse_args(argv)

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run close() on a kill
    root = Path.cwd()
    if not (root / "data_pipeline_challenge_spark" / "__init__.py").is_file():
        print("perfbench: run from the root of a checkout of the program "
              "(data_pipeline_challenge_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    work = root / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(work / "tmp")

    bench = Bench(args, work)
    try:
        metrics = bench.run()
        # kept beside the trace so that perfbench/overhead.py can compare
        # the end-to-end numbers of a traced and an untraced run
        out = root / ".bench_out"
        out.mkdir(exist_ok=True)
        stem = f"{args.workload}-{args.seed}-trace{args.trace}"
        (out / f"e2e-{stem}.json").write_text(json.dumps(bench.e2e))
        if bench.tracer.enabled:
            bench.tracer.dump(out / f"spans-{stem}.jsonl")
    finally:
        bench.close()
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
