"""Headline benchmark — one JSON line for the driver (BENCH_r{N}.json).

Runs the bench-flagged queries from the declared inventory at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. Each query is forced end-to-end with the noop
sink (full computation, no driver collect cost).

Each query is timed ``$SPARK_GRAFT_BENCH_RUNS`` times (default 3) and the
per-query MEDIAN is reported — a single run on a shared box has ~2× load
variance (round 3 recorded a phantom 64% "regression" on byte-identical
code), and the median of 3 is robust to one contended run.
"""

from __future__ import annotations

import json
import os
import statistics

import pandas
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from data_pipeline_challenge_spark.plans import bench_queries
from data_pipeline_challenge_spark.session import get_spark


def _ingest_bench(spark, n: int) -> float:
    """The reference's design point (README.md:10: 50k-product JSON file,
    weekly): land one file, run the full pipeline (parse → validate → merge
    → ledger), timed end-to-end. File generation is excluded."""
    import json as _json
    import shutil
    import tempfile

    from data_pipeline_challenge_spark.pipeline import ProductWarehouse
    from data_pipeline_challenge_spark.sources.landing import upload

    root = Path(tempfile.mkdtemp(prefix="bench_ingest_"))
    try:
        landing = root / "landing"
        recs = [
            {
                "code": f"{i:013d}",
                "product_name": f"Product {i}",
                "brands": f"Brand{i % 97}",
                "nutriments": {"fat_100g": (i % 500) / 10.0, "salt_100g": i % 3},
                "categories_tags": [f"en:cat{i % 23}"],
                "serving_quantity": i % 40,
            }
            for i in range(n)
        ]
        src = root / "products_50k.json"
        src.write_text(_json.dumps(recs))
        upload(src, landing)
        wh = ProductWarehouse(spark, root / "wh")
        t0 = time.perf_counter()
        report = wh.ingest(landing)
        elapsed = time.perf_counter() - t0
        assert report.total_processed == n, report.files
    finally:
        shutil.rmtree(root, ignore_errors=True)
    # Surface the single-core array→JSONL edge-conversion prefix inside
    # the ingest wall (a 50k array delivery is above the split threshold,
    # so it pays the conversion; a JSONL delivery would not).
    conv = sum(c["seconds"] for c in report.conversions.values())
    return elapsed, round(conv, 3)


def _indexed_ann_probes(spark, sf_dir: str, n_runs: int) -> dict[str, list[float]]:
    """Serving-shape ANN timings: build each persisted index ONCE
    (the LSH build is reported separately as ``ann_lsh_build`` — at
    scale a build is amortized over millions of probes, so folding it
    into a per-probe median misrepresents the serving shape, VERDICT
    r11 #4), then time the pure probe paths (planning-time partition
    pruning, no Python in the serving plan). These are the numbers that
    matter at 100 TB; the registered ``ann_*_indexed`` queries rebuild
    their index per invocation for oracle hermeticity and therefore
    time build+probe."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.catalog import load_table
    from data_pipeline_challenge_spark.operators.similarity import (
        ivf_build_index,
        ivf_topk_indexed,
        lsh_build_index,
        lsh_planes_for_corpus,
        lsh_topk_indexed,
        pq_build_index,
        pq_topk_indexed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding")
    rest = emb.filter("vec_id != 0")
    idx = Path(tempfile.mkdtemp(prefix="bench_ann_idx_"))
    n_planes = lsh_planes_for_corpus(rest.count(), k=10)
    t0 = time.perf_counter()
    lsh_build_index(rest, idx, dim=64, n_planes=n_planes)
    build_secs = round(time.perf_counter() - t0, 3)
    ivf_build_index(rest, idx, n_clusters=16)
    pq_build_index(rest, idx)

    probes = {
        "ann_lsh_probe_indexed": lambda: lsh_topk_indexed(
            spark, idx, qvec, k=10, probe_hamming=1
        ),
        "ann_ivf_probe_indexed": lambda: ivf_topk_indexed(
            spark, idx, qvec, k=10, n_probe=4
        ),
        "ann_pq_probe_indexed": lambda: pq_topk_indexed(spark, idx, qvec, rest, k=10),
    }
    out: dict[str, list[float]] = {"ann_lsh_build": [build_secs]}
    try:
        for name, fn in probes.items():
            runs = []
            for _ in range(n_runs):
                t0 = time.perf_counter()
                fn().write.format("noop").mode("overwrite").save()
                runs.append(round(time.perf_counter() - t0, 3))
            out[name] = runs
    finally:
        shutil.rmtree(idx, ignore_errors=True)
    return out


def _indexed_bm25_probe(spark, sf_dir: str, n_runs: int) -> dict[str, list[float]]:
    """Serving-shape timing for the MAINTAINED BM25 index (VERDICT r11
    #5): fold the documents table into a retrieval_stream index once
    (untimed build, amortized at scale), then time ``bm25_search`` — the
    partition-pruned postings probe + one doc_id-keyed join — with the
    registered ``bm25_top20`` query's terms, so the maintained path has
    a measured number next to the scan-the-corpus batch query."""
    import shutil
    import tempfile

    from data_pipeline_challenge_spark.catalog import load_table
    from data_pipeline_challenge_spark.plans.corpus import _BM25_TERMS
    from data_pipeline_challenge_spark.streaming.retrieval_stream import (
        bm25_search,
        fold_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = Path(tempfile.mkdtemp(prefix="bench_bm25_idx_"))
    try:
        fold_batch(spark, idx, docs, 0, "doc_id", "text")
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            bm25_search(spark, idx, list(_BM25_TERMS), k=20).write.format(
                "noop"
            ).mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        return {"bm25_probe_indexed": runs}
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def _indexed_hybrid_probe(spark, sf_dir: str, n_runs: int) -> dict[str, list[float]]:
    """Serving-shape timing for HYBRID retrieval over maintained indexes:
    fold the documents table into the BM25 index and build the LSH index
    once (untimed builds, amortized at scale), then time
    ``hybrid_search_indexed`` — pruned BM25 postings probe + pruned LSH
    bucket probe + depth-bounded RRF fusion — the maintained twin of the
    oracle-checked ``retrieval_hybrid_rrf_top10``."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.catalog import load_table
    from data_pipeline_challenge_spark.operators.similarity import (
        lsh_build_index,
        lsh_planes_for_corpus,
    )
    from data_pipeline_challenge_spark.plans.corpus import _BM25_TERMS
    from data_pipeline_challenge_spark.streaming.retrieval_stream import (
        fold_batch,
        hybrid_search_indexed,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding")
    rest = emb.filter("vec_id != 0")
    bidx = Path(tempfile.mkdtemp(prefix="bench_hybrid_bm25_"))
    aidx = Path(tempfile.mkdtemp(prefix="bench_hybrid_ann_"))
    try:
        fold_batch(spark, bidx, docs, 0, "doc_id", "text")
        lsh_build_index(
            rest, aidx, dim=64, n_planes=lsh_planes_for_corpus(rest.count(), k=10)
        )
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            result = hybrid_search_indexed(
                spark,
                bidx,
                list(_BM25_TERMS),
                aidx,
                qvec,
                k=10,
                depth=50,
                ann_probe="lsh",
                probe_hamming=1,
            )
            assert result is not None, (
                "hybrid_search_indexed returned None: the BM25 store is "
                "empty — fold_batch(0) over the documents table must run "
                "before probing (empty documents input?)"
            )
            result.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        return {"hybrid_probe_indexed": runs}
    finally:
        shutil.rmtree(bidx, ignore_errors=True)
        shutil.rmtree(aidx, ignore_errors=True)


def _testdata_fingerprint(sf_dir: str) -> dict:
    """Mechanical provenance for round-over-round comparisons: the driver
    regenerates /root/testdata between rounds, and r7's ~+25% uniform
    bench move was only attributable to data-vs-code via README prose
    (VERDICT r7 missing #2). Hash the sorted (relative path, size) list —
    regeneration changes file sizes even at equal scale because the
    generator reseeds — so two BENCH artifacts agree on whether they ran
    against the same generation."""
    import hashlib

    root = Path(sf_dir)
    entries = sorted(
        (str(p.relative_to(root)), p.stat().st_size)
        for p in root.rglob("*")
        if p.is_file()
    )
    h = hashlib.sha256()
    for rel, size in entries:
        h.update(f"{rel}:{size}\n".encode())
    return {
        "fingerprint": h.hexdigest()[:16],
        "n_files": len(entries),
        "total_bytes": sum(size for _, size in entries),
    }


def _await_quiet_box(threshold: float, max_wait_secs: float) -> bool:
    """Wait (bounded) for the 1-minute load average to drop below
    ``threshold`` before timing anything: BENCH_r09 was captured at
    load_avg 8.0 and was useless for cross-round comparison except via
    README quiet-pair prose. Returns True if the box is still noisy
    after the wait — the artifact then carries an explicit
    ``"noisy": true`` so a reader never mistakes contention for a
    regression."""

    def _load1() -> float:
        try:
            return os.getloadavg()[0]
        except OSError:
            return 0.0

    waited = 0.0
    while _load1() > threshold and waited < max_wait_secs:
        print(
            f"bench: load_avg {_load1():.2f} > {threshold:g} — "
            f"waiting for a quiet box ({int(max_wait_secs - waited)}s left)",
            file=sys.stderr,
        )
        time.sleep(15)
        waited += 15
    return _load1() > threshold


class _ForeignCpuMeter:
    """Average CPU cores consumed by processes OUTSIDE this process tree
    while the bench ran — the honest end-of-run contention signal.

    BENCH_r10 was stamped quiet (load checked only at START) yet was
    demonstrably contended mid-run. End-of-run load_avg alone can't fix
    that: a quiet bench's own local[32] executors push the 1-min load to
    4-6 by themselves (r9's quiet runs ended at ~4.5), so thresholding
    it would flag every run. /proc accounting separates self from
    foreign exactly: total busy jiffies minus this process subtree's
    jiffies, over wall time, = average foreign cores."""

    def __init__(self):
        self._t0: float | None = None
        self._start: tuple[int, int] | None = None

    @staticmethod
    def _sample() -> tuple[int, int] | None:
        try:
            with open("/proc/stat") as fh:
                parts = fh.readline().split()
            vals = [int(x) for x in parts[1:]]
            idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
            busy = sum(vals) - idle
            me = os.getpid()
            ppid_of: dict[int, int] = {}
            ticks: dict[int, int] = {}
            for d in os.listdir("/proc"):
                if not d.isdigit():
                    continue
                try:
                    with open(f"/proc/{d}/stat", "rb") as fh:
                        raw = fh.read()
                except OSError:
                    continue  # process exited mid-listing
                rest = raw[raw.rfind(b")") + 2 :].split()  # comm may hold spaces
                ppid_of[int(d)] = int(rest[1])
                ticks[int(d)] = int(rest[11]) + int(rest[12])  # utime+stime

            def in_tree(pid: int) -> bool:
                seen: set[int] = set()
                while pid > 1 and pid not in seen:
                    if pid == me:
                        return True
                    seen.add(pid)
                    pid = ppid_of.get(pid, 0)
                return False

            mine = sum(t for pid, t in ticks.items() if in_tree(pid))
            return busy, mine
        except (OSError, ValueError, IndexError):
            return None  # non-Linux / hardened /proc: meter disabled

    def start(self) -> None:
        self._t0 = time.monotonic()
        self._start = self._sample()

    def foreign_cores_avg(self) -> float | None:
        if self._start is None or self._t0 is None:
            return None
        end = self._sample()
        elapsed = time.monotonic() - self._t0
        if end is None or elapsed <= 0:
            return None
        busy = end[0] - self._start[0]
        mine = end[1] - self._start[1]
        hz = os.sysconf("SC_CLK_TCK") or 100
        # mine can undercount if a child died mid-run (its jiffies vanish
        # from the subtree sum) — the meter then OVERstates foreign load,
        # which errs toward flagging, never toward a false "quiet".
        return round(max(0.0, busy - mine) / (hz * elapsed), 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    testdata = _testdata_fingerprint(sf_dir)
    quiet_threshold = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_LOAD", "2.0"))
    noisy = _await_quiet_box(
        quiet_threshold,
        float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAIT_SECS", "300")),
    )
    try:
        load_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load_start = None
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup outside the timed region: JVM codegen + parquet footer cache,
    # and one trivial pandas_udf so Python worker processes exist before
    # the ANN queries are timed (workers are reused across queries).
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000).write.format(
        "noop"
    ).mode("overwrite").save()
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def _warm(s: pandas.Series) -> pandas.Series:
        return s

    # one partition per core so every reusable Python worker pre-imports
    # pandas before any timed Arrow stage
    spark.range(0, 32_000, 1, spark.sparkContext.defaultParallelism).select(
        _warm(col("id"))
    ).write.format("noop").mode("overwrite").save()

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    meter = _ForeignCpuMeter()
    meter.start()

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    for name, qd in sorted(bench_queries().items()):
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        all_runs[name] = runs
        timings[name] = round(statistics.median(runs), 3)

    for name, runs in _indexed_ann_probes(spark, sf_dir, n_runs).items():
        all_runs[name] = runs
        timings[name] = round(statistics.median(runs), 3)

    for name, runs in _indexed_bm25_probe(spark, sf_dir, n_runs).items():
        all_runs[name] = runs
        timings[name] = round(statistics.median(runs), 3)

    for name, runs in _indexed_hybrid_probe(spark, sf_dir, n_runs).items():
        all_runs[name] = runs
        timings[name] = round(statistics.median(runs), 3)

    ingest_pairs = [_ingest_bench(spark, n=50_000) for _ in range(n_runs)]
    ingest_runs = [round(e, 3) for e, _ in ingest_pairs]
    all_runs["ingest_50k_products"] = ingest_runs
    timings["ingest_50k_products"] = round(statistics.median(ingest_runs), 3)
    # informational: already contained in the ingest wall, NOT added to
    # the total — records how much of ingest is the driver-side array
    # conversion pass (sources/jsonl.py), the serial prefix of an array
    # delivery that JSONL deliveries skip entirely
    ingest_conversion_secs = round(
        statistics.median(c for _, c in ingest_pairs), 3
    )

    total = round(sum(timings.values()), 3)
    foreign_cores = meter.foreign_cores_avg()
    foreign_threshold = float(
        os.environ.get("SPARK_GRAFT_BENCH_FOREIGN_CPU_CORES", "2.0")
    )
    noisy_during = foreign_cores is not None and foreign_cores > foreign_threshold
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "runs_per_query": n_runs,
                "raw_runs": all_runs,
                "ingest_50k_conversion_secs": ingest_conversion_secs,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # Provenance: same-generation runs share testdata.fingerprint;
                # load averages bracket the run so a contended box is visible
                # in the artifact itself, not just in README prose.
                "testdata": testdata,
                # True = non-comparable across rounds: EITHER the box
                # never went quiet within the bounded pre-run wait, OR
                # foreign processes averaged more than the threshold in
                # CPU cores WHILE the bench ran (the r10 false-negative:
                # quiet at start, contended mid-run).
                "noisy": noisy or noisy_during,
                "noisy_at_start": noisy,
                "noisy_during_run": noisy_during,
                "foreign_cpu_cores_avg": foreign_cores,
                "foreign_cpu_cores_threshold": foreign_threshold,
                "quiet_load_threshold": quiet_threshold,
                "load_avg_start": load_start,
                "load_avg_end": (
                    [round(x, 2) for x in os.getloadavg()]
                    if hasattr(os, "getloadavg")
                    else None
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
