"""Analytics part of the traced run: a fixed subset of the declared,
bench-flagged queries and the five maintained-index probes, over the small
catalog bundled in ``perfbench/data/sf0.001``.

Each query first runs once untimed and its collected result is compared
with its DuckDB oracle (row count and an order-insensitive value hash, as
``tools/check_correctness.py`` does); the second, timed run goes to the
noop sink. Indexes are built once, then every probe runs twice and the
second run is timed. The seed picks the query order, the BM25 terms and
the probe vector.
"""

from __future__ import annotations

import math
import random
import shutil
import time

#: bench-flagged queries, one per family, kept to those that run in well
#: under a second at this scale so that the traced run stays short
QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "window_rank_orders_per_customer",
    "join_broadcast_star", "events_tumbling_hour", "events_session_windows",
    "text_token_stats", "knn_cosine_top20",
)
PROBES = ("bm25", "lsh", "ivf", "pq", "hybrid")
#: every term occurs in the bundled documents ("dup" in 5% of them, the
#: rest in ~80%), so each seeded pick of three has matches to rank
BM25_TERMS = ("dup", "spark", "merge", "data", "the", "query", "window", "join")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, bool):
        return int(v)
    return v


def _rows_hash(cols, rows) -> tuple[int, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    return len(norm), hash(tuple(norm))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_pass(spark, tracer, seed: int, sf_dir, index_dir, check) -> dict:
    import duckdb
    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.catalog import load_table
    from data_pipeline_challenge_spark.operators import similarity as sim
    from data_pipeline_challenge_spark.plans import bench_queries
    from data_pipeline_challenge_spark.streaming import retrieval_stream as rs

    rng = random.Random(seed)
    sf = str(sf_dir)
    out: dict = {}
    declared = bench_queries()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        for name in rng.sample(QUERIES, len(QUERIES)):
            qd = declared[name]
            df = qd.fn(spark, sf)
            got = _rows_hash(df.columns, [tuple(r) for r in df.collect()])
            if qd.oracle is not None:
                res = con.execute(qd.oracle).arrow()
                want = _rows_hash(res.schema.names, [tuple(r.values()) for r in res.to_pylist()])
                check(got == want, f"query {name}: {got[0]} rows vs oracle {want[0]}")
            tracer.begin_op("analytics.query")
            with tracer.span(f"plans.{name}"):
                t0 = time.perf_counter()
                _noop(qd.fn(spark, sf))
                out[f"plans.{name}_s"] = (time.perf_counter() - t0, "s")
            tracer.end_op()
    finally:
        con.close()

    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    n_vec = emb.count()
    qid = rng.randrange(n_vec)
    qvec = emb.filter(F.col("vec_id") == qid).select("embedding")
    rest = emb.filter(F.col("vec_id") != qid)
    terms = rng.sample(BM25_TERMS, 3)
    bm25_dir, ann_dir = index_dir / "bm25", index_dir / "ann"
    try:
        rs.fold_batch(spark, bm25_dir, docs, 0, "doc_id", "text")
        sim.lsh_build_index(rest, ann_dir, dim=64, n_planes=sim.lsh_planes_for_corpus(n_vec - 1, k=10))
        sim.ivf_build_index(rest, ann_dir, n_clusters=16)
        sim.pq_build_index(rest, ann_dir)
        probes = {
            "bm25": lambda: rs.bm25_search(spark, bm25_dir, terms, k=20),
            "lsh": lambda: sim.lsh_topk_indexed(spark, ann_dir, qvec, k=10, probe_hamming=1),
            "ivf": lambda: sim.ivf_topk_indexed(spark, ann_dir, qvec, k=10, n_probe=4),
            "pq": lambda: sim.pq_topk_indexed(spark, ann_dir, qvec, rest, k=10),
            "hybrid": lambda: rs.hybrid_search_indexed(
                spark, bm25_dir, terms, ann_dir, qvec, k=10, depth=50, ann_probe="lsh", probe_hamming=1),
        }
        id_col = {"bm25": "doc_id", "hybrid": "doc_id"}
        for name in PROBES:
            df = probes[name]()
            rows = df.select(id_col.get(name, "vec_id")).collect() if df is not None else []
            ids = [r[0] for r in rows]
            limit = 20 if name == "bm25" else 10
            check(0 < len(ids) <= limit and qid not in (ids if name not in id_col else ())
                  and len(set(ids)) == len(ids), f"probe {name}: {len(ids)} ids")
            op = tracer.begin_op("retrieval.probe")
            with tracer.span(f"retrieval.{name}"):
                t0 = time.perf_counter()
                _noop(probes[name]())
                out[f"retrieval.{name}_s"] = (time.perf_counter() - t0, "s")
            tracer.end_op()
            out[f"retrieval.{name}_jobs"] = op
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
    return out


def resolve_jobs(out: dict, tracer) -> dict:
    """Replace the operation ids stored under ``retrieval.*_jobs`` by the
    job counts read from the status store."""
    for key, val in list(out.items()):
        if key.endswith("_jobs"):
            out[key] = (tracer.counters.get(val, {}).get("jobs", 0.0), "count")
    return out
