"""Spans and Spark counters for the traced run.

Spans are kept in memory and written out when the run ends. Each span has a
name, start, end, parent span and operation id. The layers are wrapped at
run time, from this file, around their public entry points; the program's
own files are not changed. Spark work is attributed to an operation by
tagging it with a job group and reading the status store afterwards, which
works with the Spark UI disabled.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict

# (module path, attribute path, span name). Where a module imported a
# function into its own namespace, the importing module's name is patched
# too, so calls through either name are seen.
WRAPPED = (
    ("data_pipeline_challenge_spark.api", "ApiServer.do_upload", "api.do_upload"),
    ("data_pipeline_challenge_spark.api", "ApiServer.do_status", "api.do_status"),
    ("data_pipeline_challenge_spark.api", "ApiServer.do_find_code", "api.do_find_code"),
    ("data_pipeline_challenge_spark.api", "ApiServer.do_find_partial", "api.do_find_partial"),
    ("data_pipeline_challenge_spark.api", "ApiServer.do_find_exact", "api.do_find_exact"),
    ("data_pipeline_challenge_spark.api", "ApiServer.do_ingest", "api.do_ingest"),
    ("data_pipeline_challenge_spark.pipeline", "ProductWarehouse.ingest", "pipeline.ingest"),
    ("data_pipeline_challenge_spark.pipeline", "ProductWarehouse.products", "pipeline.products"),
    ("data_pipeline_challenge_spark.pipeline", "ProductWarehouse.compact_products", "pipeline.compact"),
    ("data_pipeline_challenge_spark.sources.landing", "upload", "landing.upload"),
    ("data_pipeline_challenge_spark.api", "land_upload", "landing.upload"),
    ("data_pipeline_challenge_spark.sources.landing", "discover_new_files", "landing.discover"),
    ("data_pipeline_challenge_spark.pipeline", "discover_new_files", "landing.discover"),
    ("data_pipeline_challenge_spark.api", "discover_new_files", "landing.discover"),
    ("data_pipeline_challenge_spark.pipeline", "gc_file", "landing.gc"),
    ("data_pipeline_challenge_spark.pipeline", "read_bronze_splittable", "json_ingest.read_bronze"),
    ("data_pipeline_challenge_spark.pipeline", "merge_products", "merge.plan"),
    ("data_pipeline_challenge_spark.sources.ledger", "LedgerStore.append", "ledger.append"),
    ("data_pipeline_challenge_spark.sources.ledger", "LedgerStore.status_of", "ledger.status_of"),
    ("data_pipeline_challenge_spark.sources.ledger", "LedgerStore.current", "ledger.current"),
    ("data_pipeline_challenge_spark.api", "find_by_code", "find.plan"),
    ("data_pipeline_challenge_spark.api", "find_name_partial", "find.plan"),
    ("data_pipeline_challenge_spark.api", "find_name_exact", "find.plan"),
)

#: per-stage fields read from the status store
STAGE_FIELDS = ("jobs", "stages", "tasks", "input_bytes", "input_records",
                "shuffle_write_bytes", "executor_run_s")


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every hook a no-op,
    so the untraced run pays nothing but a flag test."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, parent, op, name, start, end)
        self.ops: list[tuple[int, str, str]] = []  # (op id, op type, job group)
        self._ids = itertools.count(1)
        self._op = 0
        self._op_group: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.counters: dict[int, dict[str, float]] = {}
        #: innermost open client-side span: the parent of route spans that
        #: the HTTP server runs in its own threads
        self._client_span = 0

    # -- operations -----------------------------------------------------------

    def begin_op(self, op_type: str) -> int:
        """Start an operation; Spark jobs started by any thread inside it
        are tagged with its job group."""
        if not self.enabled:
            return 0
        self._op = next(self._ids)
        self._op_group = f"bench-{self._op}"
        self.ops.append((self._op, op_type, self._op_group))
        self._tag_thread()
        return self._op

    def retype_op(self, op: int, op_type: str) -> None:
        self.ops = [(i, op_type if i == op else t, g) for i, t, g in self.ops]

    def end_op(self) -> None:
        if self.enabled:
            self._op, self._op_group = 0, None
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self._local.group = None

    def _tag_thread(self) -> None:
        if self._op_group and getattr(self._local, "group", None) != self._op_group:
            self.spark.sparkContext.setJobGroup(self._op_group, self._op_group)
            self._local.group = self._op_group

    # -- spans ----------------------------------------------------------------

    def span(self, name: str):
        return _Span(self, name)

    def _open(self, name: str) -> tuple:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._client_span
        sid = next(self._ids)
        stack.append(sid)
        self._tag_thread()
        return sid, parent, time.perf_counter()

    def _close(self, name: str, sid: int, parent: int, t0: float) -> None:
        t1 = time.perf_counter()
        self._local.stack.pop()
        with self._lock:
            self.spans.append((sid, parent, self._op, name, t0, t1))

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid, parent, t0 = tracer._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(name, sid, parent, t0)

        return traced

    def install(self) -> None:
        """Wrap every entry point in WRAPPED. Must run before an ApiServer
        is built, because the server binds its route methods then."""
        if not self.enabled:
            return
        import importlib

        for mod_name, attr_path, span_name in WRAPPED:
            owner = importlib.import_module(mod_name)
            *outer, attr = attr_path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            original = getattr(owner, attr)
            self._patched.append((owner, attr, original))
            setattr(owner, attr, self.wrap(original, span_name))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- Spark counters ---------------------------------------------------------

    def collect_counters(self) -> None:
        """Read job/stage metrics for every finished operation from the
        status store (after the listener bus has caught up)."""
        if not self.enabled:
            return
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        for op, _, group in self.ops:
            if op in self.counters:
                continue
            c = dict.fromkeys(STAGE_FIELDS, 0.0)
            for job_id in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                c["jobs"] += 1
                for stage_id in info.stageIds:
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:  # a skipped stage never ran
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["input_bytes"] += st.inputBytes()
                    c["input_records"] += st.inputRecords()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["executor_run_s"] += st.executorRunTime() / 1000.0
            self.counters[op] = c

    # -- derived numbers --------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> self time: its duration minus the part of it covered
        by its children."""
        spans = {s[0]: s for s in self.spans}
        covered: dict[int, float] = defaultdict(float)
        for sid, parent, _, _, t0, t1 in self.spans:
            if parent in spans:
                covered[parent] += t1 - t0
        return {sid: (s[5] - s[4]) - covered[sid] for sid, s in spans.items()}

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            for sid, parent, op, name, t0, t1 in self.spans:
                fh.write(json.dumps({"id": sid, "parent": parent, "op": op,
                                     "name": name, "start": t0, "end": t1}) + "\n")


class _Span:
    __slots__ = ("tracer", "name", "sid", "parent", "t0", "prev")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        if self.tracer.enabled:
            self.sid, self.parent, self.t0 = self.tracer._open(self.name)
            self.prev, self.tracer._client_span = self.tracer._client_span, self.sid
        return self

    def __exit__(self, *exc):
        if self.tracer.enabled:
            self.tracer._client_span = self.prev
            self.tracer._close(self.name, self.sid, self.parent, self.t0)
        return False
