"""Ingestion ledger — the ``uploaded_files`` collection re-expressed.

Reference (/root/reference/app/models.py:35-47): one mutable document per
file with status + counters, updated by atomic ``$inc`` from concurrent
workers (data_processor.py:115-141). Spark design: an **append-only event
table** (LEDGER_SCHEMA) — each status transition appends a row, and the
"current" ledger is the latest event per file_id (row_number window).
Counters are computed by aggregation over the bronze layer, so the
reference's total=0 completion race (file_splitter.py:72 vs
data_processor.py:126-141 — SURVEY §2 op 14) cannot exist here: the batch
job is the unit of completion. Intentional, documented divergence.

Point-status fast path: the reference serves ``GET /upload/status`` with
an O(1) keyed read (``UploadedFile.get``, api/main.py:106-127). Replaying
the whole event log per status call would instead be O(events). So every
``append`` also incrementally compacts a **current-state table**: latest
event per file_id, range-partitioned and sorted by file_id. ``status_of``
is then a single pushed-down point filter over one row per file — min/max
file stats prune to one parquet file, no window, no shuffle. The winner
rule (max by event_ts, then status) is associative, so folding new events
into the previous winners equals recomputing over the full log.

Durability of the state table: data is written to a versioned directory
(``ledger_state.v{N}``) and published by atomically replacing the
``ledger_state`` symlink (``os.replace`` of a sibling symlink — readers
resolve either the old or the new version, never a partial table). The
state and the compacted history are both published through
``versioning.VersionedTable``, the one implementation of the publish
protocol; this module carries no copy of it. If the state table is ever
absent, or misses events the tail holds (a legacy warehouse, or a crash
between a tail append and the state publish), both ``current()`` and the
next compaction fold seed from the full event log — the state table is a
cache of the log, so losing it is always recoverable.

Concurrent writers: in-process appends serialize on a threading lock; a
CROSS-process writer (a second ApiServer/ProductWarehouse on the same
warehouse dir) serializes on an ``flock`` over ``<warehouse>/ledger.lock``
held across the whole append + read-merge-publish critical section. Each
compaction re-reads the published state inside the lock, so interleaved
writers fold each other's events correctly instead of clobbering the
state symlink.

Event-log growth bound: each append lands one small parquet file in the
``ledger`` tail; once the tail exceeds ``TAIL_MAX_FILES`` files it is
checkpointed — events already reflected in the published state fold into
a compacted ``ledger_hist`` version (symlink-published, two-version
retention) and the tail truncates (``_checkpoint_events``). The log's
file count and every replay fallback are therefore bounded by
O(file_ids + tail), not O(all transitions ever), no matter how old the
warehouse is.
"""

from __future__ import annotations

import datetime as dt
import json
import threading
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..versioning import VersionedTable
from ..schema import (
    LEDGER_SCHEMA,
    STATUS_FAILED,
    STATUS_PROCESSED,
    STATUS_PROCESSED_WITH_ERRORS,
    STATUS_PROCESSING,
)

_TERMINAL_STATUSES = (STATUS_PROCESSED, STATUS_PROCESSED_WITH_ERRORS, STATUS_FAILED)


class LedgerStore:
    """Parquet-backed append-only ledger under ``<warehouse>/ledger``."""

    #: Append-tail checkpoint threshold: once the tail holds more small
    #: parquet files than this, _checkpoint_events folds superseded
    #: transitions into the compacted history and truncates the tail.
    TAIL_MAX_FILES = 64

    def __init__(self, spark: SparkSession, warehouse_dir: str | Path):
        self.spark = spark
        self.path = str(Path(warehouse_dir) / "ledger")
        self.state_path = str(Path(warehouse_dir) / "ledger_state")
        self.hist_path = str(Path(warehouse_dir) / "ledger_hist")
        self.state_table = VersionedTable(self.state_path)
        #: The hist fallback (no symlink) only trusts a COMPLETE version:
        #: a crash mid-checkpoint-write leaves a torn hist dir, and the
        #: tail it would have folded is still intact (tail files are
        #: deleted only after the publish), so ignoring it loses nothing.
        #: A complete-but-unpublished hist double-counts its events with
        #: the still-intact tail — harmless, the winner rule is idempotent.
        self.hist_table = VersionedTable(self.hist_path)
        # In-process append serialization: the API's upload thread and the
        # background processor share one store, and the compaction's
        # read-merge-publish is not safe to interleave. Cross-process
        # writers additionally serialize on the flock in _process_lock().
        self._write_lock = threading.Lock()
        self._lock_path = Path(warehouse_dir) / "ledger.lock"

    def _tail_files(self) -> list[Path]:
        p = Path(self.path)
        if not p.exists():
            return []
        return sorted(f for f in p.iterdir() if f.suffix == ".parquet")

    def exists(self) -> bool:
        return bool(self._tail_files()) or self.hist_table.current() is not None

    def read_events(self) -> DataFrame:
        """The queryable event log: compacted history ∪ append tail.

        After a checkpoint the history holds one WINNER row per file (a
        valid event row — superseded transitions are dropped, reference
        parity: the reference keeps one mutable document per file and no
        transition history at all), so this is bounded by O(files +
        tail), never O(all transitions ever). The winner rule is
        idempotent and associative, so every fold/replay over this view
        equals a replay over the full historical log
        (``test_ledger_compaction_equals_full_log_replay``).
        """
        parts = []
        hist = self.hist_table.current()
        if hist is not None:
            parts.append(self.spark.read.schema(LEDGER_SCHEMA).parquet(str(hist)))
        if self._tail_files():
            parts.append(self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path))
        if not parts:
            return self.spark.createDataFrame([], LEDGER_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def append(
        self,
        rows: list[dict],
        skip_if_terminal: bool = False,
        expect: dict[str, tuple[str, str]] | None = None,
    ) -> list[str]:
        """Append status-event rows; fills event_ts if absent. Returns
        the file_ids actually appended.

        Also folds the new events into the compacted current-state table
        so point-status reads stay keyed lookups (see module docstring),
        and checkpoints the append tail once it exceeds TAIL_MAX_FILES
        small files so a long-lived warehouse's event log stays bounded.

        Two CONDITIONAL forms for writers whose decision was made outside
        the locks (the upload janitor — normal pipeline appends never set
        either; their transitions are the source of truth):

        - ``skip_if_terminal=True`` drops, INSIDE the write locks, any
          row whose file already has a terminal status: a concurrent
          ingest can discover-process-GC a file before the janitor's
          reap batch lands, and an unconditional append would commit a
          later-timestamped ``failed`` over ``processed`` (landing file
          already gone, so resurrection could never fire).
        - ``expect={file_id: (status, content_type)}`` is
          compare-and-append: a row commits only while its file's
          CURRENT (status, content_type) still equals the snapshot the
          decision was based on. The janitor's resurrect/retire events
          use it so a concurrent janitor's resurrection (followed by a
          consumer's ``processed``) is never regressed by this
          process's stale ``uploaded``/``failed``."""
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        full = [{"event_ts": now, **r} for r in rows]
        with self._write_lock, self._process_lock():
            if (skip_if_terminal or expect) and full and self.exists():
                fids = [r["file_id"] for r in full]
                cur = {
                    r["file_id"]: (r["status"], r["content_type"])
                    for r in self.current()
                    .filter(F.col("file_id").isin(fids))
                    .select("file_id", "status", "content_type")
                    .collect()
                }
                if skip_if_terminal:
                    full = [
                        r
                        for r in full
                        if cur.get(r["file_id"], ("", ""))[0]
                        not in _TERMINAL_STATUSES
                    ]
                if expect:
                    full = [
                        r
                        for r in full
                        if r["file_id"] not in expect
                        or cur.get(r["file_id"]) == expect[r["file_id"]]
                    ]
            if not full:
                return []
            # Resolve the state to fold into BEFORE this append's own tail
            # file lands. It is None when a crashed writer left tail events
            # the state never folded: the fold below then seeds from the
            # full log, or those events would stay invisible and the next
            # checkpoint would destroy them (see _served_state).
            state = self._served_state()
            df = self.spark.createDataFrame(
                [tuple(r.get(f.name) for f in LEDGER_SCHEMA.fields) for r in full],
                LEDGER_SCHEMA,
            )
            df.write.mode("append").parquet(self.path)
            self._compact(df, state)
            self._checkpoint_events()
            return [r["file_id"] for r in full]

    def _process_lock(self):
        """Cross-process mutual exclusion for the append + compaction
        critical section: an exclusive ``flock`` on
        ``<warehouse>/ledger.lock``, held until the state publish lands
        (shared implementation: ``locking.file_lock``). Since ``_compact``
        re-reads the published state inside the lock, serialized writers
        fold each other's events correctly."""
        from ..locking import file_lock

        return file_lock(self._lock_path)

    @staticmethod
    def _latest_per_file(events: DataFrame) -> DataFrame:
        # Tie-break on equal event_ts ranks lifecycle PROGRESS, not the
        # status string (alphabetically 'uploaded' would beat 'processed'):
        # terminal > processing > uploaded. A same-microsecond
        # uploaded/processed pair must resolve to processed, or the file
        # reads as pending forever. The (event_ts, rank, status) max is
        # associative, so incremental compaction == full-log replay.
        progress = (
            F.when(F.col("status").isin(*_TERMINAL_STATUSES), F.lit(2))
            .when(F.col("status") == STATUS_PROCESSING, F.lit(1))
            .otherwise(F.lit(0))
        )
        w = Window.partitionBy("file_id").orderBy(
            F.col("event_ts").desc(), progress.desc(), F.col("status").desc()
        )
        return (
            events.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    _TAIL_MARKER = "_tail_files.json"

    def _served_state(self) -> Path | None:
        """The state version reads may serve: the resolved
        ``ledger_state``, unless the live tail holds files its
        ``_tail_files.json`` marker (written into the version before its
        publish) does not list — a previous writer crashed between its
        tail append and its state publish, the state predates the marker,
        or it is an older retained version the no-symlink fallback found.
        Then None, and callers replay hist ∪ tail. Without this check
        those events would be invisible to every state-served read and
        then destroyed by the next tail checkpoint, silently regressing a
        processed file to 'uploaded' (and, once the janitor reaps it, to
        a terminal 'failed' for data that IS in the products table)."""
        state = self.state_table.current()
        if state is None:
            return None
        marker = state / self._TAIL_MARKER
        recorded = set(json.loads(marker.read_text())) if marker.exists() else set()
        live = {f.name for f in self._tail_files()}
        return None if live - recorded else state

    def _fold_input_bytes(self, state: Path | None) -> int:
        """Parquet bytes the state fold reads (driver-side stat), for
        output file sizing: the state it folds into or — seeding from the
        log — the compacted history, plus the live tail."""
        root = state if state is not None else self.hist_table.current()
        files = [*(root.rglob("*.parquet") if root else ()), *self._tail_files()]
        return sum(f.stat().st_size for f in files if f.is_file())

    def _checkpoint_events(self) -> None:
        """Bound the event log (called inside the write locks): once the
        append tail exceeds TAIL_MAX_FILES small parquet files, fold it
        into a new compacted-history version and truncate the tail.

        The history content is exactly the published STATE winners — one
        row per file_id, themselves valid LEDGER_SCHEMA events — so every
        event already reflected in the state is folded and superseded
        transitions are dropped (the reference keeps no transition
        history either: one mutable document per file). Cost per
        checkpoint is O(file_ids), never O(all events ever); the log's
        file count is bounded by TAIL_MAX_FILES + the history's few
        files regardless of warehouse age.

        Published like the state table (``VersionedTable.publish``), so
        a reader mid-scan on the previous history survives. Tail files
        are listed BEFORE the fold and deleted only after the publish;
        writers are flock-serialized, so no concurrent append can land
        into the deleted set."""
        tail = self._tail_files()
        if len(tail) <= self.TAIL_MAX_FILES:
            return
        # The state table was just folded from (prev state ∪ this append)
        # under this same lock, so it already IS the winner set — read it
        # plain (one row per file, no shuffle/window) instead of
        # re-folding hist ∪ tail; the window fold is only the fallback
        # for a state-less warehouse.
        state = self._served_state()
        if state is not None:
            winners = self.spark.read.schema(LEDGER_SCHEMA).parquet(str(state))
        else:
            winners = self._latest_per_file(self.read_events())
        self.hist_table.publish(
            lambda new_dir: winners.coalesce(1)
            .sortWithinPartitions("file_id")
            .write.mode("overwrite")
            .parquet(str(new_dir))
        )
        for f in tail:
            f.unlink(missing_ok=True)

    def _compact(self, new_events: DataFrame, state: Path | None) -> None:
        """state' = latest-per-file_id over (previous state ∪ new events).

        The previous state already holds exactly one winner row per file,
        so the fold touches O(files) rows, never the full event log — but
        when the state table is absent while events exist (legacy
        warehouse, or a crash before the symlink publish), the fold seeds
        from the full log instead, so no pre-existing file's status is
        lost and the next append self-heals the cache. ``new_events`` was
        already appended to the log before this is called, so the
        log-seeded fold double-counts them harmlessly (the winner rule is
        idempotent). ``state`` is ``_served_state()`` as resolved before
        ``new_events`` reached the tail; None seeds from the log.
        Publication is ``VersionedTable.publish``; see the module
        docstring.
        """
        if state is not None:
            base = self.spark.read.schema(LEDGER_SCHEMA).parquet(str(state))
        elif self.exists():
            # Legacy warehouse, crash before a symlink publish, or a
            # detected unfolded tail: replay the full hist ∪ tail view so
            # no event is left behind.
            base = self._latest_per_file(self.read_events())
        else:
            base = self.spark.createDataFrame([], LEDGER_SCHEMA)
        merged = self._latest_per_file(base.unionByName(new_events))

        # File count from the bytes the fold reads (``_fold_input_bytes``,
        # driver-side stat): one winner row per file_id keeps this table
        # tiny for most warehouse lifetimes, and a single-file write skips
        # repartitionByRange's separate range-sampling job — one Spark job
        # per append instead of two (guide §6 output sizing; the old
        # ``defaultParallelism // 8`` was a core-count constant that wrote
        # kilobyte files). The range+sort layout (disjoint file_id ranges
        # per file) is unchanged either way.
        nparts = max(1, -(-self._fold_input_bytes(state) // (64 << 20)))
        shaped = (
            merged.coalesce(1)
            if nparts == 1
            else merged.repartitionByRange(nparts, "file_id")
        )

        def write(new_dir: Path) -> None:
            (
                shaped.sortWithinPartitions("file_id")
                .write.mode("overwrite")
                .parquet(str(new_dir))
            )
            # Record which tail files this state reflects (everything
            # live: either the previous state covered them all, or we
            # just replayed the full log). Written into the version dir
            # BEFORE the symlink publish, so the marker is atomic with
            # the state it describes.
            (new_dir / self._TAIL_MARKER).write_text(
                json.dumps(sorted(f.name for f in self._tail_files()))
            )

        self.state_table.publish(write)

    def current(self) -> DataFrame:
        """Latest event per file_id — the queryable ledger state
        (GET /upload/status equivalent, api/main.py:106-127).

        Served from the compacted state table when present (one row per
        file, no window replay); falls back to replaying the event log
        for warehouses written before compaction existed.
        """
        state = self._served_state()
        if state is not None:
            return self.spark.read.schema(LEDGER_SCHEMA).parquet(str(state))
        # No state, OR the tail holds events a crashed writer never
        # folded (cheap listdir + marker check): serve the replay view —
        # correct in the crash window; the next append heals the state.
        return self._latest_per_file(self.read_events())

    def status_of(self, file_id: str) -> dict | None:
        """Keyed point lookup: pushed-down equality filter over the
        compacted state — the reference's ``UploadedFile.get`` analog.

        Retries once on a torn read: if a concurrent compaction retires
        the state version this reader resolved (possible only when the
        read spans two full compactions), the retry resolves the fresh
        symlink. The terminal fallback replays the event-log view
        (hist ∪ tail) — itself retried, because a concurrent writer's
        tail CHECKPOINT can unlink tail files between this reader's
        planning and execution; a re-plan lists the fresh hist + tail,
        which together always cover every event.
        """
        for _ in range(2):
            try:
                rows = self.current().filter(F.col("file_id") == file_id).collect()
                return rows[0].asDict() if rows else None
            except Exception:  # noqa: BLE001 - state version raced a compaction
                continue
        last_exc = None
        for _ in range(3):
            try:
                rows = (
                    self._latest_per_file(self.read_events())
                    .filter(F.col("file_id") == file_id)
                    .collect()
                )
                return rows[0].asDict() if rows else None
            except Exception as exc:  # noqa: BLE001 - raced a tail checkpoint
                last_exc = exc
        raise last_exc
