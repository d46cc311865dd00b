"""Insert changefeed: committed store versions as a Structured Stream.

The reference's clients poll Changes/RawValues version diffs to follow a
stream (quasar.go:404-485 powers that sync loop); Spark's idiomatic
equivalent is a FILE-SOURCE subscription to the store itself. Every
committed insert lands as immutable parquet under the fresh sentinel
directory (`ins_ver={v}/uuid_bucket=-1`, store.py:212-226), so a
readStream over that glob IS a CDC feed of committed inserts: each new
version's files are discovered by the next micro-batch, exactly-once per
file via the checkpointed file log, no polling RPCs and no extra write
path — the WAL the ingest already writes is the feed.

Scope and caveats (by design, documented not hidden):

- changefeed() is INSERT-ONLY. Range deletes are tombstones in a
  separate dataset and compaction's rewritten history lands in real
  hash-bucket dirs — both invisible to the sentinel glob, so the feed
  never replays old data as fake inserts. Delete visibility is its own
  stream: changefeed_deletes() subscribes to the tombstone dataset with
  the same exactly-once file-log semantics (the reference's DeleteRange
  is just another versioned commit clients observe via Changes,
  quasar.go:487-520 / 404-485 — two feeds here because the two commit
  kinds live in two datasets).
- VALIDATED-ONLY: the insert path writes to a dot-prefixed staging dir
  (invisible to the glob) and renames into the sentinel path only after
  validation passes (store.py _write_version), so an aborted insert —
  whose version number the next insert reuses — never reaches the feed.
  A crash between that rename and the manifest write is cleaned by the
  store's recovery sweep (store.recover(): ins_ver dirs newer than the
  committed version are deleted, the version-fenced replay of
  pqm.go:160-186). The sweep runs automatically on WRITER opens only —
  a read-only open (PointStore(..., writer=False)) must not delete a
  live writer's in-flight version dir, so a reader process that starts
  a feed right after a crash calls store.recover() explicitly once it
  knows no writer is mid-commit. Only a feed already RUNNING at the
  instant of the crash can see the phantom dir.
- Compaction retires old generation dirs (store.py compact); files the
  feed has PROCESSED may vanish (harmless — the file log does not
  re-read). A lagging feed's tolerance is the retention knob:
  compact(generations_retained=N) keeps the newest N-1 superseded
  generations on disk, so the feed may lag up to N-2 FULL compaction
  intervals (default N=2 = the classic LSM-CDC contract: feed latency <
  compaction cadence; widen N to trade disk for lag tolerance).
- Rows carry `ins_ver` (the committing version) extracted from the file
  path — a consumer can resume the reference-style version protocol at
  any point.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class PhantomVersionError(RuntimeError):
    """A changefeed micro-batch carries rows whose ins_ver exceeds the
    committed manifest version and the manifest did not catch up within
    the grace window — the signature of a writer that crashed between
    _write_version's rename and the manifest commit. The micro-batch
    FAILS (so the checkpointed file source re-delivers the same files on
    restart) instead of silently dropping rows: in the overwhelmingly
    common case the gap is just the normal rename-then-commit window of
    a LIVE insert, and dropping there would permanently lose committed
    rows — the file log marks listed files processed and never re-reads
    them."""


def fence_batch(store, batch_df: DataFrame, grace_sec: float = 0.1,
                max_wait_sec: float = 10.0) -> DataFrame:
    """Driver-side version fence for a changefeed micro-batch — the
    recommended fence shape: call it first inside foreachBatch.

    Reads max(ins_ver) of the batch (one column-pruned JVM action — the
    batch is micro-batch-sized) and compares it against the committed
    manifest version read ON THE DRIVER (the process that owns the store
    path; executors never open() the manifest, so this works when the
    data plane is object storage the executors see but the manifest
    lives behind the driver's filesystem). While the batch runs ahead of
    the manifest it WAITS — this is the normal insert window between
    _write_version's rename and the manifest commit, which resolves in
    milliseconds — and only if the writer never commits within
    `max_wait_sec` (a crashed writer's orphan) does it raise
    PhantomVersionError, failing the micro-batch so the file source
    re-delivers the same files after recovery (run store.recover(), set
    spark.sql.files.ignoreMissingFiles=true for the restart so the
    quarantined orphan files read as absent; the retried insert's own
    files then deliver the rows exactly once). NEVER drops a row: every
    outcome is deliver-all or fail-and-retry."""
    import time as _time

    if "ins_ver" not in batch_df.columns:
        raise ValueError(
            "fence_batch needs the ins_ver column: build the feed with "
            "changefeed(include_version=True) and drop the column in your "
            "sink after the fence"
        )
    mx = batch_df.agg(F.max("ins_ver").alias("mx")).first()["mx"]
    if mx is None:
        return batch_df
    v = store.version
    deadline = _time.monotonic() + max_wait_sec
    while mx > v and _time.monotonic() < deadline:
        _time.sleep(grace_sec)
        v = store.version
    if mx > v:
        raise PhantomVersionError(
            f"micro-batch carries ins_ver={mx} > committed version {v} "
            f"after {max_wait_sec}s — crashed-writer orphan; run "
            "store.recover() and restart the stream "
            "(spark.sql.files.ignoreMissingFiles=true)"
        )
    return batch_df


class _FencedWriter:
    """DataStreamWriter proxy that carries the version fence to the sink:
    `foreachBatch(fn)` installs fence_batch IN FRONT of `fn` (driver-side
    manifest read, pure-JVM plan — the cluster-correct fence shape), and
    every builder method (option/trigger/outputMode/...) passes through.
    A fenced feed only supports foreachBatch sinks: a direct sink
    (`format(...).start()`, `toTable`) has no per-micro-batch driver hook
    to fence on, so `start` without foreachBatch fails loudly with the
    two honest alternatives instead of silently not fencing."""

    def __init__(self, writer, store, grace_sec, max_wait_sec, drop_ins_ver):
        self._w = writer
        self._store = store
        self._grace = grace_sec
        self._max_wait = max_wait_sec
        self._drop = drop_ins_ver
        self._has_sink = False

    def foreachBatch(self, fn):
        store, grace, max_wait, drop = (
            self._store, self._grace, self._max_wait, self._drop,
        )

        def fenced(batch_df, batch_id):
            out = fence_batch(store, batch_df, grace, max_wait)
            if drop:
                out = out.drop("ins_ver")
            return fn(out, batch_id)

        self._w = self._w.foreachBatch(fenced)
        self._has_sink = True
        return self

    def start(self, *a, **kw):
        if not self._has_sink:
            raise ValueError(
                "a version-fenced changefeed needs a foreachBatch sink "
                "(the fence is a per-micro-batch driver-side check); use "
                ".writeStream.foreachBatch(fn) or build the feed with "
                "changefeed(version_fence='in-scan') on a shared POSIX "
                "volume"
            )
        return self._w.start(*a, **kw)

    def toTable(self, *a, **kw):
        raise ValueError(
            "a version-fenced changefeed needs a foreachBatch sink; "
            "write the table inside foreachBatch"
        )

    def __getattr__(self, name):
        attr = getattr(self._w, name)
        if not callable(attr):
            return attr

        def call(*a, **kw):
            out = attr(*a, **kw)
            if out is self._w or type(out).__name__ == "DataStreamWriter":
                self._w = out
                return self
            return out

        return call


class FencedChangefeed:
    """The DataFrame changefeed(version_fence=True) returns: a streaming
    DataFrame whose PLAN is the plain pure-JVM sentinel scan (zero
    Python, filter pushdown intact) and whose version fence travels WITH
    it to the sink — `writeStream` yields a writer that runs fence_batch
    (wait-then-FAIL, never drop) on every micro-batch before the user's
    foreachBatch body. Transformations (.where/.select/...) return a
    re-wrapped feed, so a per-stream subscription keeps its fence.
    This replaces the r12 wiring where the PUBLIC fence flag reached the
    executor-sleeping pandas_udf variant (`version_fence='in-scan'`,
    still available, shared-POSIX-volume/test-only): the discoverable
    API now gets the cluster-correct shape — executors never open() the
    manifest and no task slot sleeps through the commit window."""

    def __init__(self, df, store, grace_sec, max_wait_sec, drop_ins_ver):
        object.__setattr__(self, "_df", df)
        object.__setattr__(self, "_store", store)
        object.__setattr__(self, "_grace", grace_sec)
        object.__setattr__(self, "_max_wait", max_wait_sec)
        object.__setattr__(self, "_drop", drop_ins_ver)

    @property
    def writeStream(self):
        return _FencedWriter(
            self._df.writeStream,
            self._store,
            self._grace,
            self._max_wait,
            self._drop,
        )

    def __getattr__(self, name):
        attr = getattr(self._df, name)
        if not callable(attr):
            return attr

        def call(*a, **kw):
            out = attr(*a, **kw)
            if isinstance(out, DataFrame) and out.isStreaming:
                return FencedChangefeed(
                    out, self._store, self._grace, self._max_wait, self._drop
                )
            return out

        return call


def _committed_version_fence(store, grace_sec: float, max_wait_sec: float):
    """Boolean pandas_udf implementing fence_batch's wait-then-FAIL
    contract inside the scan itself, re-reading the manifest at EXECUTION
    time (fresh every micro-batch). Requires executors to open() the
    manifest path — i.e. a shared POSIX store volume (and it sleeps in an
    executor task slot through the commit window); reachable only via
    changefeed(version_fence='in-scan') for single-volume/test setups —
    the default fence (version_fence=True) is the driver-side
    FencedChangefeed delegation to fence_batch.

    Never drops a row: a batch running ahead of the manifest (the normal
    rename-then-commit window of a live insert) WAITS for the commit;
    only a writer that never commits within max_wait_sec — a crashed
    writer's orphan — fails the batch, so the checkpointed file source
    re-delivers those files after recovery instead of marking them
    processed with their rows silently filtered (which permanently lost
    committed rows in the normal window)."""
    import json as _json
    import time as _time

    from pyspark.sql.functions import pandas_udf

    manifest_path = store.manifest_path

    @pandas_udf("boolean")
    def _fence(ins_ver):
        def committed() -> int:
            with open(manifest_path) as f:
                return int(_json.load(f)["version"])

        v = committed()
        mx = int(ins_ver.max()) if len(ins_ver) else 0
        deadline = _time.monotonic() + max_wait_sec
        while mx > v and _time.monotonic() < deadline:
            _time.sleep(grace_sec)
            v = committed()
        if mx > v:
            raise RuntimeError(
                f"PhantomVersionError: ins_ver={mx} > committed {v} after "
                f"{max_wait_sec}s — crashed-writer orphan; run "
                "store.recover() and restart the stream"
            )
        return ins_ver <= v  # all True: the batch is fully committed

    return _fence


def changefeed(
    store,
    include_version: bool = True,
    max_files_per_trigger: Optional[int] = None,
    version_fence: bool | str = False,
    fence_grace_sec: float = 0.1,
    fence_max_wait_sec: float = 10.0,
) -> "DataFrame | FencedChangefeed":
    """Streaming DataFrame of committed inserts (uuid, time, value
    [, ins_ver]) across ALL streams of a PointStore. Filter by uuid for a
    per-stream subscription — the predicate pushes into the parquet scan,
    where the (uuid, time)-sorted files' row-group stats prune it (file-
    LEVEL pruning would need uuid in the path, which the sentinel layout
    deliberately avoids on the hot write path; store.py:212-226).

    `max_files_per_trigger`: bound micro-batch size (one committed version
    is >= 1 file); None processes everything available each trigger.

    `version_fence=True` closes the last documented phantom window for a
    feed RUNNING at the instant a writer crashes between _write_version's
    rename and the manifest commit: every micro-batch is checked against
    the committed manifest version at execution time and — crucially — a
    batch whose ins_ver runs AHEAD of the manifest WAITS for the commit
    and then delivers everything; only a version that never commits
    within `fence_max_wait_sec` (a crashed writer's orphan) FAILS the
    micro-batch, so the checkpointed file source re-delivers the same
    files after recovery. It never silently drops: the rename lands
    BEFORE the manifest commit on every normal insert, so a
    filter-and-drop fence would permanently lose those committed rows
    whenever a micro-batch listed them inside that window (the file log
    marks listed files processed and never re-reads them). Off by
    default. True returns a FencedChangefeed — the plan stays the plain
    pure-JVM scan and the fence runs DRIVER-side (fence_batch) in front
    of the foreachBatch sink, so it is cluster-correct: executors never
    open() the manifest and no task slot sleeps. 'in-scan' keeps the r12
    execution-time pandas_udf filter (requires a shared POSIX store
    volume and holds an Arrow-batched filter on the scan) for
    single-volume setups whose sink is not foreachBatch."""
    from btrdb_server_spark.store import FRESH_BUCKET

    glob = os.path.join(
        store.path, "points*", "ins_ver=*", f"uuid_bucket={FRESH_BUCKET}"
    )
    reader = store.spark.readStream.schema("uuid string, time long, value double")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(glob)
    if include_version or version_fence:
        # The sentinel glob defeats directory-partition discovery (the
        # generation dir between basePath and ins_ver= is not key=value),
        # so the committing version is recovered from the file path — via
        # the DETERMINISTIC hidden _metadata.file_path column, never
        # input_file_name(): a nondeterministic projection blocks filter
        # pushdown above it, which would turn every per-stream
        # subscription (.where(uuid = ...)) into a full scan of each
        # micro-batch (pinned by tests/test_plans.py).
        df = df.withColumn(
            "ins_ver",
            F.regexp_extract(
                F.col("_metadata.file_path"), r"ins_ver=(\d+)", 1
            ).cast("long"),
        )
    if version_fence == "in-scan":
        fence = _committed_version_fence(
            store, fence_grace_sec, fence_max_wait_sec
        )
        df = df.where(fence(F.col("ins_ver")))
        if not include_version:
            df = df.drop("ins_ver")
    elif version_fence:
        return FencedChangefeed(
            df,
            store,
            fence_grace_sec,
            fence_max_wait_sec,
            drop_ins_ver=not include_version,
        )
    return df


def changefeed_deletes(
    store,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Streaming DataFrame of committed range-delete tombstones
    (uuid, start, end, ver) of a PointStore — the delete half of the CDC
    story. Each delete_range/obliterate appends one immutable tombstone
    row-file under the store's deletes dataset (store.py:302-318), so a
    readStream over it delivers every delete exactly once via the
    checkpointed file log; `ver` is the committing major version carried
    IN the row, so a consumer can merge this feed with changefeed()'s
    ins_ver into one totally-ordered version history.

    Retention (same LSM-CDC contract AND the same knob as the insert
    feed): compaction folds tombstones into the snapshot, but the folded
    files stay in place under the deletes dataset on the same
    generations_retained ledger as the points generations
    (store.compact) — the delete feed may lag up to
    generations_retained - 2 full compaction intervals without losing
    not-yet-processed tombstones (default N=2 = one interval of
    retention; widen N to trade disk for lag tolerance). Retained files
    are invisible to batch readers: the MVCC anti-join requires
    ins_ver < ver and every post-compaction row carries the compaction
    version, which no folded tombstone outranks."""
    from btrdb_server_spark.store import DELETES_SCHEMA

    reader = store.spark.readStream.schema(DELETES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(store.deletes_path)
