"""Versioned point store — MVCC on parquet, replacing the reference's
copy-on-write tree generations.

The reference gives every committed write a new immutable generation
(internal/bstore/blocktypes.go:18-23,46-53); any historical generation is
queryable (snapshot isolation), DeleteRange produces a new generation
(quasar.go:487-520), and Changes diffs two generations (quasar.go:404-485).

Spark-first equivalent (no Delta in this environment, same semantics):

- `points` parquet dataset partitioned by `ins_ver`: every insert batch is an
  immutable append under its own version directory. Reading "as of v" prunes
  every partition with ins_ver > v — version time travel IS partition pruning.
- `deletes` parquet dataset of interval tombstones (uuid, start, end, ver).
  A point is visible at version v iff ins_ver <= v and no tombstone with
  ins_ver < ver <= v covers its time. Tombstones are metadata-sized: each
  read loads its snapshot's rows on the driver and applies them as a NOT
  EXISTS predicate over those rows (see points_at), so no read runs a
  Spark job to scan or broadcast them.
- `manifest.json`: the commit log — current version + per-stream last-write
  version (what QueryVersion returns, pqm.go:343-361).

At 100 TB: appends stay per-batch immutable files (object-store friendly,
no read-modify-write); a background compaction can fold old ins_ver
partitions + tombstones into a base snapshot exactly like Delta OPTIMIZE/
VACUUM without changing query semantics.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from btrdb_server_spark.constants import (
    ERR_INSERT_TOO_BIG,
    ERR_INVALID_TIME_RANGE,
    MAX_INSERT_BATCH,
)
from btrdb_server_spark.operators import raw as raw_ops
from btrdb_server_spark.operators.changes import _gap_islands, coalesce_intervals
from btrdb_server_spark.schemas import POINTS_SCHEMA

LONG_MAX = (1 << 63) - 1

# Parquet writer tuning for the points plane, measured at 20-50M-point
# saturation on local[32]: dictionary encoding is pure overhead for the
# monotone `time` and continuous `value` columns (uuid keeps its dictionary
# via per-column override), and page CRCs cost ~4% for corruption detection
# the object store already provides. Codec: interleaved A/B at 20M points
# (min of 4 reps each) put zstd-1 at write parity with snappy/lz4
# (~16-17 Mpts/s all three) but 28% smaller files (189 vs 263 MB) and 36%
# faster steady-state stat scans (88.7 vs 65.2 Mpts/s — decode is not the
# bottleneck, bytes moved are). At the 100 TB design point the smaller
# footprint also cuts every downstream scan's I/O, so zstd-1 is the store
# default; callers can override per-write via .option("compression", ...).
_WRITE_TUNING = {
    "compression": "zstd",
    "parquet.compression.codec.zstd.level": "1",
    "parquet.enable.dictionary#time": "false",
    "parquet.enable.dictionary#value": "false",
    "parquet.page.write-checksum.enabled": "false",
}

# Measured insert-path cost split (50M pts, local[32], min-of-2): flat
# time-sorted write 22.5 Mpts/s; + observation metrics 20.5; + the
# bucket-FIRST (bucket, uuid, time) sort 14.8; + the dynamic-partition
# writer 13.7 — i.e. the old bucket-sharded ingest write paid ~40% for
# its 16 dirs x 32 tasks = 512 tiny files per batch. Two compounding
# causes: with only num_buckets distinct leading values Spark's 8-byte
# sort prefix never discriminates (every comparison falls through to a
# full uuid string compare), and the dynamic writer pays per-file setup
# ~1.5 ms x 480 extra files. Fixes tried and rejected: sorting by
# xxhash64(uuid) (slower — extra column outweighs cheaper compares,
# and hash order wrecks uuid row-group stats), concurrent writers with
# a uuid-led sort (14.5 — routing overhead eats most of the sort win),
# repartition(uuid) before the write (6.4 — the shuffle costs more than
# the files save). The shipped design is LSM-shaped instead: FRESH
# versions write to the single sentinel dir uuid_bucket=-1 as a plain
# one-file-per-task (uuid, time)-sorted write (18.5 Mpts/s, no dynamic
# writer at all); compact() folds them into real hash-bucket dirs.
# Single-stream reads dir-prune the compacted base and row-group-prune
# the small fresh tail via the uuid-sorted file stats — the same read
# contract, ~1.8x faster sustained ingest. The read-side cost of the
# trade is the fresh tail itself: sentinel dirs cannot be bucket-pruned,
# so single-stream reads touch every uncompacted version's files
# (measured: 832 ms vs 212 ms per read at 50 small uncompacted versions
# vs freshly compacted — ~4x, dominated by listing + footer reads).
# Compaction cadence is therefore the operating knob, exactly as in any
# LSM store: fold the tail (compact()) when uncompacted versions
# accumulate past a few dozen, bearing in mind compact() intentionally
# trades version addressability below the compaction point. Folding is
# itself tail-priced (r9): once a base exists, compact() rewrites only
# the uuid_bucket partitions owning a fresh or tombstoned uuid and
# hard-links the rest into the new generation — measured flat in base
# size (1% tail: 1.7 s at a 50M base, 2.2 s at 100M, while a full
# rewrite doubles 7.0 -> 14.7 s; throughput_bench.py).
FRESH_BUCKET = -1  # sentinel uuid_bucket partition for not-yet-compacted versions

# Interval tombstones (deletes/): a point of `uuid` with start <= time < end
# and ins_ver < ver is invisible at every version >= ver.
DELETES_SCHEMA = "uuid string, start long, end long, ver long"

# Driver-held tombstones enter a plan as ONE JSON string literal that
# from_json types and the optimizer folds once, so a plan's size and its
# planning time stay flat in the tombstone count (a literal per field made
# 400 tombstones unplannable).
_TOMBSTONE_ROWS = "array<struct<uuid:string, start:long, end:long, ver:long>>"
_TOMBSTONES_BY_UUID = "map<string, array<struct<start:long, end:long, ver:long>>>"


def _folded_literal(value, ddl: str):
    """`value` as a Catalyst literal of type `ddl`. FAILFAST: text that does
    not parse raises instead of reading as null (null would hide nothing)."""
    return F.from_json(F.lit(json.dumps(value)), ddl, {"mode": "FAILFAST"})


# A single-stream read whose plan scans at most this many bytes of parquet
# runs as ONE partition (fits_one_task); a larger read keeps the scan's
# partitions, scans in parallel and reaches the driver one partition at a
# time. The bound is in file bytes, so the points it admits depend on how
# well they compress: ~0.4M at the ~5 B/point of the serve benchmark's
# store, at most ~1.1M at the 1.84 B/point of a regular synthetic stream,
# whose JSON pages (~45 B/point) reach the driver as one task result of
# ~50 MB, far under spark.driver.maxResultSize. A 2M-point RawValues as
# one task ran at parity to 19 % slower warm than over its scan's
# partitions (4 CPUs), so the bound sits below that size.
ONE_TASK_SCAN_BYTES = 2 << 20


def scan_bytes(df: DataFrame) -> int:
    """Bytes of the files `df`'s plan scans after partition pruning, as
    Spark's planner lists them; no job runs. An upper bound on what the
    read returns: row-group pruning only drops more."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    total = 0
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "FileSourceScanExec":
            total += leaf.selectedPartitions().totalFileSize()
    return total


def fits_one_task(df: DataFrame) -> bool:
    """True when `df` is small enough to read as one partition (see
    ONE_TASK_SCAN_BYTES). Over a one-partition input the operators'
    groupBy, orderBy and windows plan no exchange (no shuffle-map job, no
    range-sort sampling job), so the read runs as one single-task Spark
    job, like the reference's one tree descent per query
    (qtree.go:968-1031)."""
    return scan_bytes(df) <= ONE_TASK_SCAN_BYTES


class BTrDBError(Exception):
    """Engine error with a code mirroring bte/errors.go:146-270."""

    def __init__(self, code: int, msg: str):
        super().__init__(f"[{code}] {msg}")
        self.code = code


class PointStore:
    """Versioned (uuid, time, value) store with snapshot reads, range deletes
    and version diffs."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_buckets: int = 16,
        dup_timestamp_cap: Optional[int] = None,
        writer: bool = True,
    ):
        """`num_buckets`: uuid hash shards within every version directory —
        the murmur3-range analog (cluster_leader.go:21-43). Single-stream
        reads prune to one bucket; tune to executor count at cluster scale.

        `dup_timestamp_cap`: reference-compat truncation of points sharing
        one 1-ns timestamp (qtree.go:692-699 caps at VSIZE=1024, see
        constants.DUP_TIMESTAMP_CAP). Default None stores unbounded
        duplicates — a documented superset of the reference."""
        self.spark = spark
        self.path = path
        self.dup_timestamp_cap = dup_timestamp_cap
        self.deletes_path = os.path.join(path, "deletes")
        self.manifest_path = os.path.join(path, "manifest.json")
        os.makedirs(self.deletes_path, exist_ok=True)
        if not os.path.exists(self.manifest_path):
            os.makedirs(os.path.join(path, "points"), exist_ok=True)
            self._write_manifest(
                {
                    "version": 0,
                    "streams": {},
                    "has_deletes": False,
                    "has_points": False,
                    "num_buckets": num_buckets,
                    "points_dir": "points",
                }
            )
        self.num_buckets = self._read_manifest().get("num_buckets", num_buckets)
        self.writer = writer
        if writer:
            self.recover()

    def recover(self) -> None:
        """Version-fenced recovery: delete ins_ver dirs NEWER than the
        manifest version — the leftovers of a crash between
        _write_version's rename and the manifest commit. Batch readers
        were never exposed (points_at filters ins_ver <= committed
        version) and the next insert of the same version clears its own
        leftover, but the CHANGEFEED's sentinel glob has no version fence:
        without this sweep it could deliver phantom rows for a version
        that never committed, then deliver the reused version's real rows
        from differently-named files. The reference closes the same
        window by version-fencing journal replay (pqm.go:160-186) —
        recovery inspects durable state against the committed version and
        discards anything beyond it. One os.listdir of the live
        generation; tail-sized (dirs since last compaction).

        Runs automatically on WRITER opens only (the default). A writer
        open asserts the single-writer discipline the store already
        documents, so sweeping there is safe; a READ-ONLY open
        (``PointStore(..., writer=False)`` — a reader or changefeed
        process beside a live writer) must NOT sweep: it could delete the
        writer's about-to-commit version dir between _write_version's
        rename and the manifest commit, and the writer would then commit
        a manifest pointing at deleted data. Reader processes that need
        the changefeed's phantom-dir fence after a crash call recover()
        explicitly once they know no writer is mid-commit."""
        import shutil

        v = self._read_manifest()["version"]
        pdir = self.points_path
        if not os.path.isdir(pdir):
            return
        for name in os.listdir(pdir):
            if name.startswith("ins_ver="):
                try:
                    n = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if n > v:
                    shutil.rmtree(os.path.join(pdir, name), ignore_errors=True)

    @property
    def points_path(self) -> str:
        """Current points GENERATION directory, resolved through the
        manifest. compact() never mutates a generation in place: it builds
        the next one and flips this pointer in one atomic manifest write,
        so a reader planned at any moment sees a complete directory."""
        return self._points_dir(self._read_manifest())

    def _points_dir(self, m: dict) -> str:
        return os.path.join(self.path, m.get("points_dir", "points"))

    # ------------------------------------------------------------ manifest --

    def _read_manifest(self) -> dict:
        # Through the commit backend (functions/commit_backend.py): the
        # manifest read/flip pair is the store's only coordination
        # primitive, so it shares the index lifecycle's object-store
        # portability seam (POSIX os.replace by default; put-if-match on
        # an S3-class backend). Version-dir renames stay POSIX: those
        # paths are invisible to readers until THIS flip commits them,
        # so on an object store they become plain puts, not renames.
        from btrdb_server_spark.functions import commit_backend as cbk

        raw = cbk.get_default_backend().read(self.manifest_path)
        if raw is None:
            raise FileNotFoundError(self.manifest_path)
        return json.loads(raw)

    def _write_manifest(self, m: dict) -> None:
        from btrdb_server_spark.functions import commit_backend as cbk

        cbk.get_default_backend().publish(self.manifest_path, json.dumps(m))

    @property
    def version(self) -> int:
        """Current committed store version (global, like a Delta table version)."""
        return self._read_manifest()["version"]

    def stream_version(self, uuid: str) -> int:
        """Last version that touched `uuid` — the stream's major version
        (pqm.go:343-361; minor is always 0 for committed batch reads)."""
        return self._read_manifest()["streams"].get(uuid, 0)

    @property
    def compacted_through(self) -> int:
        """Version of the last compaction snapshot (0 = never compacted).
        Versions at or below this are folded into the base and no longer
        individually addressable. Durable (manifest-backed), so maintenance
        cadences keyed on it survive process restarts and batch replays."""
        return self._read_manifest().get("compacted_through", 0)

    # -------------------------------------------------------------- writes --

    def _write_version(self, points: DataFrame, v: int, collect_uuids: bool) -> list:
        """Write one ins_ver partition in a SINGLE pass, piggybacking
        validation (and optionally the touched-uuid set) on the write job via
        the Observation API — no separate validation/distinct scans. The
        manifest commit happens only after this returns, so on a validation
        failure the half-written directory is rolled back and stays invisible
        (points_at filters ins_ver <= committed version). Returns the observed
        uuid list (empty when collect_uuids=False)."""
        from pyspark.sql import Observation

        if self.dup_timestamp_cap is not None:
            points = raw_ops.truncate_dense_timestamps(points, self.dup_timestamp_cap)
        obs = Observation()
        metrics = [
            F.sum(raw_ops.invalid_cond().cast("long")).alias("n_bad"),
        ]
        if collect_uuids:
            # Stream cardinality per batch is bounded (one gRPC insert is one
            # stream; a micro-batch carries at most the active-stream set), so
            # the set fits driver memory — same assumption as the manifest.
            metrics.append(F.collect_set("uuid").alias("uuids"))
        ver_dir = os.path.join(self.points_path, f"ins_ver={v}")
        dest = os.path.join(ver_dir, f"uuid_bucket={FRESH_BUCKET}")
        # Dot-prefixed staging: invisible to Spark/Hadoop listings AND to
        # the changefeed's sentinel glob (streaming/changefeed.py). The
        # write job lands here first; only after validation passes is the
        # directory renamed into place, so a validation FAILURE never
        # exposes files for a version that will not commit — without the
        # stage, a live changefeed could emit phantom rows for an aborted
        # version whose number the next insert then reuses. The residual
        # exposure is crash-between-rename-and-manifest, same class as the
        # batch readers' own crash window.
        staging = os.path.join(ver_dir, f".staging.uuid_bucket={FRESH_BUCKET}")
        # Sorted (uuid, time) files give parquet min/max row-group stats
        # their pruning power (the reference sorts on insert too,
        # qtree.go:629). Fresh versions land in the sentinel
        # uuid_bucket=-1 dir as a plain one-file-per-task write — the
        # ingest hot path never pays the dynamic-partition writer; see the
        # cost-split comment above FRESH_BUCKET. compact() builds the real
        # hash-bucket dirs.
        (
            points.observe(obs, *metrics)
            .sortWithinPartitions("uuid", "time")
            .write.mode("overwrite")
            .options(**_WRITE_TUNING)
            .parquet(staging)
        )
        import shutil

        got = obs.get
        if got["n_bad"]:
            shutil.rmtree(ver_dir, ignore_errors=True)
            raise BTrDBError(
                ERR_INVALID_TIME_RANGE, f"{got['n_bad']} invalid rows in insert"
            )
        if os.path.exists(dest):  # crash leftover from an uncommitted v
            shutil.rmtree(dest)
        os.replace(staging, dest)
        return got["uuids"] if collect_uuids else []

    def insert(self, uuid: str, points: DataFrame | list, enforce_batch_cap: bool = False) -> int:
        """Append validated points as a new version; returns the new major
        version. `points` is a DataFrame or list of (time, value) tuples.
        Invalid rows (NaN/Inf/out-of-domain, quasar.go:92-101) raise."""
        if isinstance(points, list):
            if enforce_batch_cap and len(points) > MAX_INSERT_BATCH:
                raise BTrDBError(ERR_INSERT_TOO_BIG, "insert too big")  # serve.go:702
            points = self.spark.createDataFrame(
                [(uuid, int(t), float(v)) for t, v in points], POINTS_SCHEMA
            )
        else:
            points = points.select(F.lit(uuid).alias("uuid"), "time", "value")
        m = self._read_manifest()
        v = m["version"] + 1
        self._write_version(points, v, collect_uuids=False)
        m["version"] = v
        m["streams"][uuid] = v
        m["has_points"] = True
        self._write_manifest(m)
        return v

    def batch_committed(self, batch_id: int) -> bool:
        """True if a streaming micro-batch with this id already committed —
        the replay guard for foreachBatch recovery (ST4)."""
        return batch_id <= self._read_manifest().get("last_batch_id", -1)

    def insert_many(self, points: DataFrame, batch_id: Optional[int] = None) -> int:
        """Append a multi-stream batch (uuid, time, value) as one version —
        the foreachBatch ingest path (streaming/ingest.py).

        `batch_id` makes the call idempotent: foreachBatch can replay a
        micro-batch after a crash, and replaying an already-committed id
        must not mint a fresh version (the standard idempotent-foreachBatch
        pattern — the id is recorded in the SAME manifest write that commits
        the version, so the check-and-commit is atomic on the driver)."""
        m = self._read_manifest()
        if batch_id is not None and batch_id <= m.get("last_batch_id", -1):
            return m["version"]
        v = m["version"] + 1
        uuids = self._write_version(
            points.select("uuid", "time", "value"), v, collect_uuids=True
        )
        m["version"] = v
        for u in uuids:
            m["streams"][u] = v
        m["has_points"] = True
        if batch_id is not None:
            m["last_batch_id"] = batch_id
        self._write_manifest(m)
        return v

    def delete_range(self, uuid: str, start: int, end: int) -> int:
        """Delete start <= t < end as an interval tombstone (quasar.go:487-520);
        returns the new major version. O(1) data movement — the COW-prune
        analog: no point files are rewritten."""
        if start >= end:
            raise BTrDBError(ERR_INVALID_TIME_RANGE, "start >= end")
        m = self._read_manifest()
        v = m["version"] + 1
        df = self.spark.createDataFrame([(uuid, start, end, v)], DELETES_SCHEMA)
        df.write.mode("append").parquet(self.deletes_path)
        m["version"] = v
        m["streams"][uuid] = v
        m["has_deletes"] = True
        self._write_manifest(m)
        return v

    def obliterate(self, uuid: str) -> int:
        """Drop all data for a stream (quasar.go:577-599). Registry-side
        tombstoning lives in metadata.py."""
        from btrdb_server_spark.constants import MAX_TIME, MIN_TIME

        return self.delete_range(uuid, MIN_TIME, MAX_TIME)

    # --------------------------------------------------------------- reads --

    # On-disk plane: (uuid, time, value) data columns under
    # ins_ver=/uuid_bucket= partition dirs, and the tombstone dataset. The
    # schema is EXPLICIT on every read — no footer-sampling job per query,
    # and a generation whose rewrite set was empty (e.g. a compaction
    # folding a fully-tombstoned tail) reads as an empty DataFrame instead
    # of failing schema inference.
    #
    # Every read resolves the generation, version and has_* flags from ONE
    # manifest snapshot `m`: a writer in the same process (IngestPipeline
    # beside the wire server) can commit an insert and a compaction between
    # two manifest reads, and mixing the old version with the new
    # generation would filter ins_ver <= v against a base written at v+1 —
    # an empty answer.
    _READ_SCHEMA = (
        "uuid string, time long, value double, ins_ver long, uuid_bucket long"
    )

    def _raw_points(self, m: dict) -> DataFrame:
        if not m.get("has_points"):
            return self.spark.createDataFrame([], self._READ_SCHEMA)
        pdir = self._points_dir(m)
        return (
            self.spark.read.schema(self._READ_SCHEMA)
            .option("basePath", pdir)
            .parquet(pdir)
        )

    def _tombstones(self, m: dict) -> tuple:
        """The live tombstone rows of snapshot `m`, as dicts with keys uuid,
        start, end and ver. The read is a driver-side parquet read
        (pyarrow) of a few KB, not a Spark job (~1.3 ms for three
        tombstone files). Rows above the snapshot's version belong to a
        later write and are dropped. So are rows at or below the
        compaction point: every surviving point carries ins_ver >=
        compacted_through, so no such tombstone hides anything (they stay
        on disk only for lagging changefeed_deletes readers)."""
        if not m.get("has_deletes"):
            return ()
        import pyarrow.dataset as ds

        table = ds.dataset(self.deletes_path, format="parquet").to_table(
            columns=["uuid", "start", "end", "ver"]
        )
        compacted = m.get("compacted_through", 0)
        return tuple(
            r for r in table.to_pylist() if compacted < r["ver"] <= m["version"]
        )

    def _tombstone_frame(self, rows) -> DataFrame:
        """Tombstone rows as a one-partition DataFrame: inline of one folded
        literal over a one-row range. JVM-only, so a plan that unions it in
        runs no Python worker and no extra job."""
        return self.spark.range(1, numPartitions=1).select(
            F.inline(_folded_literal(list(rows), _TOMBSTONE_ROWS))
        )

    def points_at(
        self, version: Optional[int] = None, prefilter=None,
        m: Optional[dict] = None, uuid: Optional[str] = None,
    ) -> DataFrame:
        """MVCC-visible (uuid, time, value) snapshot as of `version`
        (None = latest). The ins_ver filter is partition pruning. The
        tombstone check is an anti-join against the snapshot's tombstone
        rows, read on the driver (_tombstones), with ver <= version, written as
        a NOT EXISTS predicate: one folded literal map uuid -> that
        stream's tombstones, probed per row with element_at and exists. A
        broadcast join would cost a Spark job per read even over a local
        relation; the predicate costs none, and stays a per-row filter on
        every plan, fleet or single-stream. `prefilter` is an optional
        partition-level predicate (e.g. uuid_bucket) applied at the scan.
        `m` is the manifest snapshot to plan against (default: read once).
        `uuid` narrows the snapshot to one stream: its exact filter, and
        only that stream's tombstones in the predicate."""
        m = m or self._read_manifest()
        v = m["version"] if version is None else version
        compacted = m.get("compacted_through", 0)
        if v < compacted:
            raise BTrDBError(
                ERR_INVALID_TIME_RANGE,
                f"version {v} predates compaction point {compacted}",
            )
        pts = self._raw_points(m).where(F.col("ins_ver") <= F.lit(v))
        if prefilter is not None:
            pts = pts.where(prefilter)
        if uuid is not None:
            pts = pts.where(F.col("uuid") == F.lit(uuid))
        by_uuid: dict = {}
        for d in self._tombstones(m):
            if d["ver"] <= v and uuid in (None, d["uuid"]):
                by_uuid.setdefault(d["uuid"], []).append(d)
        if by_uuid:
            tombs = _folded_literal(by_uuid, _TOMBSTONES_BY_UUID)
            hidden = F.exists(
                F.element_at(tombs, F.col("uuid")),
                lambda d: (F.col("time") >= d["start"])
                & (F.col("time") < d["end"])
                & (F.col("ins_ver") < d["ver"]),
            )
            # a stream with no tombstone looks up null: nothing is hidden
            pts = pts.where(~F.coalesce(hidden, F.lit(False)))
        return pts.select("uuid", "time", "value")

    def stream_points(self, uuid: str, version: Optional[int] = None) -> DataFrame:
        """Single-stream snapshot: the uuid_bucket partition predicate (a
        foldable hash of the literal uuid) prunes the scan to one bucket
        directory per compacted version — the murmur3-routing analog
        (cluster_leader.go:21-43) — plus the sentinel fresh dir
        (uuid_bucket=-1, not-yet-compacted ingest tail, pruned inside by
        the uuid-sorted files' row-group stats), plus the exact uuid
        filter. Tombstones apply as in points_at, with no Spark job. The
        scan keeps its file partitions; the wire read paths narrow a small
        read to one partition (api.BTrDB._stream_points, fits_one_task) so
        the RPC runs as one job."""
        bucket_pred = (F.col("uuid_bucket") == F.lit(FRESH_BUCKET)) | (
            F.col("uuid_bucket")
            == F.pmod(F.xxhash64(F.lit(uuid)), F.lit(self.num_buckets))
        )
        return self.points_at(version, prefilter=bucket_pred, uuid=uuid)

    # ---------------------------------------------------------- compaction --

    def compact(
        self,
        num_buckets: Optional[int] = None,
        full: bool = False,
        generations_retained: int = 2,
    ) -> int:
        """Fold committed versions and tombstones into a base snapshot
        partitioned by uuid_bucket (hash-sharded like the reference's murmur3
        ranges), clustered by (uuid, time) within files.

        The analog of Delta OPTIMIZE + VACUUM: read amplification from many
        small version dirs goes away; version history BELOW the compaction
        point is no longer addressable (reads at older versions raise), while
        new versions continue appending on top. Returns the compaction
        version.

        INCREMENTAL by default once a base exists: only the uuid_bucket
        partitions touched since the last compaction — buckets owning a
        fresh-tail uuid or a tombstoned uuid — are re-read and rewritten;
        untouched bucket directories are carried into the new generation as
        hard links (an object-store metadata copy). This mirrors the
        reference's COW tree, which rewrites only the root-to-leaf paths a
        write touched (qtree COW, not a full tree rebuild): compaction cost
        is proportional to the fresh tail + delete fan-out, not to base
        size — the difference between a bounded maintenance job and a
        ~1000x write-amplified full rewrite at a 100 TB base with a 0.1%
        tail. `full=True` (or a num_buckets change, which re-routes every
        uuid) forces the rewrite-everything path.

        `generations_retained` (default 2 = live + one superseded) is the
        CHANGEFEED-LAG contract knob: superseded generations stay on disk
        until this many exist, so a changefeed (whose sentinel glob spans
        every retained generation) may lag up to generations_retained - 2
        FULL compaction intervals without losing not-yet-processed files,
        and any scan planned before the flip keeps its listing readable
        for at least generations_retained - 1 intervals. Widening it
        trades disk for feed-lag tolerance; it can vary per call (the
        retained list lives in the manifest). The DELETE feed rides the
        same ledger: tombstone files folded by a compaction stay in place
        under the deletes dataset for generations_retained - 1
        compactions (they are outranked by every post-compaction row's
        ins_ver, so batch reads never re-apply them), giving
        changefeed_deletes the identical lag contract the insert feed
        has."""
        if generations_retained < 2:
            raise ValueError("generations_retained must be >= 2 (live + 1)")
        num_buckets = num_buckets or self.num_buckets
        m = self._read_manifest()
        v = m["version"]
        compacted = m.get("compacted_through", 0)
        # True no-op when nothing changed since the last compact (every
        # write — insert or delete — bumps the version, so compacted == v
        # implies no fresh tail and no live tombstones). Makes back-to-back
        # compaction (e.g. the ingest cadence hook on an idle stream)
        # genuinely free, and keeps the live generation untouched.
        if compacted == v and num_buckets == m.get("num_buckets"):
            return v
        import shutil

        old_dir = m.get("points_dir", "points")
        # Generation names are UNIQUE per compaction (monotone counter),
        # never derived from the version alone: compact(num_buckets=N) on an
        # already-compacted store would otherwise compute new_dir == old_dir
        # and rmtree the LIVE generation before rebuilding it — the exact
        # reader-visibility window generations exist to remove.
        seq = m.get("gen_seq", 0) + 1
        new_dir = f"points.gen{v}.{seq}"
        gen_path = os.path.join(self.path, new_dir)
        tmp = os.path.join(self.path, "compact.tmp")

        incremental = (
            not full and compacted > 0 and num_buckets == m.get("num_buckets")
        )
        bucket_of = F.pmod(F.xxhash64("uuid"), F.lit(num_buckets))
        touched: Optional[list[int]] = None
        if incremental:
            # Touched buckets = home buckets of fresh-tail uuids plus
            # live tombstoned uuids. The fresh scan is tail-sized
            # (partition-pruned to the sentinel dirs); the tombstones are
            # the driver-held live set, which already excludes files
            # RETAINED for lagging delete-feeds (folded into the base by an
            # earlier compaction, so they no longer touch any bucket).
            fresh = (
                self._raw_points(m)
                .where(F.col("uuid_bucket") == F.lit(FRESH_BUCKET))
                .select(bucket_of.alias("b"))
                .distinct()
            )
            tombs = self._tombstones(m)
            if tombs:
                fresh = fresh.unionByName(
                    self._tombstone_frame(tombs)
                    .select(bucket_of.alias("b"))
                    .distinct()
                )
            touched = sorted({r.b for r in fresh.collect()})

        if touched is None:  # full rewrite: every row re-read and re-routed
            rewrite = self.points_at(None, m=m)
        elif touched:  # incremental: only touched base buckets + fresh tail
            scan_pred = F.col("uuid_bucket").isin([FRESH_BUCKET] + touched)
            rewrite = self.points_at(None, prefilter=scan_pred, m=m).where(
                bucket_of.isin(touched)
            )
        else:  # version moved but nothing owns a bucket: link-only carry
            rewrite = None

        if rewrite is not None:
            (
                rewrite.withColumn("uuid_bucket", bucket_of)
                .repartition(num_buckets, "uuid_bucket")
                .sortWithinPartitions("uuid_bucket", "uuid", "time")
                .write.mode("overwrite")
                .partitionBy("uuid_bucket")
                .options(**_WRITE_TUNING)
                .parquet(tmp)
            )
        else:
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
        # Build the NEXT points generation beside the current one, then
        # flip the manifest's points_dir pointer in one atomic write —
        # readers planned at any instant see either the old complete
        # generation or the new complete generation, never a half-swapped
        # directory. The superseded generation is kept on disk until the
        # NEXT compact (two-generation retention), so scans already holding
        # its file listing finish cleanly; a scan that spans two compactions
        # is the documented residual race.
        shutil.rmtree(gen_path, ignore_errors=True)
        os.makedirs(gen_path)
        os.replace(tmp, os.path.join(gen_path, f"ins_ver={v}"))
        if touched is not None:
            self._link_untouched_buckets(
                os.path.join(self.path, old_dir, f"ins_ver={compacted}"),
                os.path.join(gen_path, f"ins_ver={v}"),
                set(touched),
            )
        m["has_deletes"] = False
        m["compacted_through"] = v
        m["num_buckets"] = num_buckets
        m["gen_seq"] = seq
        # Retention ledger: superseded generations, oldest first. The
        # newest (generations_retained - 1) stay on disk; older ones are
        # deleted after the flip. Legacy single-dir manifests migrate in.
        retired = list(m.get("retired_points_dirs") or [])
        legacy = m.pop("retired_points_dir", None)
        if legacy:
            retired = [legacy] + retired
        retired.append(old_dir)
        retired = [d for d in retired if d != new_dir]
        keep = generations_retained - 1
        stale_dirs, m["retired_points_dirs"] = (
            retired[:-keep] if keep else retired,
            retired[-keep:] if keep else [],
        )
        # Tombstone files folded by THIS compaction enter the same
        # retention ledger as the points generations (feed-lag parity for
        # changefeed_deletes): they stay IN PLACE under deletes_path —
        # the file-source feed tracks files by path, so moving them would
        # hide not-yet-drained tombstones — for generations_retained - 1
        # compactions, then age out. Batch readers are unaffected: the
        # visibility anti-join requires ins_ver < ver, and every
        # new-generation row carries ins_ver = v >= any folded
        # tombstone's ver (changes() likewise filters ver > from_ver >=
        # compacted_through); the touched-bucket scan above filters them
        # explicitly.
        dgroups = [g for g in (m.get("retired_delete_files") or []) if g]
        already = {f for g in dgroups for f in g}
        folded = sorted(
            f
            for f in os.listdir(self.deletes_path)
            if not f.startswith(("_", ".")) and f not in already
        ) if os.path.isdir(self.deletes_path) else []
        if folded:
            dgroups.append(folded)
        stale_dgroups, m["retired_delete_files"] = (
            dgroups[:-keep] if keep else dgroups,
            dgroups[-keep:] if keep else [],
        )
        m["points_dir"] = new_dir
        self._write_manifest(m)  # atomic flip: readers switch here
        # Retention-expired files are reclaimed AFTER the flip: a reader
        # still on the pre-flip manifest keeps its listing for as long as
        # possible (has_deletes is false in the flipped manifest, and the
        # snapshot rows carry ins_ver=v which no old tombstone outranks).
        import contextlib

        for g in stale_dgroups:
            for f in g:
                with contextlib.suppress(OSError):
                    os.unlink(os.path.join(self.deletes_path, f))
                # the local-FS ChecksumFileSystem writes a .<name>.crc
                # sidecar per part file; reclaim it with its data file
                with contextlib.suppress(OSError):
                    os.unlink(os.path.join(self.deletes_path, f".{f}.crc"))
        for stale in stale_dirs:
            shutil.rmtree(os.path.join(self.path, stale), ignore_errors=True)
        self.num_buckets = num_buckets
        return v

    @staticmethod
    def _link_untouched_buckets(old_ver_dir: str, new_ver_dir: str,
                                touched: set[int]) -> None:
        """Carry base bucket dirs the compaction did not touch into the new
        generation as hard links (copy fallback) — immutable parquet makes
        this safe, and it is the local-FS analog of an object-store
        server-side copy: O(files) metadata, zero data movement."""
        import shutil

        if not os.path.isdir(old_ver_dir):
            return
        for name in os.listdir(old_ver_dir):
            if not name.startswith("uuid_bucket="):
                continue
            b = int(name.split("=", 1)[1])
            if b in touched or b == FRESH_BUCKET:
                continue
            src, dst = os.path.join(old_ver_dir, name), os.path.join(
                new_ver_dir, name
            )
            os.makedirs(dst, exist_ok=True)
            for f in os.listdir(src):
                if f.startswith(("_", ".")):
                    continue  # _SUCCESS / hidden markers
                try:
                    os.link(os.path.join(src, f), os.path.join(dst, f))
                except OSError:
                    shutil.copy2(os.path.join(src, f), os.path.join(dst, f))

    # ------------------------------------------------------------- changes --

    def changes(
        self, uuid: str, from_ver: int, to_ver: int, resolution: int
    ) -> DataFrame:
        """Time ranges changed in (from_ver, to_ver], coarsened to
        2**resolution ns and coalesced (quasar.go:404-485). Complete by
        construction: every inserted point and every tombstoned interval in
        the version window contributes its bucket range.

        Mirrors the points_at guard: a from_ver below the compaction point
        is unanswerable (per-version history is folded into the snapshot,
        whose rows all carry the compaction version — diffing across it
        would report the entire snapshot as changed)."""
        m = self._read_manifest()
        compacted = m.get("compacted_through", 0)
        if from_ver < compacted:
            raise BTrDBError(
                ERR_INVALID_TIME_RANGE,
                f"from_ver {from_ver} predates compaction point {compacted}",
            )
        ivs = (
            self._raw_points(m)
            .where(
                (F.col("uuid") == F.lit(uuid))
                & (F.col("ins_ver") > F.lit(from_ver))
                & (F.col("ins_ver") <= F.lit(to_ver))
            )
            .select(
                F.shiftleft(F.shiftright("time", resolution), resolution).alias("start")
            )
            .select("start", (F.col("start") + F.lit(1 << resolution)).alias("end"))
        )
        dels = [
            d for d in self._tombstones(m)
            if d["uuid"] == uuid and from_ver < d["ver"] <= to_ver
        ]
        if dels:
            dranges = self._tombstone_frame(dels).select(
                F.shiftleft(F.shiftright("start", resolution), resolution).alias("start"),
                # ceil the end to the next bucket boundary
                F.shiftleft(
                    F.shiftright(F.col("end") + F.lit((1 << resolution) - 1), resolution),
                    resolution,
                ).alias("end"),
            )
            ivs = ivs.unionByName(dranges)
        if fits_one_task(ivs):
            # A small interval set is merged in ONE partition: the
            # distinct, the gap-and-islands window and the sort need no
            # exchange, and the answer is one Spark job.
            return _gap_islands(ivs.coalesce(1).distinct(), []).orderBy("start")
        return coalesce_intervals(
            ivs.distinct(), chunk_shift=min(resolution + 12, 62)
        )
