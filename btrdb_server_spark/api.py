"""BTrDB-equivalent API facade: the 18 gRPC methods of
grpcinterface/btrdb.proto:5-24 as one Python class over the MVCC point store
and the stream registry.

Method -> reference handler map (grpcinterface/serve.go):
RawValues :122, AlignedWindows :181, Windows :243, StreamInfo :302,
SetStreamAnnotations :389, GetMetadataUsage :422, Create :462,
ListCollections :493, LookupStreams :516, Nearest :602, Changes :626,
Insert :688, Delete :719, Flush :743, Obliterate :767, FaultInject :797
(test-only, not mirrored), Info :824 (cluster state, trivial here),
GenerateCSV :880.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from btrdb_server_spark.metadata import StreamRegistry
from btrdb_server_spark.operators.align import align_streams, align_streams_windowed
from btrdb_server_spark.operators.nearest import nearest as nearest_op
from btrdb_server_spark.operators.raw import raw_values as raw_values_op
from btrdb_server_spark.operators.stat import aligned_windows as aw_op
from btrdb_server_spark.operators.stat import windows as windows_op
from btrdb_server_spark.constants import ERR_INSERT_TOO_BIG, MAX_INSERT_BATCH
from btrdb_server_spark.plans.rollup import RollupLadder
from btrdb_server_spark.schemas import POINTS_SCHEMA
from btrdb_server_spark.store import BTrDBError, PointStore, fits_one_task


class BTrDB:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        rollup_levels=None,
        buffer_commit_threshold: Optional[int] = None,
        dup_timestamp_cap: Optional[int] = None,
        rollup_quantum: Optional[float] = None,
    ):
        """`rollup_levels`: optional pointwidth ladder (e.g. [12, 18, 24, 30])
        maintained on every write; AlignedWindows at latest version then
        answers from the best materialized level instead of raw points —
        the reference's ms-scale stat path (qtree.go:925-947).
        `rollup_quantum`: value quantum for the ladder's int64 vq sums —
        when the data is quantized (sensor decimals), means served from the
        ladder become bit-deterministic under any aggregation order
        (RollupLadder.value_quantum).

        `buffer_commit_threshold`: opt-in write buffering (the PQM,
        pqm.go:516-631): inserts below the threshold accumulate in a
        per-stream buffer (minor version = buffered point count,
        pqm.go:343-361); the buffer commits as one store version when the
        threshold is crossed or on flush() (MaxPQMBufferSize=32768,
        pqm.go:35-37). Reads at the latest version merge the buffer
        (read-your-writes, ST5/J1); reads at explicit versions see committed
        data only (quasar.go:241-270,389-396)."""
        self.spark = spark
        self.store = PointStore(
            spark, os.path.join(path, "data"), dup_timestamp_cap=dup_timestamp_cap
        )
        self.registry = StreamRegistry(spark, os.path.join(path, "meta"))
        self.ladder = (
            RollupLadder(
                spark,
                os.path.join(path, "rollups"),
                rollup_levels,
                value_quantum=rollup_quantum,
            )
            if rollup_levels
            else None
        )
        self.buffer_commit_threshold = buffer_commit_threshold
        from btrdb_server_spark.constants import MAX_BUFFER_AGE_SECONDS

        self.max_buffer_age_seconds: float = MAX_BUFFER_AGE_SECONDS
        self._buffers: dict[str, list] = {}
        self._buffer_birth: dict[str, float] = {}

    # -------------------------------------------------------------- buffer --

    def _maybe_truncate(self, batch: DataFrame) -> DataFrame:
        if self.store.dup_timestamp_cap is None:
            return batch
        from btrdb_server_spark.operators.raw import truncate_dense_timestamps

        return truncate_dense_timestamps(batch, self.store.dup_timestamp_cap)

    def _buffer_df(self, uuid: str) -> Optional[DataFrame]:
        buf = self._buffers.get(uuid)
        if not buf:
            return None
        return self.spark.createDataFrame(
            [(uuid, int(t), float(v)) for t, v in buf], POINTS_SCHEMA
        )

    def _with_buffer(self, uuid: str, version: Optional[int]) -> DataFrame:
        """J1: one stream's committed snapshot, union-merged at the latest
        version with its uncommitted buffer (pqm.go:434-476
        MergeQueryValuesStream — time order is restored by each operator's
        own sort). Keeps the scan's file partitions."""
        pts = self.store.stream_points(uuid, version)
        bdf = self._buffer_df(uuid) if version is None else None
        return pts if bdf is None else pts.unionByName(bdf)

    def _stream_points(self, uuid: str, version: Optional[int]) -> DataFrame:
        """The points every single-stream read RPC plans over: _with_buffer,
        narrowed to ONE partition when its scan is small (fits_one_task),
        so the read runs as one single-task Spark job. A larger read keeps
        the scan's partitions, scans in parallel and streams to the driver
        one partition at a time. Pushed-down filters still reach the scan
        below the coalesce."""
        pts = self._with_buffer(uuid, version)
        return pts.coalesce(1) if fits_one_task(pts) else pts

    def _commit_buffer(self, uuid: str, extra: Optional[list] = None) -> int:
        self._buffer_birth.pop(uuid, None)
        pts = self._buffers.pop(uuid, []) + (extra or [])
        if not pts:
            return self.store.stream_version(uuid)
        batch = self._maybe_truncate(
            self.spark.createDataFrame(
                [(uuid, int(t), float(v)) for t, v in pts], POINTS_SCHEMA
            )
        )
        v = self.store.insert(uuid, batch, enforce_batch_cap=False)
        if self.ladder is not None:
            self.ladder.update_with_batch(batch)
        return v

    def flush_aged(self) -> dict[str, int]:
        """Commit every buffer older than max_buffer_age_seconds — the
        2-minute background scan of pqm.go:213-241, callable from any
        external ticker. Returns {uuid: new_version} for flushed streams."""
        import time as _time

        now = _time.monotonic()
        out = {}
        for uuid, birth in list(self._buffer_birth.items()):
            if now - birth > self.max_buffer_age_seconds:
                out[uuid] = self._commit_buffer(uuid)
        return out

    def query_version(self, uuid: str) -> tuple[int, int]:
        """(major, minor) = (committed store version, buffered point count)
        — pqm.go:343-361 QueryVersion."""
        return self.store.stream_version(uuid), len(self._buffers.get(uuid, []))

    # ------------------------------------------------------------- streams --

    def create(self, uuid: str, collection: str, tags=None, annotations=None) -> None:
        self.registry.create(uuid, collection, tags, annotations)

    def stream_info(self, uuid: str) -> dict:
        info = self.registry.stream_info(uuid)
        info["version"] = self.store.stream_version(uuid)
        return info

    def set_stream_annotations(self, uuid: str, expected_version: int, changes) -> int:
        return self.registry.set_annotations(uuid, expected_version, changes)

    def list_collections(self, prefix="", start_with="", limit=1000) -> DataFrame:
        return self.registry.list_collections(prefix, start_with, limit)

    def lookup_streams(self, collection="", is_prefix=True, tags=None, annotations=None):
        return self.registry.lookup_streams(collection, is_prefix, tags, annotations)

    def get_metadata_usage(self, prefix=""):
        return self.registry.metadata_usage(prefix)

    def obliterate(self, uuid: str) -> int:
        self._buffers.pop(uuid, None)
        self._buffer_birth.pop(uuid, None)
        self.registry.obliterate(uuid)
        v = self.store.obliterate(uuid)
        if self.ladder is not None:
            from btrdb_server_spark.constants import MAX_TIME, MIN_TIME

            self.ladder.recompute_range(self.store.points_at(), uuid, MIN_TIME, MAX_TIME)
        return v

    # -------------------------------------------------------------- writes --

    def insert(self, uuid: str, points, enforce_batch_cap: bool = True) -> int:
        if isinstance(points, list):
            if enforce_batch_cap and len(points) > MAX_INSERT_BATCH:
                raise BTrDBError(ERR_INSERT_TOO_BIG, "insert too big")  # serve.go:702
            if self.buffer_commit_threshold is not None:
                # PQM path (pqm.go:572): buffer below threshold, else commit
                # buffer + batch as one generation (pqm.go:608-630).
                self._validate_list(points)
                import time as _time

                # Age-based forced flush (MaxPQMBufferAge, pqm.go:39-41,
                # background scan pqm.go:213-241 — checked inline here, or
                # via an external flush_aged() ticker).
                birth = self._buffer_birth.get(uuid)
                if (
                    birth is not None
                    and _time.monotonic() - birth > self.max_buffer_age_seconds
                ):
                    self._commit_buffer(uuid)
                buf = self._buffers.setdefault(uuid, [])
                if len(buf) + len(points) < self.buffer_commit_threshold:
                    if not buf:
                        self._buffer_birth[uuid] = _time.monotonic()
                    buf.extend(points)
                    return self.store.stream_version(uuid)
                return self._commit_buffer(uuid, list(points))
            batch = self.spark.createDataFrame(
                [(uuid, int(t), float(v)) for t, v in points], POINTS_SCHEMA
            )
        else:
            from pyspark.sql import functions as F

            batch = points.select(F.lit(uuid).alias("uuid"), "time", "value")
        # Truncate once here so the ladder folds exactly what the store
        # persists (the store's own truncation is then a no-op).
        batch = self._maybe_truncate(batch)
        v = self.store.insert(uuid, batch, enforce_batch_cap=enforce_batch_cap)
        if self.ladder is not None:
            self.ladder.update_with_batch(batch)
        return v

    def _validate_list(self, points: list) -> None:
        """Buffered inserts validate eagerly (quasar.go:92-101,207-219):
        NaN/Inf values and out-of-range times are rejected before they reach
        the buffer."""
        import math

        from btrdb_server_spark.constants import (
            ERR_BAD_VALUE,
            ERR_INVALID_TIME_RANGE,
            MAX_INSERT_TIME,
            MIN_TIME,
        )

        for t, v in points:
            if not (MIN_TIME <= t <= MAX_INSERT_TIME):
                raise BTrDBError(ERR_INVALID_TIME_RANGE, f"time {t} out of range")
            if math.isnan(v) or math.isinf(v):
                raise BTrDBError(ERR_BAD_VALUE, "NaN/Inf value")

    def delete(self, uuid: str, start: int, end: int) -> int:
        # Buffered points must be committed first so the tombstone covers
        # them too (the reference's delete path operates on the tree after
        # the PQM merge).
        if self._buffers.get(uuid):
            self._commit_buffer(uuid)
        v = self.store.delete_range(uuid, start, end)
        if self.ladder is not None:
            self.ladder.recompute_range(self.store.points_at(), uuid, start, end)
        return v

    def flush(self, uuid: str) -> int:
        """Commit the stream's write buffer as one generation
        (serve.go:743-765, pqm.go:289-303). Without buffering, batch writes
        commit synchronously and Flush returns the current version; the
        streaming path's flush is processAllAvailable (streaming/ingest.py)."""
        if self.buffer_commit_threshold is not None:
            return self._commit_buffer(uuid)
        return self.store.stream_version(uuid)

    # --------------------------------------------------------------- reads --

    def raw_values(
        self, uuid: str, start: int, end: int, version: Optional[int] = None
    ) -> DataFrame:
        return raw_values_op(self._stream_points(uuid, version), uuid, start, end)

    def aligned_windows(
        self, uuid: str, start: int, end: int, pw: int, version: Optional[int] = None
    ) -> DataFrame:
        from btrdb_server_spark.constants import MAX_PW

        if not 0 <= pw <= MAX_PW:
            from btrdb_server_spark.constants import ERR_INVALID_POINT_WIDTH
            from btrdb_server_spark.store import BTrDBError

            raise BTrDBError(ERR_INVALID_POINT_WIDTH, "pointwidth invalid")
        buffered = bool(self._buffers.get(uuid))
        pts = self._stream_points(uuid, version)
        # The ladder holds committed data only; with an uncommitted buffer
        # the exact answer needs the J2 stat merge — served here by
        # aggregating the unioned raw+buffer points (merger.go:132-214's
        # weighted combine is exactly Spark's partial->final aggregation).
        if version is None and self.ladder is not None and not buffered:
            return self.ladder.serve_aligned(pts, uuid, start, end, pw)
        return aw_op(pts, uuid, start, end, pw)

    def aligned_windows_all(
        self, start: int, end: int, pw: int, version: Optional[int] = None
    ) -> DataFrame:
        """Fleet AlignedWindows: per-stream stats for EVERY stream in one
        query (the dashboard shape). Latest-version reads with no pending
        buffers serve from the ladder's chunk-pruned level scan
        (serve_aligned_all); an explicit version or any uncommitted buffer
        routes to the raw fleet aggregation over the buffer-merged
        snapshot, like every other read path."""
        pts = self.store.points_at(version)
        buffered = False
        if version is None:
            for u in list(self._buffers):
                bdf = self._buffer_df(u)
                if bdf is not None:
                    pts = pts.unionByName(bdf)
                    buffered = True
        if version is None and self.ladder is not None and not buffered:
            return self.ladder.serve_aligned_all(pts, start, end, pw)
        from btrdb_server_spark.operators.stat import aligned_windows_all_streams

        return aligned_windows_all_streams(pts, start, end, pw)

    def windows(
        self,
        uuid: str,
        start: int,
        end: int,
        width: int,
        depth: int = 0,
        version: Optional[int] = None,
    ) -> DataFrame:
        buffered = bool(self._buffers.get(uuid))
        pts = self._stream_points(uuid, version)
        if version is None and depth > 0 and self.ladder is not None and not buffered:
            return self.ladder.serve_windows(pts, uuid, start, end, width, depth)
        return windows_op(pts, uuid, start, end, width, depth)

    def nearest(
        self, uuid: str, time: int, backward: bool, version: Optional[int] = None
    ) -> DataFrame:
        """J6 + the buffer merge of pqm.go:310-341: the nearest point may be
        uncommitted."""
        return nearest_op(self._stream_points(uuid, version), uuid, time, backward)

    def serve(
        self,
        kind: str,
        uuid: str,
        start: int,
        end: int,
        pw: int = 0,
        width: Optional[int] = None,
        depth: int = 0,
        version: Optional[int] = None,
    ) -> DataFrame:
        """Unified stat dispatcher (SURVEY §4 aggregate-pushdown routing):
        one entry point that picks the physical strategy — materialized
        rollup level vs raw-point aggregation vs plain scan — from the
        logical request, the way the reference's query engine descends to
        the deepest stored aggregate (qtree.go:925-947). Callers never name
        a ladder level:

        - kind='raw'         -> pushed-down range scan;
        - kind='aligned'     -> best materialized level <= pw, else raw agg;
        - kind='aligned_all' -> fleet stats for every stream (uuid ignored);
        - kind='windows'     -> depth-bounded ladder serve, else raw agg.

        Explicit `version` or an uncommitted buffer always routes to raw
        (the ladder holds latest committed data only)."""
        if kind == "raw":
            return self.raw_values(uuid, start, end, version)
        if kind == "aligned":
            return self.aligned_windows(uuid, start, end, pw, version)
        if kind == "aligned_all":
            return self.aligned_windows_all(start, end, pw, version)
        if kind == "windows":
            if width is None:
                raise ValueError("kind='windows' requires width")
            return self.windows(uuid, start, end, width, depth, version)
        raise ValueError(f"unknown serve kind {kind!r}")

    def changes(self, uuid: str, from_ver: int, to_ver: int, resolution: int) -> DataFrame:
        return self.store.changes(uuid, from_ver, to_ver, resolution)

    def generate_csv(
        self,
        uuids: Sequence[str],
        start: int,
        end: int,
        pw: Optional[int] = None,
        version: Optional[int] = None,
    ) -> DataFrame:
        pts = self.store.points_at(version)
        if version is None:
            # Latest-generation reads merge uncommitted buffers like every
            # other read path (the PQM merge) — buffered points must not
            # silently vanish from CSV output.
            for u in uuids:
                bdf = self._buffer_df(u)
                if bdf is not None:
                    pts = pts.unionByName(bdf)
        if pw is None:
            return align_streams(pts, uuids, start, end)
        return align_streams_windowed(pts, uuids, start, end, pw)

    def register_sql(self, prefix: str = "btrdb", include_buffers: bool = True):
        """Register the engine's planes as SQL temp views (sql.py): the
        points MVCC snapshot, the live stream registry, and each rollup
        level. Returns the view names."""
        from btrdb_server_spark.sql import register_views

        return register_views(self, prefix, include_buffers)

    def sql(self, text: str) -> DataFrame:
        """spark.sql over the registered views, with canonical aligned-stat
        aggregations transparently served from the rollup ladder when exact
        (sql.py / plans/rewrite.py — qtree.go:925-947 for SQL text)."""
        from btrdb_server_spark.sql import sql as sql_op

        return sql_op(self, text)

    def changefeed(self, include_version: bool = True,
                   max_files_per_trigger: Optional[int] = None,
                   version_fence: bool = False) -> DataFrame:
        """Streaming CDC of committed inserts — a readStream subscription
        to the store's fresh-version sentinel dirs (insert-only; see
        streaming/changefeed.py for the delete/compaction caveats and
        the wait-then-fail `version_fence`; prefer
        streaming.changefeed.fence_batch inside foreachBatch on a real
        cluster). The Spark-native replacement for the reference
        clients' poll-Changes sync loop (quasar.go:404-485)."""
        from btrdb_server_spark.streaming.changefeed import changefeed as cf

        return cf(
            self.store,
            include_version,
            max_files_per_trigger,
            version_fence=version_fence,
        )

    def changefeed_deletes(
        self, max_files_per_trigger: Optional[int] = None
    ) -> DataFrame:
        """Streaming CDC of committed range-deletes (uuid, start, end,
        ver) — the tombstone dataset as a checkpointed file stream; merge
        with changefeed()'s ins_ver for one totally-ordered version
        history (streaming/changefeed.py changefeed_deletes)."""
        from btrdb_server_spark.streaming.changefeed import changefeed_deletes

        return changefeed_deletes(self.store, max_files_per_trigger)

    def export_bulk(
        self,
        uuid: str,
        start: int,
        end: int,
        dest: str,
        version: Optional[int] = None,
        fmt: str = "parquet",
    ) -> None:
        """Canonical >10M-point export: the MVCC raw slice written
        DIRECTLY FROM EXECUTORS to `dest` (parquet by default, csv for
        interop) — every partition writes its own file in parallel, no
        driver funnel. The wire lanes exist for protocol clients
        (GenerateCSV's paged rows, serve.go:826-901; the Arrow IPC
        extension): both are single-socket-bound by construction, like
        one gRPC egress stream. A bulk hand-off between engines should
        move a DATASET, not a socket stream — this is the documented
        fast path (README wire table), and the plan is pinned funnel-free
        (no Collect/toPandas) in tests/test_plans.py."""
        # The scan's own partitions, not the wire reads' single one: every
        # task writes its slice in parallel.
        df = raw_values_op(self._with_buffer(uuid, version), uuid, start, end)
        if fmt == "csv":
            df.write.mode("overwrite").option("header", True).csv(dest)
        else:
            df.write.mode("overwrite").parquet(dest)

    def hook_sql(self, prefix: str = "btrdb") -> None:
        """Wrap this session's PLAIN ``spark.sql`` so canonical aligned-stat
        SQL text is served from the rollup ladder without routing through
        ``db.sql()`` — the Python-side stand-in for a
        SparkSessionExtensions.injectOptimizerRule Catalyst rule
        (sql.py install_sql_hook)."""
        from btrdb_server_spark.sql import install_sql_hook

        install_sql_hook(self, prefix)

    def unhook_sql(self) -> None:
        from btrdb_server_spark.sql import uninstall_sql_hook

        uninstall_sql_hook(self.spark)

    def info(self) -> dict:
        """Cluster info (serve.go:824-878) — single logical endpoint here."""
        return {
            "majorVersion": 4,
            "minorVersion": 15,
            "build": "btrdb_server_spark",
            "proxy": {"proxyEndpoints": []},
        }
