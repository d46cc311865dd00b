"""Materialized rollup ladder — the Spark equivalent of the qtree's internal
node aggregates.

The reference stores {Count, Min, Mean, Max} per child in every core node
(internal/bstore/blocktypes.go:112-117) and answers statistical queries
directly from the deepest node whose pointwidth <= the query's, never
touching raw points (qtree/qtree.go:925-947). That is aggregate pushdown via
materialized hierarchical rollups, maintained incrementally on every write
(qtree.go:442-474 SetChild).

Spark-first equivalent: a ladder of rollup tables at pointwidths stepping by
PWFACTOR=6 (64x reduction per level, mirroring the tree fan-out). Each level
stores (uuid, bucket_time, min, sum, max, count) — sum instead of mean so
merges are exact and associative (the reference's weighted-mean merge,
merger.go:203, is sum-preserving). Maintenance:

- level K (finest) aggregates the incoming batch;
- level K+6 aggregates level K, etc. — each step is a 64:1 groupBy, so the
  whole ladder costs ~1.016x the finest level's aggregation;
- merging into the existing table is a full-outer combine on (uuid, bucket):
  min=min, max=max, sum+=, count+= — associative, so arbitrarily late data
  (ST2: no watermarks, nothing dropped) folds in exactly. Range deletes
  recompute only the buckets intersecting the deleted interval.

At 100 TB the ladder is the hot <1% of data (the reference's hot-pool tier,
cephprovider.go:31-38): an AlignedWindows over a year at pw=38 reads ~120k
rollup rows instead of ~10^11 points. Each level is partitioned by
(uuid_bucket, chunk) — uuid hash shard x coarse time range — and incremental
maintenance rewrites ONLY the partitions the batch delta touches (dynamic
partition overwrite), the SetChild path of qtree.go:442-474: a micro-batch
of recent data rewrites a handful of recent chunks, never the whole level.
Serving prunes on both partition columns before any row is read.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from btrdb_server_spark.constants import PWFACTOR
from btrdb_server_spark.operators.stat import align_floor, spine_join
from btrdb_server_spark.store import fits_one_task

# Default ladder: pw 12 (~4.1 µs) up to pw 48 (~3.26 d), step 6.
DEFAULT_LEVELS = tuple(range(12, 49, PWFACTOR))

# On-disk level schema: the rollup columns plus the (uuid_bucket, chunk)
# partition columns. Levels are always read with it, so opening a level
# never runs a footer-sampling job.
_LEVEL_SCHEMA = (
    "uuid string, bucket long, vmin double, vsum double, vq long,"
    " vmax double, cnt long, uuid_bucket long, chunk long"
)

# Canonical rollup columns, used by every select so the schema stays stable
# across build / merge / serve paths. `vq` is the quantized integer value sum
# (see RollupLadder.value_quantum): int64 sums are exactly associative, so
# any aggregation order — any partitioning, any engine — yields identical
# bits, where a double `vsum` of sums is accumulation-order-dependent. NULL
# when the ladder has no quantum configured.
ROLLUP_COLS = ("uuid", "bucket", "vmin", "vsum", "vq", "vmax", "cnt")


def _vq_from_points(value_quantum: Optional[float]):
    if value_quantum is None:
        return F.lit(None).cast("long").alias("vq")
    return F.sum(
        F.round(F.col("value") / F.lit(value_quantum), 0).cast("long")
    ).alias("vq")


def rollup_from_points(
    points: DataFrame, pw: int, value_quantum: Optional[float] = None
) -> DataFrame:
    """Aggregate raw (uuid, time, value) points to one rollup row per
    (uuid, 2**pw bucket)."""
    return points.groupBy(
        "uuid", F.shiftleft(F.shiftright("time", pw), pw).alias("bucket")
    ).agg(
        F.min("value").alias("vmin"),
        F.sum("value").alias("vsum"),
        _vq_from_points(value_quantum),
        F.max("value").alias("vmax"),
        F.count("value").alias("cnt"),
    )


def rollup_from_rollup(finer: DataFrame, pw: int) -> DataFrame:
    """Coarsen a finer rollup to level pw — the 64:1 ladder step."""
    return finer.groupBy(
        "uuid", F.shiftleft(F.shiftright("bucket", pw), pw).alias("bucket")
    ).agg(
        F.min("vmin").alias("vmin"),
        F.sum("vsum").alias("vsum"),
        F.sum("vq").alias("vq"),
        F.max("vmax").alias("vmax"),
        F.sum("cnt").alias("cnt"),
    )


def merge_rollups(old: DataFrame, delta: DataFrame) -> DataFrame:
    """Associative combine of two rollups on (uuid, bucket) — the weighted
    stat merge of merger.go:132-214 expressed as a full-outer aggregate."""
    return (
        old.unionByName(delta)
        .groupBy("uuid", "bucket")
        .agg(
            F.min("vmin").alias("vmin"),
            F.sum("vsum").alias("vsum"),
            F.sum("vq").alias("vq"),
            F.max("vmax").alias("vmax"),
            F.sum("cnt").alias("cnt"),
        )
    )


def _rollup_mean(value_quantum: Optional[float]):
    """Serving-side mean over rollup rows. Quantized ladders serve it from
    the int64 vq sum — exactly associative, so the bits are identical under
    any build partitioning, fold order, or serving fan-in; unquantized
    ladders keep the float vsum ratio (merger.go:203's weighted mean)."""
    if value_quantum is not None:
        return (F.sum("vq") * F.lit(value_quantum)) / F.sum("cnt")
    return F.sum("vsum") / F.sum("cnt")


def stat_from_rollup(
    level: DataFrame,
    level_pw: int,
    uuid: str,
    start: int,
    end: int,
    pw: int,
    value_quantum: Optional[float] = None,
) -> DataFrame:
    """Serve AlignedWindows(pw) from a rollup at level_pw <= pw: group the
    level's buckets up to the target width (qtree.go:925-947 — answer from
    stored aggregates, fan-in <= 64**ceil((pw-level_pw)/6))."""
    assert level_pw <= pw
    fstart = align_floor(start, pw)
    fend = align_floor(end, pw)
    return (
        level.where(
            (F.col("uuid") == F.lit(uuid))
            & (F.col("bucket") >= F.lit(fstart))
            & (F.col("bucket") < F.lit(fend))
        )
        .groupBy(F.shiftleft(F.shiftright("bucket", pw), pw).alias("time"))
        .agg(
            F.min("vmin").alias("min"),
            _rollup_mean(value_quantum).alias("mean"),
            F.max("vmax").alias("max"),
            F.sum("cnt").alias("count"),
        )
        .orderBy("time")
    )


# ---------------------------------------------------------------- histogram
# plane: a QUANTILE ladder the reference does not have (qtree nodes carry
# only min/mean/max/count, qtree.go:925-947). Kept in first normal form —
# one row per (uuid, bucket, quantized value) — so every ladder operation
# is a plain associative groupBy-sum: columnar, prunable, mergeable under
# any partitioning, and the level size is bounded by DISTINCT values per
# bucket, not the point count.


def hist_from_points(
    points: DataFrame, pw: int, value_quantum: float = 0.01
) -> DataFrame:
    """Histogram rollup of raw points at level pw: one row per
    (uuid, 2**pw bucket, vq) with its count."""
    vq = F.round(F.col("value") / F.lit(value_quantum)).cast("long")
    return points.groupBy(
        "uuid",
        F.shiftleft(F.shiftright("time", pw), pw).alias("bucket"),
        vq.alias("vq"),
    ).agg(F.count("*").alias("cnt"))


def hist_from_hist(finer: DataFrame, pw: int) -> DataFrame:
    """Coarsen a histogram level — the same associative groupBy-sum as the
    stat ladder's 64:1 step, keyed by (bucket, vq)."""
    return finer.groupBy(
        "uuid",
        F.shiftleft(F.shiftright("bucket", pw), pw).alias("bucket"),
        "vq",
    ).agg(F.sum("cnt").alias("cnt"))


def quantiles_from_hist(
    level: DataFrame,
    level_pw: int,
    uuid: str,
    start: int,
    end: int,
    pw: int,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Serve exact per-window p50/p90/p99 (plus n) at width 2**pw from a
    histogram level at level_pw <= pw — the quantile analog of
    stat_from_rollup, reading the materialized tier instead of raw
    points. Ranks are integer ceil(p*n) (the streaming_quantile rule), a
    cumulative-count window over vq order picks the order statistic, and
    the emitted double is one division of the integer quantum."""
    from pyspark.sql import Window

    from btrdb_server_spark.operators.stat import align_floor

    assert level_pw <= pw
    q = float(round(1.0 / value_quantum))
    fstart = align_floor(start, pw)
    fend = align_floor(end, pw)
    binned = (
        level.where(
            (F.col("uuid") == F.lit(uuid))
            & (F.col("bucket") >= F.lit(fstart))
            & (F.col("bucket") < F.lit(fend))
        )
        .groupBy(
            F.shiftleft(F.shiftright("bucket", pw), pw).alias("time"), F.col("vq")
        )
        .agg(F.sum("cnt").alias("cnt"))
    )
    w = (
        Window.partitionBy("time")
        .orderBy("vq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.select(
        "time",
        "vq",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("time")).alias("n"),
    )

    def pick(num: int, den: int):
        # k = ceil(num*n/den) in PURE integer arithmetic (the
        # streaming_quantile rule) — a float ceil could tie-break
        # differently for large n.
        kk = F.expr(f"({num} * n + {den - 1}) div {den}")
        return F.min(F.when(F.col("cum") >= kk, F.col("vq")))

    return (
        cum.groupBy("time")
        .agg(
            F.max("n").alias("n"),
            (pick(1, 2).cast("double") / F.lit(q)).alias("p50"),
            (pick(9, 10).cast("double") / F.lit(q)).alias("p90"),
            (pick(99, 100).cast("double") / F.lit(q)).alias("p99"),
        )
        .orderBy("time")
    )


class RollupLadder:
    """Parquet-materialized rollup ladder with incremental maintenance."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        levels: Sequence[int] = DEFAULT_LEVELS,
        num_buckets: int = 16,
        chunk_pw: int = 12,
        min_chunk_shift: int = 46,
        value_quantum: Optional[float] = None,
    ):
        """`num_buckets`: uuid hash shards per level, matching the point
        store's layout — single-stream stat serves prune to one shard
        directory before any row is read.

        `chunk_pw` / `min_chunk_shift`: each level is also partitioned by
        `chunk = bucket >> max(pw + chunk_pw, min_chunk_shift)` — at most
        2**chunk_pw rollup rows per chunk per stream, but never a chunk
        narrower than 2**min_chunk_shift ns (default ~19.5 h), so fine
        levels over years of data don't explode into millions of tiny
        partitions. Incremental updates rewrite only touched chunks.

        `value_quantum`: when the stream's values are quantized (e.g. 0.01
        for 2-decimal sensor data), each rollup row also carries `vq` =
        sum(round(value/quantum)) as int64. Integer sums are exactly
        associative, so every maintenance path (build, 64:1 coarsen, late
        merge) and every serve path that uses vq is bit-deterministic
        regardless of partitioning or engine — the property a 1000-executor
        rollup build needs for reproducible answers."""
        self.spark = spark
        self.path = path
        self.levels = sorted(levels)
        self.num_buckets = num_buckets
        self.chunk_pw = chunk_pw
        self.min_chunk_shift = min_chunk_shift
        self.value_quantum = value_quantum
        os.makedirs(path, exist_ok=True)

    def _level_path(self, pw: int) -> str:
        return os.path.join(self.path, f"pw={pw}")

    def _chunk_shift(self, pw: int) -> int:
        return max(pw + self.chunk_pw, self.min_chunk_shift)

    def has_level(self, pw: int) -> bool:
        """Whether level pw is materialized — a directory check, not a
        Spark job."""
        return os.path.exists(self._level_path(pw))

    def best_level(self, fits) -> Optional[int]:
        """The coarsest materialized level `l` with `fits(l)`, or None: the
        candidate scan of every ladder-serve path."""
        return max(
            (l for l in self.levels if fits(l) and self.has_level(l)),
            default=None,
        )

    def level(self, pw: int) -> Optional[DataFrame]:
        """Canonical rollup columns (partition columns dropped) — the
        maintenance-path view."""
        df = self._level_raw(pw)
        return None if df is None else df.select(
            *ROLLUP_COLS
        )

    def _level_raw(self, pw: int) -> Optional[DataFrame]:
        if not self.has_level(pw):
            return None
        p = self._level_path(pw)
        return self.spark.read.schema(_LEVEL_SCHEMA).option("basePath", p).parquet(p)

    def _level_for_stream(
        self,
        pw: int,
        uuid: str,
        start: Optional[int] = None,
        end: Optional[int] = None,
    ) -> Optional[DataFrame]:
        """Serving-path view: uuid_bucket partition predicate (foldable hash
        of the literal uuid) prunes the scan to one shard directory, and the
        bucket range — shiftright is monotone — prunes to the chunk range.
        When those files are small (fits_one_task) one stream's rollup rows
        are read as ONE partition, so the serve aggregation and its sort
        plan no exchange and run as one job."""
        df = self._level_raw(pw)
        if df is None:
            return None
        pred = F.col("uuid_bucket") == F.pmod(
            F.xxhash64(F.lit(uuid)), F.lit(self.num_buckets)
        )
        shift = self._chunk_shift(pw)
        if start is not None:
            pred &= F.col("chunk") >= F.lit(start >> shift)
        if end is not None:
            pred &= F.col("chunk") <= F.lit((end - 1) >> shift)
        df = df.where(pred).select(*ROLLUP_COLS)
        return df.coalesce(1) if fits_one_task(df) else df

    def _partitioned(self, df: DataFrame, pw: int) -> DataFrame:
        return df.select(
            *ROLLUP_COLS,
            F.pmod(F.xxhash64("uuid"), F.lit(self.num_buckets)).alias("uuid_bucket"),
            F.shiftright("bucket", self._chunk_shift(pw)).alias("chunk"),
        )

    def _write_level(self, pw: int, df: DataFrame, dynamic: bool = False) -> None:
        """`dynamic=False` replaces the whole level (rebuild); `dynamic=True`
        overwrites ONLY the (uuid_bucket, chunk) partitions present in `df`.
        The sort leads with the partition columns so the dynamic-partition
        writer doesn't inject a second sort, and keeps (uuid, bucket)
        clustering inside files for row-group min/max pruning."""
        writer = (
            self._partitioned(df, pw)
            .sortWithinPartitions("uuid_bucket", "chunk", "uuid", "bucket")
            .write.mode("overwrite")
            .partitionBy("uuid_bucket", "chunk")
        )
        if dynamic:
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.parquet(self._level_path(pw))

    def _touched_pred(self, delta: DataFrame, pw: int):
        """Partition predicate covering exactly the (uuid_bucket, chunk)
        pairs present in `delta`. The pair set is partition-count-sized (a
        micro-batch touches a handful of chunks), so collecting it to build
        a literal pruning predicate is a metadata-scale operation."""
        shift = self._chunk_shift(pw)
        pairs = (
            delta.select(
                F.pmod(F.xxhash64("uuid"), F.lit(self.num_buckets)).alias("b"),
                F.shiftright("bucket", shift).alias("c"),
            )
            .distinct()
            .collect()
        )
        if not pairs:
            return None
        if len(pairs) > 512:
            # Degenerate giant backfill: fall back to coarse rectangular
            # pruning rather than a huge disjunction.
            bs = sorted({r.b for r in pairs})
            clo, chi = min(r.c for r in pairs), max(r.c for r in pairs)
            return (
                F.col("uuid_bucket").isin(bs)
                & (F.col("chunk") >= clo)
                & (F.col("chunk") <= chi)
            )
        pred = None
        for r in pairs:
            p = (F.col("uuid_bucket") == r.b) & (F.col("chunk") == r.c)
            pred = p if pred is None else (pred | p)
        return pred

    def rebuild(self, points: DataFrame) -> None:
        """Full build: finest level from points, each coarser level from the
        previous (one 64:1 groupBy per step)."""
        finer = None
        for pw in self.levels:
            cur = (
                rollup_from_points(points, pw, self.value_quantum)
                if finer is None
                else rollup_from_rollup(finer, pw)
            )
            self._write_level(pw, cur)
            finer = self.level(pw)

    def _level_batch_marker(self, pw: int) -> str:
        return os.path.join(self._level_path(pw), "_last_batch_id")

    def level_last_batch(self, pw: int) -> int:
        try:
            with open(self._level_batch_marker(pw)) as f:
                return int(f.read())
        except (FileNotFoundError, ValueError):
            return -1

    def update_with_batch(self, batch: DataFrame, batch_id: Optional[int] = None) -> None:
        """Incremental maintenance on ingest (the SetChild path,
        qtree.go:442-474): aggregate the batch per level, merge it with the
        existing rows of ONLY the touched partitions, and dynamically
        overwrite just those partitions. Correct for arbitrarily late data —
        the combine is associative — and a batch of recent points rewrites a
        handful of recent chunks, never the level.

        `batch_id` (streaming replays, ST4): each level records the last
        batch id folded into it, so a foreachBatch replay after a crash
        re-folds only levels the crash left behind — never double-counts."""
        delta = None
        for pw in self.levels:
            # Coarsen the BATCH's rollup (not the merged level — that would
            # re-count existing data at every coarser level).
            delta = (
                rollup_from_points(batch, pw, self.value_quantum)
                if delta is None
                else rollup_from_rollup(delta, pw)
            ).localCheckpoint(eager=True)
            if batch_id is not None and self.level_last_batch(pw) >= batch_id:
                continue  # replay: this level already folded this batch
            if not self.has_level(pw):
                self._write_level(pw, delta)
            else:
                pred = self._touched_pred(delta, pw)
                if pred is None:  # empty batch
                    continue
                old_touched = (
                    self._level_raw(pw)
                    .where(pred)
                    .select(*ROLLUP_COLS)
                )
                # Materialize before the write: the merge reads the very
                # files the dynamic overwrite replaces.
                merged = merge_rollups(old_touched, delta).localCheckpoint(eager=True)
                self._write_level(pw, merged, dynamic=True)
            if batch_id is not None:
                with open(self._level_batch_marker(pw), "w") as f:
                    f.write(str(batch_id))

    def recompute_range(self, points: DataFrame, uuid: str, start: int, end: int) -> None:
        """After a range delete: recompute only buckets intersecting
        [start, end) for `uuid` from the (post-delete) base points, touching
        only the partitions of that stream's shard in the chunk range."""
        import shutil

        ub = (
            self.spark.range(1)
            .select(F.pmod(F.xxhash64(F.lit(uuid)), F.lit(self.num_buckets)))
            .first()[0]
        )
        for pw in self.levels:
            if not self.has_level(pw):
                continue
            lo = align_floor(start, pw)
            hi = align_floor(end - 1, pw) + (1 << pw)
            shift = self._chunk_shift(pw)
            clo, chi = lo >> shift, (hi - 1) >> shift
            part_pred = (
                (F.col("uuid_bucket") == F.lit(ub))
                & (F.col("chunk") >= F.lit(clo))
                & (F.col("chunk") <= F.lit(chi))
            )
            affected = (F.col("uuid") == F.lit(uuid)) & (
                (F.col("bucket") >= F.lit(lo)) & (F.col("bucket") < F.lit(hi))
            )
            keep = (
                self._level_raw(pw)
                .where(part_pred)
                .select(*ROLLUP_COLS)
                .where(~affected)
            )
            fresh = rollup_from_points(
                points.where(
                    (F.col("uuid") == F.lit(uuid))
                    & (F.col("time") >= F.lit(lo))
                    & (F.col("time") < F.lit(hi))
                ),
                pw,
                self.value_quantum,
            )
            merged = keep.unionByName(fresh).localCheckpoint(eager=True)
            # Dynamic overwrite only replaces partitions that receive rows; a
            # chunk whose every row was deleted would survive stale — remove
            # such directories explicitly (a driver-side metadata op).
            present = {
                r.c
                for r in merged.select(
                    F.shiftright("bucket", shift).alias("c")
                ).distinct().collect()
            }
            # Enumerate chunk dirs actually on disk (disk-proportional; a
            # full-domain delete like obliterate spans ~2**16 chunk ids).
            shard_dir = os.path.join(self._level_path(pw), f"uuid_bucket={ub}")
            if os.path.isdir(shard_dir):
                for name in os.listdir(shard_dir):
                    if not name.startswith("chunk="):
                        continue
                    try:
                        c = int(name.split("=", 1)[1])
                    except ValueError:
                        continue
                    if clo <= c <= chi and c not in present:
                        shutil.rmtree(os.path.join(shard_dir, name))
            if present:
                self._write_level(pw, merged, dynamic=True)

    def serve_aligned_all(
        self, points: DataFrame, start: int, end: int, pw: int
    ) -> DataFrame:
        """Fleet AlignedWindows for EVERY stream from the best materialized
        level <= pw: the 100 TB dashboard query — per-stream stats over a
        year — reads the hot rollup tier (chunk-range pruned), never raw
        points. Falls back to the raw fleet aggregation below the finest
        level."""
        best = self.best_level(lambda l: l <= pw)
        if best is None:
            from btrdb_server_spark.operators.stat import (
                aligned_windows_all_streams,
            )

            return aligned_windows_all_streams(points, start, end, pw)
        fstart, fend = align_floor(start, pw), align_floor(end, pw)
        shift = self._chunk_shift(best)
        lvl = self._level_raw(best).where(
            (F.col("chunk") >= F.lit(fstart >> shift))
            & (F.col("chunk") <= F.lit((fend - 1) >> shift))
            & (F.col("bucket") >= F.lit(fstart))
            & (F.col("bucket") < F.lit(fend))
        )
        return lvl.groupBy(
            "uuid", F.shiftleft(F.shiftright("bucket", pw), pw).alias("time")
        ).agg(
            F.min("vmin").alias("min"),
            _rollup_mean(self.value_quantum).alias("mean"),
            F.max("vmax").alias("max"),
            F.sum("cnt").alias("count"),
        )

    def serve_windows(
        self, points: DataFrame, uuid: str, start: int, end: int, width: int, depth: int
    ) -> DataFrame:
        """Windows with depth-bounded descent served from the ladder: the
        best level <= depth already IS the 2**level pre-aggregation the
        operator would compute from raw points (qtree.go:1112-1148), so the
        window assignment runs over rollup rows only.

        Edge semantics follow the reference's non-descendable-bucket rule
        (qtree.go:1126-1148): a 2**best bucket straddling the query start or
        end participates WHOLE — the start-straddler is clamped into the
        first window, the end-straddler into the last — rather than being
        dropped, so no in-range point is ever missing from the stats."""
        from btrdb_server_spark.operators.stat import windows

        if width <= 0:
            raise ValueError("window width must be positive")
        if not 0 <= depth <= 63:
            raise ValueError("window depth invalid")  # quasar.go:318
        best = self.best_level(lambda l: l <= depth)
        if depth <= 0 or best is None:
            return windows(points, uuid, start, end, width, depth)
        end = end - (end - start) % width
        n_windows = (end - start) // width
        lvl = self._level_for_stream(
            best, uuid, start - (1 << best) + 1, end
        ).where(
            (F.col("uuid") == F.lit(uuid))
            # bucket + 2**best > start: include the bucket straddling the
            # query start (it holds in-range points the raw operator counts).
            & (F.col("bucket") > F.lit(start - (1 << best)))
            & (F.col("bucket") < F.lit(end))
        )
        mean_expr = _rollup_mean(self.value_quantum)
        agg = (
            lvl.withColumn(
                "widx",
                # int64 div, not floor(double division): exact at any
                # offset (a double offset rounds past 2**52 ns). For the
                # one possibly-negative offset — the start-straddling
                # bucket, offset in (-2**best, 0) — div's truncation
                # toward zero and floor's round-down both land in window
                # 0 after the clamp.
                F.greatest(
                    F.expr(f"(bucket - ({start})) div {width}"),
                    F.lit(0),
                ),
            )
            .groupBy("widx")
            .agg(
                F.min("vmin").alias("min"),
                mean_expr.alias("mean"),
                F.max("vmax").alias("max"),
                F.sum("cnt").alias("count"),
            )
        )
        return spine_join(agg, start, width, n_windows)

    def serve_aligned(
        self, points: DataFrame, uuid: str, start: int, end: int, pw: int
    ) -> DataFrame:
        """AlignedWindows routed to the best materialized level <= pw; falls
        back to raw points when the query is finer than the finest level
        (qtree.go:874-895 leaf read)."""
        best = self.best_level(lambda l: l <= pw)
        if best is not None:
            return stat_from_rollup(
                self._level_for_stream(best, uuid, align_floor(start, pw), align_floor(end, pw)),
                best,
                uuid,
                start,
                end,
                pw,
                self.value_quantum,
            )
        from btrdb_server_spark.operators.stat import aligned_windows

        return aligned_windows(points, uuid, start, end, pw)
