"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query on sf0.001.
queries()     — one entry per implemented operator from SURVEY.md §2.
oracle_sql()  — DuckDB-equivalent SQL for each query (same column names).

The time-series plane maps the `events` table to points:
uuid = event_type, time = epoch ns of the wall-clock ts (the parquet stores
TIMESTAMP(MICROS, not adjusted to UTC) — Spark reads TIMESTAMP_NTZ, DuckDB
epoch_ns(ts) gives the identical value), value = value.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from btrdb_server_spark.functions.curation import sample_threshold
from btrdb_server_spark.metadata import collections_of, filter_streams, usage_of
from btrdb_server_spark.operators.align import align_streams
from btrdb_server_spark.operators.changes import times_to_changed_ranges
from btrdb_server_spark.operators.nearest import nearest
from btrdb_server_spark.operators.raw import raw_values
from btrdb_server_spark.operators.stat import (
    aligned_windows,
    aligned_windows_all_streams,
    windows,
)
from btrdb_server_spark.sources.testdata import (
    load_points,
    load_table,
    streams_from_events,
)
from btrdb_server_spark.streaming import bounded_state_partitions

# Time constants (UTC epoch ns). Testdata events span Jan 2024.
T_2024 = 1_704_067_200_000_000_000  # 2024-01-01
T_FEB = 1_706_745_600_000_000_000  # 2024-02-01
T_2025 = 1_735_689_600_000_000_000  # 2025-01-01
T_JAN10 = 1_704_844_800_000_000_000  # 2024-01-10
T_JAN15 = 1_705_276_800_000_000_000  # 2024-01-15
T_JAN20 = 1_705_708_800_000_000_000  # 2024-01-20
DAY_NS = 86_400_000_000_000

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# DuckDB view of the points plane (µs-truncated ns — see sources/testdata.py).
PTS_CTE = (
    "WITH pts AS (SELECT event_type AS uuid, epoch_ns(ts) AS time, value FROM events)"
)


def _workdir(prefix: str) -> str:
    """Scratch dir for a query's source parquet / checkpoint / store root.

    Must outlive the query function (the driver collects the returned
    DataFrame after the function returns), so cleanup is registered at
    process exit rather than try/finally — previously these leaked one
    mkdtemp per query per bench/correctness run.
    """
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


# Per-process memo of persisted-index BUILDS. The index entries used to
# rebuild the same (sf_dir, params) index from scratch inside every
# query function — ~15-20 s of repeated tokenize/shingle/assign work per
# bench run. Policy: exactly ONE cold-build entry per family keeps
# paying the full maintenance cycle each call (incremental_dedup,
# bm25_index_incremental, ann_index_incremental — the honest build+fold
# timings); every read-only sibling reuses the memoized build, and every
# MUTATING entry (retire / compact) works on a cheap directory COPY so
# the shared build is never dirtied and each oracle comparison stays
# hermetic.
_IDX_MEMO: dict = {}


def _memo_index(key: tuple, builder) -> str:
    """Path of a built, NEVER-mutATED index for `key`; `builder(path)`
    runs once per process."""
    if key not in _IDX_MEMO:
        idx = _workdir(prefix=f"btrdb_memo_{key[0]}_") + "/index"
        builder(idx)
        _IDX_MEMO[key] = idx
    return _IDX_MEMO[key]


def _mutable_index_copy(key: tuple, builder) -> str:
    """Fresh private copy of the memoized build — for entries that
    retire/compact (the copy is file-level: index dirs at bench scale
    are MBs; the expensive build work is what the memo amortizes)."""
    import shutil

    dst = _workdir(prefix=f"btrdb_mut_{key[0]}_") + "/index"
    shutil.copytree(_memo_index(key, builder), dst)
    return dst



def _write_time_slices(
    df: DataFrame, start: int, end: int, src_d: str, order=("time", "value"), n: int = 4
) -> None:
    """Streaming-source prep: n time-slice parquet files under src_d whose
    mod-times (and names) ASCEND in slice order, so the file source
    (maxFilesPerTrigger=1) replays them as in-time-order micro-batches.

    Previously n sequential filter+sort+coalesce(1) write JOBS per query
    (~2 s of the ~3.5 s fixed floor of every streaming entry at sf0.1);
    now ONE job: the slice id is an exact integer-division column, a single
    task sorts by (slice, *order) and the partitionBy writer cuts one file
    per slice; the driver then moves the files into slice-name order and
    pins ascending mod-times explicitly (utime) instead of relying on
    sequential write timing. Same bytes, same slice boundaries, 4x fewer
    jobs. Rows outside [start, end) are dropped exactly as the per-slice
    range filters did (load_points widens bounds to whole µs)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    span = max((end - start) // n, 1)
    tmp = src_d + "__stage"
    (
        df.where((F.col("time") >= start) & (F.col("time") < end))
        .withColumn(
            "slice",
            F.least(F.lit(n - 1), F.expr(f"(time - {start}L) DIV {span}L")).cast("int"),
        )
        .coalesce(1)
        .sortWithinPartitions("slice", *order)
        .write.partitionBy("slice")
        .mode("overwrite")
        .parquet(tmp)
    )
    _os.makedirs(src_d, exist_ok=True)
    base = 1_000_000_000  # fixed base; only the relative order matters
    for i in range(n):
        for j, p in enumerate(sorted(_glob.glob(f"{tmp}/slice={i}/*.parquet"))):
            dst = f"{src_d}/slice-{i:02d}-{j}.parquet"
            _shutil.move(p, dst)
            _os.utime(dst, (base + i, base + i))
    _shutil.rmtree(tmp, ignore_errors=True)


def _run_stream(
    spark: SparkSession, df: DataFrame, name: str, parts: int | None = None
) -> DataFrame:
    """Drain a streaming query into the memory table `name` and return that
    table: update mode, its own checkpoint, processAllAvailable, stop. The
    state partition count is `parts` (see bounded_state_partitions)."""
    ckpt = _workdir(prefix=f"btrdb_{name}_") + "/ckpt"
    with bounded_state_partitions(spark, parts):
        q = (
            df.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def _final_emission(out: DataFrame, keys: list, *order) -> DataFrame:
    """Update mode re-emits a key each time its state changes: keep, per
    key, the one emission that `order` ranks first (the final state)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-stream aligned statistical rollup over sf0.001."""
    pts = load_points(spark, "/root/testdata/sf0.001")
    return aligned_windows_all_streams(pts, T_2024, T_2025, 40).orderBy("uuid", "time")


# ---------------------------------------------------------------- queries ---


def q_raw_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_points(spark, sf_dir, T_2024, T_2025)
    return raw_values(pts, "click", T_2024, T_2025)


def q_aligned_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_points(spark, sf_dir, T_2024 - (1 << 38), T_2025)
    df = aligned_windows(pts, "click", T_2024, T_2025, 38)
    return df.select(
        "time",
        F.col("min").alias("vmin"),
        F.round("mean", 6).alias("vmean"),
        F.col("max").alias("vmax"),
        F.col("count").alias("cnt"),
    )


def q_aligned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stat-plane extension: exact per-bucket quantiles (p50/p90/p99) over
    aligned 2**38 ns buckets — same pushed-down single-groupBy shape as
    AlignedWindows; percentile interpolation is bit-identical to DuckDB's
    quantile_cont."""
    from btrdb_server_spark.operators.stat import aligned_quantiles

    pts = load_points(spark, sf_dir, T_2024 - (1 << 38), T_2025)
    df = aligned_quantiles(pts, "click", T_2024, T_2025, 38)
    return df.select(
        "time", "p50", "p90", "p99", F.col("count").alias("cnt")
    )


def q_aligned_windows_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AlignedWindows served from the materialized rollup ladder (A3/§4
    aggregate pushdown): pw=40 answered from the pw=38 level — 4:1 fan-in
    over rollup rows, raw points never touched. The oracle aggregates raw
    data, proving the materialized path bit-exact."""
    from btrdb_server_spark.sources.testdata import ensure_events_ladder

    ladder = ensure_events_ladder(spark, sf_dir)
    pts = load_points(spark, sf_dir, T_2024, T_2025)
    df = ladder.serve_aligned(pts, "click", T_2024, T_2025, 40)
    return df.select(
        "time",
        F.col("min").alias("vmin"),
        F.round("mean", 6).alias("vmean"),
        F.col("max").alias("vmax"),
        F.col("count").alias("cnt"),
    )


def q_windows_quantile_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile plane on the rollup ladder — a tier the reference does NOT
    have (qtree nodes carry min/mean/max/count only, qtree.go:925-947):
    per-(uuid, bucket, quantized value) histogram rows built at pw=34,
    coarsened 64:1 to pw=40 by the same associative groupBy-sum as the
    stat ladder, then exact per-2^42-window p50/p90/p99 served from the
    materialized tier. The oracle computes the order statistics from raw
    points — proving the histogram path exact, not approximate."""
    from btrdb_server_spark.plans.rollup import (
        hist_from_hist,
        hist_from_points,
        quantiles_from_hist,
    )

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    fine = hist_from_points(pts, 34)
    level = hist_from_hist(fine, 40)
    return quantiles_from_hist(level, 40, "view", T_2024, T_FEB, 42)


def q_rollup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transparent aggregate pushdown (qtree.go:925-947, SURVEY §4): a
    hand-written canonical aligned-stat DataFrame aggregation — the user
    never names a ladder level — is recognized from its ANALYZED plan and
    served from the materialized rollup ladder. The assert makes this row
    fail loudly if the rewrite ever stops engaging; the oracle aggregates
    raw points with the integer-quantum mean the quantized ladder serves."""
    from btrdb_server_spark.plans.rewrite import rewrite_aligned_stat
    from btrdb_server_spark.sources.testdata import ensure_events_ladder

    pw = 40
    s, e = (T_2024 >> pw) << pw, (T_2025 >> pw) << pw
    ladder = ensure_events_ladder(spark, sf_dir)
    pts = load_points(spark, sf_dir, s, e)
    df = (
        pts.where(
            (F.col("uuid") == "click") & (F.col("time") >= s) & (F.col("time") < e)
        )
        .groupBy(F.shiftleft(F.shiftright("time", pw), pw).alias("time"))
        .agg(
            F.min("value").alias("vmin"),
            F.avg("value").alias("mean"),
            F.max("value").alias("vmax"),
            F.count("value").alias("cnt"),
        )
    )
    routed = rewrite_aligned_stat(df, ladder)
    assert routed is not df, "rollup rewrite did not engage"
    return routed.select(
        "time", "vmin", F.round("mean", 6).alias("vmean"), "vmax", "cnt"
    )


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-distribution histogram (stat-plane extension): non-empty
    0.25-wide bins of the click signal over 2024 — power-of-two bin width
    keeps the binning bit-exact in any engine."""
    from btrdb_server_spark.operators.stat import value_histogram

    pts = load_points(spark, sf_dir, T_2024, T_2025)
    return value_histogram(pts, "click", T_2024, T_2025, bin_width=0.25)


def q_windows_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transparent pushdown for the SECOND canonical stat shape: an
    arbitrary-width tumbling-window aggregation — GROUP BY
    (time - s) DIV w, the reference's Windows query at depth=0
    (quasar.go:312-352) — served from the rollup ladder whenever the
    window width and origin are aligned to a materialized level (every
    2**38 bucket lies wholly inside one 32-bucket window here). The user
    never names a ladder level; the assert fails this row loudly if the
    rewrite ever stops engaging. Mean rides the int64 vq path — see
    q_rollup_rewrite."""
    from btrdb_server_spark.plans.rewrite import rewrite_aligned_stat
    from btrdb_server_spark.sources.testdata import ensure_events_ladder

    lvl = 38
    s, e = (T_2024 >> lvl) << lvl, (T_2025 >> lvl) << lvl
    w = (1 << lvl) * 32  # ~2.4 h windows, 32 rollup buckets each
    ladder = ensure_events_ladder(spark, sf_dir)
    load_points(spark, sf_dir, s, e).createOrReplaceTempView("btrdb_points_wr")
    df = spark.sql(
        f"""
        SELECT (time - {s}) DIV {w} AS widx,
               min(value) AS vmin, avg(value) AS vmean,
               max(value) AS vmax, count(value) AS cnt
        FROM btrdb_points_wr
        WHERE uuid = 'click' AND time >= {s} AND time < {e}
        GROUP BY (time - {s}) DIV {w}
        """
    )
    routed = rewrite_aligned_stat(df, ladder)
    assert routed is not df, "windows rewrite did not engage"
    return routed.select(
        "widx", "vmin", F.round("vmean", 6).alias("vmean"), "vmax", "cnt"
    )


def q_aligned_windows_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship entry() shape, oracle-checked: per-stream aligned stats
    for ALL streams in one two-phase aggregate (shuffle carries one row per
    (uuid, bucket))."""
    pts = load_points(spark, sf_dir, T_2024, T_2025)
    df = aligned_windows_all_streams(pts, T_2024, T_2025, 40)
    return df.select(
        "uuid",
        "time",
        F.col("min").alias("vmin"),
        F.round("mean", 6).alias("vmean"),
        F.col("max").alias("vmax"),
        F.col("count").alias("cnt"),
    ).orderBy("uuid", "time")


def q_aligned_windows_all_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet stats served from the ladder: per-stream aligned windows for
    ALL streams at pw=40 answered from the pw=38 level — the dashboard
    query over the hot tier. Oracle aggregates raw points."""
    from btrdb_server_spark.sources.testdata import ensure_events_ladder

    ladder = ensure_events_ladder(spark, sf_dir)
    pts = load_points(spark, sf_dir, T_2024, T_2025)
    df = ladder.serve_aligned_all(pts, T_2024, T_2025, 40)
    return df.select(
        "uuid",
        "time",
        F.col("min").alias("vmin"),
        F.round("mean", 6).alias("vmean"),
        F.col("max").alias("vmax"),
        F.col("count").alias("cnt"),
    ).orderBy("uuid", "time")


def q_windows_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-bounded Windows served from the ladder (serve_windows): 1-day
    windows over the pw=38 materialized level. The approximation contract —
    a 2**38 bucket belongs to the window containing its START, and buckets
    straddling the query start participate whole, clamped into the first
    window (qtree.go:1126-1148 non-descendable buckets) — is mirrored
    exactly by the oracle over raw points."""
    from btrdb_server_spark.sources.testdata import ensure_events_ladder

    ladder = ensure_events_ladder(spark, sf_dir)
    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    df = ladder.serve_windows(pts, "purchase", T_2024, T_FEB, DAY_NS, depth=40)
    return df.select(
        "time",
        F.col("min").alias("vmin"),
        F.round("mean", 6).alias("vmean"),
        F.col("max").alias("vmax"),
        F.col("count").alias("cnt"),
    )


def q_windows_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    df = windows(pts, "view", T_2024, T_FEB, DAY_NS)
    return df.select(
        "time",
        F.col("min").alias("vmin"),
        F.round("mean", 6).alias("vmean"),
        F.col("max").alias("vmax"),
        F.col("count").alias("cnt"),
    )


def q_decimate_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plot decimation: per-2**40-bucket min/max envelope of the click
    stream with exact point times (the zoomed-out plotting path)."""
    from btrdb_server_spark.operators.stat import decimate_envelope

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return decimate_envelope(pts, "click", T_2024, T_FEB, 40)


def q_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-data ranges (derived-stream analysis the reference ecosystem's
    distiller layer runs): spans >= 1 h between consecutive error points.
    bucket_pw=40 exercises the scale path: (uuid, bucket)-partitioned lag
    with a per-bucket carry chain instead of one window task per stream."""
    from btrdb_server_spark.operators.derive import gaps

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return gaps(pts, "error", T_2024, T_FEB, min_gap=3_600_000_000_000, bucket_pw=40)


def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the error stream (sessions split at
    >= 1 h of silence — the dual of `gaps`): one all-integer summary row
    per session. bucket_pw=40 exercises the carry-chain scale path for
    BOTH the lag flags and the running session index."""
    from btrdb_server_spark.operators.derive import sessions

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return sessions(
        pts, "error", T_2024, T_FEB, gap=3_600_000_000_000, bucket_pw=40
    )


def q_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete d/dt derived stream over the click signal (Jan 1-10),
    bucketed-lag scale path (bucket_pw=40)."""
    from btrdb_server_spark.operators.derive import rate

    pts = load_points(spark, sf_dir, T_2024, T_JAN10)
    return rate(pts, "click", T_2024, T_JAN10, bucket_pw=40)


HOUR_NS = 3_600_000_000_000
T_JAN8 = T_2024 + 7 * DAY_NS


def q_resample_hold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-order-hold grid resample: the click stream snapped to an hourly
    grid over Jan 1-7 (LOCF — the standard way to join streams of
    different cadences before a feature matrix). bucket_pw=42 exercises
    the bucketed as-of carry-chain scale path."""
    from btrdb_server_spark.operators.resample import resample

    pts = load_points(spark, sf_dir, T_2024, T_JAN8)
    return resample(pts, "click", T_2024, T_JAN8, HOUR_NS, mode="hold", bucket_pw=42)


def q_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation grid resample of the view stream (hourly,
    Jan 1-7): bracketing points via two bucketed as-of passes; a point
    exactly on a tick reproduces its value bit-exactly (weight 0)."""
    from btrdb_server_spark.operators.resample import resample

    pts = load_points(spark, sf_dir, T_2024, T_JAN8)
    return resample(pts, "view", T_2024, T_JAN8, HOUR_NS, mode="linear", bucket_pw=42)


def q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reset-aware counter increase per day (Prometheus increase()
    semantics) over the signup stream: integer-quantum deltas, exact
    int64 window sums, one final quantum multiply."""
    from btrdb_server_spark.operators.derive import counter_increase

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return counter_increase(pts, "signup", T_2024, T_FEB, DAY_NS, bucket_pw=40)


def q_trapz_integral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trapezoidal integral per day over the click stream (energy-from-
    power): exact decimal(38,0) accumulation of integer pair terms, one
    final cast+divide."""
    from btrdb_server_spark.operators.derive import trapz_integral

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return trapz_integral(pts, "click", T_2024, T_FEB, DAY_NS, bucket_pw=40)


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-local z-score outliers over the error stream (|z| > 2 vs the
    2**44-ns bucket's population moments): z computed from exact int64
    moments only — no float mean/variance ever forms."""
    from btrdb_server_spark.operators.stat import anomaly_zscore

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return anomaly_zscore(pts, "error", T_2024, T_FEB, pw=44, threshold=2.0)


def q_stream_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of per-bucket activity (2**42-ns buckets,
    zero-filled spine) for every stream pair — which signals move
    together, from exact int64 sufficient statistics."""
    from btrdb_server_spark.operators.corr import stream_corr

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return stream_corr(pts, T_2024, T_FEB, pw=42)


def q_lttb_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB plot decimation (parallel mean-anchor variant) of the view
    stream at 2**43-ns buckets: per bucket the point forming the largest
    triangle with the neighbor buckets' mean points."""
    from btrdb_server_spark.operators.stat import lttb_decimate

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return lttb_decimate(pts, "view", T_2024, T_FEB, pw=43)


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine BPE tokenizer training: 6 merge rules learned from the
    corpus word histogram (one corpus pass; per-iteration work is
    vocabulary-scale). Deterministic tie-break: count desc, pair asc."""
    from btrdb_server_spark.functions.bpe import bpe_train

    return bpe_train(load_table(spark, sf_dir, "documents"), num_merges=6)


def _sdt_oracle_sql(
    uuid: str, t0: int, t1: int, eq: int, include_final: bool = True
) -> str:
    """SDT oracle as a RECURSIVE CTE over point indexes (one state row per
    step, scalar state only). DuckDB 1.0's list_reduce silently drops
    list-typed fields inside a struct accumulator (s := acc.s || [x]
    returns just [x] — verified), so the kept set cannot ride the fold;
    instead each step flags whether the door closed and which point got
    stored, and the kept set assembles afterwards: first point + every
    stored point + the final point (always strictly later than any
    stored one, matching the engine's conditional append)."""
    up = f"CAST(p.q + {eq} - st.qp AS DOUBLE) / CAST(p.time - st.tp AS DOUBLE)"
    lo = f"CAST(p.q - {eq} - st.qp AS DOUBLE) / CAST(p.time - st.tp AS DOUBLE)"
    nshi = f"least(st.shi, {up})"
    nslo = f"greatest(st.slo, {lo})"
    cl = f"({nslo} > {nshi})"
    up2 = f"CAST(p.q + {eq} - st.ql AS DOUBLE) / CAST(p.time - st.tl AS DOUBLE)"
    lo2 = f"CAST(p.q - {eq} - st.ql AS DOUBLE) / CAST(p.time - st.tl AS DOUBLE)"
    return f"""
        WITH RECURSIVE pts AS (
            SELECT event_type AS uuid, epoch_ns(ts) AS time, value FROM events
        ), d AS (
            SELECT time, max(value) AS value FROM pts
            WHERE uuid = '{uuid}' AND time >= {t0} AND time < {t1}
            GROUP BY 1
        ), pi AS (
            SELECT row_number() OVER (ORDER BY time) AS i, time, value,
                   CAST(round(value / 0.01) AS BIGINT) AS q
            FROM d
        ), st AS (
            SELECT i, time AS tp, q AS qp, time AS tl, q AS ql, value AS vl,
                   CAST('-infinity' AS DOUBLE) AS slo,
                   CAST('infinity' AS DOUBLE) AS shi,
                   FALSE AS closed,
                   CAST(NULL AS BIGINT) AS stored_t,
                   CAST(NULL AS DOUBLE) AS stored_v
            FROM pi WHERE i = 1
            UNION ALL
            SELECT p.i,
                   CASE WHEN {cl} THEN st.tl ELSE st.tp END,
                   CASE WHEN {cl} THEN st.ql ELSE st.qp END,
                   p.time, p.q, p.value,
                   CASE WHEN {cl} THEN {lo2} ELSE {nslo} END,
                   CASE WHEN {cl} THEN {up2} ELSE {nshi} END,
                   {cl},
                   CASE WHEN {cl} THEN st.tl END,
                   CASE WHEN {cl} THEN st.vl END
            FROM st JOIN pi p ON p.i = st.i + 1
        )
        SELECT time, value FROM (
            SELECT time, value FROM pi WHERE i = 1
            UNION ALL
            SELECT stored_t, stored_v FROM st WHERE closed
            {"UNION ALL SELECT time, value FROM pi WHERE i = (SELECT max(i) FROM pi) AND i > 1" if include_final else ""}
        ) ORDER BY time
    """


def _bpe_oracle_sql(n: int) -> str:
    """Chained-CTE replay of n BPE merge iterations (the pq_train/kmeans
    oracle style): each iteration counts adjacent pairs from the current
    word histogram, argmaxes with the same tie-break, and rewrites the
    symbol lists with the same greedy non-overlapping fold."""
    toks = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"
    ctes = [
        f"""wh AS (SELECT w, count(*) AS freq FROM
              (SELECT unnest({toks}) AS w FROM documents) GROUP BY 1),
        w0 AS (SELECT string_split(w, '') AS syms, freq FROM wh)"""
    ]
    for i in range(n):
        ctes.append(
            f"""p{i} AS (
            SELECT t.p.l AS l, t.p.r AS r, freq FROM w{i},
            unnest(list_transform(generate_series(1, len(syms) - 1),
                   i -> {{'l': syms[i], 'r': syms[i+1]}})) AS t(p))"""
        )
        ctes.append(
            f"""b{i} AS (
            SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM p{i}
            GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1)"""
        )
        if i < n - 1:
            ctes.append(
                f"""w{i + 1} AS (
            SELECT CASE WHEN len(syms) <= 1 THEN syms
                   ELSE list_reduce(list_transform(syms, s -> [s]),
                        (acc, x) -> CASE
                            WHEN acc[len(acc)] = b{i}.l AND x[1] = b{i}.r
                            THEN list_append(acc[1:len(acc)-1], b{i}.l || b{i}.r)
                            ELSE list_concat(acc, x) END)
                   END AS syms, freq
            FROM w{i} CROSS JOIN b{i})"""
            )
    selects = "\nUNION ALL\n".join(
        f'SELECT {i + 1} AS step, l AS "left", r AS "right", '
        f"l || r AS merged, cnt AS pair_count FROM b{i}"
        for i in range(n)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects + "\nORDER BY step"


def q_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-scale BPE: 8 merges learned in rounds of 4 under frozen
    per-round pair counts, applied sequentially in rank order inside one
    rewrite pass — jobs ∝ rounds, not merges (the fastBPE/SentencePiece
    batching; exact greedy bpe_train stays the audit reference). The
    oracle replays the identical rounds in chained DuckDB CTEs."""
    from btrdb_server_spark.functions.bpe import bpe_train_batched

    return bpe_train_batched(
        load_table(spark, sf_dir, "documents"), num_merges=8, round_size=4
    )


def _bpe_batched_oracle_sql(num_merges: int, round_size: int) -> str:
    """Chained-CTE replay of bpe_train_batched: per round, rank the frozen
    pair counts (count desc, pair asc), accept the top `round_size`, and
    rewrite the word histogram sequentially in rank order (the same
    greedy non-overlapping fold as _bpe_oracle_sql, once per pick)."""
    toks = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"
    ctes = [
        f"""wh AS (SELECT w, count(*) AS freq FROM
              (SELECT unnest({toks}) AS w FROM documents) GROUP BY 1),
        w0_0 AS (SELECT string_split(w, '') AS syms, freq FROM wh)"""
    ]
    rounds = []
    done = 0
    ri = 0
    while done < num_merges:
        need = min(round_size, num_merges - done)
        rounds.append((ri, need, done))
        done += need
        ri += 1
    for ri, need, base in rounds:
        ctes.append(
            f"""p{ri} AS (
            SELECT t.p.l AS l, t.p.r AS r, freq FROM w{ri}_0,
            unnest(list_transform(generate_series(1, len(syms) - 1),
                   i -> {{'l': syms[i], 'r': syms[i+1]}})) AS t(p))"""
        )
        ctes.append(
            f"""k{ri} AS (
            SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt,
                   row_number() OVER (ORDER BY sum(freq) DESC, l, r) AS rk
            FROM p{ri} GROUP BY l, r
            ORDER BY cnt DESC, l, r LIMIT {need})"""
        )
        for j in range(1, need + 1):
            ctes.append(
                f"s{ri}_{j} AS (SELECT l, r FROM k{ri} WHERE rk = {j})"
            )
            # last pick of the last round needs no rewrite
            if ri == rounds[-1][0] and j == need:
                break
            src = f"w{ri}_{j - 1}"
            dst = f"w{ri + 1}_0" if j == need else f"w{ri}_{j}"
            ctes.append(
                f"""{dst} AS (
            SELECT CASE WHEN len(syms) <= 1 THEN syms
                   ELSE list_reduce(list_transform(syms, s -> [s]),
                        (acc, x) -> CASE
                            WHEN acc[len(acc)] = s{ri}_{j}.l AND x[1] = s{ri}_{j}.r
                            THEN list_append(acc[1:len(acc)-1], s{ri}_{j}.l || s{ri}_{j}.r)
                            ELSE list_concat(acc, x) END)
                   END AS syms, freq
            FROM {src} CROSS JOIN s{ri}_{j})"""
            )
    selects = "\nUNION ALL\n".join(
        f'SELECT {base} + rk AS step, l AS "left", r AS "right", '
        f"l || r AS merged, cnt AS pair_count FROM k{ri}"
        for ri, need, base in rounds
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects + "\nORDER BY step"


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing of the purchase stream (alpha=0.25, Jan 1-10): the
    flat path runs the EXACT left-to-right recurrence via a sorted array
    fold, which the DuckDB oracle replays op-for-op (bit-identical). The
    bucketed affine-composition scale path is covered by tests
    (reassociates float ops — agrees to ~1e-12, documented)."""
    from btrdb_server_spark.operators.derive import ewma

    pts = load_points(spark, sf_dir, T_2024, T_JAN10)
    return ewma(pts, "purchase", T_2024, T_JAN10, alpha=0.25)


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint of the purchase stream over January: argmax of
    the all-integer score |n*prefix_i - i*total| (quantum units) — the
    selected split point is engine-exact. Bucketed prefix-sum scale path
    (bucket_pw=40)."""
    from btrdb_server_spark.operators.derive import cusum_changepoint

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return cusum_changepoint(pts, "purchase", T_2024, T_FEB, bucket_pw=40)


def q_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day OLS trend (slope value/s + intercept) of the view stream:
    five exact integer sufficient statistics (decimal(38,0) for the t^2
    products), closed form evaluated in double on exact inputs."""
    from btrdb_server_spark.operators.stat import trend_ols

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return trend_ols(pts, "view", T_2024, T_FEB, DAY_NS)


def q_streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA as a continuous query: per-stream keyed state carries
    (frontier, running ewma) so the recurrence continues across
    micro-batches — the source is four time-ordered slices written
    sequentially (mod-time ordering), and the emitted union is
    bit-identical to the batch fold, which is the oracle."""

    from btrdb_server_spark.streaming.stateful import streaming_ewma

    work = _workdir(prefix="btrdb_sewma_q_")
    src_d = f"{work}/src"
    pts = load_points(spark, sf_dir, T_2024, T_JAN10).where(
        F.col("uuid").isin("purchase", "error")
    )
    # Time-ordered slices with pinned ascending mod-times so the file
    # source replays them in time order (EWMA is order-defined; the
    # operator enforces the contract rather than assuming it).
    _write_time_slices(pts, T_2024, T_JAN10, src_d)
    stream = (
        spark.readStream.schema("uuid string, time long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_d)
    )
    out = _run_stream(spark, streaming_ewma(stream, alpha=0.25), "stream_ewma_out")
    return out.orderBy("uuid", "time")


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-IVF-cell k-NN graph over the embeddings: every vector's top-3
    cosine neighbors among its cluster — the similarity-graph build
    behind SemDeDup/label-propagation, quadratic only per cell."""
    from btrdb_server_spark.functions.similarity import centroids_from_rows, knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_graph(emb, centroids_from_rows(emb, k=8), k=3)


def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of the purchase stream's 2**42-ns bucket sums at lags 1-5 and
    ~daily (20 buckets): the seasonality probe, every component an exact
    int64 over the zero-filled spine."""
    from btrdb_server_spark.operators.corr import autocorr

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return autocorr(pts, "purchase", T_2024, T_FEB, pw=42, lags=(1, 2, 3, 4, 5, 20))


def q_props_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property distribution per event type (get_json_object stays
    JVM-side): the cardinality/skew probe over the props envelope."""
    from btrdb_server_spark.operators.events import props_histogram

    return props_histogram(load_table(spark, sf_dir, "events"))


def q_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity profile: static conditional-aggregation pivot
    over the fixed event-type list plus the exact quantum-unit value
    total — one map-side-combined shuffle."""
    from btrdb_server_spark.operators.events import user_activity

    return user_activity(load_table(spark, sf_dir, "events"))


def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of the click stream (daily PAA, 4-letter
    Gaussian alphabet): window sums and global moments are exact int64;
    z is scale-invariant so the quantum never converts out."""
    from btrdb_server_spark.operators.stat import sax_symbols

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return sax_symbols(pts, "click", T_2024, T_FEB, DAY_NS)


def q_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-based Jaccard estimates for every LSH candidate pair:
    matches/16 — ranking candidates without re-reading the documents
    (exact dyadic rational, engine-exact)."""
    from btrdb_server_spark.functions.dedup import minhash_jaccard_est

    return minhash_jaccard_est(load_table(spark, sf_dir, "documents"))


def q_value_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stuck-sensor scan: runs of consecutive identical values on the
    error stream (min_run=1 reports every run — random test values
    rarely repeat, so the run table is the point set's RLE)."""
    from btrdb_server_spark.operators.derive import value_run_lengths

    pts = load_points(spark, sf_dir, T_2024, T_JAN10)
    return value_run_lengths(pts, "error", T_2024, T_JAN10, min_run=1, bucket_pw=40)


def q_deadband_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historian deadband compression of the view stream (Jan 1-10,
    deadband 50.00): keep a point only when it moved > 50 from the last
    KEPT value — sequential fold in integer quantum units, oracle
    replays the identical op sequence."""
    from btrdb_server_spark.operators.derive import deadband_compress

    pts = load_points(spark, sf_dir, T_2024, T_JAN10)
    return deadband_compress(pts, "view", T_2024, T_JAN10, deadband=50.0)


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-stream preview sample via md5 rank — stable
    across runs/engines/partitionings, WindowGroupLimit keeps the
    exchange at O(streams * k)."""
    from btrdb_server_spark.operators.raw import hash_sample

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return hash_sample(pts, T_2024, T_FEB, k=20)


def q_streaming_deadband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadband compression AT INGEST: the continuous query emits only
    exception points; on the in-order 4-slice source the kept set is
    bit-equal to the batch fold, which is the oracle."""

    from btrdb_server_spark.streaming.stateful import streaming_deadband

    work = _workdir(prefix="btrdb_sdb_q_")
    src_d = f"{work}/src"
    pts = load_points(spark, sf_dir, T_2024, T_JAN10).where(
        F.col("uuid") == "view"
    )
    _write_time_slices(pts, T_2024, T_JAN10, src_d)
    stream = (
        spark.readStream.schema("uuid string, time long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_d)
    )
    out = _run_stream(
        spark, streaming_deadband(stream, deadband=50.0), "stream_deadband_out"
    )
    return out.drop("uuid").orderBy("time")


def q_streaming_sdt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Swinging-door trending AT INGEST: the continuous query emits a
    stored point whenever the slope doors cross; on the in-order 4-slice
    source the emitted set is bit-equal to the batch fold minus its
    trailing final-point append — which is the oracle."""

    from btrdb_server_spark.streaming.stateful import streaming_sdt

    work = _workdir(prefix="btrdb_sdt_q_")
    src_d = f"{work}/src"
    pts = load_points(spark, sf_dir, T_2024, T_JAN10).where(
        F.col("uuid") == "view"
    )
    _write_time_slices(pts, T_2024, T_JAN10, src_d)
    stream = (
        spark.readStream.schema("uuid string, time long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_d)
    )
    out = _run_stream(spark, streaming_sdt(stream, tolerance=2.0), "stream_sdt_out")
    return out.drop("uuid").orderBy("time")


def q_streaming_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold alarms AT INGEST: the continuous query emits an alert
    row the moment the click stream crosses 10.0; on the in-order
    4-slice source the alert set is bit-equal to the batch
    threshold_crossings scan — which is the oracle."""

    from btrdb_server_spark.streaming.stateful import streaming_crossings

    work = _workdir(prefix="btrdb_cross_q_")
    src_d = f"{work}/src"
    pts = load_points(spark, sf_dir, T_2024, T_JAN10).where(
        F.col("uuid") == "click"
    )
    _write_time_slices(pts, T_2024, T_JAN10, src_d)
    stream = (
        spark.readStream.schema("uuid string, time long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_d)
    )
    out = _run_stream(
        spark, streaming_crossings(stream, threshold=10.0), "stream_cross_out"
    )
    return out.drop("uuid").orderBy("time", "value")


def q_diurnal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day profile of the click stream over January — the diurnal
    fingerprint that `autocorr` detects, described per hour. Integer-quantum
    means, bit-exact."""
    from btrdb_server_spark.operators.stat import diurnal_profile

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return diurnal_profile(pts, "click", T_2024, T_FEB)


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase ordered funnel over the events feed:
    users reaching each step, every later event strictly after the user's
    earliest qualifying previous step. All-integer output."""
    from btrdb_server_spark.operators.events import funnel

    return funnel(load_table(spark, sf_dir, "events"))


def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed conversion funnel: view -> click -> purchase where every
    later step lands within 2 days of the user's FIRST view (the ts
    column is epoch ns so the window is plain integer arithmetic)."""
    from btrdb_server_spark.operators.events import funnel
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("t_ns", epoch_ns_expr(ev))
    return funnel(ev, ts_col="t_ns", within=2 * DAY_NS)


def q_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily/weekly active users + stickiness per active day, anchored at
    2024-01-01 — exploded-cover countDistinct, no range join."""
    from btrdb_server_spark.operators.events import dau_wau
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("time", epoch_ns_expr(ev))
    return dau_wau(ev, T_2024)


def q_exceedance_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do click and view alarm together? Phi coefficient of per-bucket
    threshold exceedance (pw=40, both thresholds 10.0) over 2024 —
    exact integer contingency, one double expression."""
    from btrdb_server_spark.operators.corr import exceedance_corr

    pts = load_points(spark, sf_dir, T_2024 - (1 << 40), T_2025)
    return exceedance_corr(pts, "click", "view", T_2024, T_2025, 40, 10.0, 10.0)


def q_transition_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition lift matrix over the events feed — exact integer
    contingency, one double expression per edge."""
    from btrdb_server_spark.operators.events import transition_lift

    return transition_lift(load_table(spark, sf_dir, "events"))


def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cadence fingerprint of the click stream in January: exact type-1
    percentiles of inter-arrival gaps via distinct-gap histogram
    cumulation (bucketed lag, no interpolation). All-integer output."""
    from btrdb_server_spark.operators.derive import interarrival_stats

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return interarrival_stats(pts, "click", T_2024, T_FEB, bucket_pw=40)


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution of every purchase to the user's most recent
    click/view strictly before it, 1-day lookback — one ordered carry
    per user, no join."""
    from btrdb_server_spark.operators.events import attribution_last_touch
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("time", epoch_ns_expr(ev))
    return attribution_last_touch(ev, within=DAY_NS)


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-view -> first-subsequent-purchase latency distribution:
    exact type-1 percentiles over per-user latencies."""
    from btrdb_server_spark.operators.events import time_to_convert
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("time", epoch_ns_expr(ev))
    return time_to_convert(ev)


def q_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outliers of the view stream over 2024 (pw=49,
    k=2.5) — bucket-keyed exchanges only, no window over points."""
    from btrdb_server_spark.operators.stat import mad_anomaly

    pts = load_points(spark, sf_dir, T_2024, T_2025)
    return mad_anomaly(pts, "view", T_2024, T_2025, 49, k=2.5)


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit (Benford) distribution per stream over
    2024 — digit from the quantized integer's decimal string, exact in
    every engine."""
    from btrdb_server_spark.operators.stat import benford_digits

    pts = load_points(spark, sf_dir, T_2024, T_2025)
    return benford_digits(pts, T_2024, T_2025)


def q_user_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation anchored at 2025-01-01: exact quintile boundaries
    broadcast back onto the per-user aggregate — no global-sort ntile."""
    from btrdb_server_spark.operators.events import user_rfm
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("time", epoch_ns_expr(ev))
    return user_rfm(ev, T_2025)


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of 4-plane LSH-bucketed ANN vs the exact batched scan
    for probes 0-4 — the approximate index's quality gauge."""
    from btrdb_server_spark.functions.similarity import ann_recall_eval, hyperplanes

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_recall_eval(emb, [0, 1, 2, 3, 4], hyperplanes(64, planes=4, seed=42), k=10)


def q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution AT INGEST: each arriving purchase is
    credited to the user's most recent already-ingested click/view
    (1-day lookback). On the in-order 4-slice source the attribution
    set is bit-equal to the batch attribution_last_touch carry — which
    is the oracle. Slices cut on time boundaries, so equal-time
    conversion/touch pairs never straddle a batch."""

    from btrdb_server_spark.sources.testdata import epoch_ns_expr
    from btrdb_server_spark.streaming.stateful import streaming_attribution

    work = _workdir(prefix="btrdb_attr_q_")
    src_d = f"{work}/src"
    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(
        "event_id",
        epoch_ns_expr(ev).alias("time"),
        "user_id",
        "event_type",
    ).where(F.col("event_type").isin("purchase", "click", "view"))
    bounds = ev.agg(F.min("time"), F.max("time")).collect()[0]
    lo0, hi0 = bounds[0], bounds[1] + 1
    _write_time_slices(ev, lo0, hi0, src_d, order=("time", "event_id"))
    stream = (
        spark.readStream.schema(
            "event_id long, time long, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src_d)
    )
    out = _run_stream(
        spark, streaming_attribution(stream, within=DAY_NS), "stream_attr_out"
    )
    return out.orderBy("event_id")


def q_synthesize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distiller synthesis: click - view on the 2^42-ns common grid over
    2024 (per-stream min per cell, all-inputs-ready rows only) — a new
    first-class stream from a linear combination."""
    from btrdb_server_spark.operators.align import synthesize_stream

    pts = load_points(spark, sf_dir, T_2024, T_2025)
    return synthesize_stream(
        pts, {"click": 1.0, "view": -1.0}, "click_minus_view",
        T_2024, T_2025, grid_pw=42,
    )


def q_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream availability vs a declared 6-hour cadence over 2024:
    occupied slots, longest outage run, coverage ratio."""
    from btrdb_server_spark.operators.stat import coverage_report

    pts = load_points(spark, sf_dir, T_2024, T_2025)
    return coverage_report(pts, T_2024, T_2025, 21_600_000_000_000)


def q_token_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 lift-ranked adjacent token pairs (min count 5) — the
    statistically-glued phrases raw ngram counts miss. Rational lift,
    no ln(), bit-exact."""
    from btrdb_server_spark.functions.text import token_collocations

    return token_collocations(load_table(spark, sf_dir, "documents"))


def q_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus dashboard: doc/token/vocab counts, mean tokens per
    doc, chars, language and source cardinalities."""
    from btrdb_server_spark.functions.text import corpus_summary

    return corpus_summary(load_table(spark, sf_dir, "documents"))


def q_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus bigrams with document frequency — the phrase-level
    vocabulary table (boilerplate/contamination phrase scan)."""
    from btrdb_server_spark.functions.text import ngram_freq

    return ngram_freq(load_table(spark, sf_dir, "documents"), n=2)


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle anchored at 2024-01-01: first-event
    week x active-week offset x distinct users. All-integer output."""
    from btrdb_server_spark.operators.events import retention_cohorts
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("time", epoch_ns_expr(ev))
    return retention_cohorts(ev, T_2024)


def q_ohlc_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick downsample of the click stream at pw=40 (~18.3 min
    buckets) over 2024: open/high/low/close per bucket, open/close by
    deterministic lexicographic (time, value) order. Values pass through
    with no arithmetic — bit-exact."""
    from btrdb_server_spark.operators.stat import ohlc_windows

    pts = load_points(spark, sf_dir, T_2024 - (1 << 40), T_2025)
    return ohlc_windows(pts, "click", T_2024, T_2025, 40)


def q_xcorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of the click and view streams at pw=40 bucket
    sums, lags -3..3: the lag estimator. Exact integer components, one
    double Pearson ratio per lag — bit-exact."""
    from btrdb_server_spark.operators.corr import xcorr_lags

    pts = load_points(spark, sf_dir, T_2024 - (1 << 40), T_2025)
    return xcorr_lags(pts, "click", "view", T_2024, T_2025, 40)


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event matrix per user ((ts, event_id)
    order — deterministic on duplicate timestamps). All-integer output."""
    from btrdb_server_spark.operators.events import event_transitions

    return event_transitions(load_table(spark, sf_dir, "events"))


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChangedRanges->RawValues as one operator: click points landing
    inside the >=1h silences of the error stream, via the BUCKETED range
    join (pw=42 equi-join on exploded interval buckets — the large-
    interval-set scale path; no nested loop)."""
    from btrdb_server_spark.operators.changes import interval_join
    from btrdb_server_spark.operators.derive import gaps

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    g = gaps(pts, "error", T_2024, T_FEB, min_gap=3_600_000_000_000).select(
        F.col("gap_start").alias("start"), F.col("gap_end").alias("end")
    )
    clicks = pts.where(
        (F.col("uuid") == "click")
        & (F.col("time") >= T_2024)
        & (F.col("time") < T_FEB)
    ).select("time", "value")
    return (
        interval_join(clicks, g, bucket_pw=42)
        .select(F.col("start").alias("gap_start"), "time", "value")
        .orderBy("gap_start", "time", "value")
    )


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour count/sum/mean per distinct click timestamp in
    January — the moving-average signal, computed via the neighbor-bucket
    equi-join (no serial per-stream window). Exact int64 partials, one
    double division — bit-exact."""
    from btrdb_server_spark.operators.derive import rolling_stats

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return rolling_stats(pts, "click", T_2024, T_FEB, 3_600_000_000_000)


def q_stream_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream DQ report over 2024: counts, duplicate-timestamp
    pressure, extents, exact quantum sum. Two-level aggregation so
    map-side combine absorbs dup-heavy streams."""
    from btrdb_server_spark.operators.stat import stream_profile

    pts = load_points(spark, sf_dir, T_2024, T_2025)
    return stream_profile(pts, T_2024, T_2025)


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document first-occurrence shingle novelty over the corpus —
    the crawl-freshness / template-detection signal. Inverted-index
    shape; one double division over exact counts."""
    from btrdb_server_spark.functions.dedup import ngram_novelty

    return ngram_novelty(load_table(spark, sf_dir, "documents"))


def q_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 longest documents per language (ties by doc id) — per-group
    quota curation; WindowGroupLimit keeps the shuffle at groups x k."""
    from btrdb_server_spark.functions.curation import group_topk

    return group_topk(load_table(spark, sf_dir, "documents"))


def q_asof_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free feature join: each January purchase gets the latest
    trailing-1h click stats computed strictly before it (rolling_stats
    composed with the bucketed as-of carry)."""
    from btrdb_server_spark.operators.derive import asof_features

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return asof_features(
        pts, "purchase", "click", T_2024, T_FEB, 3_600_000_000_000, bucket_pw=42
    )


def q_threshold_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alarm-edge detection: every up/down crossing of value 10.0 by the
    click stream in January (bucketed lag — no serial window)."""
    from btrdb_server_spark.operators.derive import threshold_crossings

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return threshold_crossings(pts, "click", T_2024, T_FEB, 10.0, bucket_pw=40)


def q_excursions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell-time report: maximal runs of click readings at/above 10.0 in
    January — start/end/duration/peak per excursion (shared
    gap-and-islands machinery on the threshold state)."""
    from btrdb_server_spark.operators.derive import excursions

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return excursions(pts, "click", T_2024, T_FEB, 10.0, bucket_pw=40)


def q_sdt_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Swinging-door trending of the click stream in January at
    tolerance 2.0 — the PI-historian linear-segment compression; kept
    set engine-exact via integer-quantum slopes."""
    from btrdb_server_spark.operators.derive import sdt_compress

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return sdt_compress(pts, "click", T_2024, T_FEB, 2.0)


def q_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (lag-79-bucket ~ daily at pw=40) forecast MAE over
    the click stream's 2024 bucket sums — the baseline the seasonality
    probes must beat. Exact int64 absolute-error sum, one division."""
    from btrdb_server_spark.operators.corr import seasonal_naive_error

    pts = load_points(spark, sf_dir, T_2024 - (1 << 40), T_2025)
    return seasonal_naive_error(pts, "click", T_2024, T_2025, 40, 79)


def q_nearest_before(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_points(spark, sf_dir, end=T_JAN15)
    return nearest(pts, "purchase", T_JAN15, backward=True)


def q_nearest_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_points(spark, sf_dir, start=T_JAN15)
    return nearest(pts, "purchase", T_JAN15, backward=False)


def q_changed_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_points(spark, sf_dir)
    times = pts.where(F.col("uuid") == "error").select("time")
    return times_to_changed_ranges(times, 40)


def q_changed_ranges_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream changed-range coalescing for EVERY stream in one pass:
    the gap-and-islands window partitions by uuid, so each stream's
    intervals merge independently inside one shuffle."""
    pts = load_points(spark, sf_dir)
    times = pts.select("uuid", "time")
    return times_to_changed_ranges(times, 40, by_uuid=True)


def q_multistream_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_points(spark, sf_dir)
    return align_streams(pts, EVENT_TYPES, T_2024, T_2025, agg="max")


def q_csv_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GenerateCSV end-to-end (S3, serve.go:880-1011): N-way time alignment
    written through an actual CSV sink (header row, empty cells for absent
    streams — csv.go:75-81) and read back with an explicit schema. Doubles
    survive the text round-trip exactly (shortest-repr formatting), so the
    read-back rows hash-match the alignment oracle."""

    out = _workdir(prefix="btrdb_csv_q_") + "/aligned"
    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    aligned = align_streams(pts, EVENT_TYPES, T_2024, T_FEB, agg="max")
    # Multi-file export: each task writes its own part (the scalable sink
    # shape); the read-back globs all parts. The reference's single-cursor
    # CSV stream is a gRPC presentation detail, not a storage contract.
    aligned.write.mode("overwrite").option("header", True).csv(out)
    schema = "time long, " + ", ".join(f"{u} double" for u in EVENT_TYPES)
    return (
        spark.read.schema(schema).option("header", True).csv(out).orderBy("time")
    )


def q_bulk_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical >10M-point export (api.export_bulk): the MVCC raw slice
    written DIRECTLY FROM EXECUTORS as a parquet dataset — every
    partition its own file, no driver funnel — then read back. The wire
    lanes (paged JSON, Arrow IPC) are protocol conveniences bounded by
    one socket; a bulk hand-off moves a dataset. Round-trip must be
    bit-equal to the raw slice (parquet preserves doubles exactly)."""
    from btrdb_server_spark.api import BTrDB

    t_end = T_2024 + 2 * DAY_NS
    work = _workdir(prefix="btrdb_bulk_q_")
    pts = load_points(spark, sf_dir, T_2024, t_end).where(
        F.col("uuid") == "error"
    )
    db = BTrDB(spark, f"{work}/db")
    db.store.insert_many(pts)
    db.export_bulk("error", T_2024, t_end, f"{work}/out")
    return spark.read.parquet(f"{work}/out").orderBy("time", "value")


def q_delete_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeleteRange readback semantics (T1): points outside [Jan10, Jan20)."""
    pts = load_points(spark, sf_dir)
    deleted = pts.where(
        ~((F.col("time") >= T_JAN10) & (F.col("time") < T_JAN20))
    )
    return raw_values(deleted, "signup", T_2024, T_2025)


def q_store_delete_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MVCC store end-to-end (S1+T1+S2): bulk insert -> range delete ->
    snapshot read at latest; tombstones applied as a broadcast anti-join,
    scan pruned to the stream's uuid_bucket partition."""
    from btrdb_server_spark.sources.testdata import ensure_events_store

    store = ensure_events_store(spark, sf_dir)
    return raw_values(store.stream_points("signup"), "signup", T_2024, T_2025)


def q_store_version_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation (F2): the same read at version 1 — before the
    delete — still sees every point."""
    from btrdb_server_spark.sources.testdata import ensure_events_store

    store = ensure_events_store(spark, sf_dir)
    return raw_values(store.stream_points("signup", version=1), "signup", T_2024, T_2025)


def q_store_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-before over the tombstoned store (J6 + T1): the probe sits
    inside the deleted interval, so the answer must skip back past it."""
    from btrdb_server_spark.sources.testdata import ensure_events_store

    store = ensure_events_store(spark, sf_dir)
    return nearest(store.stream_points("signup"), "signup", T_JAN15, backward=True)


def q_store_aligned_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AlignedWindows over the store at latest version: bucket stats reflect
    the range delete (A1 + T1)."""
    from btrdb_server_spark.sources.testdata import ensure_events_store

    store = ensure_events_store(spark, sf_dir)
    df = aligned_windows(store.stream_points("signup"), "signup", T_2024, T_2025, 41)
    return df.select(
        "time",
        F.col("min").alias("vmin"),
        F.round("mean", 6).alias("vmean"),
        F.col("max").alias("vmax"),
        F.col("count").alias("cnt"),
    )


def q_streaming_stat_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-(uuid, 2**42 ns bucket) StatPoints over a file-streamed copy of the
    events points, with the quantized int64 sum (value_quantum=0.01) so
    the accumulated mean is bit-identical in any arrival order. The
    per-batch emission stream is not SQL-expressible, but the FINAL
    accumulated state per bucket must equal the batch groupBy over the
    same points — which is exactly the oracle."""

    from btrdb_server_spark.streaming.stateful import streaming_stat_windows

    work = _workdir(prefix="btrdb_stream_q_")
    src = f"{work}/src"
    # repartition, not coalesce: the loader hands back ONE partition and
    # coalesce cannot increase it — four real files + maxFilesPerTrigger=2
    # gives two genuine micro-batches.
    load_points(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("uuid string, time long, value double")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    # ~3k (uuid, bucket) state keys: 16 partitions measured 4.0 s vs 6.5 s
    # at the 4-partition default (interleaved best-of-2, sf0.1). The env
    # knob still overrides for production sizing.
    out = _run_stream(
        spark,
        streaming_stat_windows(stream, 42, value_quantum=0.01),
        "stat_state_out",
        16,
    )
    # Multiple emissions per bucket across micro-batches: keep the final one
    # (max cnt — the accumulator only grows). No 6-digit rounding: the
    # quantized int64 sum makes the mean the SAME double on both sides
    # (float(int) exact, * 0.01, / cnt — one IEEE sequence), and a decimal
    # round would only reintroduce the Spark-HALF_UP vs DuckDB tie hazard on
    # the exact .5s the quantization produces.
    return _final_emission(out, ["uuid", "bucket"], F.col("cnt").desc()).orderBy(
        "uuid", "bucket"
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: documents arrive as a file stream and a
    stateful groupBy(content-hash) keeps (keeper = min doc_id, copies) with
    NO watermark — a duplicate arriving in any later micro-batch still
    updates its group (ST2 late-data semantics applied to the corpus
    plane). Update-mode emissions are folded to the final state per group,
    which must equal the batch aggregate — the oracle.

    100 TB note: state is one row per distinct content hash. At corpus
    scale back the state store with RocksDB
    (spark.sql.streaming.stateStore.providerClass) + changelog
    checkpointing so state lives off-heap/on-disk; the no-watermark choice
    is semantic (a duplicate is a duplicate forever), matching ST2."""

    work = _workdir(prefix="btrdb_sdedup_q_")
    src_d = f"{work}/src"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # repartition, not coalesce: the loader may hand back ONE partition and
    # coalesce cannot increase the count — that silently collapses the
    # stream into a single micro-batch (no incrementality exercised).
    docs.repartition(4).write.mode("overwrite").parquet(src_d)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src_d)
    )
    agg = (
        stream.select(F.col("doc_id"), F.md5("text").alias("h"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )
    out = _run_stream(spark, agg, "stream_dedup_out")
    # The final state is the emission with the highest copy count (ties:
    # lowest keeper).
    return _final_emission(
        out, ["h"], F.col("n_copies").desc(), F.col("keeper_id")
    ).orderBy("h")


def q_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters with BOUNDED state: documents arrive as a
    file stream, tokens hash-shard into space-saving sketches of fixed
    capacity (applyInPandasWithState, no watermark — state is
    shards x capacity regardless of vocabulary). Capacity is sized so no
    shard evicts at this scale, making every running count exact
    (overcount 0) — the final top-50 must equal the exact batch token
    counts, which is the oracle. The eviction path (upper/lower-bound
    semantics) is pytest-covered with a tiny capacity."""

    from btrdb_server_spark.functions.text import tokens_col
    from btrdb_server_spark.streaming.stateful import streaming_heavy_hitters

    work = _workdir(prefix="btrdb_stopk_q_")
    src_d = f"{work}/src"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # repartition, not coalesce: the loader may hand back ONE partition and
    # coalesce cannot increase the count — that silently collapses the
    # stream into a single micro-batch (no incrementality exercised).
    docs.repartition(4).write.mode("overwrite").parquet(src_d)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src_d)
    )
    toks = stream.select(F.explode(tokens_col(F.col("text"))).alias("token"))
    hh = streaming_heavy_hitters(toks, num_shards=8, capacity=65536)
    out = _run_stream(spark, hh, "stream_topk_out")
    # Counts are monotone per surviving token: final state = max-cnt
    # emission per (shard, token).
    return (
        _final_emission(out, ["shard", "token"], F.col("cnt").desc())
        .select("token", "cnt", "overcount")
        .orderBy(F.col("cnt").desc(), "token")
        .limit(50)
    )


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization with EXACT late-data semantics: points
    arrive as an unordered file stream (each micro-batch carries arbitrary
    slices of every stream's history), and per-stream session-interval
    state merges each point in — including the bridge case where one late
    point FUSES two sessions. The final snapshot (max-seq rows per stream)
    must equal the batch gap-and-islands computation, which is the
    oracle."""

    from btrdb_server_spark.streaming.stateful import streaming_sessionize

    work = _workdir(prefix="btrdb_ssess_q_")
    src_d = f"{work}/src"
    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    # Unsorted repartition (round-robin — the loader hands back ONE
    # partition, which coalesce cannot increase): files slice the history
    # arbitrarily, so most points of later batches are "late" relative to
    # state already built — exercising the ST2 merge paths for real.
    pts.repartition(4).write.mode("overwrite").parquet(src_d)
    stream = (
        spark.readStream.schema("uuid string, time long, value double")
        .option("maxFilesPerTrigger", 2)
        .parquet(src_d)
    )
    sess = streaming_sessionize(stream, gap=3_600_000_000_000)
    out = _run_stream(spark, sess, "stream_sessions_out")
    from pyspark.sql import Window

    snap = out.withColumn(
        "mx", F.max("seq").over(Window.partitionBy("uuid"))
    ).where(F.col("seq") == F.col("mx"))
    return snap.select(
        "uuid", "session_start", "session_end", "n_points"
    ).orderBy("uuid", "session_start")


def q_store_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changes (T4): version diff (0, 2] = every inserted bucket plus the
    tombstoned interval, coarsened to 2**40 ns and coalesced."""
    from btrdb_server_spark.sources.testdata import ensure_events_store

    store = ensure_events_store(spark, sf_dir)
    return store.changes("signup", 0, 2, 40)


def q_list_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    streams = streams_from_events(load_table(spark, sf_dir, "events"))
    return collections_of(streams, prefix="events/", start_with="events/e", limit=100)


def q_lookup_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    streams = streams_from_events(load_table(spark, sf_dir, "events"))
    found = filter_streams(
        streams, collection="events/", tags={"kind": "click", "source": None}
    )
    return found.select("uuid", "collection").orderBy("uuid")


def q_metadata_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    streams = streams_from_events(load_table(spark, sf_dir, "events"))
    tag_usage, _ = usage_of(streams, prefix="events/")
    return tag_usage


def q_metadata_ann_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6, annotation half: stream counts per annotation key under a
    collection prefix (keyusage.go:20-78)."""
    streams = streams_from_events(load_table(spark, sf_dir, "events"))
    _, ann_usage = usage_of(streams, prefix="events/")
    return ann_usage


def q_nearest_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized as-of join (J6 fleet variant): for every click time, the
    last error point strictly before it."""
    from btrdb_server_spark.operators.nearest import nearest_asof

    pts = load_points(spark, sf_dir)
    probes = (
        pts.where(F.col("uuid") == "click")
        .select(F.lit("error").alias("uuid"), F.col("time").alias("probe_time"))
    )
    # bucket_pw engages the scale path: (uuid, 2**44 ns bucket)-partitioned
    # windows + carry chain instead of one window task per stream.
    out = nearest_asof(
        pts.where(F.col("uuid") == "error"), probes, backward=True, bucket_pw=44
    )
    return out.select("probe_time", "time", "value").orderBy("probe_time")


def q_align_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GenerateCSV statistical mode: per 2**42 ns bucket, 4 stat columns per
    stream (csv.go:75-89)."""
    from btrdb_server_spark.operators.align import align_streams_windowed

    pts = load_points(spark, sf_dir)
    df = align_streams_windowed(pts, ["click", "error"], T_2024, T_2025, 42)
    cols = [F.col("time")]
    for u in ("click", "error"):
        cols += [
            F.col(f"{u}_min").alias(f"{u}_min"),
            F.round(f"{u}_mean", 6).alias(f"{u}_mean"),
            F.col(f"{u}_max").alias(f"{u}_max"),
            # pivot yields NULL count for absent streams; the CSV stat-mode
            # cell is 0 (count FILTER semantics in the oracle)
            F.coalesce(F.col(f"{u}_count"), F.lit(0)).cast("long").alias(f"{u}_count"),
        ]
    return df.select(*cols)


def q_windows_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windows with depth-bounded (approximate) descent: 1-day windows over
    2**40-ns pre-buckets (the documented approximation contract). The mean
    rides the integer-quantum path (values are exact 2-decimal), so the
    result is bit-identical under any partitioning/engine — no float
    accumulation-order surface."""
    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    df = windows(pts, "purchase", T_2024, T_FEB, DAY_NS, depth=40, value_quantum=0.01)
    return df.select(
        "time",
        F.col("min").alias("vmin"),
        F.round("mean", 6).alias("vmean"),
        F.col("max").alias("vmax"),
        F.col("count").alias("cnt"),
    )


def q_buffer_read_your_writes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write buffer merged read (J1/ST1/ST5, pqm_test/main_test.go:84-136):
    day-1 signup points committed via flush, day-2 points left in the
    uncommitted buffer — a latest-generation read must return BOTH, while
    the committed-only version-1 read would not. The oracle is every raw
    point in the two-day range."""

    from btrdb_server_spark.api import BTrDB

    t_mid, t_end = T_2024 + DAY_NS, T_2024 + 2 * DAY_NS
    rows = (
        load_points(spark, sf_dir, T_2024, t_end)
        .where(F.col("uuid") == "signup")
        .where((F.col("time") >= T_2024) & (F.col("time") < t_end))
        .orderBy("time")
        .collect()
    )
    db = BTrDB(
        spark, _workdir(prefix="btrdb_buf_q_"), buffer_commit_threshold=1 << 30
    )
    day1 = [(r.time, r.value) for r in rows if r.time < t_mid]
    day2 = [(r.time, r.value) for r in rows if r.time >= t_mid]
    db.insert("signup", day1, enforce_batch_cap=False)
    db.flush("signup")  # committed generation (major=1)
    db.insert("signup", day2, enforce_batch_cap=False)  # stays buffered
    assert db.query_version("signup") == (1, len(day2))
    return db.raw_values("signup", T_2024, t_end)


def q_buffer_query_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QueryVersion under buffering (ST5, pqm.go:343-361): major = committed
    generations, minor = uncommitted buffered point count."""

    from btrdb_server_spark.api import BTrDB

    t_mid, t_end = T_2024 + DAY_NS, T_2024 + 2 * DAY_NS
    rows = (
        load_points(spark, sf_dir, T_2024, t_end)
        .where(F.col("uuid") == "signup")
        .where((F.col("time") >= T_2024) & (F.col("time") < t_end))
        .collect()
    )
    db = BTrDB(
        spark, _workdir(prefix="btrdb_qv_q_"), buffer_commit_threshold=1 << 30
    )
    db.insert("signup", [(r.time, r.value) for r in rows if r.time < t_mid],
              enforce_batch_cap=False)
    db.flush("signup")
    db.insert("signup", [(r.time, r.value) for r in rows if r.time >= t_mid],
              enforce_batch_cap=False)
    major, minor = db.query_version("signup")
    return spark.createDataFrame([(major, minor)], "major long, minor long")


def q_registry_obliterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry lifecycle (T2 + bulk create_many): register every derived
    stream in one DataFrame-native bulk call, obliterate the smallest click
    stream, verify the uuid is never reusable (metaprovider.go:296-326)
    while its (collection, tags) identity IS (uniqueness is among live
    streams), and return the live registry."""

    from btrdb_server_spark.metadata import StreamRegistry
    from btrdb_server_spark.store import BTrDBError

    reg = StreamRegistry(spark, _workdir(prefix="btrdb_reg_q_"))
    streams = streams_from_events(load_table(spark, sf_dir, "events"))
    n = reg.create_many(streams)
    assert n == streams.count()
    victim = reg.lookup_streams(collection="events/click").orderBy("uuid").first()
    reg.obliterate(victim.uuid)
    try:
        reg.create(victim.uuid, "anything")  # tombstoned uuid: forever dead
        raise AssertionError("tombstoned uuid must not be reusable")
    except BTrDBError:
        pass
    # the freed identity may be re-registered under a fresh uuid
    reg.create("reborn-1", victim.collection, dict(victim.tags))
    # annotations CAS (serve.go:389-420): version advances 1 -> 2; a stale
    # expected_version must be rejected
    assert reg.set_annotations("reborn-1", 1, {"note": "x"}) == 2
    try:
        reg.set_annotations("reborn-1", 1, {"note": "y"})
        raise AssertionError("stale CAS version must be rejected")
    except BTrDBError:
        pass
    return reg.lookup_streams().select("uuid", "collection").orderBy("uuid")


def q_insert_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 batch limit (serve.go:63-68,702): a >25k-point insert is rejected
    with InsertTooBig(414) and leaves nothing behind."""

    from btrdb_server_spark.constants import MAX_INSERT_BATCH
    from btrdb_server_spark.store import BTrDBError, PointStore

    store = PointStore(spark, _workdir(prefix="btrdb_cap_q_"))
    too_big = [(i, 1.0) for i in range(MAX_INSERT_BATCH + 1)]
    try:
        store.insert("s", too_big, enforce_batch_cap=True)
        code = 0
    except BTrDBError as e:
        code = e.code
    visible = store.points_at().count()
    return spark.createDataFrame(
        [(code, visible)], "code long, visible_after long"
    )


def q_buffer_stat_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buffer⋈committed stat merge (J2/A5, merger.go:132-214): aligned
    windows at latest generation over one committed day plus one buffered
    day — the weighted combine is Spark's partial->final aggregation over
    the unioned snapshot; the oracle aggregates all raw points."""

    from btrdb_server_spark.api import BTrDB

    t_mid, t_end = T_2024 + DAY_NS, T_2024 + 2 * DAY_NS
    rows = (
        load_points(spark, sf_dir, T_2024, t_end)
        .where(F.col("uuid") == "signup")
        .where((F.col("time") >= T_2024) & (F.col("time") < t_end))
        .collect()
    )
    db = BTrDB(
        spark, _workdir(prefix="btrdb_bsm_q_"), buffer_commit_threshold=1 << 30
    )
    db.insert("signup", [(r.time, r.value) for r in rows if r.time < t_mid],
              enforce_batch_cap=False)
    db.flush("signup")
    db.insert("signup", [(r.time, r.value) for r in rows if r.time >= t_mid],
              enforce_batch_cap=False)
    df = db.aligned_windows("signup", T_2024, t_end, 42)
    return df.select(
        "time",
        F.col("min").alias("vmin"),
        F.round("mean", 6).alias("vmean"),
        F.col("max").alias("vmax"),
        F.col("count").alias("cnt"),
    )


def q_streaming_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest end-to-end (S1/S4/ST1/ST4): two days of signup
    points file-streamed through the foreachBatch pipeline (validate ->
    versioned append, checkpoint WAL), flushed, then read back from the
    committed store at latest version."""

    from btrdb_server_spark.schemas import POINTS_SCHEMA
    from btrdb_server_spark.store import PointStore
    from btrdb_server_spark.streaming.ingest import IngestPipeline

    t_end = T_2024 + 2 * DAY_NS
    work = _workdir(prefix="btrdb_ing_q_")
    src = f"{work}/src"
    pts = (
        load_points(spark, sf_dir, T_2024, t_end)
        .where(F.col("uuid") == "signup")
        .where((F.col("time") >= T_2024) & (F.col("time") < t_end))
    )
    pts.coalesce(2).write.mode("overwrite").parquet(src)
    store = PointStore(spark, f"{work}/store")
    pipe = IngestPipeline(store)
    stream = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    pipe.start(stream, f"{work}/ckpt")
    try:
        pipe.flush()
    finally:
        pipe.stop()
    return raw_values(store.stream_points("signup"), "signup", T_2024, t_end)


def q_streaming_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC subscription to the store (streaming/changefeed.py): two days
    of signup points committed as two versions, then followed via the
    checkpointed file-source changefeed (availableNow). Delivered rows
    must be bit-equal to the raw slice, with ins_ver marking which commit
    delivered each row — the Spark-native replacement for the reference
    clients' poll-Changes sync loop (quasar.go:404-485)."""
    from btrdb_server_spark.store import PointStore
    from btrdb_server_spark.streaming.changefeed import changefeed

    t_mid, t_end = T_2024 + DAY_NS, T_2024 + 2 * DAY_NS
    work = _workdir(prefix="btrdb_cf_q_")
    pts = load_points(spark, sf_dir, T_2024, t_end).where(
        F.col("uuid") == "signup"
    )
    store = PointStore(spark, f"{work}/store")
    store.insert_many(pts.where(F.col("time") < t_mid))
    store.insert_many(pts.where(F.col("time") >= t_mid))
    rows: list = []
    with bounded_state_partitions(spark):
        q = (
            changefeed(store)
            .writeStream.foreachBatch(lambda b, _id: rows.extend(b.collect()))
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            # awaitTermination(timeout) returns False instead of raising: a
            # partial `rows` would otherwise read as a (confusing) bit-exact
            # mismatch, and the still-running query would leak into later
            # entries sharing this session.
            q.stop()
            raise TimeoutError("changefeed drain exceeded 300s")
    return spark.createDataFrame(
        rows, "uuid string, time long, value double, ins_ver long"
    ).orderBy("time")


def q_streaming_changefeed_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete half of the CDC story (streaming/changefeed.py
    changefeed_deletes): inserts and range-deletes interleave as four
    store versions; the tombstone feed must deliver exactly the two
    delete commits, each carrying the major version the store assigned
    it (2 and 4 — proving deletes and inserts share one version
    sequence, the reference's DeleteRange-is-a-version contract,
    quasar.go:487-520), exactly once through the checkpointed file log."""
    from btrdb_server_spark.store import PointStore
    from btrdb_server_spark.streaming.changefeed import changefeed_deletes

    t_mid, t_end = T_2024 + DAY_NS, T_2024 + 2 * DAY_NS
    work = _workdir(prefix="btrdb_cfd_q_")
    pts = load_points(spark, sf_dir, T_2024, t_end).where(
        F.col("uuid") == "signup"
    )
    store = PointStore(spark, f"{work}/store")
    store.insert_many(pts.where(F.col("time") < t_mid))  # v1
    store.delete_range("signup", T_2024, T_2024 + 6 * 3600 * 10**9)  # v2
    store.insert_many(pts.where(F.col("time") >= t_mid))  # v3
    store.delete_range("signup", t_mid, t_mid + 6 * 3600 * 10**9)  # v4
    rows: list = []
    with bounded_state_partitions(spark):
        q = (
            changefeed_deletes(store)
            .writeStream.foreachBatch(lambda b, _id: rows.extend(b.collect()))
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("delete changefeed drain exceeded 300s")
    return spark.createDataFrame(
        rows, "uuid string, start long, end long, ver long"
    ).orderBy("ver")


def q_streaming_rollup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full loop: file-streamed ingest maintains the rollup ladder per
    micro-batch (partition-targeted folds), then AlignedWindows is served
    from the materialized level — write path to hot-tier read path end to
    end. Oracle aggregates the same raw points."""

    from btrdb_server_spark.plans.rollup import RollupLadder
    from btrdb_server_spark.schemas import POINTS_SCHEMA
    from btrdb_server_spark.store import PointStore
    from btrdb_server_spark.streaming.ingest import IngestPipeline

    t_end = T_2024 + 2 * DAY_NS
    work = _workdir(prefix="btrdb_srs_q_")
    src = f"{work}/src"
    pts = (
        load_points(spark, sf_dir, T_2024, t_end)
        .where(F.col("uuid") == "signup")
        .where((F.col("time") >= T_2024) & (F.col("time") < t_end))
    )
    pts.coalesce(2).write.mode("overwrite").parquet(src)
    store = PointStore(spark, f"{work}/store")
    ladder = RollupLadder(
        spark, f"{work}/ladder", levels=[40], value_quantum=0.01
    )
    pipe = IngestPipeline(store, ladder)
    stream = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    pipe.start(stream, f"{work}/ckpt")
    try:
        pipe.flush()
    finally:
        pipe.stop()
    df = ladder.serve_aligned(
        store.stream_points("signup"), "signup", T_2024, t_end, 42
    )
    return df.select(
        "time",
        F.col("min").alias("vmin"),
        F.round("mean", 6).alias("vmean"),
        F.col("max").alias("vmax"),
        F.col("count").alias("cnt"),
    )


def q_late_data_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2: arbitrarily late data, no watermark (SURVEY §2.9). Day 2 of the
    signup stream is ingested FIRST; day 1 arrives a whole batch late. The
    ladder's bucket-exact merge folds the late batch into already-built
    levels (no watermark ever drops it — qtree accepts any in-domain time,
    qtree.go:629), and the served stats equal the oracle's full aggregate
    over both days."""

    from btrdb_server_spark.plans.rollup import RollupLadder

    t_mid, t_end = T_2024 + DAY_NS, T_2024 + 2 * DAY_NS
    pts = (
        load_points(spark, sf_dir, T_2024, t_end)
        .where(F.col("uuid") == "click")
        .where((F.col("time") >= T_2024) & (F.col("time") < t_end))
    )
    ladder = RollupLadder(
        spark, _workdir(prefix="btrdb_late_q_"), levels=[40],
        value_quantum=0.01,  # 2-decimal testdata: bit-deterministic means
    )
    ladder.update_with_batch(pts.where(F.col("time") >= t_mid), batch_id=0)
    # day 1 arrives AFTER day 2 was already rolled up
    ladder.update_with_batch(pts.where(F.col("time") < t_mid), batch_id=1)
    df = ladder.serve_aligned(pts, "click", T_2024, t_end, 42)
    return df.select(
        "time",
        F.col("min").alias("vmin"),
        F.round("mean", 6).alias("vmean"),
        F.col("max").alias("vmax"),
        F.col("count").alias("cnt"),
    )


def q_store_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction (the OPTIMIZE/VACUUM analog): versions + tombstones fold
    into one base snapshot; reads at latest return exactly the pre-compaction
    answer with the version-dir read amplification gone."""

    from btrdb_server_spark.store import PointStore

    t_mid, t_end = T_2024 + DAY_NS, T_2024 + 2 * DAY_NS
    store = PointStore(spark, _workdir(prefix="btrdb_cmp_q_"))
    pts = (
        load_points(spark, sf_dir, T_2024, t_end)
        .where(F.col("uuid") == "signup")
        .where((F.col("time") >= T_2024) & (F.col("time") < t_end))
    )
    store.insert_many(pts)
    store.delete_range("signup", t_mid, t_end)  # delete day 2
    store.compact()
    return raw_values(store.stream_points("signup"), "signup", T_2024, t_end)


# ------------------------------------------------- pipeline ops (docs) ---


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.text import text_stats

    docs = load_table(spark, sf_dir, "documents")
    out = text_stats(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_token_len",
        "punct_ratio",
        "stopword_ratio",
        "quality",
    ).orderBy("doc_id")


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the token distribution (repetition
    quality signal): one (doc, token) groupBy + one per-doc sum."""
    from btrdb_server_spark.functions.text import token_entropy

    return token_entropy(load_table(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.text import lang_id

    return lang_id(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.dedup import exact_dedup

    return exact_dedup(load_table(spark, sf_dir, "documents"))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.dedup import minhash_signatures

    return minhash_signatures(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.dedup import lsh_candidate_pairs, minhash_signatures

    sigs = minhash_signatures(load_table(spark, sf_dir, "documents"))
    return lsh_candidate_pairs(sigs, bands=4)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-vs-corpus dedup against a PERSISTED LSH index: 90% of the
    documents table plays the already-deduped corpus (band-partitioned
    signature index written once via lsh_index_build), the other 10% plays
    tomorrow's crawl snapshot. The snapshot's band rows are broadcast and
    probe the index scan — the corpus is never re-shingled, re-hashed, or
    shuffled, and its text is never read; matches are verified with the
    sketch estimate carried in the index rows (matches/16 >= 0.25)."""
    from btrdb_server_spark.functions.dedup import (
        incremental_dedup_pairs,
        lsh_index_build,
    )

    docs = load_table(spark, sf_dir, "documents")
    work = _workdir(prefix="btrdb_lshidx_q_")
    idx = f"{work}/lsh_index"
    lsh_index_build(docs.where(F.col("doc_id") % 10 != 0), idx)
    return incremental_dedup_pairs(
        docs.where(F.col("doc_id") % 10 == 0), idx, est_threshold=0.25
    )


def q_lsh_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-skew audit of a persisted LSH signature index: per band, doc
    / bucket counts, max and mean bucket size, and colliding-bucket count.
    Max bucket size is the hot-key guard read before every snapshot probe
    (a degenerate boilerplate bucket turns incremental_dedup_pairs into a
    skewed join); runs off the index alone — corpus text never read."""
    from btrdb_server_spark.functions.dedup import lsh_index_build, lsh_index_stats

    idx = _memo_index(
        ("lsh", sf_dir),
        lambda p: lsh_index_build(load_table(spark, sf_dir, "documents"), p),
    )
    return lsh_index_stats(spark, idx)


def _lsh90_builder(spark: SparkSession, sf_dir: str):
    """Build the 90%-corpus LSH index (the incremental-dedup fixture)."""
    from btrdb_server_spark.functions.dedup import lsh_index_build

    return lambda p: lsh_index_build(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 != 0), p
    )


def q_incremental_dedup_retire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index RETIREMENT exactness (GDPR takedown / re-curation): tombstone
    every corpus doc with doc_id % 7 == 3 in the persisted LSH index
    (lsh_index_retire — id set recorded, zero band rows rewritten), then
    probe with the snapshot. The oracle is the one-shot dedup on the
    POST-DELETE corpus — retire-then-probe must be bit-equal to a rebuild,
    because every probe anti-joins the broadcast tombstone set. The
    reference analogy is Obliterate's tombstone-then-background-delete
    (metaprovider.go:339-427); the index build itself is memoized and
    copied, so this entry times retire + probe, not the build."""
    from btrdb_server_spark.functions.dedup import (
        incremental_dedup_pairs,
        lsh_index_retire,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = _mutable_index_copy(("lsh90", sf_dir), _lsh90_builder(spark, sf_dir))
    lsh_index_retire(
        spark, idx, docs.where(F.col("doc_id") % 7 == 3).select("doc_id")
    )
    return incremental_dedup_pairs(
        docs.where(F.col("doc_id") % 10 == 0), idx, est_threshold=0.25
    )


def q_lsh_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index COMPACTION exactness: retire doc_id % 7 == 3, then fold the
    tombstones and append fragments into one fresh generation
    (lsh_index_compact — the store's generation-swap discipline,
    store.py:406-520) and probe. Same oracle as incremental_dedup_retire:
    compact-then-probe == tombstone-view probe == post-delete rebuild,
    with the tombstone anti-join gone from the probe plan."""
    from btrdb_server_spark.functions.dedup import (
        incremental_dedup_pairs,
        lsh_index_compact,
        lsh_index_retire,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = _mutable_index_copy(("lsh90", sf_dir), _lsh90_builder(spark, sf_dir))
    lsh_index_retire(
        spark, idx, docs.where(F.col("doc_id") % 7 == 3).select("doc_id")
    )
    lsh_index_compact(spark, idx)
    return incremental_dedup_pairs(
        docs.where(F.col("doc_id") % 10 == 0), idx, est_threshold=0.25
    )


def q_streaming_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-at-ingest: the MinHash LSH index maintained INCREMENTALLY as
    documents stream in (per-row signatures — bit-identical to the batch
    family — feed stateful band buckets that emit new-vs-resident
    candidate pairs). The distinct pair union must equal batch
    lsh_candidate_pairs over the same corpus, which is the oracle."""

    from btrdb_server_spark.streaming.stateful import streaming_lsh_candidates

    work = _workdir(prefix="btrdb_slsh_q_")
    src_d = f"{work}/src"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # repartition, not coalesce: the loader may hand back ONE partition and
    # coalesce cannot increase the count — that silently collapses the
    # stream into a single micro-batch (no incrementality exercised).
    docs.repartition(4).write.mode("overwrite").parquet(src_d)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src_d)
    )
    cand = streaming_lsh_candidates(stream)
    # 32 band-space shards: 8 partitions measured best (7.2/7.0 s vs 9.0 s
    # @4, interleaved warm reps, sf0.1); beyond 8 the per-batch state-store
    # fixed costs eat the parallelism.
    return (
        _run_stream(spark, cand, "stream_lsh_out", 8)
        .distinct()  # a pair colliding in several bands/batches emits once
        .orderBy("a", "b")
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.dedup import simhash

    return simhash(load_table(spark, sf_dir, "documents"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charikar-regime near-dup pairs: 60-bit SimHash, 4x15-bit pigeonhole
    bands (recall exactly 1 for hamming <= 3), xor+bit_count verify on
    candidates only."""
    from btrdb_server_spark.functions.dedup import simhash_pairs

    return simhash_pairs(load_table(spark, sf_dir, "documents"))


def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of MinHash LSH banding vs exact shingle Jaccard —
    the audit that justifies the banded path at scale (dedup twin of
    ann_recall_eval)."""
    from btrdb_server_spark.functions.dedup import lsh_recall_eval

    return lsh_recall_eval(load_table(spark, sf_dir, "documents"))


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-flavor profit by supplier nation x order year: selective
    broadcast part filter drives the fact reduction; one wide shuffle
    (lineitem x orders); cents-exact arithmetic."""
    from btrdb_server_spark.operators.olap import product_profit

    return product_profit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)


def q_minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash pipeline: LSH candidates verified by exact shingle
    Jaccard — exact work proportional to candidates, not corpus²."""
    from btrdb_server_spark.functions.dedup import lsh_verified_pairs

    return lsh_verified_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)


def q_edit_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by exact character-level Levenshtein —
    the short-text verifier (dedup family's third verification lens after
    shingle Jaccard and embedding cosine)."""
    from btrdb_server_spark.functions.dedup import edit_verified_pairs

    return edit_verified_pairs(load_table(spark, sf_dir, "documents"), threshold=0.3)


def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by frequency with doc frequency."""
    from btrdb_server_spark.functions.text import token_freq

    return token_freq(load_table(spark, sf_dir, "documents"), top=100)


def q_sql_rollup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface (sql.py): canonical aligned-stat SQL TEXT over the
    registered points view is transparently served from the quantized
    rollup ladder — qtree.go:925-947's stored-aggregate descent for SQL
    users, analyzer-inserted literal casts and all. The assert fails this
    row loudly if the rewrite ever stops engaging on SQL-analyzed plans.
    The mean rides the int64 vq path, so it is bit-identical to the
    oracle's integer-quantum formulation under any aggregation order."""
    from btrdb_server_spark.plans.rewrite import rewrite_aligned_stat
    from btrdb_server_spark.sources.testdata import ensure_events_ladder

    pw = 40
    s, e = (T_2024 >> pw) << pw, (T_2025 >> pw) << pw
    ladder = ensure_events_ladder(spark, sf_dir)
    load_points(spark, sf_dir, s, e).createOrReplaceTempView("btrdb_points")
    df = spark.sql(
        f"""
        SELECT shiftleft(shiftright(time, {pw}), {pw}) AS time,
               min(value) AS vmin, avg(value) AS mean,
               max(value) AS vmax, count(value) AS cnt
        FROM btrdb_points
        WHERE uuid = 'click' AND time >= {s} AND time < {e}
        GROUP BY shiftleft(shiftright(time, {pw}), {pw})
        """
    )
    routed = rewrite_aligned_stat(df, ladder)
    assert routed is not df, "SQL rollup rewrite did not engage"
    return routed.select(
        "time", "vmin", F.round("mean", 6).alias("vmean"), "vmax", "cnt"
    )


def q_sql_hook_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLAIN ``spark.sql`` text — no ``db.sql()`` routing — served from the
    rollup ladder: ``db.hook_sql()`` wraps the session's sql entry point
    (sql.py install_sql_hook, the pure-Python analog of a
    SparkSessionExtensions.injectOptimizerRule Catalyst rule; the
    reference's qtree.go:925-947 stored-aggregate descent). The entry
    asserts the ladder actually served the scan (inputFiles under
    rollups/) and that the session's sql method is restored after."""
    from btrdb_server_spark.api import BTrDB

    pw = 40
    s, e = (T_2024 >> pw) << pw, (T_2025 >> pw) << pw
    work = _workdir(prefix="btrdb_sqlhook_q_")
    db = BTrDB(spark, work, rollup_levels=[pw], rollup_quantum=0.01)
    pts = load_points(spark, sf_dir, s, e).where(F.col("uuid") == "error")
    db.insert("error", pts, enforce_batch_cap=False)
    db.hook_sql()
    try:
        df = spark.sql(
            f"""
            SELECT shiftleft(shiftright(time, {pw}), {pw}) AS time,
                   min(value) AS vmin, avg(value) AS mean,
                   max(value) AS vmax, count(value) AS cnt
            FROM btrdb_points
            WHERE uuid = 'error' AND time >= {s} AND time < {e}
            GROUP BY shiftleft(shiftright(time, {pw}), {pw})
            """
        )
    finally:
        db.unhook_sql()
    assert any("rollups" in f for f in df.inputFiles()), (
        "plain spark.sql text was not served from the ladder"
    )
    assert spark.sql.__name__ == "sql", "session sql entry point not restored"
    return df.select(
        "time", "vmin", F.round("mean", 6).alias("vmean"), "vmax", "cnt"
    )


def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/email/digit-run scrubbing with per-doc redaction counts."""
    from btrdb_server_spark.functions.text import text_scrub

    return text_scrub(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter: per-doc flags + keep, every
    rule an integer comparison (engine-exact, no float thresholds)."""
    from btrdb_server_spark.functions.curation import quality_filter

    return quality_filter(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 17 == 0 stand in for
    the eval set; every other doc is scored by distinct-shingle overlap
    against the whole bench set (broadcast semi-join — the corpus side
    never shuffles for the match)."""
    from btrdb_server_spark.functions.curation import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 17 == 0)
    train = docs.where(F.col("doc_id") % 17 != 0)
    return decontaminate(train, bench)


def q_decontaminate_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path decontamination: bipartite MinHash LSH between corpus
    and bench (no bench broadcast — sides meet only on colliding band
    buckets), candidates verified by exact shingle Jaccard >= 1/2."""
    from btrdb_server_spark.functions.curation import decontaminate_lsh

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 17 == 0)
    train = docs.where(F.col("doc_id") % 17 != 0)
    return decontaminate_lsh(train, bench)


# Stratified-sampling mixture: rates per language; 'fr' is deliberately
# absent so the default-rate fallback path is exercised too.
SAMPLE_RATES = {"en": 0.5, "zh": 0.3, "es": 0.25, "de": 0.1}
SAMPLE_DEFAULT_RATE = 0.75


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold downsampling to a per-language target
    mixture — reproducible (no RNG), nested across rates, zero shuffle."""
    from btrdb_server_spark.functions.curation import stratified_sample

    return stratified_sample(
        load_table(spark, sf_dir, "documents"), SAMPLE_RATES, SAMPLE_DEFAULT_RATE
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per-shard running token offset
    (window cumsum) maps every document to its training-sequence index."""
    from btrdb_server_spark.functions.curation import pack_sequences

    return pack_sequences(
        load_table(spark, sf_dir, "documents"), ctx_len=256, n_shards=8
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components (min-label propagation) over
    the verified pair graph; oracle recomputes components with a recursive
    CTE — full value-hash check of an iterative algorithm."""
    from btrdb_server_spark.functions.dedup import dedup_clusters

    return dedup_clusters(load_table(spark, sf_dir, "documents"), threshold=0.5)


def q_dedup_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup with QUALITY-based survivor selection: cluster the
    near-dup graph, keep the longest member of each cluster (ties ->
    smallest id). Integer score -> engine-exact; oracle replays the
    recursive-CTE components plus a window argmax."""
    from btrdb_server_spark.functions.dedup import dedup_select

    return dedup_select(load_table(spark, sf_dir, "documents"), threshold=0.5)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate bigram/trigram fractions
    and the top-bigram count per document — one tagged explode + one
    groupBy pair for both n-gram sizes."""
    from btrdb_server_spark.functions.text import repetition_stats

    return repetition_stats(load_table(spark, sf_dir, "documents"))


# Chunking geometry shared with the oracle: 16-token windows advancing by
# 12 (4-token overlap) — small enough that sf0.01 docs emit several chunks.
CHUNK_LEN, CHUNK_OVERLAP = 16, 4


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (retrieval/embedding prep): pure
    map-side sequence() explode, chunk index derived arithmetically."""
    from btrdb_server_spark.functions.curation import doc_chunks

    return doc_chunks(
        load_table(spark, sf_dir, "documents"), CHUNK_LEN, CHUNK_OVERLAP
    )


# Target mixture parts per domain; only 4 of the 20 sources participate
# (the rest drop out), src0 is the binding domain (kept whole).
MIX_WEIGHTS = {"src0": 6, "src1": 3, "src2": 1, "src3": 2}


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample-only rebalancing to a target domain mixture; thresholds
    in exact int64 arithmetic, row picks by nested hash-threshold."""
    from btrdb_server_spark.functions.curation import domain_mix

    return domain_mix(load_table(spark, sf_dir, "documents"), MIX_WEIGHTS)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: IVF-clustered embedding space, within-cluster cosine >=
    0.35 against a smaller id marks a semantic duplicate."""
    from btrdb_server_spark.functions.similarity import (
        centroids_from_rows,
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, centroids_from_rows(emb, k=8), threshold=0.35)


def q_semantic_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup served from the PERSISTED IVF index: assignment was paid
    at index build, so a re-run of the dedup policy (threshold sweep,
    post-retirement re-curation) reads the cluster-partitioned cells and
    runs only the within-cell pairwise step — the corpus is never
    re-assigned. Same oracle as semantic_dedup: the index cells carry
    the bit-identical assignment and the shared pair rule."""
    from btrdb_server_spark.functions.similarity import semantic_dedup_from_index

    idx = _memo_index(("ivf", sf_dir), _ivf_builder(spark, sf_dir))
    return semantic_dedup_from_index(spark, idx, threshold=0.35)


# Bag-of-words query shared with the BM25 oracle: common corpus words so
# posting lists are non-trivial at every scale factor.
BM25_QUERY = ["spark", "hash", "merge", "window"]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10: inverted-index retrieval as explode-filtered-to-
    query-terms -> groupBy; corpus stats and per-term document frequencies
    broadcast."""
    from btrdb_server_spark.functions.retrieval import bm25_topk

    return bm25_topk(load_table(spark, sf_dir, "documents"), BM25_QUERY, k=10)


def q_bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from a PERSISTED inverted index: postings written once
    partitioned by term-hash bucket (bm25_index_build), then the query's
    literal bucket ids prune posting directories — the corpus is never
    tokenized at query time. Score-identical to bm25_topk (same oracle)."""
    from btrdb_server_spark.functions.retrieval import bm25_index_topk

    idx = _memo_index(("bm25", sf_dir), _bm25_builder(spark, sf_dir))
    return bm25_index_topk(spark, idx, BM25_QUERY, k=10)


def _bm25_builder(spark: SparkSession, sf_dir: str):
    from btrdb_server_spark.functions.retrieval import bm25_index_build

    return lambda p: bm25_index_build(load_table(spark, sf_dir, "documents"), p)


def q_bm25_index_retire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 index RETIREMENT exactness: tombstone doc_id % 7 == 3
    (bm25_index_retire — ids + exact int64 stats subtraction recorded in
    one atomic manifest flip; zero posting bytes rewritten), then query.
    The oracle is bm25_topk over the POST-DELETE corpus — retire-then-
    query must be bit-equal to a rebuild, because df excludes tombstoned
    docs via the broadcast anti-join and avgdl derives from the exactly
    subtracted (n_docs, sum_dl). Build memoized + copied: the entry
    times retire + query."""
    from btrdb_server_spark.functions.retrieval import (
        bm25_index_retire,
        bm25_index_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = _mutable_index_copy(("bm25", sf_dir), _bm25_builder(spark, sf_dir))
    bm25_index_retire(
        spark, idx, docs.where(F.col("doc_id") % 7 == 3).select("doc_id")
    )
    return bm25_index_topk(spark, idx, BM25_QUERY, k=10)


def q_bm25_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 index COMPACTION exactness: retire doc_id % 7 == 3, fold the
    tombstones out and the postings into one fresh term-sorted generation
    (bm25_index_compact — stats recomputed from the norms table, the
    built-in corruption detection/repair path), then query. Same oracle
    as bm25_index_retire: compact must not move a single score."""
    from btrdb_server_spark.functions.retrieval import (
        bm25_index_compact,
        bm25_index_retire,
        bm25_index_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = _mutable_index_copy(("bm25", sf_dir), _bm25_builder(spark, sf_dir))
    bm25_index_retire(
        spark, idx, docs.where(F.col("doc_id") % 7 == 3).select("doc_id")
    )
    bm25_index_compact(spark, idx)
    return bm25_index_topk(spark, idx, BM25_QUERY, k=10)


def q_bm25_index_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 index consistency AUDIT after a retire: cross-check the
    manifest's folded (n_docs, sum_dl) against the live norms table and
    the distinct-doc count of the live postings (bm25_index_verify — the
    cheap detection path for stats/postings disagreement). The oracle
    recomputes all five numbers from the post-delete corpus, so the check
    is anchored to ground truth, not to the index's own bookkeeping."""
    from btrdb_server_spark.functions.retrieval import (
        bm25_index_retire,
        bm25_index_verify,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = _mutable_index_copy(("bm25", sf_dir), _bm25_builder(spark, sf_dir))
    bm25_index_retire(
        spark, idx, docs.where(F.col("doc_id") % 7 == 3).select("doc_id")
    )
    return bm25_index_verify(spark, idx)


def q_bm25_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary/length drift gauge of a persisted BM25 index
    (bm25_index_drift — VERDICT r12 #6): index built on the 90% corpus
    (doc_id % 10 != 0), gauged with the held-out 10% as the incoming
    crawl batch — OOV token mass, new-term rate, and length-ratio drift
    against the manifest's exactly-folded stats. The oracle recomputes
    every counter from the same tokenization in SQL; all rates are
    single IEEE divisions of exact int64s."""
    from btrdb_server_spark.functions.retrieval import bm25_index_drift

    docs = load_table(spark, sf_dir, "documents")
    idx = _memo_index(("bm2590", sf_dir), _bm2590_builder(spark, sf_dir))
    return bm25_index_drift(spark, idx, docs.where(F.col("doc_id") % 10 == 0))


def _bm2590_builder(spark: SparkSession, sf_dir: str):
    """Build the 90%-corpus BM25 index (the drift-gauge fixture)."""
    from btrdb_server_spark.functions.retrieval import bm25_index_build

    return lambda p: bm25_index_build(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 != 0),
        p,
    )


def q_lsh_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-precision drift gauge of the persisted LSH index
    (lsh_index_drift — VERDICT r12 #6): over the deterministic sample of
    index candidate pairs (smaller id % 4 == 0), the stored signatures'
    Jaccard estimate vs the exact shingle Jaccard verified from the
    corpus text — mean estimate, mean truth, mean absolute error, and
    precision at the 0.5 dedup threshold. Per-pair ratios floor-quantize
    to int64 micro-units before the global means (order-independent,
    no rounding-tie surface). The re-band/rebuild trigger for the
    dedup index, closing the same gauge->remedy loop as
    pq_index_drift -> pq_index_reencode."""
    from btrdb_server_spark.functions.dedup import lsh_index_build, lsh_index_drift

    docs = load_table(spark, sf_dir, "documents")
    idx = _memo_index(
        ("lsh", sf_dir),
        lambda p: lsh_index_build(docs, p),
    )
    return lsh_index_drift(spark, idx, docs, sample_mod=4, threshold=0.5)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms: sparse keyword featurization
    (smoothed idf, score rounded to 6 before ranking, ties by token)."""
    from btrdb_server_spark.functions.retrieval import tfidf_topk

    return tfidf_topk(load_table(spark, sf_dir, "documents"), k=5)


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (perplexity-filter stand-in): corpus token
    counts re-joined to the token stream, mean log-probability per doc."""
    from btrdb_server_spark.functions.retrieval import unigram_logprob

    return unigram_logprob(load_table(spark, sf_dir, "documents"))


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes: 64-dim vectors -> 4 subspaces, nearest of
    8 codebook entries each; broadcast codebook, struct-min argmin."""
    from btrdb_server_spark.functions.similarity import pq_encode

    return pq_encode(load_table(spark, sf_dir, "embeddings"), m=4, k=8, dim=64)


def q_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine PQ codebook training: one joint Lloyd iteration across
    all 4 subspaces (single broadcast-assign job + one (m x k x sub)-row
    mean aggregation), flattened to (subspace, code, dim, val) rows. The
    oracle replays the iteration from pq_encode's seed assignment."""
    from btrdb_server_spark.functions.similarity import pq_train

    cb = pq_train(load_table(spark, sf_dir, "embeddings"), m=4, k=8, iters=1, dim=64)
    return cb.select(
        F.col("j").alias("subspace"), "code", F.posexplode("cv").alias("dim", "val")
    ).orderBy("subspace", "code", "dim")


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC serving over PQ codes: probe distance table (m*k rows) broadcast
    to the code table; raw vectors untouched at query time."""
    from btrdb_server_spark.functions.similarity import ann_pq_topk

    return ann_pq_topk(
        load_table(spark, sf_dir, "embeddings"), probe_id=0, m=4, k_codes=8, k=10, dim=64
    )


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.text import bpe_token_stats

    return bpe_token_stats(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.text import rolling_fingerprint

    return rolling_fingerprint(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: documents as opaque payloads -> mapInPandas
    decode (deterministic fake; real decoder plugs into the same schema)."""
    from btrdb_server_spark.functions.multimodal import decode_media, media_from_documents

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return decode_media(media, fake=True).orderBy("media_id")


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-plane exact dedup: SHA-256 content digest per opaque payload
    (JVM-side, pre-decode), keeper = min id per digest."""
    from btrdb_server_spark.functions.multimodal import (
        media_exact_dedup,
        media_from_documents,
    )

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return media_exact_dedup(media)


def _decoded_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.multimodal import decode_media, media_from_documents

    return decode_media(
        media_from_documents(load_table(spark, sf_dir, "documents")), fake=True
    )


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: one row per every-300th frame of each video — a pure
    relational explode over the decoded metadata (the real decoder attaches
    pixels to the same rows)."""
    from btrdb_server_spark.functions.multimodal import frame_sample

    out = frame_sample(_decoded_media(spark, sf_dir), every_n=300)
    return out.orderBy("media_id", "frame_idx")


def q_media_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize geometry (fit into 224^2) computed
    relationally over decoded dimensions."""
    from btrdb_server_spark.functions.multimodal import resize_plan

    return resize_plan(_decoded_media(spark, sf_dir), max_side=224).orderBy("media_id")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-statistics feature extraction over opaque payloads (histogram,
    exact mean byte, printable ratio, ascending-fold Shannon entropy) —
    the decode-free screen for corrupt/compressed media objects."""
    from btrdb_server_spark.functions.multimodal import (
        media_features,
        media_from_documents,
    )

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return media_features(media).orderBy("media_id")


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.similarity import centroids_from_rows, ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_assign(emb, centroids_from_rows(emb, k=8)).orderBy("vec_id")


def q_ivf_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means refinement of the IVF centroids, flattened to
    (cid, dim, val) rows for the value-hash compare."""
    from btrdb_server_spark.functions.similarity import centroids_from_rows, ivf_refine

    emb = load_table(spark, sf_dir, "embeddings")
    refined = ivf_refine(emb, centroids_from_rows(emb, k=8))
    return refined.select(
        "cid", F.posexplode("cv").alias("dim", "val")
    ).orderBy("cid", "dim")


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine IVF index training: 2 full Lloyd iterations from the
    deterministic seeds (broadcast-assign + (k x dim)-row mean shuffle per
    iteration, centroids checkpointed between rounds), flattened to
    (cid, dim, val) rows for the value-hash compare. The oracle replays
    the identical trajectory as chained CTEs."""
    from btrdb_server_spark.functions.similarity import kmeans_train

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_train(emb, k=8, iters=2)
    return cents.select(
        "cid", F.posexplode("cv").alias("dim", "val")
    ).orderBy("cid", "dim")


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.similarity import ann_topk_ivf, centroids_from_rows

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_ivf(emb, centroids_from_rows(emb, k=8), probe_id=0, k=10)


def q_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at nprobe=2: the recall knob — search the two closest
    clusters, exact cosine only within them."""
    from btrdb_server_spark.functions.similarity import (
        ann_topk_ivf_multiprobe,
        centroids_from_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_ivf_multiprobe(
        emb, centroids_from_rows(emb, k=8), probe_id=0, k=10, nprobe=2
    )


def q_ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN served from a PERSISTED IVF index: centroids + cluster-
    partitioned cells written once (ivf_index_build), then the probe
    ranks the 8 centroids, collects its 2 cluster ids, and scans ONLY
    those cell directories (literal partition predicate = directory-level
    pruning). Same semantics as ann_ivf_multiprobe — same oracle — but
    assignment is paid at build time, not per query."""
    from btrdb_server_spark.functions.similarity import ann_index_topk

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _memo_index(("ivf", sf_dir), _ivf_builder(spark, sf_dir))
    probe = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return ann_index_topk(spark, idx, probe, k=10, nprobe=2)


def _ivf_builder(spark: SparkSession, sf_dir: str):
    from btrdb_server_spark.functions.similarity import (
        centroids_from_rows,
        ivf_index_build,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return lambda p: ivf_index_build(emb, p, centroids_from_rows(emb, k=8))


def q_ann_index_retire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index RETIREMENT exactness: tombstone vec_id % 5 == 2
    (ivf_index_retire — id set recorded, zero cell bytes rewritten;
    centroids untouched), then probe. The oracle is the multiprobe query
    over the POST-DELETE vectors (same full-corpus centroids) — retire-
    then-probe must be bit-equal to a rebuild, because the probe
    anti-joins the broadcast tombstone set after the cell-directory
    pruning. Build memoized + copied: times retire + probe."""
    from btrdb_server_spark.functions.similarity import (
        ann_index_topk,
        ivf_index_retire,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _mutable_index_copy(("ivf", sf_dir), _ivf_builder(spark, sf_dir))
    ivf_index_retire(
        spark, idx, emb.where(F.col("vec_id") % 5 == 2).select("vec_id")
    )
    probe = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return ann_index_topk(spark, idx, probe, k=10, nprobe=2)


def q_ivf_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index COMPACTION exactness: retire vec_id % 5 == 2, fold the
    tombstones and append fragments into one fresh cluster-partitioned
    generation (ivf_index_compact — ivf_index_stats regains its
    footer-only fast path), then probe. Same oracle as ann_index_retire:
    compact must not move a single neighbor or cosine."""
    from btrdb_server_spark.functions.similarity import (
        ann_index_topk,
        ivf_index_compact,
        ivf_index_retire,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _mutable_index_copy(("ivf", sf_dir), _ivf_builder(spark, sf_dir))
    ivf_index_retire(
        spark, idx, emb.where(F.col("vec_id") % 5 == 2).select("vec_id")
    )
    ivf_index_compact(spark, idx)
    probe = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return ann_index_topk(spark, idx, probe, k=10, nprobe=2)


def q_ann_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index MAINTENANCE exactness: build the index on 90% of the
    vectors, fold the other 10% in with ivf_index_append (row-local
    assignment against the persisted centroids), then probe. The oracle
    is the FULL-corpus multiprobe query — append-then-probe must be
    bit-equal to a rebuild, because assignment is a pure per-row function
    of the (shared, full-corpus) centroid table."""
    from btrdb_server_spark.functions.similarity import (
        ann_index_topk,
        centroids_from_rows,
        ivf_index_append,
        ivf_index_build,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    work = _workdir(prefix="btrdb_ivfinc_q_")
    idx = f"{work}/ivf_index"
    cents = centroids_from_rows(emb, k=8)
    ivf_index_build(emb.where(F.col("vec_id") % 10 != 0), idx, cents)
    ivf_index_append(emb.where(F.col("vec_id") % 10 == 0), idx)
    probe = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return ann_index_topk(spark, idx, probe, k=10, nprobe=2)


def q_bm25_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 index MAINTENANCE exactness: build on 90% of the documents,
    bm25_index_append the other 10% (batch-only tokenization, exact
    int64 stats fold), then query. The oracle is the FULL-corpus
    bm25_topk — append-then-query must be bit-equal to a rebuild, since
    df comes from the postings at query time and avgdl from the exactly
    merged sums."""
    from btrdb_server_spark.functions.retrieval import (
        bm25_index_append,
        bm25_index_build,
        bm25_index_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    work = _workdir(prefix="btrdb_bm25inc_q_")
    idx = f"{work}/bm25_index"
    bm25_index_build(docs.where(F.col("doc_id") % 10 != 0), idx)
    bm25_index_append(docs.where(F.col("doc_id") % 10 == 0), idx)
    return bm25_index_topk(spark, idx, BM25_QUERY, k=10)


def q_ivf_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-balance audit of the persisted IVF index: per-cluster vector
    count and corpus share, read from the cells' partition column alone
    (vectors pruned) — the staleness gauge for fixed centroids."""
    from btrdb_server_spark.functions.similarity import ivf_index_stats

    idx = _memo_index(("ivf", sf_dir), _ivf_builder(spark, sf_dir))
    return ivf_index_stats(spark, idx)


def q_bm25_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list skew audit of the persisted BM25 index: top-20 terms
    by document frequency with their share of all postings — the hot-term
    (stopword/boilerplate) guard, read from the postings alone."""
    from btrdb_server_spark.functions.retrieval import bm25_index_stats

    idx = _memo_index(("bm25", sf_dir), _bm25_builder(spark, sf_dir))
    return bm25_index_stats(spark, idx, top=20)


def _pq_builder(spark: SparkSession, sf_dir: str):
    from btrdb_server_spark.functions.similarity import (
        centroids_from_rows,
        pq_index_build,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return lambda p: pq_index_build(
        emb, p, centroids_from_rows(emb, k=8), k=8, m=4, k_codes=8, dim=64
    )


def _pq_probe_vec(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.where(F.col("vec_id") == 0).select("embedding").first()[0]


def q_pq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ index EXACTNESS: ADC served from a PERSISTED pq_index_build
    index — coarse centroids + per-subspace codebooks + 8-bit codes in
    cluster-partitioned cells; raw vectors are NOT stored (m bytes/vector
    instead of dim*8 — the 100 TB RAM/IO economics of Jégou's IVFADC).
    Probed with nprobe covering every cell, the scores are bit-equal to
    the one-shot ann_pq_topk over the corpus (same oracle): same rounded
    per-subspace squared L2, same round-6 sum, ties by id."""
    from btrdb_server_spark.functions.similarity import pq_index_topk

    idx = _memo_index(("pq", sf_dir), _pq_builder(spark, sf_dir))
    return pq_index_topk(spark, idx, _pq_probe_vec(spark, sf_dir), k=10, nprobe=8)


def q_pq_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ PRUNED probe: rank the 8 coarse centroids, collect the top-2
    cluster ids (literal partition predicate = directory-level pruning),
    and run ADC only inside those cells — the serving path that reads
    ~nprobe/k of the CODE bytes (itself ~m/(8*dim) of the vector bytes).
    The oracle replays the same coarse assignment, cell choice, and ADC
    scoring in SQL."""
    from btrdb_server_spark.functions.similarity import pq_index_topk

    idx = _memo_index(("pq", sf_dir), _pq_builder(spark, sf_dir))
    return pq_index_topk(spark, idx, _pq_probe_vec(spark, sf_dir), k=10, nprobe=2)


def q_pq_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ MAINTENANCE exactness: build on 90% of the vectors with the
    FULL-corpus quantizer (centroids + seed codebooks — the quantizer is
    frozen configuration, exactly how a production index trains once and
    encodes forever), pq_index_append the other 10% (encoding is a pure
    per-row function of the persisted quantizer), probe all cells. The
    oracle is the FULL-corpus one-shot ADC — append-then-probe must be
    bit-equal to a rebuild."""
    from btrdb_server_spark.functions.similarity import (
        _pq_codebook_seed,
        centroids_from_rows,
        pq_index_append,
        pq_index_build,
        pq_index_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    work = _workdir(prefix="btrdb_pqinc_q_")
    idx = f"{work}/pq_index"
    cents = centroids_from_rows(emb, k=8)
    cb = _pq_codebook_seed(emb, 4, 8, "vec_id", "embedding", 64)
    pq_index_build(
        emb.where(F.col("vec_id") % 10 != 0),
        idx,
        cents,
        k=8,
        m=4,
        k_codes=8,
        codebook=cb,
        dim=64,
    )
    pq_index_append(emb.where(F.col("vec_id") % 10 == 0), idx)
    return pq_index_topk(spark, idx, _pq_probe_vec(spark, sf_dir), k=10, nprobe=8)


def q_pq_index_retire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ RETIREMENT exactness: tombstone vec_id % 5 == 2
    (pq_index_retire — id set recorded via the shared index_store
    lifecycle, zero code bytes rewritten, quantizer frozen), then probe
    all cells. The oracle scores the POST-DELETE vectors with the
    FULL-corpus codebooks — retire-then-probe must be bit-equal to a
    rebuild with the same frozen quantizer. Build memoized + copied:
    times retire + probe."""
    from btrdb_server_spark.functions.similarity import (
        pq_index_retire,
        pq_index_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _mutable_index_copy(("pq", sf_dir), _pq_builder(spark, sf_dir))
    pq_index_retire(
        spark, idx, emb.where(F.col("vec_id") % 5 == 2).select("vec_id")
    )
    return pq_index_topk(spark, idx, _pq_probe_vec(spark, sf_dir), k=10, nprobe=8)


def q_pq_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ COMPACTION exactness: retire vec_id % 5 == 2, fold tombstones
    and append fragments into one fresh cluster-partitioned generation
    (pq_index_compact, shared index_store discipline), then probe. Same
    oracle as pq_index_retire: compact must not move a single neighbor or
    ADC distance."""
    from btrdb_server_spark.functions.similarity import (
        pq_index_compact,
        pq_index_retire,
        pq_index_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _mutable_index_copy(("pq", sf_dir), _pq_builder(spark, sf_dir))
    pq_index_retire(
        spark, idx, emb.where(F.col("vec_id") % 5 == 2).select("vec_id")
    )
    pq_index_compact(spark, idx)
    return pq_index_topk(spark, idx, _pq_probe_vec(spark, sf_dir), k=10, nprobe=8)


def q_pq_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-balance audit of the persisted IVF-PQ index: per-cluster code
    count and corpus share — same staleness gauge (and same oracle) as
    ivf_index_stats, since both indexes share the coarse quantizer."""
    from btrdb_server_spark.functions.similarity import pq_index_stats

    idx = _memo_index(("pq", sf_dir), _pq_builder(spark, sf_dir))
    return pq_index_stats(spark, idx)


def q_pq_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer-drift gauge of the persisted IVF-PQ index
    (pq_index_drift): the mean/max QUANTIZATION residual — the squared
    L2 between a vector and its PQ reconstruction, exactly the error ADC
    adds to every probe distance — over the deterministic vec_id % 3
    sample, re-encoded row-locally against the index's frozen persisted
    codebooks (bit-identical to the stored codes). The operator's
    rebuild trigger: re-gauge each append batch and re-train when the
    mean residual outgrows its build-time value. Residuals quantize to
    int64 micro-units before the global sum, so the mean is
    order-independent; the oracle replays the same per-subspace min
    distance, quantization, and division sequence in SQL."""
    from btrdb_server_spark.functions.similarity import pq_index_drift

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _memo_index(("pq", sf_dir), _pq_builder(spark, sf_dir))
    return pq_index_drift(spark, idx, emb, sample_mod=3)


def q_pq_index_reencode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer EVOLUTION exactness (pq_index_reencode — VERDICT r12
    #3): retire vec_id % 5 == 2, then re-train the codebooks on the LIVE
    corpus (pq_train, one Lloyd iteration from the deterministic seeds)
    and re-encode every live cell through the generation-swap machinery
    (new codebooks + cells generations, ONE atomic manifest flip, old
    generations on the retention ledger), then probe all cells. The
    oracle replays the whole pipeline in SQL — live filter, seed
    assignment, the Lloyd mean step (round-6 per-dim means, the pq_train
    oracle's formulation), re-encode argmin against the trained
    codebooks, ADC — so a green row proves reencode-then-probe is
    bit-equal to a from-scratch rebuild with the same centroids and the
    same trained quantizer over the post-delete corpus."""
    from btrdb_server_spark.functions.similarity import (
        pq_index_reencode,
        pq_index_retire,
        pq_index_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _mutable_index_copy(("pq", sf_dir), _pq_builder(spark, sf_dir))
    pq_index_retire(
        spark, idx, emb.where(F.col("vec_id") % 5 == 2).select("vec_id")
    )
    pq_index_reencode(emb, idx, train_iters=1)
    return pq_index_topk(spark, idx, _pq_probe_vec(spark, sf_dir), k=10, nprobe=8)


def q_pq_index_reencode_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The re-encode REMEDY measured by the drift gauge: mean
    quantization residual over the deterministic live sample BEFORE
    (frozen seed codebooks, post-retire) and AFTER pq_index_reencode
    re-trains on the live corpus — the residual must drop (each sampled
    subvector moves to its nearest NEW centroid; k-means' objective
    step), closing the loop pq_index_drift opens: gauge -> threshold ->
    re-encode -> gauge again. One row: n_sampled, mean_resid_seed,
    mean_resid_trained, resid_dropped."""
    from btrdb_server_spark.functions.similarity import (
        pq_index_drift,
        pq_index_reencode,
        pq_index_retire,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    live = emb.where(F.col("vec_id") % 5 != 2)
    idx = _mutable_index_copy(("pq", sf_dir), _pq_builder(spark, sf_dir))
    pq_index_retire(
        spark, idx, emb.where(F.col("vec_id") % 5 == 2).select("vec_id")
    )
    before = pq_index_drift(spark, idx, live, sample_mod=3).select(
        "n_sampled", F.col("mean_resid").alias("mean_resid_seed")
    )
    pq_index_reencode(emb, idx, train_iters=1)
    after = pq_index_drift(spark, idx, live, sample_mod=3).select(
        F.col("mean_resid").alias("mean_resid_trained")
    )
    return before.crossJoin(after).select(
        "n_sampled",
        "mean_resid_seed",
        "mean_resid_trained",
        (F.col("mean_resid_trained") <= F.col("mean_resid_seed")).alias(
            "resid_dropped"
        ),
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.similarity import cosine_topk_by_id

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_by_id(emb, probe_id=0, k=10)


def q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact top-k: one corpus scan serves probes 0-4 (broadcast
    probe batch, salted two-phase per-probe heap)."""
    from btrdb_server_spark.functions.similarity import cosine_topk_batch

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_batch(emb, probe_ids=[0, 1, 2, 3, 4], k=10)


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.similarity import hyperplanes, lsh_bucket_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    planes = hyperplanes(64, planes=8, seed=42)
    out = lsh_bucket_assignments(emb, planes)
    return out.select("vec_id", F.col("bucket").cast("long").alias("bucket"))


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN end-to-end: probe bucket via broadcast 1-row join,
    exact cosine only inside the probe's bucket (~1/2^planes of the corpus
    at scale, where bucket is the partition key)."""
    from btrdb_server_spark.functions.similarity import ann_topk_lsh_by_id, hyperplanes

    emb = load_table(spark, sf_dir, "embeddings")
    # 4 planes -> 16 buckets: selective enough to prune, populous enough
    # that the top-k actually ranks within-bucket candidates.
    return ann_topk_lsh_by_id(emb, probe_id=0, planes=hyperplanes(64, planes=4, seed=42), k=10)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from btrdb_server_spark.functions.similarity import near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return near_dup_pairs(emb, threshold=0.35, block_col="label")


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights toward the English slice of the corpus
    (hashed-unigram log-likelihood ratio, broadcast B-row feature table)."""
    from btrdb_server_spark.functions.curation import dsir_weights

    return dsir_weights(load_table(spark, sf_dir, "documents"))


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate 8-token windows (ExactSubstr on a grid):
    the spans a pipeline cuts instead of dropping whole documents."""
    from btrdb_server_spark.functions.dedup import duplicate_spans

    return duplicate_spans(load_table(spark, sf_dir, "documents"))


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: top-10 cosine neighbors of probe 0
    with a different label, probe broadcast as a 1-row join."""
    from btrdb_server_spark.functions.similarity import hard_negative_topk

    return hard_negative_topk(load_table(spark, sf_dir, "embeddings"), probe_id=0, k=10)


def q_dormancy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormancy/winback sizing over 2024: per-user longest silence, users
    dormant >=7d who returned, exact percentiles of the max-silence
    distribution."""
    from btrdb_server_spark.operators.events import dormancy_stats

    return dormancy_stats(load_table(spark, sf_dir, "events"), T_2024, T_2025)


def _dormancy_oracle_sql() -> str:
    return f"""
        WITH ev AS (
            SELECT user_id AS u, epoch_ns(ts) AS t, ts, event_id FROM events
        ), g AS (
            SELECT u, t - lag(t) OVER (PARTITION BY u
                                       ORDER BY ts, event_id) AS g
            FROM ev WHERE t >= {T_2024} AND t < {T_2025}
        ), pu AS (
            SELECT u, CAST(max(g) AS BIGINT) AS v FROM g
            WHERE g IS NOT NULL GROUP BY 1
        ), h AS (SELECT v, count(*) AS c FROM pu GROUP BY 1),
        cum AS (
            SELECT v, CAST(sum(c) OVER (
                ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM h
        ), t AS (
            SELECT CAST(sum(c) AS BIGINT) AS n, min(v) AS g_min,
                   max(v) AS g_max FROM h
        ), pct AS (
            SELECT t.n AS n_users, t.g_min, t.g_max,
                   min(CASE WHEN cum.cum >= CAST(ceil(CAST(t.n AS DOUBLE) * 0.5) AS BIGINT)
                            THEN cum.v END) AS p50,
                   min(CASE WHEN cum.cum >= CAST(ceil(CAST(t.n AS DOUBLE) * 0.9) AS BIGINT)
                            THEN cum.v END) AS p90,
                   min(CASE WHEN cum.cum >= CAST(ceil(CAST(t.n AS DOUBLE) * 0.99) AS BIGINT)
                            THEN cum.v END) AS p99
            FROM cum, t GROUP BY 1, 2, 3
        ), dorm AS (
            SELECT CAST(sum(CASE WHEN v >= 604800000000000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dormant
            FROM pu
        )
        SELECT pct.n_users, dorm.n_dormant, pct.g_min, pct.g_max,
               pct.p50, pct.p90, pct.p99
        FROM pct, dorm
    """


def q_uplift_quintiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pre-period-quintile arm means and uplift on purchase totals:
    exact type-1 cuts, integer cells, fixed division order."""
    from btrdb_server_spark.operators.events import uplift_quintiles

    return uplift_quintiles(
        load_table(spark, sf_dir, "events"), T_JAN15, T_2024, T_FEB
    )


def _uplift_oracle_sql(n_bins: int = 5) -> str:
    arm = "((('0x' || substr(md5('ab' || ':' || u), 1, 8))::BIGINT) % 2)"
    picks = ",\n                   ".join(
        f"min(CASE WHEN cum.cum >= CAST(ceil(CAST(t.n AS DOUBLE) * {k / n_bins})"
        f" AS BIGINT) THEN cum.x END) AS c{k}"
        for k in range(1, n_bins)
    )
    qbin = " + ".join(
        f"(CASE WHEN pa.x >= cuts.c{k} THEN 1 ELSE 0 END)" for k in range(1, n_bins)
    )
    return f"""
        WITH ev AS (
            SELECT user_id AS u, epoch_ns(ts) AS t,
                   CAST(round(value / 0.01) AS BIGINT) AS vq
            FROM events WHERE event_type = 'purchase'
        ), pu AS (
            SELECT u,
                   CAST(sum(CASE WHEN t < {T_JAN15} THEN vq ELSE 0 END)
                        AS BIGINT) AS x,
                   CAST(sum(CASE WHEN t >= {T_JAN15} THEN vq ELSE 0 END)
                        AS BIGINT) AS y
            FROM ev WHERE t >= {T_2024} AND t < {T_FEB} GROUP BY 1
        ), pa AS (SELECT u, x, y, {arm} AS arm FROM pu),
        h AS (SELECT x, count(*) AS c FROM pa GROUP BY 1),
        cum AS (
            SELECT x, CAST(sum(c) OVER (ORDER BY x
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM h
        ), t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
        cuts AS (SELECT {picks} FROM cum, t),
        cells AS (
            SELECT CAST({qbin} AS BIGINT) AS qbin,
                   CAST(sum(CASE WHEN pa.arm = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(sum(CASE WHEN pa.arm = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b,
                   CAST(sum(CASE WHEN pa.arm = 0 THEN pa.y ELSE 0 END)
                        AS BIGINT) AS sy_a,
                   CAST(sum(CASE WHEN pa.arm = 1 THEN pa.y ELSE 0 END)
                        AS BIGINT) AS sy_b
            FROM pa CROSS JOIN cuts GROUP BY 1
        )
        SELECT qbin, n_a, n_b,
               CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS mean_y_a,
               CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0 AS mean_y_b,
               (CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0
                - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0) AS uplift
        FROM cells ORDER BY qbin
    """


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: first-activity-week cohorts, per-user
    cumulative purchase revenue by week offset; integer sums, one
    division per row."""
    from btrdb_server_spark.operators.events import cohort_ltv

    return cohort_ltv(load_table(spark, sf_dir, "events"), T_2024)


WEEK_NS = 604_800_000_000_000


def _cohort_ltv_oracle_sql() -> str:
    return f"""
        WITH ev AS (
            SELECT user_id AS u, epoch_ns(ts) AS t, event_type,
                   CAST(round(value / 0.01) AS BIGINT) AS vq
            FROM events
        ), firsts AS (
            SELECT u, (min(t) - {T_2024}) // {WEEK_NS} AS cohort_week
            FROM ev GROUP BY 1
        ), sizes AS (
            SELECT cohort_week, count(*) AS n_users FROM firsts GROUP BY 1
        ), rev AS (
            SELECT f.cohort_week,
                   ((e.t - {T_2024}) // {WEEK_NS}) - f.cohort_week
                       AS week_offset,
                   CAST(sum(e.vq) AS BIGINT) AS rev_q
            FROM ev e JOIN firsts f USING (u)
            WHERE e.event_type = 'purchase' GROUP BY 1, 2
        ), x AS (
            SELECT r.cohort_week, r.week_offset, s.n_users, r.rev_q,
                   CAST(sum(r.rev_q) OVER (PARTITION BY r.cohort_week
                        ORDER BY r.week_offset ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum_q
            FROM rev r JOIN sizes s USING (cohort_week)
        )
        SELECT cohort_week, week_offset, n_users,
               CAST(rev_q AS DOUBLE) / 100.0 AS rev,
               CAST(cum_q AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0
                   AS cum_ltv
        FROM x ORDER BY 1, 2
    """


def q_streaming_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-hold TWA as a continuous query: keyed state holds the frontier
    point and the open window's integer partials; a window emits exactly
    once when the held segment crosses its end. Union over four
    sequential slices is bit-equal to the batch scan on closed windows."""

    from btrdb_server_spark.streaming.stateful import streaming_twa

    work = _workdir(prefix="btrdb_stwa_q_")
    src_d = f"{work}/src"
    pts = load_points(spark, sf_dir, T_2024, T_JAN10).where(
        F.col("uuid").isin("purchase", "error")
    )
    _write_time_slices(pts, T_2024, T_JAN10, src_d)
    stream = (
        spark.readStream.schema("uuid string, time long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_d)
    )
    out = _run_stream(spark, streaming_twa(stream, T_2024, DAY_NS), "stream_twa_out")
    return out.orderBy("uuid", "time")


def q_streaming_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-(stream, day) p50/p90/p99 at ingest: keyed state carries
    one value-histogram per open window (bounded by the quantized value
    domain, not the point count); closed windows emit exactly once and
    bit-equal the batch order-statistic scan — the latency-SLA primitive
    the reference can only serve by raw scanning."""

    from btrdb_server_spark.streaming.stateful import streaming_quantile

    work = _workdir(prefix="btrdb_squant_q_")
    src_d = f"{work}/src"
    pts = load_points(spark, sf_dir, T_2024, T_JAN10).where(
        F.col("uuid").isin("purchase", "error")
    )
    _write_time_slices(pts, T_2024, T_JAN10, src_d)
    stream = (
        spark.readStream.schema("uuid string, time long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_d)
    )
    out = _run_stream(
        spark, streaming_quantile(stream, T_2024, DAY_NS), "stream_quantile_out"
    )
    return out.orderBy("uuid", "time")


def _streaming_quantile_oracle_sql() -> str:
    t0, t1, w = T_2024, T_JAN10, DAY_NS
    return f"""
        {PTS_CTE}, src AS (
            SELECT uuid, time, CAST(round(value / 0.01) AS BIGINT) AS vq
            FROM pts
            WHERE uuid IN ('purchase', 'error')
              AND time >= {t0} AND time < {t1}
        ), mx AS (SELECT uuid, max(time) AS maxt FROM src GROUP BY 1),
        wv AS (
            SELECT uuid, (time - {t0}) // {w} AS widx, vq,
                   row_number() OVER (PARTITION BY uuid, (time - {t0}) // {w}
                                      ORDER BY vq) AS rn,
                   count(*) OVER (PARTITION BY uuid,
                                  (time - {t0}) // {w}) AS n
            FROM src
        ), agg AS (
            SELECT uuid, widx, any_value(n) AS n,
                   max(CASE WHEN rn = (1 * n + 1) // 2 THEN vq END) AS k50,
                   max(CASE WHEN rn = (9 * n + 9) // 10 THEN vq END) AS k90,
                   max(CASE WHEN rn = (99 * n + 99) // 100 THEN vq END) AS k99
            FROM wv GROUP BY 1, 2
        )
        SELECT agg.uuid, {t0} + agg.widx * {w} AS time,
               CAST(agg.n AS BIGINT) AS n,
               CAST(agg.k50 AS DOUBLE) / 100.0 AS p50,
               CAST(agg.k90 AS DOUBLE) / 100.0 AS p90,
               CAST(agg.k99 AS DOUBLE) / 100.0 AS p99
        FROM agg JOIN mx ON agg.uuid = mx.uuid
        WHERE agg.widx < (mx.maxt - {t0}) // {w}
        ORDER BY agg.uuid, time
    """


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity filtering, self-trained: per-doc ppl under an add-one
    corpus bigram LM (libm ln/exp, ascending-position folds)."""
    from btrdb_server_spark.functions.text import bigram_perplexity

    return bigram_perplexity(load_table(spark, sf_dir, "documents"))


def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact card: cluster-size histogram with docs-removed
    accounting under the keeper rule."""
    from btrdb_server_spark.functions.dedup import dedup_stats

    return dedup_stats(load_table(spark, sf_dir, "documents"), threshold=0.5)


def q_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier late-shipment rate with Wilson 95% bounds — the
    sample-size-honest reliability leaderboard."""
    from btrdb_server_spark.operators.olap import supplier_scorecard

    return supplier_scorecard(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional corpus sample (Efraimidis-Spirakis keys,
    deterministic salted-hash uniforms, global top-k without a sort)."""
    from btrdb_server_spark.functions.curation import weighted_sample

    return weighted_sample(load_table(spark, sf_dir, "documents"), k=100)


def q_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 vs nprobe (1/2/4/8) per probe against the exact batched
    scan — the ANN tuning curve; one corpus pass serves every setting."""
    from btrdb_server_spark.functions.similarity import (
        centroids_from_rows,
        ivf_recall_curve,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_recall_curve(emb, centroids_from_rows(emb, k=8), [0, 1, 2, 3])


def q_streaming_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Availability/SLA at ingest: per (stream, day) slot occupancy vs an
    hourly cadence from bounded keyed state; closed windows emit exactly
    once and bit-equal the batch coverage scan."""

    from btrdb_server_spark.streaming.stateful import streaming_coverage

    work = _workdir(prefix="btrdb_scov_q_")
    src_d = f"{work}/src"
    pts = load_points(spark, sf_dir, T_2024, T_JAN10).where(
        F.col("uuid").isin("purchase", "error")
    )
    _write_time_slices(pts, T_2024, T_JAN10, src_d)
    stream = (
        spark.readStream.schema("uuid string, time long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_d)
    )
    out = _run_stream(
        spark,
        streaming_coverage(stream, T_2024, DAY_NS, HOUR_NS),
        "stream_coverage_out",
    )
    return out.orderBy("uuid", "time")


def _streaming_coverage_oracle_sql() -> str:
    t0, t1, w, c = T_2024, T_JAN10, DAY_NS, HOUR_NS
    n_exp = w // c
    return f"""
        {PTS_CTE}, src AS (
            SELECT uuid, time FROM pts
            WHERE uuid IN ('purchase', 'error')
              AND time >= {t0} AND time < {t1}
        ), mx AS (SELECT uuid, max(time) AS maxt FROM src GROUP BY 1),
        sl AS (
            SELECT uuid, (time - {t0}) // {w} AS widx,
                   ((time - {t0}) % {w}) // {c} AS slot
            FROM src
        ), occ AS (
            SELECT uuid, widx, slot, count(*) AS cnt
            FROM sl GROUP BY 1, 2, 3
        ), runs AS (
            SELECT uuid, widx, slot, cnt,
                   slot - lag(slot) OVER (PARTITION BY uuid, widx
                                          ORDER BY slot) AS jump
            FROM occ
        ), per AS (
            SELECT uuid, widx,
                   count(*) AS n_present,
                   CAST(sum(cnt) AS BIGINT) AS n_points,
                   COALESCE(max(jump - 1), 0) AS interior,
                   min(slot) AS first_slot, max(slot) AS last_slot
            FROM runs GROUP BY 1, 2
        )
        SELECT per.uuid, {t0} + per.widx * {w} AS time,
               CAST({n_exp} AS BIGINT) AS n_expected,
               CAST(per.n_present AS BIGINT) AS n_present,
               per.n_points,
               CAST(greatest(per.interior, per.first_slot,
                             {n_exp} - 1 - per.last_slot) AS BIGINT)
                   AS longest_gap_slots,
               CAST(per.n_present AS DOUBLE) / CAST({n_exp} AS DOUBLE)
                   AS coverage
        FROM per JOIN mx ON per.uuid = mx.uuid
        WHERE per.widx < (mx.maxt - {t0}) // {w}
        ORDER BY per.uuid, time
    """


def q_label_noise_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-error mining: vectors whose best label centroid is not their
    own, worst margin first (confident-learning-lite screen)."""
    from btrdb_server_spark.functions.similarity import label_noise_screen

    return label_noise_screen(load_table(spark, sf_dir, "embeddings"))


def q_psi_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily PSI drift curve of the view stream vs frozen Jan 1-15
    reference deciles — "when did the feature start moving"."""
    from btrdb_server_spark.operators.stat import psi_timeline

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return psi_timeline(pts, "view", T_2024, T_JAN15, T_JAN15, T_FEB, DAY_NS)


def _psi_timeline_oracle_sql(bins: int = 10) -> str:
    picks = ",\n                   ".join(
        f"min(CASE WHEN cum.cum >= CAST(ceil(CAST(t.nr AS DOUBLE) * {k / bins})"
        f" AS BIGINT) THEN cum.vq END) AS c{k}"
        for k in range(1, bins)
    )
    binexpr = " + ".join(
        f"(CASE WHEN h.vq >= cuts.c{k} THEN 1 ELSE 0 END)" for k in range(1, bins)
    )
    d0 = (T_JAN15 - T_2024) // DAY_NS
    d1 = (T_FEB - T_2024 + DAY_NS - 1) // DAY_NS
    return f"""
        {PTS_CTE}, href AS (
            SELECT CAST(round(value / 0.01) AS BIGINT) AS vq, count(*) AS c
            FROM pts WHERE uuid = 'view'
              AND time >= {T_2024} AND time < {T_JAN15} GROUP BY 1
        ), hcur AS (
            SELECT (time - {T_2024}) // {DAY_NS} AS day,
                   CAST(round(value / 0.01) AS BIGINT) AS vq, count(*) AS c
            FROM pts WHERE uuid = 'view'
              AND time >= {T_JAN15} AND time < {T_FEB} GROUP BY 1, 2
        ), cum AS (
            SELECT vq, CAST(sum(c) OVER (ORDER BY vq
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM href
        ), t AS (SELECT CAST(sum(c) AS BIGINT) AS nr FROM href),
        cuts AS (
            SELECT {picks}
            FROM cum, t
        ), bref AS (
            SELECT CAST({binexpr} AS BIGINT) AS bin,
                   CAST(sum(h.c) AS BIGINT) AS n_ref
            FROM href h CROSS JOIN cuts GROUP BY 1
        ), bcur AS (
            SELECT h.day, CAST({binexpr} AS BIGINT) AS bin,
                   CAST(sum(h.c) AS BIGINT) AS n_cur
            FROM hcur h CROSS JOIN cuts GROUP BY 1, 2
        ), spine AS (
            SELECT d.range AS day, b.range AS bin
            FROM range({d0}, {d1}) d, range(0, {bins}) b
        ), both_ AS (
            SELECT spine.day, spine.bin,
                   COALESCE(bref.n_ref, 0) AS n_ref,
                   COALESCE(bcur.n_cur, 0) AS n_cur
            FROM spine
            LEFT JOIN bref ON spine.bin = bref.bin
            LEFT JOIN bcur ON spine.day = bcur.day AND spine.bin = bcur.bin
        ), totals AS (
            SELECT day, CAST(sum(n_ref) AS BIGINT) AS tr,
                   CAST(sum(n_cur) AS BIGINT) AS tc
            FROM both_ GROUP BY 1
        ), terms AS (
            SELECT b.day, b.bin, b.n_cur,
                   (((CAST(b.n_cur AS DOUBLE) + 1.0)
                     / (CAST(tt.tc AS DOUBLE) + {float(bins)})
                     - (CAST(b.n_ref AS DOUBLE) + 1.0)
                       / (CAST(tt.tr AS DOUBLE) + {float(bins)}))
                    * ln(((CAST(b.n_cur AS DOUBLE) + 1.0)
                          / (CAST(tt.tc AS DOUBLE) + {float(bins)}))
                         / ((CAST(b.n_ref AS DOUBLE) + 1.0)
                            / (CAST(tt.tr AS DOUBLE) + {float(bins)}))))
                       AS psi_term
            FROM both_ b JOIN totals tt ON b.day = tt.day
        )
        SELECT day, CAST(sum(n_cur) AS BIGINT) AS n_cur,
               CAST(0 AS DOUBLE)
                 + list_reduce(list(psi_term ORDER BY bin), (a, b) -> a + b)
                   AS psi
        FROM terms GROUP BY day ORDER BY day
    """


def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup knob-picking card: verified near-dup pairs and touched docs
    at each Jaccard threshold, from one candidate set + one verify."""
    from btrdb_server_spark.functions.dedup import dedup_threshold_curve

    return dedup_threshold_curve(load_table(spark, sf_dir, "documents"))


def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing run report: per-shard sequence fill, tail waste, and the
    share of documents split across sequence boundaries."""
    from btrdb_server_spark.functions.curation import pack_efficiency

    return pack_efficiency(load_table(spark, sf_dir, "documents"))


def q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-rate anomalies: hour-of-day Poisson baselines from Jan
    1-21, week-4 hours scored with the Anscombe z (sqrt is correctly
    rounded — bit parity without libm UDFs); outage hours score too."""
    from btrdb_server_spark.operators.stat import rate_anomaly

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return rate_anomaly(pts, T_2024, 21, 10, HOUR_NS, DAY_NS)


def _streaming_twa_oracle_sql() -> str:
    t0, t1, w = T_2024, T_JAN10, DAY_NS
    return f"""
        {PTS_CTE}, src AS (
            SELECT uuid, time, CAST(round(value / 0.01) AS BIGINT) AS vq,
                   value
            FROM pts
            WHERE uuid IN ('purchase', 'error')
              AND time >= {t0} AND time < {t1}
        ), seg AS (
            SELECT uuid, time AS s,
                   lead(time) OVER (PARTITION BY uuid
                                    ORDER BY time, value) AS e,
                   vq
            FROM src
        ), mx AS (SELECT uuid, max(time) AS maxt FROM src GROUP BY 1),
        frag AS (
            SELECT seg.uuid, u.widx, seg.vq,
                   least(seg.e, {t0} + (u.widx + 1) * {w})
                     - greatest(seg.s, {t0} + u.widx * {w}) AS ov
            FROM seg, unnest(generate_series(
                    (seg.s - {t0}) // {w},
                    (seg.e - 1 - {t0}) // {w})) AS u(widx)
            WHERE seg.e IS NOT NULL AND seg.e > seg.s
        ), agg AS (
            SELECT uuid, widx, sum(CAST(vq AS HUGEINT) * ov) AS num,
                   CAST(sum(ov) AS BIGINT) AS cov
            FROM frag GROUP BY 1, 2
        )
        SELECT agg.uuid, {t0} + agg.widx * {w} AS time,
               agg.cov AS covered_ns,
               CAST(agg.num AS DOUBLE) / CAST(agg.cov AS DOUBLE) / 100.0
                   AS twa
        FROM agg JOIN mx ON agg.uuid = mx.uuid
        WHERE agg.widx < (mx.maxt - {t0}) // {w}
        ORDER BY agg.uuid, time
    """


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness of the error stream's January gaps
    (bucketed lag, exact integer moments, fixed double sequence)."""
    from btrdb_server_spark.operators.derive import burstiness

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return burstiness(pts, "error", T_2024, T_FEB, bucket_pw=42)


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift statistic for the view stream, Jan 1-15 vs Jan
    15-Feb: integer |n_b·cum_a − n_a·cum_b| argmax, one division."""
    from btrdb_server_spark.operators.stat import ks_test

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return ks_test(pts, "view", T_2024, T_JAN15, T_JAN15, T_FEB)


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier purchase-lifetime survival over January: churn = last
    purchase >7 days before range end, right-censored otherwise; KM
    product as a sorted fold over the distinct-lifetime factors."""
    from btrdb_server_spark.operators.events import kaplan_meier

    return kaplan_meier(
        load_table(spark, sf_dir, "events"), T_2024, T_FEB,
        metric_type="purchase",
    )


def _km_oracle_sql() -> str:
    gap = 604_800_000_000_000
    return f"""
        WITH ev AS (
            SELECT user_id AS u, epoch_ns(ts) AS t FROM events
            WHERE event_type = 'purchase'
        ), pu AS (
            SELECT u, min(t) AS ft, max(t) AS lt FROM ev
            WHERE t >= {T_2024} AND t < {T_FEB} GROUP BY 1
        ), lf AS (
            SELECT (lt - ft) // {DAY_NS} AS life,
                   (lt < {T_FEB - gap}) AS churned
            FROM pu
        ), bl AS (
            SELECT life, count(*) AS n_at,
                   CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d
            FROM lf GROUP BY 1
        ), rk AS (
            SELECT life, d,
                   CAST(sum(n_at) OVER (ORDER BY life DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
            FROM bl
        ), arr AS (
            SELECT list(struct_pack(
                       life := life,
                       f := CAST(1 AS DOUBLE)
                            - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE),
                       d := d, n_risk := n_risk) ORDER BY life) AS a
            FROM rk WHERE d > 0
        )
        SELECT a[u.i].life AS t_days, a[u.i].n_risk AS n_risk,
               a[u.i].d AS n_churn,
               list_reduce(
                   list_concat([CAST(1 AS DOUBLE)],
                               list_transform(a[1:u.i], x -> x.f)),
                   (p, q) -> p * q) AS survival
        FROM arr, unnest(range(1, len(a) + 1)) AS u(i)
        ORDER BY t_days
    """


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP cube over (returnflag, linestatus): leaf cells, subtotals,
    grand total in one grouping-sets aggregation; revenue in exact cents."""
    from btrdb_server_spark.operators.olap import revenue_rollup

    return revenue_rollup(load_table(spark, sf_dir, "lineitem"))


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift of the view stream: Jan 1-15 reference deciles vs Jan
    15-Feb current period, Laplace-smoothed, sorted-fold total."""
    from btrdb_server_spark.operators.stat import psi_drift

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return psi_drift(pts, "view", T_2024, T_JAN15, T_JAN15, T_FEB)


def _psi_oracle_sql(bins: int = 10) -> str:
    picks = ",\n                   ".join(
        f"min(CASE WHEN cum.cum >= CAST(ceil(CAST(t.nr AS DOUBLE) * {k / bins})"
        f" AS BIGINT) THEN cum.vq END) AS c{k}"
        for k in range(1, bins)
    )
    binexpr = " + ".join(
        f"(CASE WHEN h.vq >= cuts.c{k} THEN 1 ELSE 0 END)" for k in range(1, bins)
    )
    return f"""
        {PTS_CTE}, href AS (
            SELECT CAST(round(value / 0.01) AS BIGINT) AS vq, count(*) AS c
            FROM pts WHERE uuid = 'view'
              AND time >= {T_2024} AND time < {T_JAN15} GROUP BY 1
        ), hcur AS (
            SELECT CAST(round(value / 0.01) AS BIGINT) AS vq, count(*) AS c
            FROM pts WHERE uuid = 'view'
              AND time >= {T_JAN15} AND time < {T_FEB} GROUP BY 1
        ), cum AS (
            SELECT vq, CAST(sum(c) OVER (ORDER BY vq
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM href
        ), t AS (SELECT CAST(sum(c) AS BIGINT) AS nr FROM href),
        cuts AS (
            SELECT {picks}
            FROM cum, t
        ), bref AS (
            SELECT CAST({binexpr} AS BIGINT) AS bin, CAST(sum(h.c) AS BIGINT)
                       AS n_ref
            FROM href h CROSS JOIN cuts GROUP BY 1
        ), bcur AS (
            SELECT CAST({binexpr} AS BIGINT) AS bin, CAST(sum(h.c) AS BIGINT)
                       AS n_cur
            FROM hcur h CROSS JOIN cuts GROUP BY 1
        ), spine AS (SELECT range AS bin FROM range(0, {bins})),
        both_ AS (
            SELECT spine.bin, COALESCE(bref.n_ref, 0) AS n_ref,
                   COALESCE(bcur.n_cur, 0) AS n_cur
            FROM spine LEFT JOIN bref USING (bin) LEFT JOIN bcur USING (bin)
        ), totals AS (
            SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
                   CAST(sum(n_cur) AS BIGINT) AS tc
            FROM both_
        ), terms AS (
            SELECT bin, n_ref, n_cur,
                   (((CAST(n_cur AS DOUBLE) + 1.0)
                     / (CAST(tc AS DOUBLE) + {float(bins)})
                     - (CAST(n_ref AS DOUBLE) + 1.0)
                       / (CAST(tr AS DOUBLE) + {float(bins)}))
                    * ln(((CAST(n_cur AS DOUBLE) + 1.0)
                          / (CAST(tc AS DOUBLE) + {float(bins)}))
                         / ((CAST(n_ref AS DOUBLE) + 1.0)
                            / (CAST(tr AS DOUBLE) + {float(bins)}))))
                       AS psi_term
            FROM both_ CROSS JOIN totals
        ), folded AS (
            SELECT CAST(0 AS DOUBLE)
                   + list_reduce(list(psi_term ORDER BY bin),
                                 (a, b) -> a + b) AS psi
            FROM terms
        )
        SELECT terms.bin, terms.n_ref, terms.n_cur, terms.psi_term, folded.psi
        FROM terms CROSS JOIN folded ORDER BY terms.bin
    """


def q_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user January purchase concentration from
    the integer sorted-rank identity; one 4-op double at the end."""
    from btrdb_server_spark.operators.events import gini_spend

    return gini_spend(load_table(spark, sf_dir, "events"), T_2024, T_FEB)


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t between the two hash arms on experiment-period purchase
    totals: t and Welch-Satterthwaite df from exact per-arm integer
    moments."""
    from btrdb_server_spark.operators.events import welch_ttest

    return welch_ttest(load_table(spark, sf_dir, "events"), T_JAN15, T_2024, T_FEB)


def _welch_oracle_sql() -> str:
    arm = "((('0x' || substr(md5('ab' || ':' || u), 1, 8))::BIGINT) % 2)"
    da = "CAST(a.n_a AS DOUBLE)"
    db_ = "CAST(b.n_b AS DOUBLE)"
    var_a = (
        f"(CAST(a.syy_a AS DOUBLE) - CAST(a.sy_a AS DOUBLE)"
        f" * CAST(a.sy_a AS DOUBLE) / {da}) / ({da} - 1.0) / 10000.0"
    )
    var_b = (
        f"(CAST(b.syy_b AS DOUBLE) - CAST(b.sy_b AS DOUBLE)"
        f" * CAST(b.sy_b AS DOUBLE) / {db_}) / ({db_} - 1.0) / 10000.0"
    )
    se2a = f"({var_a} / {da})"
    se2b = f"({var_b} / {db_})"
    return f"""
        WITH ev AS (
            SELECT user_id AS u, epoch_ns(ts) AS t,
                   CAST(round(value / 0.01) AS BIGINT) AS vq
            FROM events WHERE event_type = 'purchase'
        ), pu AS (
            SELECT u, CAST(sum(vq) AS BIGINT) AS y
            FROM ev WHERE t >= {T_JAN15} AND t < {T_FEB} GROUP BY 1
        ), pa AS (SELECT y, {arm} AS arm FROM pu),
        arms AS (
            SELECT arm, count(*) AS n, CAST(sum(y) AS BIGINT) AS sy,
                   sum(CAST(y AS HUGEINT) * y) AS syy
            FROM pa GROUP BY 1
        ), a AS (SELECT n AS n_a, sy AS sy_a, syy AS syy_a FROM arms
                 WHERE arm = 0),
        b AS (SELECT n AS n_b, sy AS sy_b, syy AS syy_b FROM arms
              WHERE arm = 1)
        SELECT a.n_a, b.n_b,
               CAST(a.sy_a AS DOUBLE) / {da} / 100.0 AS mean_a,
               CAST(b.sy_b AS DOUBLE) / {db_} / 100.0 AS mean_b,
               (CAST(a.sy_a AS DOUBLE) / {da} / 100.0
                - CAST(b.sy_b AS DOUBLE) / {db_} / 100.0)
                 / sqrt({se2a} + {se2b}) AS t_stat,
               ({se2a} + {se2b}) * ({se2a} + {se2b})
                 / ({se2a} * {se2a} / ({da} - 1.0)
                    + {se2b} * {se2b} / ({db_} - 1.0)) AS df
        FROM a CROSS JOIN b
    """


def q_ab_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout on purchase totals (pre-period Jan 1-15,
    experiment Jan 15-Feb 1, salted-hash arms): per-arm means, pooled
    CUPED θ from integer raw-sums, adjusted means, SRM chi² — every
    double a fixed op sequence over exact integer moments."""
    from btrdb_server_spark.operators.events import ab_experiment

    return ab_experiment(
        load_table(spark, sf_dir, "events"), T_JAN15, T_2024, T_FEB
    )


def _ab_oracle_sql() -> str:
    arm = "((('0x' || substr(md5('ab' || ':' || u), 1, 8))::BIGINT) % 2)"
    return f"""
        WITH ev AS (
            SELECT user_id AS u, epoch_ns(ts) AS t,
                   CAST(round(value / 0.01) AS BIGINT) AS vq
            FROM events WHERE event_type = 'purchase'
        ), pu AS (
            SELECT u,
                   CAST(sum(CASE WHEN t < {T_JAN15} THEN vq ELSE 0 END)
                        AS BIGINT) AS x,
                   CAST(sum(CASE WHEN t >= {T_JAN15} THEN vq ELSE 0 END)
                        AS BIGINT) AS y
            FROM ev WHERE t >= {T_2024} AND t < {T_FEB} GROUP BY 1
        ), pa AS (SELECT u, x, y, {arm} AS arm FROM pu),
        pooled AS (
            SELECT count(*) AS n_all,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   sum(CAST(x AS HUGEINT) * y) AS sxy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx
            FROM pa
        ), arms AS (
            SELECT arm, count(*) AS n, CAST(sum(x) AS BIGINT) AS ax,
                   CAST(sum(y) AS BIGINT) AS ay
            FROM pa GROUP BY 1
        ), x1 AS (
            SELECT arms.arm, arms.n,
                   CAST(arms.ax AS DOUBLE) / CAST(arms.n AS DOUBLE) / 100.0
                       AS mean_x,
                   CAST(arms.ay AS DOUBLE) / CAST(arms.n AS DOUBLE) / 100.0
                       AS mean_y,
                   (CAST(pooled.n_all AS DOUBLE) * CAST(pooled.sxy AS DOUBLE)
                    - CAST(pooled.sx AS DOUBLE) * CAST(pooled.sy AS DOUBLE))
                   / (CAST(pooled.n_all AS DOUBLE) * CAST(pooled.sxx AS DOUBLE)
                      - CAST(pooled.sx AS DOUBLE) * CAST(pooled.sx AS DOUBLE))
                       AS theta,
                   CAST(pooled.sx AS DOUBLE) / CAST(pooled.n_all AS DOUBLE)
                       / 100.0 AS gmean_x,
                   (CAST(arms.n AS DOUBLE)
                    - CAST(pooled.n_all AS DOUBLE) / 2.0)
                   * (CAST(arms.n AS DOUBLE)
                      - CAST(pooled.n_all AS DOUBLE) / 2.0)
                   / (CAST(pooled.n_all AS DOUBLE) / 2.0) AS chi_term
            FROM arms CROSS JOIN pooled
        ), chi AS (SELECT sum(chi_term) AS srm_chi2 FROM x1)
        SELECT x1.arm, x1.n, x1.mean_x, x1.mean_y,
               (x1.mean_y - x1.theta * (x1.mean_x - x1.gmean_x)) AS mean_y_adj,
               x1.theta, chi.srm_chi2
        FROM x1 CROSS JOIN chi ORDER BY x1.arm
    """


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap CI for the purchase stream's January mean
    (B=200): deterministic salted-hash resampling against integer
    Poisson(1) thresholds; replicate means exact, CI bounds order-
    statistic picks."""
    from btrdb_server_spark.operators.stat import bootstrap_ci

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return bootstrap_ci(pts, "purchase", T_2024, T_FEB)


def _bootstrap_oracle_sql() -> str:
    from btrdb_server_spark.operators.stat import _poisson1_thresholds

    u = "((h * 69069 + r * 362437) % 4294967296)"
    k = " + ".join(
        f"(CASE WHEN {u} >= {t} THEN 1 ELSE 0 END)" for t in _poisson1_thresholds()
    )
    return f"""
        {PTS_CTE}, src AS (
            SELECT time, CAST(round(value / 0.01) AS BIGINT) AS vq FROM pts
            WHERE uuid = 'purchase' AND time >= {T_2024} AND time < {T_FEB}
        ), hsrc AS (
            SELECT time, vq,
                   (('0x' || substr(md5('boot' || ':' || time || ':' || vq),
                                    1, 8))::BIGINT) AS h
            FROM src
        ), rep AS (
            SELECT hsrc.vq, hsrc.h, u.r
            FROM hsrc, unnest(generate_series(0, 199)) AS u(r)
        ), ks AS (
            SELECT r, vq, ({k}) AS k FROM rep
        ), means AS (
            SELECT r,
                   CAST(CAST(sum(k * vq) AS BIGINT) AS DOUBLE)
                       / CAST(CAST(sum(k) AS BIGINT) AS DOUBLE) / 100.0 AS m
            FROM ks GROUP BY r HAVING CAST(sum(k) AS BIGINT) > 0
        ), cum AS (
            SELECT m, count(*) OVER (ORDER BY m, r
                                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM means
        ), tot AS (SELECT count(*) AS b FROM means),
        base AS (
            SELECT count(*) AS n, CAST(sum(vq) AS BIGINT) AS tv FROM src
        ), picks AS (
            SELECT tot.b,
                   min(CASE WHEN cum.cum >=
                       CAST(ceil(CAST(tot.b AS DOUBLE) * 0.025) AS BIGINT)
                       THEN cum.m END) AS ci_lo,
                   min(CASE WHEN cum.cum >=
                       CAST(ceil(CAST(tot.b AS DOUBLE) * 0.975) AS BIGINT)
                       THEN cum.m END) AS ci_hi
            FROM cum, tot GROUP BY 1
        )
        SELECT base.n, picks.b,
               CAST(base.tv AS DOUBLE) / CAST(base.n AS DOUBLE) / 100.0 AS mean,
               picks.ci_lo, picks.ci_hi
        FROM picks, base
    """


def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud: exact integer
    moments (1e-4 quantized, no rounding ties exist), metadata-scale
    power iteration with every float reduction an explicit ascending
    fold — eigenvalue and all 64 loadings bit-identical to the oracle."""
    from btrdb_server_spark.functions.linalg import pca_top_component

    return pca_top_component(load_table(spark, sf_dir, "embeddings"))


def _pca_oracle_sql(dim: int = 64, iterations: int = 3) -> str:
    matvec = (
        "list_transform(range(0, {d}), i -> list_reduce("
        "list_transform(range(0, {d}), j -> c[i*{d} + j + 1] * v[j + 1]),"
        " (a, b) -> a + b))"
    ).format(d=dim)
    its = []
    for k in range(1, iterations + 1):
        prev = "i0" if k == 1 else f"n{k - 1}"
        its.append(
            f"s{k} AS (SELECT c, n, {matvec} AS w FROM {prev}),\n"
            f"        n{k} AS (SELECT c, n, list_transform(w, x -> x / "
            f"sqrt(list_reduce(list_transform(w, y -> y * y), "
            f"(a, b) -> a + b))) AS v FROM s{k})"
        )
    its_sql = ",\n        ".join(its)
    return f"""
        WITH src AS (
            SELECT list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS xq
            FROM embeddings
        ), idx AS (SELECT range AS i FROM range(0, {dim})),
        pairs AS (
            SELECT a.i AS i, b.i AS j,
                   sum(CAST(src.xq[a.i + 1] AS HUGEINT) * src.xq[b.i + 1]) AS s
            FROM src, idx a, idx b WHERE b.i >= a.i GROUP BY 1, 2
        ), tv AS (
            SELECT a.i AS i, CAST(sum(src.xq[a.i + 1]) AS BIGINT) AS t,
                   count(*) AS n
            FROM src, idx a GROUP BY 1
        ), full_ AS (
            SELECT i, j, s FROM pairs
            UNION ALL
            SELECT j AS i, i AS j, s FROM pairs WHERE i <> j
        ), m AS (
            SELECT list(CAST(f.s AS DOUBLE)
                        - CAST(ti.t AS DOUBLE) * CAST(tj.t AS DOUBLE)
                          / CAST(ti.n AS DOUBLE)
                        ORDER BY f.i, f.j) AS c,
                   min(ti.n) AS n
            FROM full_ f JOIN tv ti ON f.i = ti.i JOIN tv tj ON f.j = tj.i
        ), i0 AS (
            SELECT c, n, list_transform(range(0, {dim}),
                                        i -> CAST(1 AS DOUBLE)) AS v
            FROM m
        ),
        {its_sql},
        lamq AS (
            SELECT n, v, list_reduce(
                list_transform(range(0, {dim}), i -> v[i + 1]
                    * list_reduce(
                        list_transform(range(0, {dim}),
                                       j -> c[i*{dim} + j + 1] * v[j + 1]),
                        (a, b) -> a + b)),
                (a, b) -> a + b) AS lam
            FROM n{iterations}
        )
        SELECT u.i AS i, v[u.i + 1] AS loading,
               lam / 100000000.0 AS eigenvalue, n
        FROM lamq, unnest(range(0, {dim})) AS u(i) ORDER BY i
    """


def q_variance_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day variance decomposition of the view stream over January:
    how much variance the daily cycle explains (seasonal strength).
    Integer Σv/Σv², sorted fold for the 24 between-group terms."""
    from btrdb_server_spark.operators.stat import variance_decompose

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return variance_decompose(pts, "view", T_2024, T_FEB)


def _variance_decompose_oracle_sql() -> str:
    return f"""
        {PTS_CTE}, src AS (
            SELECT (time // 3600000000000) % 24 AS g,
                   CAST(round(value / 0.01) AS BIGINT) AS vq
            FROM pts
            WHERE uuid = 'view' AND time >= {T_2024} AND time < {T_FEB}
        ), per_g AS (
            SELECT g, count(*) AS n_g, CAST(sum(vq) AS BIGINT) AS t_g,
                   sum(CAST(vq AS HUGEINT) * vq) AS ssq_g
            FROM src GROUP BY 1
        ), folded AS (
            SELECT list(CAST(t_g AS DOUBLE) * CAST(t_g AS DOUBLE)
                        / CAST(n_g AS DOUBLE) ORDER BY g) AS arr,
                   CAST(sum(n_g) AS BIGINT) AS n,
                   CAST(sum(t_g) AS BIGINT) AS t,
                   sum(ssq_g) AS ssq
            FROM per_g
        ), x AS (
            SELECT n,
                   CAST(ssq AS DOUBLE)
                     - CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
                       / CAST(n AS DOUBLE) AS ss_total,
                   (CAST(0 AS DOUBLE)
                     + list_reduce(arr, (a, b) -> a + b))
                     - CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
                       / CAST(n AS DOUBLE) AS ss_between
            FROM folded
        )
        SELECT n, ss_total / 10000.0 AS ss_total,
               ss_between / 10000.0 AS ss_group,
               (ss_total - ss_between) / 10000.0 AS ss_resid,
               ss_between / ss_total AS strength
        FROM x
    """


def q_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-flavor existence rollup: 1996 orders with >=1 line item
    shipped >90 days late, per priority — planned as a LeftSemi join
    co-hashed on the order key (each order emitted at most once)."""
    from btrdb_server_spark.operators.olap import late_order_priority

    return late_order_priority(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


def q_twa_hold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day time-weighted average (step-hold) of the click stream over
    January — the PI-historian aggregate irregular sampling can't bias;
    integer numerator/coverage, one double division."""
    from btrdb_server_spark.operators.stat import twa_hold

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return twa_hold(pts, "click", T_2024, T_FEB, DAY_NS)


def q_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional vs marginal entropy of the event-type Markov chain:
    how much the previous event predicts the next. Float terms summed by
    a SORTED fold on both engines (fixed order, bit-exact)."""
    from btrdb_server_spark.operators.events import markov_entropy

    return markov_entropy(load_table(spark, sf_dir, "events"))


def _markov_entropy_oracle_sql() -> str:
    return """
        WITH r AS (
            SELECT event_type AS from_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS to_type
            FROM events
        ), tr AS (
            SELECT from_type, to_type, count(*) AS cnt FROM r
            WHERE to_type IS NOT NULL GROUP BY 1, 2
        ), cu AS (
            SELECT from_type, CAST(sum(cnt) AS BIGINT) AS cu FROM tr GROUP BY 1
        ), cvt AS (
            SELECT to_type, CAST(sum(cnt) AS BIGINT) AS cv FROM tr GROUP BY 1
        ), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM tr),
        terms AS (
            SELECT list(-(CAST(cnt AS DOUBLE) / t)
                        * log2(CAST(cnt AS DOUBLE) / cu)
                        ORDER BY from_type, to_type) AS arr,
                   CAST(sum(cnt) AS BIGINT) AS n_trans
            FROM tr JOIN cu USING (from_type) CROSS JOIN tot
        ), marg AS (
            SELECT list(-(CAST(cv AS DOUBLE) / t)
                        * log2(CAST(cv AS DOUBLE) / t)
                        ORDER BY to_type) AS marr,
                   count(*) AS n_states
            FROM cvt CROSS JOIN tot
        )
        SELECT terms.n_trans, marg.n_states,
               CAST(0 AS DOUBLE) + list_reduce(terms.arr, (a, x) -> a + x)
                   AS h_cond,
               CAST(0 AS DOUBLE) + list_reduce(marg.marr, (a, x) -> a + x)
                   AS h_marg
        FROM terms, marg
    """


def q_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Kalman local-level filter of the error stream over January
    (q=1/4, r=4, exact binary fractions): final level, posterior variance
    and gain per day — every reused intermediate expanded to the same
    duplicated subexpression on both engines."""
    from btrdb_server_spark.operators.derive import kalman_level

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return kalman_level(pts, "error", T_2024, T_FEB, DAY_NS)


def _kalman_oracle_sql() -> str:
    ppred = "(acc[2] + CAST(0.25 AS DOUBLE))"
    k = f"({ppred} / ({ppred} + CAST(4.0 AS DOUBLE)))"
    return f"""
        {PTS_CTE}, src AS (
            SELECT (time - {T_2024}) // {DAY_NS} AS widx, time, value
            FROM pts
            WHERE uuid = 'error' AND time >= {T_2024} AND time < {T_FEB}
        ), arr AS (
            SELECT widx, count(*) AS n,
                   list(struct_pack(t := time, v := value)
                        ORDER BY time, value) AS a
            FROM src GROUP BY 1
        ), f AS (
            SELECT widx, n, list_reduce(
                list_transform(a, p -> [p.v, CAST(4.0 AS DOUBLE),
                                        CAST(0 AS DOUBLE)]),
                (acc, x) -> [
                    acc[1] + {k} * (x[1] - acc[1]),
                    (CAST(1.0 AS DOUBLE) - {k}) * {ppred},
                    {k}]
            ) AS s FROM arr
        )
        SELECT {T_2024} + widx * {DAY_NS} AS time, n,
               s[1] AS level, s[2] AS p_var, s[3] AS gain
        FROM f ORDER BY time
    """


def q_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTW distance between the click and view streams' zero-filled hourly
    profiles (Jan 1-8, 168 buckets each): all-integer DP in one Arrow
    batch, replayed by the oracle as a recursive CTE."""
    from btrdb_server_spark.operators.corr import dtw_distance

    pts = load_points(spark, sf_dir, T_2024, T_JAN8)
    return dtw_distance(pts, "click", "view", T_2024, T_JAN8, HOUR_NS)


def _dtw_oracle_sql() -> str:
    tot = (
        "SELECT (time - {t0}) // {w} AS widx, "
        "CAST(sum(CAST(round(value / 0.01) AS BIGINT)) AS BIGINT) AS yq "
        "FROM pts WHERE uuid = '{u}' AND time >= {t0} AND time < {t1} "
        "GROUP BY 1"
    )
    t0, t1, w, nw = T_2024, T_JAN8, HOUR_NS, (T_JAN8 - T_2024) // HOUR_NS
    ta = tot.format(t0=t0, t1=t1, w=w, u="click")
    tb = tot.format(t0=t0, t1=t1, w=w, u="view")
    return f"""
        WITH RECURSIVE pts AS (
            SELECT event_type AS uuid, epoch_ns(ts) AS time, value FROM events
        ),
        spine AS (SELECT range AS widx FROM range(0, {nw})),
        ta AS ({ta}), tb AS ({tb}),
        sa AS (SELECT list(COALESCE(ta.yq, 0) ORDER BY spine.widx) AS a
               FROM spine LEFT JOIN ta USING (widx)),
        sb AS (SELECT list(COALESCE(tb.yq, 0) ORDER BY spine.widx) AS b
               FROM spine LEFT JOIN tb USING (widx)),
        dp(i, row) AS (
            SELECT 1 AS i,
                   list_reduce(
                     list_concat([[abs(a[1] - b[1])]],
                                 list_transform(range(2, len(b)+1),
                                                j -> [j, abs(a[1] - b[j])])),
                     (acc, x) -> list_append(acc, x[2] + acc[len(acc)])) AS row
            FROM sa, sb
            UNION ALL
            SELECT dp.i + 1,
                   list_reduce(
                     list_concat([[abs(a[dp.i + 1] - b[1]) + dp.row[1]]],
                                 list_transform(range(2, len(b)+1),
                                                j -> [j, abs(a[dp.i + 1] - b[j])])),
                     (acc, x) -> list_append(acc,
                         x[2] + least(dp.row[x[1]], acc[len(acc)],
                                      dp.row[x[1] - 1]))) AS row
            FROM dp, sa, sb WHERE dp.i < len(a)
        )
        SELECT CAST(len(a) AS BIGINT) AS n_a, CAST(len(b) AS BIGINT) AS n_b,
               row[len(row)] AS dtw_q,
               CAST(row[len(row)] AS DOUBLE) / 100.0 AS dtw
        FROM dp, sa, sb WHERE dp.i = len(a)
    """


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the purchase stream's daily totals over
    January: integer S and tie-corrected variance, continuity-corrected Z
    — quadratic only in the 31 windows, never in points."""
    from btrdb_server_spark.operators.corr import mann_kendall

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return mann_kendall(pts, "purchase", T_2024, T_FEB, DAY_NS)


def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of the purchase stream's daily totals: type-1
    median of the 465 pairwise slopes plus the median intercept — each
    slope ONE exact-int division, the median an order-statistic pick."""
    from btrdb_server_spark.operators.corr import theilsen_trend

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return theilsen_trend(pts, "purchase", T_2024, T_FEB, DAY_NS)


def q_holt_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point Holt smoothing of the purchase stream (Jan 1-10): every
    point with its running (level, trend) — the flat fold the oracle
    replays op-for-op (level' subexpression duplicated identically)."""
    from btrdb_server_spark.operators.derive import holt_smooth

    pts = load_points(spark, sf_dir, T_2024, T_JAN10)
    return holt_smooth(pts, "purchase", T_2024, T_JAN10)


def q_streaming_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt smoothing as a continuous query: keyed state (frontier, level,
    trend) continues the 2-state recurrence across four sequentially
    written time slices; the emitted union is bit-equal to the batch
    fold, which is the oracle."""

    from btrdb_server_spark.streaming.stateful import streaming_holt

    work = _workdir(prefix="btrdb_sholt_q_")
    src_d = f"{work}/src"
    pts = load_points(spark, sf_dir, T_2024, T_JAN10).where(
        F.col("uuid").isin("purchase", "error")
    )
    _write_time_slices(pts, T_2024, T_JAN10, src_d)
    stream = (
        spark.readStream.schema("uuid string, time long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_d)
    )
    out = _run_stream(spark, streaming_holt(stream), "stream_holt_out")
    return out.orderBy("uuid", "time")


def _holt_flat_sql(uuid_filter: str, grouped: bool) -> str:
    """Shared flat-Holt oracle: growing list-of-structs fold (the plain
    struct accumulator is broken in DuckDB 1.0 — see the holt_forecast
    oracle note), level' duplicated inside the trend update exactly as the
    Spark lambda computes it."""
    key = "uuid, " if grouped else ""
    lp = (
        "CAST(0.25 AS DOUBLE) * x[1].v + CAST(0.75 AS DOUBLE)"
        " * (acc[len(acc)].l + acc[len(acc)].tr)"
    )
    return f"""
        {PTS_CTE}, src AS (
            SELECT uuid, time, value FROM pts
            WHERE {uuid_filter}
              AND time >= {T_2024} AND time < {T_JAN10}
        ), arr AS (
            SELECT {key}list(struct_pack(t := time, v := value)
                             ORDER BY time, value) AS a
            FROM src {('GROUP BY uuid') if grouped else ''}
        ), f AS (
            SELECT {key}list_reduce(
                list_transform(a, p -> [struct_pack(t := p.t, v := p.v,
                                                    l := p.v,
                                                    tr := CAST(0 AS DOUBLE))]),
                (acc, x) -> list_append(acc, struct_pack(
                    t := x[1].t, v := x[1].v,
                    l := {lp},
                    tr := CAST(0.125 AS DOUBLE) * (({lp}) - acc[len(acc)].l)
                          + CAST(0.875 AS DOUBLE) * acc[len(acc)].tr))
            ) AS r FROM arr
        )
        SELECT {key}u.r.t AS time, u.r.v AS value, u.r.l AS level,
               u.r.tr AS trend
        FROM f, unnest(f.r) AS u(r) ORDER BY {key}time
    """


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (4x1024, salted-md5 rows) over the corpus token
    stream, audited against the exact top-30 tokens: (tok, cnt, cms_est),
    cms_est >= cnt by construction — deterministic, integer, oracle-exact."""
    from btrdb_server_spark.functions.sketch import cms_heavy_hitters

    return cms_heavy_hitters(load_table(spark, sf_dir, "documents"))


def _cms_oracle_sql(depth: int = 4, width: int = 1024, k: int = 30) -> str:
    def hex4(md5_expr: str) -> str:
        return (
            f"((strpos('0123456789abcdef', substr({md5_expr},1,1))-1)*4096"
            f" + (strpos('0123456789abcdef', substr({md5_expr},2,1))-1)*256"
            f" + (strpos('0123456789abcdef', substr({md5_expr},3,1))-1)*16"
            f" + (strpos('0123456789abcdef', substr({md5_expr},4,1))-1))"
        )

    def bucket(r: int) -> str:
        m = f"md5('cms{r}:' || tok)"
        return f"({hex4(m)} % {width})"

    rows = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS r, {bucket(r)} AS b, cnt FROM counts"
        for r in range(depth)
    )
    probes = " UNION ALL ".join(
        f"SELECT tok, cnt, CAST({r} AS BIGINT) AS r, {bucket(r)} AS b FROM top"
        for r in range(depth)
    )
    return f"""
        WITH tk AS (SELECT {_TOKS} AS toks FROM documents),
        tok AS (SELECT unnest(toks) AS tok FROM tk),
        counts AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
        rows_ AS ({rows}),
        cells AS (SELECT r, b, CAST(sum(cnt) AS BIGINT) AS cell
                  FROM rows_ GROUP BY 1, 2),
        top AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok LIMIT {k}),
        probes AS ({probes})
        SELECT p.tok, p.cnt, min(c.cell) AS cms_est
        FROM probes p JOIN cells c USING (r, b)
        GROUP BY 1, 2 ORDER BY cnt DESC, tok
    """


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (5/95 exact type-1 cut points on the quantized-value
    histogram) vs raw mean of the error stream over January — all integer
    internals, value-domain-scale window."""
    from btrdb_server_spark.operators.stat import winsorized_stats

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return winsorized_stats(pts, "error", T_2024, T_FEB)


def q_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (3 power iterations, d=0.85) over the part
    co-purchase graph, all arithmetic in fixed-point 1e-12 integer rank
    units (multiply + floor-divide) — bit-identical in any engine, no
    float accumulation surface. Top 50 parts."""
    from btrdb_server_spark.functions.graph import copurchase_edges, pagerank_fixed

    return pagerank_fixed(copurchase_edges(load_table(spark, sf_dir, "lineitem")))


def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned periodogram of the click stream over the first 4 weeks of
    January: DFT power at harmonics k=1..8 on a 288-bin phase grid with a
    Python-precomputed integer trig table shared verbatim with the oracle
    (libm-independent; sums in exact integers)."""
    from btrdb_server_spark.operators.spectral import periodogram

    end = T_2024 + 28 * DAY_NS
    pts = load_points(spark, sf_dir, T_2024, end)
    return periodogram(pts, "click", T_2024, end, k_max=8, bins=288)


def _periodogram_oracle_sql() -> str:
    from btrdb_server_spark.operators.spectral import trig_table

    vals = ", ".join(f"({b}, {c}, {s})" for b, c, s in trig_table(288))
    end = T_2024 + 28 * DAY_NS
    span = end - T_2024
    return f"""
        {PTS_CTE}, src AS (
            SELECT ((time - {T_2024}) * 288) // {span} AS pbin,
                   CAST(round(value / 0.01) AS BIGINT) AS vq
            FROM pts
            WHERE uuid = 'click' AND time >= {T_2024} AND time < {end}
        ), b AS (
            SELECT pbin, CAST(sum(vq) AS BIGINT) AS sq, count(*) AS cnt
            FROM src GROUP BY 1
        ), trig(tb, cq, sgq) AS (VALUES {vals}),
        ks AS (SELECT range AS k FROM range(1, 9)),
        j AS (
            SELECT ks.k, b.sq, b.cnt, trig.cq, trig.sgq
            FROM ks CROSS JOIN b
            JOIN trig ON trig.tb = (ks.k * b.pbin) % 288
        ), agg AS (
            SELECT k, CAST(sum(cnt) AS BIGINT) AS n,
                   sum(CAST(sq AS HUGEINT) * cq) AS sc,
                   sum(CAST(sq AS HUGEINT) * sgq) AS ss
            FROM j GROUP BY 1
        ), amps AS (
            SELECT k, n,
                   CAST(sc AS DOUBLE) / 1000000.0 / 100.0 AS amp_cos,
                   CAST(ss AS DOUBLE) / 1000000.0 / 100.0 AS amp_sin
            FROM agg
        )
        SELECT k, n, amp_cos, amp_sin,
               (amp_cos * amp_cos + amp_sin * amp_sin) AS power
        FROM amps ORDER BY k
    """


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Holt double exponential smoothing of the view stream over
    January (a=1/4, b=1/8, exact binary fractions): final level/trend per
    day plus the one-step forecast. The fold is a fixed IEEE op sequence
    over the sorted day, replayed op-for-op by the oracle."""
    from btrdb_server_spark.operators.derive import holt_forecast

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return holt_forecast(pts, "view", T_2024, T_FEB, DAY_NS)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-flavor pricing summary over lineitem: one pruned-scan
    map-side-combined groupBy; all money sums on exact integer cents /
    1e-4 / 1e-6 units in decimal(38,0), doubles emitted as single
    divisions of exact integers."""
    from btrdb_server_spark.operators.olap import pricing_summary

    return pricing_summary(load_table(spark, sf_dir, "lineitem"))


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join revenue rollup (TPC-H Q5 flavor): 1996 orders joined
    lineitem⋈orders (co-hashed fact-fact) with customer→nation dim hops,
    nation broadcast explicitly; revenue exact in 1e-4 integer units."""
    from btrdb_server_spark.operators.olap import revenue_by_nation

    return revenue_by_nation(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 five-event user journeys ('>'-joined event types, ordered by
    time then event id): one user-keyed window rank + two map-side
    groupBys; per-user sequence rebuilt order-safely via
    array_sort(struct(rn, type))."""
    from btrdb_server_spark.operators.events import top_paths

    return top_paths(load_table(spark, sf_dir, "events"))


def q_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-flavor returned-revenue top-20 customers for 1996Q1:
    returnflag+date predicates prune both facts before the one co-hash,
    customer/nation dims join AFTER the customer-scale aggregate,
    integer-revenue rank (no float ties), TakeOrderedAndProject."""
    from btrdb_server_spark.operators.olap import returned_item_losses

    return returned_item_losses(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


def q_ar1_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(1) 7-day forecast of purchase daily totals: phi from exact
    integer lag-1 moments (autocorr's n^2 trick), phi^h as an explicit
    multiplication fold (JVM pow() is 1-ulp off libm)."""
    from btrdb_server_spark.operators.corr import ar1_forecast

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return ar1_forecast(pts, "purchase", T_2024, T_FEB, DAY_NS, horizon=7)


def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the view stream's hourly totals (aggregated-
    variance method, scales 1/2/4/8): integer block sums, libm-UDF logs,
    fixed-order OLS folds."""
    from btrdb_server_spark.operators.corr import hurst_exponent

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return hurst_exponent(
        pts, "view", T_2024, T_FEB, DAY_NS // 24, scales=(1, 2, 4, 8)
    )


def q_bilateral_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-flavor trade-flow matrix: revenue per (supplier nation,
    customer nation, ship year); both nation legs broadcast dim chains,
    one fact-fact co-hash on the order key, label-scale final groupBy."""
    from btrdb_server_spark.operators.olap import bilateral_trade

    return bilateral_trade(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of the corpus token distribution: OLS of ln(freq) on
    ln(rank) over the top-100 tokens, all sums as fixed-order folds over
    the rank-sorted term list."""
    from btrdb_server_spark.functions.text import zipf_fit

    return zipf_fit(load_table(spark, sf_dir, "documents"))


def q_anova_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of purchase values across day-of-week groups over
    January: per-group exact integer moments, fixed-dow-order folds for
    SSB/SSW, F statistic one final expression."""
    from btrdb_server_spark.operators.stat import anova_dow

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return anova_dow(pts, "purchase", T_2024, T_FEB)


def q_streaming_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV distinct-user sketch per event type: bounded keyed
    state (k smallest hashes), set-union merge is associative so the
    converged state equals the batch sketch bit-for-bit — the oracle is
    the BATCH kmv SQL."""

    from btrdb_server_spark.streaming.stateful import streaming_kmv

    work = _workdir(prefix="btrdb_skmv_q_")
    src_d = f"{work}/src"
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    ev.repartition(4).write.mode("overwrite").parquet(src_d)
    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 2)
        .parquet(src_d)
    )
    out = _run_stream(spark, streaming_kmv(stream), "stream_kmv_out")
    # The converged sketch is the emission with the most kept hashes and,
    # at n_kept = k, the smallest kth.
    return _final_emission(
        out, ["uuid"], F.col("n_kept").desc(), F.col("kth_hash")
    ).orderBy("uuid")


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph via degree-ordered
    orientation (O(m^1.5) wedge generation, co-hashed closure semi-join);
    clustering coefficient the single double division."""
    from btrdb_server_spark.functions.graph import triangle_count

    return triangle_count(load_table(spark, sf_dir, "lineitem"))


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of stream id vs day-of-week over January:
    integer contingency diffs, per-cell double terms, fixed-order fold
    over the sorted cell list; zero cells included via the row x col
    spine."""
    from btrdb_server_spark.operators.stat import chi2_independence

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return chi2_independence(pts, T_2024, T_FEB)


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user sketch per event type (k=256, 52-bit md5-prefix
    hashes exact in doubles) audited against the exact count; k-smallest
    prune via WindowGroupLimit."""
    from btrdb_server_spark.functions.sketch import kmv_distinct

    return kmv_distinct(load_table(spark, sf_dir, "events"))


def q_moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream skew/kurtosis shape profile over January from exact
    integer raw moments (3rd/4th powers assembled and summed in
    decimal(38,0)); statistics are fixed double expressions over the
    integer sums."""
    from btrdb_server_spark.operators.stat import moments_profile

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return moments_profile(pts, T_2024, T_FEB)


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream max peak-to-trough decline over January on integer
    quanta: bucketed running max with algebraic cross-bucket carry
    (max(P, rin) - v folds to max(ibest, P - bmin)), duplicate timestamps
    ordered (time, value) on both sides."""
    from btrdb_server_spark.operators.derive import max_drawdown

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return max_drawdown(pts, T_2024, T_FEB, bucket_pw=40)


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of purchase vs view daily totals over
    January: average-rank tie treatment as exact integer half-units
    (rank2 = 2*min_rank + ties - 1), Pearson on the integer ranks, rho a
    single mirrored double expression."""
    from btrdb_server_spark.operators.corr import spearman_corr

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return spearman_corr(pts, "purchase", "view", T_2024, T_FEB, DAY_NS)


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-flavor shipping queue: top-10 BUILDING-segment orders by
    unshipped revenue (exact 1e-4 integer units — float-tie-free rank);
    date filters pushed below the fact-fact co-hash, customer leg a
    left-semi dim hop, TakeOrderedAndProject instead of a global sort."""
    from btrdb_server_spark.operators.olap import shipping_priority

    return shipping_priority(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-flavor max-revenue supplier for 1996Q1: one date-pruned
    groupBy, 1-row max broadcast back, supplier dim broadcast; integer
    revenue makes the max-equality engine-independent."""
    from btrdb_server_spark.operators.olap import top_supplier

    return top_supplier(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


def q_pivot_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation x order-year revenue crosstab via DataFrame pivot with a
    STATIC year list (no distinct pre-scan, single shuffle); cells exact
    integer cents emitted as one division each."""
    from btrdb_server_spark.operators.olap import pivot_report

    return pivot_report(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over part brands: support /
    confidence / lift from exact integer counts; part broadcast, pair
    fan-out co-hashed on the order key, label-scale count joins
    broadcast."""
    from btrdb_server_spark.operators.olap import assoc_rules

    return assoc_rules(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full TPC-H-Q5 local-supplier volume for ASIA 1996: one fact-fact
    co-hash, every dim (customer/supplier/nation/region) broadcast, the
    c_nationkey = s_nationkey equality resolved map-side; integer-rank
    ordering."""
    from btrdb_server_spark.operators.olap import local_supplier_volume

    return local_supplier_volume(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-flavor yearly market share of NATION_7 suppliers within
    AMERICA-market orders; share is one division of exact int64 sums."""
    from btrdb_server_spark.operators.olap import market_share

    return market_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-flavor per-month promo revenue share over 1996 shipping;
    part broadcast, integer-domain percentage."""
    from btrdb_server_spark.operators.olap import promo_revenue

    return promo_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-flavor small-quantity revenue for Brand#23 with the
    1/5-of-part-average threshold tested by exact cross-multiplication."""
    from btrdb_server_spark.operators.olap import small_qty_revenue

    return small_qty_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-flavor top-20 large-volume orders (sum qty > 150),
    integer-cent rank."""
    from btrdb_server_spark.operators.olap import large_orders

    return large_orders(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-flavor OR-of-blocks revenue: brand/size/quantity
    disjunction across a broadcast part join."""
    from btrdb_server_spark.operators.olap import disjunctive_revenue

    return disjunctive_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-flavor idle high-balance customers per market segment;
    above-positive-average test by integer cross-multiplication, LeftAnti
    against 1999+ order custkeys."""
    from btrdb_server_spark.operators.olap import idle_customers

    return idle_customers(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog (p=8) distinct active user-days per event type, audited
    against the exact count; integer-domain harmonic sum, one division."""
    from btrdb_server_spark.functions.sketch import hll_distinct
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select("event_type", "user_id", epoch_ns_expr(ev).alias("t_ns"))
    ids = ev.select(
        F.col("event_type"),
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.expr(f"CAST(t_ns DIV {DAY_NS} AS STRING)"),
        ).alias("uid_day"),
    )
    return hll_distinct(ids, p=8, group_col="event_type", id_col="uid_day")


def q_bloom_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter (m=256, k=2) membership audit: build over src0 doc
    ids, probe every doc, exact per-source false-positive accounting."""
    from btrdb_server_spark.functions.sketch import bloom_audit

    return bloom_audit(load_table(spark, sf_dir, "documents"))


def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch (d=8 sign estimators) over the
    token stream vs exact F2; median is an integer order statistic."""
    from btrdb_server_spark.functions.sketch import ams_f2

    return ams_f2(load_table(spark, sf_dir, "documents"))


def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance ratio per stream over January day buckets
    (horizons 2/5/10): one fixed IEEE tree over exact integer moments."""
    from btrdb_server_spark.operators.tsshape import variance_ratio

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return variance_ratio(pts, T_2024, T_FEB, DAY_NS, qs=(2, 5, 10))


def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 permutation entropy of the daily-sum series per stream —
    integer pattern counts, fixed-order entropy fold."""
    from btrdb_server_spark.operators.tsshape import permutation_entropy

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return permutation_entropy(pts, T_2024, T_FEB, DAY_NS)


def q_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local peaks of the daily-sum series clearing both neighbors by
    100.00 units — all comparisons on exact integer quanta."""
    from btrdb_server_spark.operators.tsshape import peak_detect

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return peak_detect(pts, T_2024, T_FEB, DAY_NS, min_delta=100.0)


def q_savgol_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-point quadratic Savitzky-Golay smoothing of the daily-sum series
    — exact integer convolution, one division per emitted double."""
    from btrdb_server_spark.operators.tsshape import savgol_smooth

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return savgol_smooth(pts, T_2024, T_FEB, DAY_NS)


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the click stream at hour
    buckets over January (period 24): trend/seasonal/residual each one
    exact-integer division."""
    from btrdb_server_spark.operators.tsshape import seasonal_decompose

    pts = load_points(spark, sf_dir, T_2024, T_FEB).where(
        F.col("uuid") == "click"
    )
    return seasonal_decompose(pts, T_2024, T_FEB, HOUR_NS, period=24)


def q_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF-argmax dominant period per stream at hour buckets over two
    weeks (lags 2..36) — the argmax compares exact decimal integers."""
    from btrdb_server_spark.operators.tsshape import dominant_period

    pts = load_points(spark, sf_dir, T_2024, T_2024 + 14 * DAY_NS)
    return dominant_period(
        pts, T_2024, T_2024 + 14 * DAY_NS, HOUR_NS, min_lag=2, max_lag=36
    )


def q_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MIPS top-10 for probe vec 7 with the norm-augmentation
    reduction emitted alongside (aug cosine = dot / (|q| * max-norm))."""
    from btrdb_server_spark.functions.similarity import mips_topk

    return mips_topk(load_table(spark, sf_dir, "embeddings"), probe_id=7)


def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized ANN top-10 for probe vec 7: decoded-code dot
    ranking with the exact dot audited on the same row."""
    from btrdb_server_spark.functions.similarity import sq8_topk

    return sq8_topk(load_table(spark, sf_dir, "embeddings"), probe_id=7)


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed Jaccard-containment pairs (3-gram shingles, C >= 0.5) —
    the quote/subset duplication signal symmetric Jaccard misses."""
    from btrdb_server_spark.functions.dedup import containment_pairs

    return containment_pairs(load_table(spark, sf_dir, "documents"))


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid-style grade per document (vowel-group syllable
    proxy) — three JVM regexp counts, one fixed IEEE expression."""
    from btrdb_server_spark.functions.text import readability

    return readability(load_table(spark, sf_dir, "documents"))


def q_frequent_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 consecutive 3-event behavioral motifs across user streams
    (sliding window, integer counts, deterministic rank)."""
    from btrdb_server_spark.operators.events import frequent_sequences

    return frequent_sequences(load_table(spark, sf_dir, "events"))


def q_ols_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase volume regressed on click and view volumes over
    January — Cramer's rule on exact decimal(38,0) integer moments."""
    from btrdb_server_spark.operators.corr import ols_two_factor

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return ols_two_factor(
        pts, "purchase", "click", "view", T_2024, T_FEB, DAY_NS
    )


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph — Pearson on
    exact integer degree moments over the directed edge list."""
    from btrdb_server_spark.functions.graph import degree_assortativity

    return degree_assortativity(load_table(spark, sf_dir, "lineitem"))


def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-flavor order-count distribution including zero-order
    customers: fact-side aggregate before the customer left join."""
    from btrdb_server_spark.operators.olap import customer_distribution

    return customer_distribution(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test vs the exact median on January daily sums
    per stream — integer runs, one fixed IEEE z expression."""
    from btrdb_server_spark.operators.tsshape import runs_test

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return runs_test(pts, T_2024, T_FEB, DAY_NS)


def q_power_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: event share of the top-decile users
    (deterministic rank, one exact-int division)."""
    from btrdb_server_spark.operators.events import power_users

    return power_users(load_table(spark, sf_dir, "events"))


def q_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram coverage curve at k in (10, 100, 1000): head-heaviness of
    the corpus n-gram volume, exact integer shares."""
    from btrdb_server_spark.functions.text import ngram_coverage

    return ngram_coverage(load_table(spark, sf_dir, "documents"))


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6 forecasting revenue change: one pruned scan, every
    predicate pushed, a single map-combined aggregate cell."""
    from btrdb_server_spark.operators.olap import forecast_revenue

    return forecast_revenue(load_table(spark, sf_dir, "lineitem"))


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bin histogram-sketch p50/p90/p99 per stream over January,
    audited against the exact order statistic on the same row."""
    from btrdb_server_spark.operators.tsshape import hist_quantiles

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return hist_quantiles(pts, T_2024, T_FEB)


def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact nearest-centroid purity and mean intra-cluster
    squared distance per embedding label (1e-4 quantization, decimal
    cross-multiplied argmin — no float in the test)."""
    from btrdb_server_spark.functions.similarity import cluster_purity

    return cluster_purity(load_table(spark, sf_dir, "embeddings"))


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV mergeability as set algebra: union/intersection/Jaccard of the
    click and purchase user sets estimated purely from the two k=256
    sketches (theta co-membership), audited vs exact on the same row."""
    from btrdb_server_spark.functions.sketch import kmv_set_ops

    return kmv_set_ops(load_table(spark, sf_dir, "events"))


def q_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator per stream over January (k=100):
    WindowGroupLimit top-(k+1), descending fixed-order log fold."""
    from btrdb_server_spark.operators.tsshape import tail_index

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return tail_index(pts, T_2024, T_FEB, k=100)


def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stream md5-rank preview sample (k=20 per
    stream) — WindowGroupLimit keeps the exchange at streams x k."""
    from btrdb_server_spark.operators.tsshape import group_sample

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return group_sample(pts, T_2024, T_FEB, k=20)


def q_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily SLO error-budget burn over January (budget 150000 ppm):
    integer counts, one division per emitted double."""
    from btrdb_server_spark.operators.tsshape import error_budget
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(epoch_ns_expr(ev).alias("time"), "event_type")
    return error_budget(ev, start=T_2024, end=T_FEB)


def q_incident_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomalous daily buckets coalesced into incidents (|z| > 1.5 on
    exact spine moments, gap-and-islands grouping)."""
    from btrdb_server_spark.operators.tsshape import incident_report

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return incident_report(pts, T_2024, T_FEB, DAY_NS, z_threshold=1.5)


def q_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 day-over-day moves across all streams (integer deltas,
    TakeOrderedAndProject)."""
    from btrdb_server_spark.operators.tsshape import top_movers

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return top_movers(pts, T_2024, T_FEB, DAY_NS)


def q_quality_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus survival curve under a sliding min-token quality bar —
    docs and token volume kept per threshold, exact integer shares."""
    from btrdb_server_spark.functions.curation import quality_curve

    return quality_curve(load_table(spark, sf_dir, "documents"))


def q_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does yesterday's click volume predict today's purchase volume
    beyond purchase's own AR(1) memory? F-test from exact decimal
    moments (restricted vs full RSS)."""
    from btrdb_server_spark.operators.corr import granger_lite

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return granger_lite(pts, "purchase", "click", T_2024, T_FEB, DAY_NS)


def q_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 recurring 4-day SAX words across all streams (per-stream
    z-normalization, integer counts, deterministic rank)."""
    from btrdb_server_spark.operators.tsshape import sax_motifs

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return sax_motifs(pts, T_2024, T_FEB, DAY_NS)


def q_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL per event type over user-day ids: register max is
    associative + idempotent, so the converged emission bit-equals the
    batch estimate — oracle is the batch registers SQL."""

    from btrdb_server_spark.sources.testdata import epoch_ns_expr
    from btrdb_server_spark.streaming.stateful import streaming_hll

    work = _workdir(prefix="btrdb_shll_q_")
    src_d = f"{work}/src"
    ev = load_table(spark, sf_dir, "events")
    ev = ev.select("event_type", "user_id", epoch_ns_expr(ev).alias("t_ns"))
    ids = ev.select(
        F.col("event_type").alias("uuid"),
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.expr(f"CAST(t_ns DIV {DAY_NS} AS STRING)"),
        ).alias("id"),
    )
    ids.repartition(4).write.mode("overwrite").parquet(src_d)
    stream = (
        spark.readStream.schema("uuid string, id string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src_d)
    )
    out = _run_stream(spark, streaming_hll(stream), "stream_hll_out")
    # Converged = the emission with the largest seen-rows counter
    # (strictly monotone per touched batch).
    return _final_emission(out, ["uuid"], F.col("n_seen").desc()).orderBy("uuid")


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit under (type, hour-of-day, user-bucket) quasi-ids
    — group sizes, k_min, rows below k=5."""
    from btrdb_server_spark.functions.mlprep import k_anonymity
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(
        epoch_ns_expr(ev).alias("time"), "event_type", "user_id"
    )
    return k_anonymity(ev)


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type against value — one
    exact-integer division per row, no label leakage."""
    from btrdb_server_spark.functions.mlprep import target_encode

    return target_encode(load_table(spark, sf_dir, "events"))


def q_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick per-user feature rows (8 md5 buckets over
    type:hour) — fixed-width categorical absorption, all integers."""
    from btrdb_server_spark.functions.mlprep import hashed_features
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(
        epoch_ns_expr(ev).alias("time"), "event_type", "user_id"
    )
    return hashed_features(ev)


def q_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic user-level 8/1/1 split with the stratification
    report — same-user leakage impossible by construction."""
    from btrdb_server_spark.functions.mlprep import split_report

    return split_report(load_table(spark, sf_dir, "events"))


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation funnel: raw -> exact dedup -> quality filter ->
    decontamination (bench = doc_id %% 17 == 0), per-stage doc/token
    totals — every stage decision the existing operator's integer
    rule."""
    from btrdb_server_spark.functions.curation import curation_pipeline

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 17 == 0)
    return curation_pipeline(docs, bench)


def q_hour_dow_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour x day-of-week utilization heatmap per stream over January —
    168-cell integer sums, one division per mean."""
    from btrdb_server_spark.operators.tsshape import hour_dow_heatmap

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return hour_dow_heatmap(pts, T_2024, T_FEB)


def q_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%% Value-at-Risk and CVaR of day-over-day changes per stream —
    exact order-statistic VaR, one-division CVaR."""
    from btrdb_server_spark.operators.tsshape import var_cvar

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return var_cvar(pts, T_2024, T_FEB, DAY_NS)


def q_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Shannon entropy of the event-type mix + dominant type —
    fixed-order five-term fold, integer counts."""
    from btrdb_server_spark.operators.events import mix_entropy
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(epoch_ns_expr(ev).alias("time"), "event_type")
    return mix_entropy(ev, start=T_2024, end=T_FEB)


def q_user_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New vs returning active users per day over January — the
    growth-accounting timeline, all-integer."""
    from btrdb_server_spark.operators.events import user_novelty
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(epoch_ns_expr(ev).alias("time"), "user_id")
    return user_novelty(ev, start=T_2024, end=T_FEB)


def q_rerank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 top-50 and
    the cosine top-50 (probe vec 7, vec_id aligned with doc_id) — two
    TakeOrdered heads, one tiny outer join, exact 1/(60+rank) terms."""
    from btrdb_server_spark.functions.retrieval import rerank_fusion

    return rerank_fusion(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
        BM25_QUERY,
    )


def q_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS slope of quantity vs discount level from exact
    integer moments — does discounting move volume?"""
    from btrdb_server_spark.operators.olap import discount_elasticity

    return discount_elasticity(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 drifted embedding dimensions between the vec-id-parity
    halves: two-sample z from exact quantized integer moments."""
    from btrdb_server_spark.functions.similarity import embedding_drift

    return embedding_drift(load_table(spark, sf_dir, "embeddings"))


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth at doc-prefix checkpoints — first-
    occurrence min aggregate, no sequential scan."""
    from btrdb_server_spark.functions.text import vocab_growth

    return vocab_growth(load_table(spark, sf_dir, "documents"))


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of (cheaper price, larger size) over the part
    catalog — the classical skyline via one pair-domain running-max
    window, all-integer domination."""
    from btrdb_server_spark.operators.olap import skyline_parts

    return skyline_parts(load_table(spark, sf_dir, "part"))


def q_weekend_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-vs-weekend Welch t on January daily sums per stream —
    exact integer moments, fixed IEEE t and Welch-Satterthwaite df."""
    from btrdb_server_spark.operators.tsshape import weekend_effect

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return weekend_effect(pts, T_2024, T_FEB)


def q_collection_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Namespace hierarchy rollup: one row per collection path prefix
    with stream and child-collection counts — the tree browser's
    payload in one pass (ListCollections walks prefixes per request)."""
    from btrdb_server_spark.metadata import collection_tree

    streams = streams_from_events(load_table(spark, sf_dir, "events"))
    return collection_tree(streams)


def q_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl revenue concentration per customer nation: sum of
    squared customer shares as one exact-integer division, plus the top
    customer's share."""
    from btrdb_server_spark.operators.olap import market_concentration

    return market_concentration(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


def q_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream inter-arrival gap histogram in decimal-digit decade
    buckets over January — exact integer log-scale cadence profile."""
    from btrdb_server_spark.operators.tsshape import gap_histogram

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return gap_histogram(pts, T_2024, T_FEB)


def q_halfway_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The day January's volume crosses its halfway mark per stream —
    integer cumulative comparison, one front-load ratio division."""
    from btrdb_server_spark.operators.tsshape import halfway_point

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return halfway_point(pts, T_2024, T_FEB, DAY_NS)


def q_mode_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal quantized value per stream with its share — the
    stuck-sensor DQ probe, integer argmax."""
    from btrdb_server_spark.operators.tsshape import mode_value

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return mode_value(pts, T_2024, T_FEB)


def q_tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per stream from exact type-1
    quartiles over January."""
    from btrdb_server_spark.operators.tsshape import tukey_outliers

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return tukey_outliers(pts, T_2024, T_FEB)


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-word language ID against the
    declared lang column — per-cell counts and within-declared shares."""
    from btrdb_server_spark.functions.text import lang_confusion

    return lang_confusion(load_table(spark, sf_dir, "documents"))


def q_hourly_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View-to-purchase volume ratio per hour of day — the conversion
    clock, 24-cell integer counts."""
    from btrdb_server_spark.operators.events import hourly_conversion
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(epoch_ns_expr(ev).alias("time"), "event_type")
    return hourly_conversion(ev)


def q_repurchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 customer repurchase intervals in days — the
    replenishment-cycle profile."""
    from btrdb_server_spark.operators.olap import repurchase_intervals

    return repurchase_intervals(load_table(spark, sf_dir, "orders"))


def q_ship_delay_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship delay SLA profile: exact p50/p90/p99 day delays and
    the slower-than-60d share."""
    from btrdb_server_spark.operators.olap import ship_delay_profile

    return ship_delay_profile(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 boilerplate 2-gram shingles by document frequency (df >=
    1%% of the corpus) — the template-chrome removal list."""
    from btrdb_server_spark.functions.dedup import boilerplate_ngrams

    return boilerplate_ngrams(load_table(spark, sf_dir, "documents"))


def q_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-of-month open-order backlog: +1/-1 month deltas and one
    cumulative — interval stabbing without a per-day explode."""
    from btrdb_server_spark.operators.olap import order_backlog

    return order_backlog(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


def q_lake_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity and dimension-coverage audit across the
    warehouse tables — six LeftAnti checks, one report."""
    from btrdb_server_spark.operators.olap import lake_integrity

    return lake_integrity(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )


def q_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate by session depth (30-min gap sessions) — the
    engagement-vs-outcome curve, all-integer."""
    from btrdb_server_spark.operators.events import session_conversion
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(
        epoch_ns_expr(ev).alias("time"), "user_id", "event_id", "event_type"
    )
    return session_conversion(ev)


def q_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph shape card: nodes, edges, density, degree
    stats, isolated parts — one row, exact integers."""
    from btrdb_server_spark.functions.graph import graph_summary

    return graph_summary(load_table(spark, sf_dir, "lineitem"))


def q_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus DQ card: doc counts, mean and exact median
    lengths, mean tokens — slice-by-provenance."""
    from btrdb_server_spark.functions.text import source_profile

    return source_profile(load_table(spark, sf_dir, "documents"))


def q_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash (b=1) vs the full 16-component estimator per LSH
    candidate pair — the 64x signature-compression accuracy audit."""
    from btrdb_server_spark.functions.dedup import bbit_minhash_est

    return bbit_minhash_est(load_table(spark, sf_dir, "documents"))


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source under the corpus-wide min-id
    keeper rule — which provenance re-crawls whom."""
    from btrdb_server_spark.functions.dedup import dup_rate_by_source

    return dup_rate_by_source(load_table(spark, sf_dir, "documents"))


def q_kmv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(stream, day) KMV distinct-user sketch (k=64) vs the exact
    count — the mergeable windowed-rollup shape."""
    from btrdb_server_spark.functions.sketch import kmv_daily
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(
        epoch_ns_expr(ev).alias("time"), "event_type", "user_id"
    )
    return kmv_daily(ev, start=T_2024, end=T_FEB)


def q_segment_spend_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment order-value card: count, exact mean and exact
    median total price."""
    from btrdb_server_spark.operators.olap import segment_spend_profile

    return segment_spend_profile(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


def q_round_number_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole/half-unit clumping per stream vs the 1%% smooth-distribution
    expectation — the fractional-part DQ probe."""
    from btrdb_server_spark.operators.tsshape import round_number_bias

    pts = load_points(spark, sf_dir, T_2024, T_FEB)
    return round_number_bias(pts, T_2024, T_FEB)


def q_spend_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-customer spend trend: fixed-effects OLS slope of order
    price against the customer's own order index, exact decimal
    moments."""
    from btrdb_server_spark.operators.olap import spend_trajectory

    return spend_trajectory(load_table(spark, sf_dir, "orders"))


def q_basket_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-parts-per-order histogram — the cross-sell readout,
    all-integer."""
    from btrdb_server_spark.operators.olap import basket_diversity

    return basket_diversity(load_table(spark, sf_dir, "lineitem"))


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc type-token ratio and hapax share — the document-grain
    repetitiveness lens, one JVM map pass."""
    from btrdb_server_spark.functions.text import lexical_diversity

    return lexical_diversity(load_table(spark, sf_dir, "documents"))


def q_delay_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship delay by priority class: exact median + mean days —
    does the priority flag buy speed?"""
    from btrdb_server_spark.operators.olap import delay_by_priority

    return delay_by_priority(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


def q_activity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, day) event-count histogram over January — the
    per-entity burstiness distribution."""
    from btrdb_server_spark.operators.events import activity_histogram
    from btrdb_server_spark.sources.testdata import epoch_ns_expr

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(epoch_ns_expr(ev).alias("time"), "user_id")
    return activity_histogram(ev, start=T_2024, end=T_FEB)


def _state_partitions(n: int):
    """Run a stateful-streaming query with spark.sql.shuffle.partitions=n
    (restored afterwards). The state partition count is FIXED by the
    shuffle-partition setting at first checkpoint; each state partition
    pays a python-worker spinup per micro-batch, so the right count
    tracks KEY CARDINALITY, not CPU count. Measured at sf0.1 on
    local[32], best-of-2, 2026-08-15:

    - per-stream keyed ops (~5 keys: ewma/holt/sdt/deadband/crossings/
      sessions/twa/kmv/dedup): 4 partitions — streaming_ewma 3.2 s @2,
      3.3 s @4, 3.9 s @8; 4 keeps headroom.
    - (uuid, bucket) keyed (streaming_stat_state, ~3k keys): 9.2 s @2,
      5.3 s @4, 3.9 s @8, 3.2 s @16, 3.4 s @24, 3.4 s @32, 4.7 s @48
      -> 16. The round-6 5.4 s regression was exactly the blanket
      4-partition wrapper starving a many-keyed op.
    - user-keyed (streaming_attribution, ~2k users): 15.8 s @2, 9.9 s
      @4, 7.0 s @8, 6.1 s @16, 6.7 s @24, 6.4 s @32 -> 16.
    - sharded LSH state (streaming_lsh): 6.8 s @2, 5.5 s @4, 4.7 s @8,
      4.8 s @16 -> 8.

    At production key cardinality the right number is larger still —
    this wrapper tunes the DRIVER-SCALE fixtures; the operators
    themselves are partition-count-agnostic (keyed state).

    NOTE (r14): the keyed entries (stat_state 16, lsh 8) now pass their
    tuned count directly to bounded_state_partitions inside the query
    function — this outer wrapper was being silently overridden by that
    context manager's env-default 4, which is exactly the "blanket
    4-partition wrapper starving a many-keyed op" regression again
    (stat_state measured 6.5 s @4 vs 4.0 s @16 this round). Attribution
    stays at 4: its state is 32 hash shards and 4 micro-batches x 16
    partitions of state-store machinery measured SLOWER (5.1-6.3 s @16
    vs 4.2 s @4). _small_state remains for the few-key entries (it
    matches the inner default, and keeps the fetch-side windows small)."""
    import functools

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            old = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            try:
                return fn(spark, sf_dir)
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", old)

        return wrapped

    return deco


# Few-keys default (per-stream keyed state, ~5 streams in the fixtures).
_small_state = _state_partitions(4)


def q_cube_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets CUBE over (returnflag, linestatus): detail, both
    rollup levels, and the grand total in ONE Expand+aggregate pass."""
    from btrdb_server_spark.operators.olap import cube_report

    return cube_report(load_table(spark, sf_dir, "lineitem"))


def q_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest l_partkey values with share and ratio-to-mean — the
    salt-or-not report for a shuffle join on this key."""
    from btrdb_server_spark.operators.olap import join_skew_audit

    return join_skew_audit(load_table(spark, sf_dir, "lineitem"))


def q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking (merge/purge): per-block sorted
    window of 4, exact token-Jaccard verification on the linear candidate
    set — the prefix-affinity complement to MinHash-LSH banding."""
    from btrdb_server_spark.functions.dedup import sorted_neighborhood_pairs

    return sorted_neighborhood_pairs(load_table(spark, sf_dir, "documents"))


def q_snm_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of sorted-neighborhood blocking vs uncapped exact
    shingle-Jaccard truth — measures the documented block-boundary recall
    trade (the SNM twin of lsh_recall_eval)."""
    from btrdb_server_spark.functions.dedup import snm_recall_eval

    return snm_recall_eval(load_table(spark, sf_dir, "documents"))


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprint profile: window-min of k-gram hashes,
    distinct selected values per doc, density vs the 2/(w+1) expectation."""
    from btrdb_server_spark.functions.text import winnowing_fingerprints

    return winnowing_fingerprints(load_table(spark, sf_dir, "documents"))


# The external driver checks the FIRST 50 queries() entries; this fixed
# constant IS that window, and tests/test_window.py pins dict order to it.
DRIVER_WINDOW: list[str] = [
    "csv_export",
    "nearest_asof",
    "changed_ranges",
    "lookup_streams",
    "pq_index_reencode",
    "pq_index_reencode_drift",
    "bm25_index_drift",
    "lsh_index_drift",
    "registry_obliterate",
    "minhash_jaccard_est",
    "edit_verified_pairs",
    "ngram_novelty",
    "tfidf_topk",
    "containment_pairs",
    "rerank_fusion",
    "boilerplate_ngrams",
    "insert_cap",
    "store_compact",
    "bbit_minhash",
    "dup_rate_by_source",
    "simhash_pairs",
    "lsh_recall_eval",
    "dedup_stats",
    "dedup_threshold_curve",
    "streaming_changefeed",
    "sorted_neighborhood_pairs",
    "snm_recall_eval",
    "incremental_dedup",
    "lsh_index_stats",
    "bm25_index_topk",
    "bm25_index_incremental",
    "bm25_index_stats",
    "incremental_dedup_retire",
    "lsh_index_compact",
    "bm25_index_retire",
    "bm25_index_compact",
    "bm25_index_verify",
    "ann_index_retire",
    "ivf_index_compact",
    "streaming_changefeed_deletes",
    "semantic_dedup_index",
    "pq_index_drift",
    "pq_encode",
    "ann_pq_topk",
    "cosine_topk",
    "ann_lsh_buckets",
    "ann_lsh_topk",
    "embedding_near_dups",
    "ivf_assign",
    "ivf_refine",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict order is deliberate: the external driver checks the FIRST 50
    entries. That window is the fixed module constant DRIVER_WINDOW
    (exactly 50 names, pinned by tests/test_window.py). Correctness
    evidence for every entry, inside the window or not, is tier-1's oracle
    gate: tests/test_oracle_parity.py runs each entry bit-exact against its
    oracle_sql() twin on a plain session on every run.
    """
    return {
        # ---- DRIVER WINDOW: positions 1-50 (the driver checks first 50;
        # pinned to DRIVER_WINDOW) ----
        "csv_export": q_csv_export,
        "nearest_asof": q_nearest_asof,
        "changed_ranges": q_changed_ranges,
        "lookup_streams": q_lookup_streams,
        "pq_index_reencode": q_pq_index_reencode,
        "pq_index_reencode_drift": q_pq_index_reencode_drift,
        "bm25_index_drift": q_bm25_index_drift,
        "lsh_index_drift": q_lsh_index_drift,
        "registry_obliterate": q_registry_obliterate,
        "minhash_jaccard_est": q_minhash_jaccard_est,
        "edit_verified_pairs": q_edit_verified_pairs,
        "ngram_novelty": q_ngram_novelty,
        "tfidf_topk": q_tfidf_topk,
        "containment_pairs": q_containment_pairs,
        "rerank_fusion": q_rerank_fusion,
        "boilerplate_ngrams": q_boilerplate_ngrams,
        "insert_cap": q_insert_cap,
        "store_compact": q_store_compact,
        "bbit_minhash": q_bbit_minhash,
        "dup_rate_by_source": q_dup_rate_by_source,
        "simhash_pairs": q_simhash_pairs,
        "lsh_recall_eval": q_lsh_recall_eval,
        "dedup_stats": q_dedup_stats,
        "dedup_threshold_curve": q_dedup_threshold_curve,
        "streaming_changefeed": q_streaming_changefeed,
        "sorted_neighborhood_pairs": q_sorted_neighborhood_pairs,
        "snm_recall_eval": q_snm_recall_eval,
        "incremental_dedup": q_incremental_dedup,
        "lsh_index_stats": q_lsh_index_stats,
        "bm25_index_topk": q_bm25_index_topk,
        "bm25_index_incremental": q_bm25_index_incremental,
        "bm25_index_stats": q_bm25_index_stats,
        "incremental_dedup_retire": q_incremental_dedup_retire,
        "lsh_index_compact": q_lsh_index_compact,
        "bm25_index_retire": q_bm25_index_retire,
        "bm25_index_compact": q_bm25_index_compact,
        "bm25_index_verify": q_bm25_index_verify,
        "ann_index_retire": q_ann_index_retire,
        "ivf_index_compact": q_ivf_index_compact,
        "streaming_changefeed_deletes": q_streaming_changefeed_deletes,
        "semantic_dedup_index": q_semantic_dedup_index,
        "pq_index_drift": q_pq_index_drift,
        "pq_encode": q_pq_encode,
        "ann_pq_topk": q_ann_pq_topk,
        "cosine_topk": q_cosine_topk,
        "ann_lsh_buckets": q_ann_lsh_buckets,
        "ann_lsh_topk": q_ann_lsh_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "ivf_assign": q_ivf_assign,
        "ivf_refine": q_ivf_refine,
        # ---- position 51+: outside the driver window ----
        "store_version_travel": q_store_version_travel,
        "list_collections": q_list_collections,
        "windows_depth": q_windows_depth,
        "windows_rollup": q_windows_rollup,
        "kmeans_train": q_kmeans_train,
        "knn_graph": q_knn_graph,
        "ann_recall_eval": q_ann_recall_eval,
        "pq_train": q_pq_train,
        "mips_topk": q_mips_topk,
        "sq8_topk": q_sq8_topk,
        "cluster_purity": q_cluster_purity,
        "embedding_drift": q_embedding_drift,
        "ivf_recall_curve": q_ivf_recall_curve,
        "label_noise_screen": q_label_noise_screen,
        "ann_index_topk": q_ann_index_topk,
        "ann_index_incremental": q_ann_index_incremental,
        "ivf_index_stats": q_ivf_index_stats,
        "ann_ivf_topk": q_ann_ivf_topk,
        "semantic_dedup": q_semantic_dedup,
        "hard_negatives": q_hard_negatives,
        "ann_batch_topk": q_ann_batch_topk,
        "ann_ivf_multiprobe": q_ann_ivf_multiprobe,
        "dedup_clusters": q_dedup_clusters,
        "exact_dedup": q_exact_dedup,
        "minhash_verified_pairs": q_minhash_verified_pairs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "minhash_signatures": q_minhash_signatures,
        "streaming_ingest": q_streaming_ingest,
        "pq_index_topk": q_pq_index_topk,
        "pq_index_probe": q_pq_index_probe,
        "pq_index_incremental": q_pq_index_incremental,
        "pq_index_retire": q_pq_index_retire,
        "pq_index_compact": q_pq_index_compact,
        "pq_index_stats": q_pq_index_stats,
        "streaming_rollup_serve": q_streaming_rollup_serve,
        "dup_spans": q_dup_spans,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_select": q_dedup_select,
        "bm25_topk": q_bm25_topk,
        "unigram_logprob": q_unigram_logprob,
        "aligned_windows_rollup": q_aligned_windows_rollup,
        "rollup_rewrite": q_rollup_rewrite,
        "buffer_stat_merge": q_buffer_stat_merge,
        "delete_range": q_delete_range,
        "metadata_usage": q_metadata_usage,
        "raw_values": q_raw_values,
        "windows_holes": q_windows_holes,
        "bulk_export": q_bulk_export,
        "bpe_train_batched": q_bpe_train_batched,
        "lang_id": q_lang_id,
        "text_stats": q_text_stats,
        "token_entropy": q_token_entropy,
        "token_freq": q_token_freq,
        "bpe_train": q_bpe_train,
        "decimate_envelope": q_decimate_envelope,
        "aligned_quantiles": q_aligned_quantiles,
        "buffer_query_version": q_buffer_query_version,
        "late_data_rollup": q_late_data_rollup,
        "store_aligned_windows": q_store_aligned_windows,
        "store_nearest": q_store_nearest,
        "store_changes": q_store_changes,
        "store_delete_range": q_store_delete_range,
        "aligned_windows_all_rollup": q_aligned_windows_all_rollup,
        "aligned_windows_all": q_aligned_windows_all,
        "changed_ranges_all": q_changed_ranges_all,
        "metadata_ann_usage": q_metadata_ann_usage,
        "text_scrub": q_text_scrub,
        "bpe_token_stats": q_bpe_token_stats,
        "quality_filter": q_quality_filter,
        "decontaminate": q_decontaminate,
        "stratified_sample": q_stratified_sample,
        "pack_sequences": q_pack_sequences,
        "doc_chunks": q_doc_chunks,
        "domain_mix": q_domain_mix,
        "dsir_weights": q_dsir_weights,
        "rolling_fingerprint": q_rolling_fingerprint,
        "streaming_topk": _small_state(q_streaming_topk),
        "nearest_after": q_nearest_after,
        "buffer_read_your_writes": q_buffer_read_your_writes,
        "source_profile": q_source_profile,
        "kmv_daily": q_kmv_daily,
        "segment_spend_profile": q_segment_spend_profile,
        "round_number_bias": q_round_number_bias,
        "spend_trajectory": q_spend_trajectory,
        "basket_diversity": q_basket_diversity,
        "lexical_diversity": q_lexical_diversity,
        "delay_by_priority": q_delay_by_priority,
        "activity_histogram": q_activity_histogram,
        "product_profit": q_product_profit,
        "media_features": q_media_features,
        "windows_quantile_ladder": q_windows_quantile_ladder,
        "bigram_perplexity": q_bigram_perplexity,
        "supplier_scorecard": q_supplier_scorecard,
        "weighted_sample": q_weighted_sample,
        "psi_timeline": q_psi_timeline,
        "pack_efficiency": q_pack_efficiency,
        "rate_anomaly": q_rate_anomaly,
        "sql_hook_rollup": q_sql_hook_rollup,
        "cube_report": q_cube_report,
        "join_skew_audit": q_join_skew_audit,
        "winnowing_fingerprints": q_winnowing_fingerprints,
        "aligned_windows": q_aligned_windows,
        "align_windowed": q_align_windowed,
        "multistream_align": q_multistream_align,
        "nearest_before": q_nearest_before,
        "streaming_hll": _small_state(q_streaming_hll),
        "streaming_quantile": _small_state(q_streaming_quantile),
        "streaming_coverage": _small_state(q_streaming_coverage),
        "ngram_coverage": q_ngram_coverage,
        "forecast_revenue": q_forecast_revenue,
        "hist_quantiles": q_hist_quantiles,
        "kmv_set_ops": q_kmv_set_ops,
        "tail_index": q_tail_index,
        "group_sample": q_group_sample,
        "error_budget": q_error_budget,
        "incident_report": q_incident_report,
        "top_movers": q_top_movers,
        "quality_curve": q_quality_curve,
        "granger_lite": q_granger_lite,
        "sax_motifs": q_sax_motifs,
        "k_anonymity": q_k_anonymity,
        "target_encode": q_target_encode,
        "hashed_features": q_hashed_features,
        "split_report": q_split_report,
        "curation_pipeline": q_curation_pipeline,
        "hour_dow_heatmap": q_hour_dow_heatmap,
        "var_cvar": q_var_cvar,
        "mix_entropy": q_mix_entropy,
        "user_novelty": q_user_novelty,
        "discount_elasticity": q_discount_elasticity,
        "vocab_growth": q_vocab_growth,
        "skyline_parts": q_skyline_parts,
        "weekend_effect": q_weekend_effect,
        "collection_tree": q_collection_tree,
        "market_concentration": q_market_concentration,
        "gap_histogram": q_gap_histogram,
        "halfway_point": q_halfway_point,
        "mode_value": q_mode_value,
        "tukey_outliers": q_tukey_outliers,
        "lang_confusion": q_lang_confusion,
        "hourly_conversion": q_hourly_conversion,
        "repurchase_intervals": q_repurchase_intervals,
        "ship_delay_profile": q_ship_delay_profile,
        "order_backlog": q_order_backlog,
        "lake_integrity": q_lake_integrity,
        "session_conversion": q_session_conversion,
        "graph_summary": q_graph_summary,
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "top_paths": q_top_paths,
        "returned_item_losses": q_returned_item_losses,
        "ar1_forecast": q_ar1_forecast,
        "hurst_exponent": q_hurst_exponent,
        "bilateral_trade": q_bilateral_trade,
        "zipf_fit": q_zipf_fit,
        "anova_dow": q_anova_dow,
        "streaming_kmv": _small_state(q_streaming_kmv),
        "triangle_count": q_triangle_count,
        "chi2_independence": q_chi2_independence,
        "kmv_distinct": q_kmv_distinct,
        "moments_profile": q_moments_profile,
        "max_drawdown": q_max_drawdown,
        "spearman_corr": q_spearman_corr,
        "shipping_priority": q_shipping_priority,
        "top_supplier": q_top_supplier,
        "pivot_report": q_pivot_report,
        "assoc_rules": q_assoc_rules,
        "local_supplier_volume": q_local_supplier_volume,
        "market_share": q_market_share,
        "promo_revenue": q_promo_revenue,
        "small_qty_revenue": q_small_qty_revenue,
        "large_orders": q_large_orders,
        "disjunctive_revenue": q_disjunctive_revenue,
        "idle_customers": q_idle_customers,
        "hll_distinct": q_hll_distinct,
        "bloom_audit": q_bloom_audit,
        "ams_f2": q_ams_f2,
        "variance_ratio": q_variance_ratio,
        "permutation_entropy": q_permutation_entropy,
        "peak_detect": q_peak_detect,
        "savgol_smooth": q_savgol_smooth,
        "seasonal_decompose": q_seasonal_decompose,
        "dominant_period": q_dominant_period,
        "readability": q_readability,
        "frequent_sequences": q_frequent_sequences,
        "ols_two_factor": q_ols_two_factor,
        "degree_assortativity": q_degree_assortativity,
        "customer_distribution": q_customer_distribution,
        "runs_test": q_runs_test,
        "power_users": q_power_users,
        "ngram_freq": q_ngram_freq,
        "dau_wau": q_dau_wau,
        "exceedance_corr": q_exceedance_corr,
        "transition_lift": q_transition_lift,
        "interarrival_stats": q_interarrival_stats,
        "attribution_last_touch": q_attribution_last_touch,
        "time_to_convert": q_time_to_convert,
        "mad_anomaly": q_mad_anomaly,
        "benford_digits": q_benford_digits,
        "user_rfm": q_user_rfm,
        "streaming_attribution": q_streaming_attribution,
        "synthesize_stream": q_synthesize_stream,
        "coverage_report": q_coverage_report,
        "token_collocations": q_token_collocations,
        "corpus_summary": q_corpus_summary,
        "sessions": q_sessions,
        "media_dedup": q_media_dedup,
        "value_histogram": q_value_histogram,
        "dormancy_stats": q_dormancy_stats,
        "uplift_quintiles": q_uplift_quintiles,
        "cohort_ltv": q_cohort_ltv,
        "streaming_twa": _small_state(q_streaming_twa),
        "burstiness": q_burstiness,
        "ks_test": q_ks_test,
        "kaplan_meier": q_kaplan_meier,
        "revenue_rollup": q_revenue_rollup,
        "psi_drift": q_psi_drift,
        "gini_spend": q_gini_spend,
        "welch_ttest": q_welch_ttest,
        "ab_experiment": q_ab_experiment,
        "bootstrap_ci": q_bootstrap_ci,
        "pca_top_component": q_pca_top_component,
        "variance_decompose": q_variance_decompose,
        "late_order_priority": q_late_order_priority,
        "twa_hold": q_twa_hold,
        "markov_entropy": q_markov_entropy,
        "kalman_level": q_kalman_level,
        "dtw_distance": q_dtw_distance,
        "mann_kendall": q_mann_kendall,
        "theilsen_trend": q_theilsen_trend,
        "holt_smooth": q_holt_smooth,
        "streaming_holt": _small_state(q_streaming_holt),
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "winsorized_stats": q_winsorized_stats,
        "copurchase_pagerank": q_copurchase_pagerank,
        "periodogram": q_periodogram,
        "holt_forecast": q_holt_forecast,
        "repetition_stats": q_repetition_stats,
        "resample_hold": q_resample_hold,
        "resample_linear": q_resample_linear,
        "counter_rate": q_counter_rate,
        "trapz_integral": q_trapz_integral,
        "anomaly_zscore": q_anomaly_zscore,
        "stream_corr": q_stream_corr,
        "lttb_decimate": q_lttb_decimate,
        "ewma": q_ewma,
        "cusum_changepoint": q_cusum_changepoint,
        "trend_ols": q_trend_ols,
        "autocorr": q_autocorr,
        "props_histogram": q_props_histogram,
        "user_activity": q_user_activity,
        "sax_symbols": q_sax_symbols,
        "value_run_lengths": q_value_run_lengths,
        "deadband_compress": q_deadband_compress,
        "hash_sample": q_hash_sample,
        "streaming_deadband": _small_state(q_streaming_deadband),
        "diurnal_profile": q_diurnal_profile,
        "funnel": q_funnel,
        "retention_cohorts": q_retention_cohorts,
        "ohlc_windows": q_ohlc_windows,
        "xcorr_lags": q_xcorr_lags,
        "event_transitions": q_event_transitions,
        "interval_join": q_interval_join,
        "rolling_stats": q_rolling_stats,
        "stream_profile": q_stream_profile,
        "group_topk": q_group_topk,
        "asof_features": q_asof_features,
        "threshold_crossings": q_threshold_crossings,
        "excursions": q_excursions,
        "sdt_compress": q_sdt_compress,
        "streaming_sdt": _small_state(q_streaming_sdt),
        "seasonal_naive_error": q_seasonal_naive_error,
        "streaming_crossings": _small_state(q_streaming_crossings),
        "funnel_windowed": q_funnel_windowed,
        "streaming_sessions": _small_state(q_streaming_sessions),
        "decontaminate_lsh": q_decontaminate_lsh,
        "streaming_lsh": q_streaming_lsh,
        "streaming_ewma": _small_state(q_streaming_ewma),
        "streaming_dedup": _small_state(q_streaming_dedup),
        "streaming_stat_state": q_streaming_stat_state,
        "windows_rewrite": q_windows_rewrite,
        "sql_rollup_serve": q_sql_rollup_serve,
        "gaps": q_gaps,
        "rate": q_rate,
        "multimodal_decode": q_multimodal_decode,
        "media_frame_sample": q_media_frame_sample,
        "media_resize_plan": q_media_resize_plan,
    }


# ----------------------------------------------------------------- oracle ---

# Shared tokenization fragment (mirrors functions/text.py tokens_col).
_TOKS = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"
_STOP_SQL = "['the','a','of','and','to','in','is','on','for','with']"
_SHINGLES = (
    "CASE WHEN len(toks) >= 3 THEN list_transform(generate_series(1, len(toks)-2),"
    " i -> array_to_string(list_slice(toks, i, i+2), ' '))"
    " ELSE CAST([] AS VARCHAR[]) END"
)
_BIGRAMS = (
    "CASE WHEN len(toks) >= 2 THEN list_transform(generate_series(1, len(toks)-1),"
    " i -> array_to_string(list_slice(toks, i, i+1), ' '))"
    " ELSE CAST([] AS VARCHAR[]) END"
)
_HEX4 = (
    "((strpos('0123456789abcdef', substr(md5(tok),1,1))-1)*4096"
    " + (strpos('0123456789abcdef', substr(md5(tok),2,1))-1)*256"
    " + (strpos('0123456789abcdef', substr(md5(tok),3,1))-1)*16"
    " + (strpos('0123456789abcdef', substr(md5(tok),4,1))-1))"
)


MINHASH_PRIME = 4_294_967_291  # keep in sync with functions/dedup.py


def _sig_cte() -> str:
    # Carter-Wegman family: two md5-derived 32-bit values per shingle,
    # h_j = (a + j*b) mod P — mirrors functions/dedup.py minhash_signatures.
    mh_cols = ",\n".join(
        f"min((a + {j} * b) % {MINHASH_PRIME}) AS mh{j}" for j in range(16)
    )
    return f"""
        toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        shingled AS (SELECT doc_id, {_SHINGLES} AS sh FROM toks WHERE len(toks) >= 3),
        shrows AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
        digests AS (SELECT doc_id, md5('a|' || s) AS da, md5('b|' || s) AS db
                    FROM shrows),
        ab AS (SELECT doc_id, {_hexn_sql('da', 8)} AS a, {_hexn_sql('db', 8)} AS b
               FROM digests),
        sig AS (SELECT doc_id, {mh_cols} FROM ab GROUP BY doc_id)
    """


def _verified_pairs_ctes() -> str:
    """CTE chain ending in `vp(a, b, jaccard)` — LSH candidates verified by
    exact shingle Jaccard at threshold 0.5 (mirrors functions/dedup.py
    lsh_verified_pairs). Shared by the verified-pairs and cluster oracles."""
    bands = " UNION ALL ".join(
        "SELECT doc_id, " + str(b) + " AS band, concat_ws('|', "
        + ", ".join(f"mh{b*4+i}" for i in range(4))
        + ") AS band_key FROM sig"
        for b in range(4)
    )
    return f"""{_sig_cte()},
            bands AS ({bands}),
            cand AS (
                SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                FROM bands l JOIN bands r
                  ON l.band = r.band AND l.band_key = r.band_key
                 AND l.doc_id < r.doc_id
            ),
            t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            raw_sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s0 FROM t),
            dig AS (SELECT doc_id, md5(s0) AS d FROM raw_sh),
            sh AS (SELECT DISTINCT doc_id, {_hexn_sql('d', 15)} AS s FROM dig),
            sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT c.a, c.b, count(*) AS inter
                FROM cand c
                JOIN sh l ON l.doc_id = c.a
                JOIN sh r ON r.doc_id = c.b AND r.s = l.s
                GROUP BY c.a, c.b
            ),
            vp AS (
                SELECT a, b,
                       inter / (sa.sz + sb.sz - inter) AS jaccard
                FROM inter
                JOIN sz sa ON sa.doc_id = a
                JOIN sz sb ON sb.doc_id = b
                WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
            )"""


def _lit_vec_sql(vec) -> str:
    return "[" + ",".join(repr(float(x)) for x in vec) + "]::DOUBLE[]"


def _hexn_sql(expr: str, n: int) -> str:
    """First n hex chars of `expr` -> BIGINT (Horner chain kept BIGINT from
    the seed so no INT32 overflow)."""
    out = "CAST(0 AS BIGINT)"
    for i in range(1, n + 1):
        out = (
            f"(({out}) * 16 + "
            f"(strpos('0123456789abcdef', substr({expr}, {i}, 1)) - 1))"
        )
    return out


def _media_decoded_cte() -> str:
    """CTE `dec` = the fake-decode output of functions/multimodal.py
    decode_media over media_from_documents — shared by the multimodal
    oracles."""
    return f"""m AS (
                SELECT doc_id AS media_id,
                       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                       text
                FROM documents
            ), d AS (
                SELECT media_id, kind,
                       CAST(strlen(text) AS BIGINT) AS n_bytes,
                       sha256(text) AS digest
                FROM m
            ), h AS (
                SELECT *, {_hexn_sql('digest', 8)} AS hv FROM d
            ), dec AS (
                SELECT media_id, kind, n_bytes, digest AS "sha256",
                       CASE WHEN kind IN ('image', 'video')
                            THEN CAST(64 + hv % 1920 AS INT) END AS width,
                       CASE WHEN kind IN ('image', 'video')
                            THEN CAST(64 + (hv // 256) % 1080 AS INT) END AS height,
                       CASE WHEN kind = 'image' THEN CAST(1 AS INT)
                            WHEN kind = 'video' THEN CAST(1 + hv % 3600 AS INT)
                            WHEN kind = 'audio' THEN CAST(1 + hv % 10000000 AS INT)
                            END AS n_frames,
                       CASE WHEN kind = 'audio'
                            THEN CAST(8000 + (hv % 6) * 8000 AS INT) END AS sample_rate
                FROM h
            )"""


# Keep in sync with functions/text.py BPE_PATTERN.
_BPE_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]+"

_IVF_CTES = """
    c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id < 8),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT e.vec_id, c.cid,
                 round(list_cosine_similarity(e.v, c.cv), 6) AS score
          FROM e CROSS JOIN c),
    r AS (SELECT vec_id, cid, row_number() OVER
                 (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
          FROM s),
    assign AS (SELECT vec_id, cid AS cluster FROM r WHERE rn = 1)
"""


def _lang_id_sql() -> str:
    from btrdb_server_spark.functions.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score_cols = ", ".join(
        "len(list_filter(toks, x -> list_contains({m}, x))) AS s_{l}".format(
            m="[" + ",".join(f"'{w}'" for w in LANG_MARKERS[l]) + "]", l=l
        )
        for l in langs
    )
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    whens = " ".join(f"WHEN s_{l} = {best} THEN '{l}'" for l in langs)
    return f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        sc AS (SELECT doc_id, {score_cols} FROM t)
        SELECT doc_id,
               CASE WHEN {best} = 0 THEN 'und' {whens} ELSE 'und' END AS pred_lang
        FROM sc ORDER BY doc_id
    """


def _lsh_bucket_terms(planes_n: int = 8) -> str:
    from btrdb_server_spark.functions.similarity import hyperplanes

    planes = hyperplanes(64, planes=planes_n, seed=42)
    return " + ".join(
        f"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {_lit_vec_sql(h)}) > 0"
        f" THEN {1 << j} ELSE 0 END"
        for j, h in enumerate(planes)
    )


def _ann_lsh_sql() -> str:
    return (
        f"SELECT vec_id, CAST({_lsh_bucket_terms()} AS BIGINT) AS bucket "
        "FROM embeddings ORDER BY vec_id"
    )


def _ann_lsh_topk_sql() -> str:
    return f"""
        WITH b AS (
            SELECT vec_id, CAST({_lsh_bucket_terms(4)} AS BIGINT) AS bucket
            FROM embeddings
        ),
        pb AS (SELECT bucket FROM b WHERE vec_id = 0),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        probe AS (SELECT v AS q FROM e WHERE vec_id = 0)
        SELECT e.vec_id,
               round(list_cosine_similarity(e.v, probe.q), 6) AS cosine
        FROM e JOIN b ON e.vec_id = b.vec_id JOIN pb ON b.bucket = pb.bucket, probe
        ORDER BY cosine DESC, e.vec_id LIMIT 10
    """


def _attribution_sql() -> str:
    """Shared oracle for attribution_last_touch and its at-ingest twin
    streaming_attribution (bit-equal on the in-order sliced source)."""
    return f"""
            WITH src AS (
                SELECT user_id AS u, epoch_ns(ts) AS t, event_id AS eid,
                       event_type AS et,
                       CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kind
                FROM events
                WHERE event_type IN ('purchase', 'click', 'view')
            ), c AS (
                SELECT *, last_value(
                    CASE WHEN kind = 1
                         THEN struct_pack(t := t, eid := eid, et := et) END
                    IGNORE NULLS) OVER (
                        PARTITION BY u ORDER BY t, kind, eid
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
                FROM src
            )
            SELECT eid AS event_id, t AS conv_time,
                   CASE WHEN ok THEN lt.eid END AS touch_event_id,
                   CASE WHEN ok THEN lt.et END AS touch_type,
                   CASE WHEN ok THEN lt.t END AS touch_time,
                   CASE WHEN ok THEN t - lt.t END AS latency
            FROM (
                SELECT *, lt IS NOT NULL AND t - lt.t <= {DAY_NS} AS ok
                FROM c WHERE kind = 0
            )
            ORDER BY event_id
        """


def _rfm_sql(anchor_end: int) -> str:
    """user_rfm oracle: per-metric exact type-1 quintile boundaries via
    histogram cumulation, then comparison-assigned 1-5 scores (ties share
    a score) — mirrors operators/events.py user_rfm."""
    bounds = []
    for m in ("recency", "frequency", "monetary_q"):
        picks = ", ".join(
            f"min(CASE WHEN cum >= CAST(ceil(CAST(t_{m}.n AS DOUBLE) * {q}) AS BIGINT)"
            f" THEN v END) AS b{i}"
            for i, q in enumerate((0.2, 0.4, 0.6, 0.8))
        )
        bounds.append(
            f"h_{m} AS (SELECT {m} AS v, count(*) AS c FROM u GROUP BY 1),\n"
            f"c_{m} AS (SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED"
            f" PRECEDING) AS BIGINT) AS cum FROM h_{m}),\n"
            f"t_{m} AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h_{m}),\n"
            f"b_{m} AS (SELECT {picks} FROM c_{m}, t_{m})"
        )

    def hi(m: str, tbl: str) -> str:
        terms = " + ".join(
            f"CASE WHEN u.{m} > {tbl}.b{i} THEN 1 ELSE 0 END" for i in range(4)
        )
        return f"(1 + {terms})"

    return f"""
        WITH u AS (
            SELECT user_id, {anchor_end} - max(epoch_ns(ts)) AS recency,
                   count(*) AS frequency,
                   CAST(sum(CAST(round(value / 0.01) AS BIGINT)) AS BIGINT)
                       AS monetary_q
            FROM events WHERE epoch_ns(ts) < {anchor_end} GROUP BY 1
        ),
        {",".join(bounds)}
        SELECT user_id, recency, frequency, monetary_q, r_score, f_score,
               m_score, r_score * 100 + f_score * 10 + m_score AS rfm
        FROM (
            SELECT u.user_id, u.recency, u.frequency, u.monetary_q,
                   CAST(6 - {hi("recency", "b_recency")} AS BIGINT) AS r_score,
                   CAST({hi("frequency", "b_frequency")} AS BIGINT) AS f_score,
                   CAST({hi("monetary_q", "b_monetary_q")} AS BIGINT) AS m_score
            FROM u, b_recency, b_frequency, b_monetary_q
        )
        ORDER BY user_id
    """


def _ann_recall_eval_sql() -> str:
    """ann_recall_eval oracle: exact batched top-10 vs LSH-bucket-restricted
    top-10 (4 hyperplanes, seed 42), intersected per probe."""
    return f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS q
            FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
        ),
        s AS (SELECT p.probe_id, e.vec_id,
                     round(list_cosine_similarity(
                         CAST(e.embedding AS DOUBLE[]), p.q), 6) AS cosine
              FROM embeddings e CROSS JOIN probes p),
        r AS (SELECT probe_id, vec_id,
                     row_number() OVER (PARTITION BY probe_id
                                        ORDER BY cosine DESC, vec_id) AS rank
              FROM s),
        exact AS (SELECT probe_id, vec_id FROM r WHERE rank <= 10),
        b AS (SELECT vec_id, CAST({_lsh_bucket_terms(4)} AS BIGINT) AS bucket
              FROM embeddings),
        pb AS (SELECT p.probe_id, b.bucket, p.q
               FROM probes p JOIN b ON b.vec_id = p.probe_id),
        cs AS (SELECT pb.probe_id, e.vec_id,
                      round(list_cosine_similarity(
                          CAST(e.embedding AS DOUBLE[]), pb.q), 6) AS cosine
               FROM embeddings e JOIN b ON e.vec_id = b.vec_id
               JOIN pb ON b.bucket = pb.bucket),
        ar AS (SELECT probe_id, vec_id,
                      row_number() OVER (PARTITION BY probe_id
                                         ORDER BY cosine DESC, vec_id) AS rank
               FROM cs),
        approx AS (SELECT probe_id, vec_id FROM ar WHERE rank <= 10),
        hits AS (SELECT probe_id, count(*) AS n_hits
                 FROM approx JOIN exact USING (probe_id, vec_id) GROUP BY 1),
        ne AS (SELECT probe_id, count(*) AS n_exact FROM exact GROUP BY 1)
        SELECT ne.probe_id, ne.n_exact, coalesce(hits.n_hits, 0) AS n_hits,
               CAST(coalesce(hits.n_hits, 0) AS DOUBLE)
                   / CAST(ne.n_exact AS DOUBLE) AS recall
        FROM ne LEFT JOIN hits USING (probe_id) ORDER BY probe_id
    """


def _bm25_terms_sql() -> str:
    return "[" + ",".join(f"'{t}'" for t in BM25_QUERY) + "]"


# Product-quantization CTEs shared by the pq_encode and ann_pq_topk oracles:
# 64-dim vectors, m=4 subspaces of 16, codebook = first 8 vectors' subvectors
# (mirrors functions/similarity.py pq_encode with dim=64, m=4, k=8).
_PQ_CTES = """
    j AS (SELECT unnest(generate_series(0, 3)) AS j),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sub AS (SELECT vec_id, j, list_slice(v, j*16 + 1, j*16 + 16) AS sv
            FROM e CROSS JOIN j),
    cb AS (SELECT e.vec_id AS code, j, list_slice(v, j*16 + 1, j*16 + 16) AS cv
           FROM e CROSS JOIN j WHERE e.vec_id < 8),
    pqd AS (SELECT s.vec_id, s.j, cb.code,
                   round(list_distance(s.sv, cb.cv), 6) AS dist
            FROM sub s JOIN cb USING (j)),
    pqr AS (SELECT vec_id, j, code, row_number() OVER
                   (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
            FROM pqd),
    codes AS (SELECT vec_id, j, code FROM pqr WHERE rn = 1)
"""


def oracle_sql() -> dict[str, str]:
    from btrdb_server_spark.functions.retrieval import BM25_B, BM25_K1  # noqa: F401

    stat_cols = (
        "min(value) AS vmin, round(avg(value), 6) AS vmean, "
        "max(value) AS vmax, count(*) AS cnt"
    )
    # Ladder-served entries: the engine's mean rides the int64 vq quantum
    # path (exactly associative — see RollupLadder.value_quantum), so the
    # oracle computes the identical integer-sum formulation; no float
    # accumulation-order surface on either side.
    stat_cols_q = (
        "min(value) AS vmin, "
        "round((sum(CAST(round(value / 0.01) AS BIGINT)) * 0.01)"
        " / count(*), 6) AS vmean, "
        "max(value) AS vmax, count(*) AS cnt"
    )
    d = {
        "raw_values": f"""
            {PTS_CTE}
            SELECT time, value FROM pts
            WHERE uuid = 'click' AND time >= {T_2024} AND time < {T_2025}
            ORDER BY time
        """,
        "dormancy_stats": _dormancy_oracle_sql(),
        "uplift_quintiles": _uplift_oracle_sql(),
        "cohort_ltv": _cohort_ltv_oracle_sql(),
        "streaming_twa": _streaming_twa_oracle_sql(),
        "streaming_quantile": _streaming_quantile_oracle_sql(),
        "streaming_coverage": _streaming_coverage_oracle_sql(),
        "windows_quantile_ladder": f"""
            {PTS_CTE}, src AS (
                SELECT time, CAST(round(value / 0.01) AS BIGINT) AS vq
                FROM pts
                WHERE uuid = 'view'
                  AND time >= {T_2024} AND time < {(T_FEB >> 42) << 42}
            ), wv AS (
                SELECT (time >> 42) << 42 AS wtime, vq,
                       row_number() OVER (PARTITION BY (time >> 42) << 42
                                          ORDER BY vq) AS rn,
                       count(*) OVER (PARTITION BY (time >> 42) << 42) AS n
                FROM src
            )
            SELECT wtime AS time, CAST(any_value(n) AS BIGINT) AS n,
                   CAST(max(CASE WHEN rn = (1 * n + 1) // 2
                                 THEN vq END) AS DOUBLE) / 100.0 AS p50,
                   CAST(max(CASE WHEN rn = (9 * n + 9) // 10
                                 THEN vq END) AS DOUBLE) / 100.0 AS p90,
                   CAST(max(CASE WHEN rn = (99 * n + 99) // 100
                                 THEN vq END) AS DOUBLE) / 100.0 AS p99
            FROM wv GROUP BY 1 ORDER BY 1
        """,
        "burstiness": f"""
            {PTS_CTE}, l AS (
                SELECT time, lag(time) OVER (ORDER BY time, value) AS pt
                FROM pts
                WHERE uuid = 'error' AND time >= {T_2024} AND time < {T_FEB}
            ), gp AS (SELECT time - pt AS g FROM l WHERE pt IS NOT NULL),
            agg AS (
                SELECT count(*) AS n_gaps, CAST(sum(g) AS BIGINT) AS sg,
                       sum(CAST(g AS HUGEINT) * g) AS sgg
                FROM gp
            )
            SELECT n_gaps,
                   CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_ns,
                   sqrt(CAST(sgg AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                        - (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                          * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                       AS std_ns,
                   (sqrt(CAST(sgg AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                         - (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                           * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                    - CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                   / (sqrt(CAST(sgg AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                           - (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                             * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                      + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) AS b
            FROM agg
        """,
        "ks_test": f"""
            {PTS_CTE}, ha AS (
                SELECT CAST(round(value / 0.01) AS BIGINT) AS vq,
                       count(*) AS ca
                FROM pts WHERE uuid = 'view'
                  AND time >= {T_2024} AND time < {T_JAN15} GROUP BY 1
            ), hb AS (
                SELECT CAST(round(value / 0.01) AS BIGINT) AS vq,
                       count(*) AS cb
                FROM pts WHERE uuid = 'view'
                  AND time >= {T_JAN15} AND time < {T_FEB} GROUP BY 1
            ), merged AS (
                SELECT COALESCE(ha.vq, hb.vq) AS vq,
                       COALESCE(ha.ca, 0) AS ca, COALESCE(hb.cb, 0) AS cb
                FROM ha FULL OUTER JOIN hb ON ha.vq = hb.vq
            ), cum AS (
                SELECT vq,
                       CAST(sum(ca) OVER (ORDER BY vq
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
                       CAST(sum(cb) OVER (ORDER BY vq
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b
                FROM merged
            ), tot AS (
                SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                       CAST(sum(cb) AS BIGINT) AS n_b
                FROM merged
            ), scored AS (
                SELECT tot.n_a, tot.n_b,
                       abs(tot.n_b * cum.cum_a - tot.n_a * cum.cum_b) AS g,
                       cum.vq
                FROM cum CROSS JOIN tot
            ), best AS (
                SELECT n_a, n_b, g, vq,
                       row_number() OVER (ORDER BY g DESC, vq DESC) AS rn
                FROM scored
            )
            SELECT n_a, n_b,
                   CAST(g AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS d_stat,
                   CAST(vq AS DOUBLE) / 100.0 AS at_value
            FROM best WHERE rn = 1
        """,
        "kaplan_meier": _km_oracle_sql(),
        "revenue_rollup": """
            SELECT l_returnflag, l_linestatus,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                   CAST(sum(CAST(round(l_extendedprice / 0.01) AS BIGINT))
                        AS DOUBLE) / 100.0 AS revenue,
                   count(*) AS n_items
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
            ORDER BY gid, l_returnflag, l_linestatus
        """,
        "psi_drift": _psi_oracle_sql(),
        "psi_timeline": _psi_timeline_oracle_sql(),
        "gini_spend": f"""
            WITH ev AS (
                SELECT user_id AS u, epoch_ns(ts) AS t,
                       CAST(round(value / 0.01) AS BIGINT) AS vq
                FROM events WHERE event_type = 'purchase'
            ), pu AS (
                SELECT u, CAST(sum(vq) AS BIGINT) AS y
                FROM ev WHERE t >= {T_2024} AND t < {T_FEB} GROUP BY 1
            ), ranked AS (
                SELECT y, CAST(row_number() OVER (ORDER BY y, u) AS BIGINT) AS i
                FROM pu
            ), agg AS (
                SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS ty,
                       sum(CAST(i AS HUGEINT) * y) AS iy
                FROM ranked
            )
            SELECT n AS n_users, CAST(ty AS DOUBLE) / 100.0 AS total,
                   2.0 * CAST(iy AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(ty AS DOUBLE))
                   - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
            FROM agg
        """,
        "welch_ttest": _welch_oracle_sql(),
        "ab_experiment": _ab_oracle_sql(),
        "bootstrap_ci": _bootstrap_oracle_sql(),
        "pca_top_component": _pca_oracle_sql(),
        "variance_decompose": _variance_decompose_oracle_sql(),
        "late_order_priority": """
            WITH o AS (
                SELECT o_orderkey, o_orderpriority,
                       CAST(o_orderdate AS DATE) AS odate
                FROM orders
                WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
                  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
            ), late AS (
                SELECT DISTINCT o.o_orderkey, o.o_orderpriority
                FROM o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                WHERE CAST(l.l_shipdate AS DATE) > o.odate + 90
            )
            SELECT o_orderpriority, count(*) AS n_orders
            FROM late GROUP BY 1 ORDER BY 1
        """,
        "twa_hold": f"""
            {PTS_CTE}, src AS (
                SELECT time,
                       CAST(round(value / 0.01) AS BIGINT) AS vq, value
                FROM pts
                WHERE uuid = 'click' AND time >= {T_2024} AND time < {T_FEB}
            ), seg AS (
                SELECT time AS s,
                       COALESCE(lead(time) OVER (ORDER BY time, value),
                                {T_FEB}) AS e,
                       vq
                FROM src
            ), frag AS (
                SELECT u.widx, seg.vq,
                       least(seg.e, {T_2024} + (u.widx + 1) * {DAY_NS})
                         - greatest(seg.s, {T_2024} + u.widx * {DAY_NS}) AS ov
                FROM seg, unnest(generate_series(
                        (seg.s - {T_2024}) // {DAY_NS},
                        (seg.e - 1 - {T_2024}) // {DAY_NS})) AS u(widx)
                WHERE seg.e > seg.s
            ), agg AS (
                SELECT widx,
                       sum(CAST(vq AS HUGEINT) * ov) AS num,
                       CAST(sum(ov) AS BIGINT) AS cov
                FROM frag GROUP BY 1
            )
            SELECT {T_2024} + widx * {DAY_NS} AS time, cov AS covered_ns,
                   CAST(num AS DOUBLE) / CAST(cov AS DOUBLE) / 100.0 AS twa
            FROM agg ORDER BY time
        """,
        "markov_entropy": _markov_entropy_oracle_sql(),
        "kalman_level": _kalman_oracle_sql(),
        "dtw_distance": _dtw_oracle_sql(),
        "mann_kendall": f"""
            {PTS_CTE}, t AS (
                SELECT (time - {T_2024}) // {DAY_NS} AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT)) AS BIGINT) AS yq
                FROM pts
                WHERE uuid = 'purchase' AND time >= {T_2024} AND time < {T_FEB}
                GROUP BY 1
            ), s AS (
                SELECT CAST(COALESCE(sum(CAST(sign(b.yq - a.yq) AS BIGINT)), 0)
                            AS BIGINT) AS s
                FROM t a JOIN t b ON a.widx < b.widx
            ), nt AS (SELECT count(*) AS n FROM t),
            ties AS (
                SELECT COALESCE(CAST(sum(t_ * (t_ - 1) * (2 * t_ + 5)) AS BIGINT), 0)
                           AS tie_term
                FROM (SELECT count(*) AS t_ FROM t GROUP BY yq)
            ), x AS (
                SELECT nt.n, s.s,
                       CAST(nt.n * (nt.n - 1) * (2 * nt.n + 5) - ties.tie_term
                            AS DOUBLE) / 18.0 AS var_s
                FROM s, nt, ties
            )
            SELECT n, s, var_s,
                   CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
                        WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
                        ELSE 0.0 END AS z
            FROM x
        """,
        "theilsen_trend": f"""
            {PTS_CTE}, t AS (
                SELECT (time - {T_2024}) // {DAY_NS} AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT)) AS BIGINT) AS yq
                FROM pts
                WHERE uuid = 'purchase' AND time >= {T_2024} AND time < {T_FEB}
                GROUP BY 1
            ), pairs AS (
                SELECT a.widx AS i, b.widx AS j,
                       CAST(b.yq - a.yq AS DOUBLE)
                           / CAST(b.widx - a.widx AS DOUBLE) AS slope
                FROM t a JOIN t b ON a.widx < b.widx
            ), np AS (SELECT count(*) AS n_pairs FROM pairs),
            cum AS (
                SELECT slope, count(*) OVER (
                    ORDER BY slope, i, j ROWS UNBOUNDED PRECEDING) AS cum
                FROM pairs
            ), med AS (
                SELECT np.n_pairs,
                       min(CASE WHEN cum.cum >=
                                CAST(ceil(CAST(np.n_pairs AS DOUBLE) * 0.5) AS BIGINT)
                                THEN cum.slope END) AS slope_q
                FROM cum, np GROUP BY 1
            ), resid AS (
                SELECT med.n_pairs, med.slope_q,
                       CAST(t.yq AS DOUBLE)
                           - med.slope_q * CAST(t.widx AS DOUBLE) AS r,
                       t.widx
                FROM t CROSS JOIN med
            ), rcum AS (
                SELECT n_pairs, slope_q, r, count(*) OVER (
                    ORDER BY r, widx ROWS UNBOUNDED PRECEDING) AS cum
                FROM resid
            ), nt AS (SELECT count(*) AS n FROM t)
            SELECT nt.n, rcum.n_pairs,
                   min(CASE WHEN rcum.cum >=
                            CAST(ceil(CAST(nt.n AS DOUBLE) * 0.5) AS BIGINT)
                            THEN rcum.slope_q END) / 100.0 AS slope_per_window,
                   min(CASE WHEN rcum.cum >=
                            CAST(ceil(CAST(nt.n AS DOUBLE) * 0.5) AS BIGINT)
                            THEN rcum.r END) / 100.0 AS intercept
            FROM rcum, nt GROUP BY 1, 2
        """,
        "holt_smooth": _holt_flat_sql("uuid = 'purchase'", grouped=False),
        "streaming_holt": _holt_flat_sql("uuid IN ('purchase', 'error')", grouped=True),
        "cms_heavy_hitters": _cms_oracle_sql(),
        "winsorized_stats": f"""
            {PTS_CTE}, src AS (
                SELECT CAST(round(value / 0.01) AS BIGINT) AS vq FROM pts
                WHERE uuid = 'error' AND time >= {T_2024} AND time < {T_FEB}
            ), h AS (SELECT vq, count(*) AS c FROM src GROUP BY 1),
            cum AS (
                SELECT vq, CAST(sum(c) OVER (
                    ORDER BY vq ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                FROM h
            ), t AS (
                SELECT CAST(sum(c) AS BIGINT) AS n,
                       CAST(sum(vq * c) AS BIGINT) AS s FROM h
            ), cuts AS (
                SELECT t.n, t.s,
                       min(CASE WHEN cum.cum >= CAST(ceil(CAST(t.n AS DOUBLE) * 0.05) AS BIGINT)
                                THEN cum.vq END) AS lo,
                       min(CASE WHEN cum.cum >= CAST(ceil(CAST(t.n AS DOUBLE) * 0.95) AS BIGINT)
                                THEN cum.vq END) AS hi
                FROM cum, t GROUP BY 1, 2
            ), ws AS (
                SELECT cuts.n, cuts.s, cuts.lo, cuts.hi,
                       CAST(sum(least(greatest(h.vq, cuts.lo), cuts.hi) * h.c)
                            AS BIGINT) AS ws
                FROM h CROSS JOIN cuts GROUP BY 1, 2, 3, 4
            )
            SELECT n, CAST(lo AS DOUBLE) / 100.0 AS p_lo,
                   CAST(hi AS DOUBLE) / 100.0 AS p_hi,
                   CAST(ws AS DOUBLE) / n / 100.0 AS win_mean,
                   CAST(s AS DOUBLE) / n / 100.0 AS mean
            FROM ws
        """,
        # Fixed-point integer PageRank: every op is int64 multiply/floor-
        # divide, so iteration results are engine- and order-exact.
        "copurchase_pagerank": """
            WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
            e0 AS (
                SELECT a.p AS u, b.p AS v, count(*) AS w
                FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p
                GROUP BY 1, 2
            ),
            wsum AS (SELECT u, CAST(sum(w) AS BIGINT) AS wu FROM e0 GROUP BY 1),
            e AS (SELECT e0.u, e0.v, e0.w, wsum.wu FROM e0 JOIN wsum USING (u)),
            nodes AS (SELECT u AS p FROM e0 UNION SELECT v FROM e0),
            n AS (SELECT count(*) AS n_nodes FROM nodes),
            r0 AS (SELECT p, (1000000000000 // n_nodes) AS r
                   FROM nodes CROSS JOIN n),
            c1 AS (SELECT e.v, CAST(sum((r0.r * e.w) // e.wu) AS BIGINT) AS inc
                   FROM r0 JOIN e ON r0.p = e.u GROUP BY 1),
            r1 AS (SELECT nodes.p,
                          ((15 * (1000000000000 // n.n_nodes)
                            + 85 * coalesce(c1.inc, 0)) // 100) AS r
                   FROM nodes CROSS JOIN n LEFT JOIN c1 ON nodes.p = c1.v),
            c2 AS (SELECT e.v, CAST(sum((r1.r * e.w) // e.wu) AS BIGINT) AS inc
                   FROM r1 JOIN e ON r1.p = e.u GROUP BY 1),
            r2 AS (SELECT nodes.p,
                          ((15 * (1000000000000 // n.n_nodes)
                            + 85 * coalesce(c2.inc, 0)) // 100) AS r
                   FROM nodes CROSS JOIN n LEFT JOIN c2 ON nodes.p = c2.v),
            c3 AS (SELECT e.v, CAST(sum((r2.r * e.w) // e.wu) AS BIGINT) AS inc
                   FROM r2 JOIN e ON r2.p = e.u GROUP BY 1),
            r3 AS (SELECT nodes.p,
                          ((15 * (1000000000000 // n.n_nodes)
                            + 85 * coalesce(c3.inc, 0)) // 100) AS r
                   FROM nodes CROSS JOIN n LEFT JOIN c3 ON nodes.p = c3.v)
            SELECT p AS part, r AS rank_fp FROM r3
            ORDER BY rank_fp DESC, part LIMIT 50
        """,
        # Binned DFT on a shared Python-precomputed integer trig table
        # (libm cos/sin differ across engines by ULPs — neither side calls
        # them); see operators/spectral.py.
        "periodogram": _periodogram_oracle_sql(),
        # Holt fold replayed op-for-op on the sorted day: the level'
        # subexpression is duplicated inside the trend update exactly as
        # the Spark lambda writes it, so intermediate rounding matches and
        # the doubles are bit-identical.
        "holt_forecast": f"""
            {PTS_CTE}, src AS (
                SELECT (time - {T_2024}) // {DAY_NS} AS widx, time, value
                FROM pts
                WHERE uuid = 'view' AND time >= {T_2024} AND time < {T_FEB}
            ), arr AS (
                SELECT widx, count(*) AS n,
                       list(struct_pack(t := time, v := value)
                            ORDER BY time, value) AS a
                FROM src GROUP BY 1
            ), f AS (
                -- accumulator is a 2-element DOUBLE[] ([level, trend]), NOT
                -- a struct: DuckDB 1.0 list_reduce evaluates struct_pack
                -- fields sequentially and later fields see the ALREADY
                -- UPDATED acc fields (acc.l reads the new level) — plain
                -- list accumulators bind correctly.
                SELECT widx, n, list_reduce(
                    list_transform(a, p -> [p.v, CAST(0 AS DOUBLE)]),
                    (acc, x) -> [
                        CAST(0.25 AS DOUBLE) * x[1]
                            + CAST(0.75 AS DOUBLE) * (acc[1] + acc[2]),
                        CAST(0.125 AS DOUBLE)
                            * ((CAST(0.25 AS DOUBLE) * x[1]
                                + CAST(0.75 AS DOUBLE) * (acc[1] + acc[2]))
                               - acc[1])
                            + CAST(0.875 AS DOUBLE) * acc[2]]
                ) AS s FROM arr
            )
            SELECT {T_2024} + widx * {DAY_NS} AS time, n,
                   s[1] AS level, s[2] AS trend, (s[1] + s[2]) AS forecast
            FROM f ORDER BY time
        """,
        # Money columns are 2-decimal quantized: all sums run on exact
        # integer cents / 1e-4 / 1e-6 units, every emitted double is one
        # division of exact integers — engine- and order-independent.
        "pricing_summary": """
            WITH src AS (
                SELECT l_returnflag, l_linestatus,
                       CAST(round(l_quantity) AS BIGINT) AS qty,
                       CAST(round(l_extendedprice / 0.01) AS BIGINT) AS cents,
                       CAST(round(l_discount / 0.01) AS BIGINT) AS disc_h,
                       CAST(round(l_tax / 0.01) AS BIGINT) AS tax_h
                FROM lineitem
                WHERE CAST(l_shipdate AS DATE) < DATE '1998-09-01'
            ), agg AS (
                SELECT l_returnflag, l_linestatus,
                       CAST(sum(qty) AS BIGINT) AS sum_qty,
                       sum(cents) AS s_cents,
                       sum(cents * (100 - disc_h)) AS s_dp4,
                       sum(cents * (100 - disc_h) * (100 + tax_h)) AS s_ch6,
                       CAST(sum(disc_h) AS BIGINT) AS s_disc_h,
                       count(*) AS count_order
                FROM src GROUP BY 1, 2
            )
            SELECT l_returnflag, l_linestatus, sum_qty,
                   CAST(s_cents AS DOUBLE) / 100.0 AS sum_base_price,
                   CAST(s_dp4 AS DOUBLE) / 10000.0 AS sum_disc_price,
                   CAST(s_ch6 AS DOUBLE) / 1000000.0 AS sum_charge,
                   CAST(sum_qty AS DOUBLE) / count_order AS avg_qty,
                   CAST(s_cents AS DOUBLE) / count_order / 100.0 AS avg_price,
                   CAST(s_disc_h AS DOUBLE) / count_order / 100.0 AS avg_disc,
                   count_order
            FROM agg ORDER BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            WITH o AS (
                SELECT o_orderkey, o_custkey FROM orders
                WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
                  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
            ), li AS (
                SELECT l_orderkey,
                       CAST(round(l_extendedprice / 0.01) AS BIGINT)
                         * (100 - CAST(round(l_discount / 0.01) AS BIGINT))
                         AS rev4
                FROM lineitem
            )
            SELECT n_name,
                   CAST(sum(rev4) AS DOUBLE) / 10000.0 AS revenue,
                   count(DISTINCT o_orderkey) AS n_orders,
                   count(*) AS n_items
            FROM li JOIN o ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1 ORDER BY 1
        """,
        "top_paths": """
            WITH r AS (
                SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ), p AS (
                SELECT user_id,
                       string_agg(event_type, '>' ORDER BY rn) AS path
                FROM r WHERE rn <= 5 GROUP BY 1
            )
            SELECT path, count(*) AS users FROM p
            GROUP BY 1 ORDER BY users DESC, path LIMIT 20
        """,
        "returned_item_losses": """
            WITH o AS (
                SELECT o_orderkey, o_custkey FROM orders
                WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
                  AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
            ), li AS (
                SELECT l_orderkey,
                       CAST(round(l_extendedprice / 0.01) AS BIGINT)
                         * (100 - CAST(round(l_discount / 0.01) AS BIGINT))
                         AS rev4
                FROM lineitem WHERE l_returnflag = 'R'
            ), pc AS (
                SELECT o_custkey, sum(rev4) AS s_rev4,
                       count(*) AS n_items
                FROM li JOIN o ON l_orderkey = o_orderkey GROUP BY 1
            )
            SELECT c_custkey, c_name, n_name,
                   CAST(s_rev4 AS DOUBLE) / 10000.0 AS revenue,
                   n_items
            FROM pc JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            ORDER BY s_rev4 DESC, c_custkey LIMIT 20
        """,
        "ar1_forecast": f"""
            {PTS_CTE}, t AS (
                SELECT (time - {T_2024}) // {DAY_NS} AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts WHERE uuid = 'purchase'
                  AND time >= {T_2024} AND time < {T_FEB}
                GROUP BY 1
            ), marg AS (
                SELECT CAST(sum(s) AS BIGINT) AS S,
                       CAST(sum(s * s) AS BIGINT) AS SS,
                       CAST(COALESCE(sum(CASE WHEN widx < 30 THEN s END), 0)
                            AS BIGINT) AS Sh,
                       CAST(COALESCE(sum(CASE WHEN widx >= 1 THEN s END), 0)
                            AS BIGINT) AS St,
                       CAST(COALESCE(sum(CASE WHEN widx = 30 THEN s END), 0)
                            AS BIGINT) AS lastv
                FROM t
            ), dots AS (
                SELECT CAST(COALESCE(sum(a.s * b.s), 0) AS BIGINT) AS Sxy
                FROM t a JOIN t b ON a.widx + 1 = b.widx
            ), st2 AS (
                SELECT lastv,
                       CASE WHEN 31.0 * 31.0 * CAST(SS AS DOUBLE)
                                 - 31.0 * CAST(S AS DOUBLE)
                                   * CAST(S AS DOUBLE) > 0
                       THEN (31.0 * 31.0
                               * CAST(COALESCE(Sxy, 0) AS DOUBLE)
                             - 31.0 * CAST(S AS DOUBLE)
                               * (CAST(COALESCE(Sh, 0) AS DOUBLE)
                                  + CAST(COALESCE(St, 0) AS DOUBLE))
                             + 30.0 * CAST(S AS DOUBLE)
                               * CAST(S AS DOUBLE))
                            / (31.0 * 31.0 * CAST(SS AS DOUBLE)
                               - 31.0 * CAST(S AS DOUBLE)
                                 * CAST(S AS DOUBLE))
                       ELSE 0.0 END AS phi,
                       CAST(S AS DOUBLE) / 31.0 AS mu
                FROM marg, dots
            ), hs AS (SELECT unnest(range(1, 8)) AS h)
            SELECT h, phi,
                   (mu + list_reduce(
                            list_prepend(CAST(1 AS DOUBLE),
                                list_transform(range(1, h + 1), x -> phi)),
                            (a, b) -> a * b)
                         * (CAST(lastv AS DOUBLE) - mu)) * 0.01 AS forecast
            FROM st2 CROSS JOIN hs ORDER BY h
        """,
        "hurst_exponent": f"""
            {PTS_CTE}, t AS (
                SELECT (time - {T_2024}) // {DAY_NS // 24} AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts WHERE uuid = 'view'
                  AND time >= {T_2024} AND time < {T_FEB}
                GROUP BY 1
            ), sc AS (
                """
        + "\n                UNION ALL\n                ".join(
            f"""SELECT {m} AS m,
                       (CAST(SS AS DOUBLE) / ({float(m)!r} * {float(m)!r}))
                           / {float(744 // m)!r}
                       - (CAST(S AS DOUBLE) / {float(m)!r}
                          / {float(744 // m)!r})
                         * (CAST(S AS DOUBLE) / {float(m)!r}
                            / {float(744 // m)!r}) AS var_m
                FROM (SELECT CAST(COALESCE(sum(bs), 0) AS BIGINT) AS S,
                             CAST(COALESCE(sum(bs * bs), 0) AS BIGINT) AS SS
                      FROM (SELECT widx // {m} AS blk,
                                   CAST(sum(s) AS BIGINT) AS bs
                            FROM t WHERE widx < {(744 // m) * m}
                            GROUP BY 1))"""
            for m in (1, 2, 4, 8)
        )
        + """
            ), terms AS (
                SELECT m, ln(CAST(m AS DOUBLE)) AS x, ln(var_m) AS y
                FROM sc
            ), f AS (
                SELECT count(*) AS k,
                       CAST(0 AS DOUBLE)
                       + list_reduce(list(x ORDER BY m),
                                     (a, b) -> a + b) AS sx,
                       CAST(0 AS DOUBLE)
                       + list_reduce(list(y ORDER BY m),
                                     (a, b) -> a + b) AS sy,
                       CAST(0 AS DOUBLE)
                       + list_reduce(list(x * y ORDER BY m),
                                     (a, b) -> a + b) AS sxy,
                       CAST(0 AS DOUBLE)
                       + list_reduce(list(x * x ORDER BY m),
                                     (a, b) -> a + b) AS sxx,
                       CAST(0 AS DOUBLE)
                       + list_reduce(list(y * y ORDER BY m),
                                     (a, b) -> a + b) AS syy
                FROM terms
            ), st AS (
                SELECT k,
                       CAST(k AS DOUBLE) * sxy - sx * sy AS cov,
                       CAST(k AS DOUBLE) * sxx - sx * sx AS vx,
                       CAST(k AS DOUBLE) * syy - sy * sy AS vy
                FROM f
            )
            SELECT k AS n_scales,
                   1.0 + (cov / vx) / 2.0 AS hurst,
                   CASE WHEN vy > 0 THEN cov * cov / (vx * vy) END AS r2
            FROM st
        """,
        "bilateral_trade": """
            WITH s AS (
                SELECT s_suppkey, n_name AS supp_nation
                FROM supplier JOIN nation ON s_nationkey = n_nationkey
            ), c AS (
                SELECT c_custkey, n_name AS cust_nation
                FROM customer JOIN nation ON c_nationkey = n_nationkey
            ), o AS (
                SELECT o_orderkey, cust_nation
                FROM orders JOIN c ON o_custkey = c_custkey
            ), li AS (
                SELECT l_orderkey, l_suppkey, year(l_shipdate) AS l_year,
                       CAST(round(l_extendedprice / 0.01) AS BIGINT)
                         * (100 - CAST(round(l_discount / 0.01) AS BIGINT))
                         AS rev4
                FROM lineitem
            )
            SELECT supp_nation, cust_nation, l_year,
                   CAST(sum(rev4) AS DOUBLE) / 10000.0 AS revenue,
                   count(*) AS n_items
            FROM li JOIN s ON l_suppkey = s_suppkey
            JOIN o ON l_orderkey = o_orderkey
            GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
        """,
        "zipf_fit": r"""
            WITH tk AS (
                SELECT list_filter(
                    regexp_split_to_array(lower(text), '\s+'),
                    x -> x <> '') AS toks
                FROM documents
            ), counts AS (
                SELECT tok, count(*) AS cnt
                FROM (SELECT unnest(toks) AS tok FROM tk) GROUP BY 1
            ), tot AS (
                SELECT count(*) AS vocab_size,
                       CAST(sum(cnt) AS BIGINT) AS total_tokens
                FROM counts
            ), top AS (
                SELECT cnt,
                       row_number() OVER (ORDER BY cnt DESC, tok) AS rank
                FROM counts ORDER BY cnt DESC, tok LIMIT 100
            ), terms AS (
                SELECT rank,
                       ln(CAST(rank AS DOUBLE)) AS x,
                       ln(CAST(cnt AS DOUBLE)) AS y
                FROM top
            ), f AS (
                SELECT count(*) AS n,
                       CAST(0 AS DOUBLE)
                       + list_reduce(list(x ORDER BY rank),
                                     (a, b) -> a + b) AS sx,
                       CAST(0 AS DOUBLE)
                       + list_reduce(list(y ORDER BY rank),
                                     (a, b) -> a + b) AS sy,
                       CAST(0 AS DOUBLE)
                       + list_reduce(list(x * y ORDER BY rank),
                                     (a, b) -> a + b) AS sxy,
                       CAST(0 AS DOUBLE)
                       + list_reduce(list(x * x ORDER BY rank),
                                     (a, b) -> a + b) AS sxx,
                       CAST(0 AS DOUBLE)
                       + list_reduce(list(y * y ORDER BY rank),
                                     (a, b) -> a + b) AS syy
                FROM terms
            ), st AS (
                SELECT n, sx, sy,
                       CAST(n AS DOUBLE) * sxy - sx * sy AS cov,
                       CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
                       CAST(n AS DOUBLE) * syy - sy * sy AS vy
                FROM f
            )
            SELECT n AS n_top, vocab_size, total_tokens,
                   cov / vx AS slope,
                   (sy - (cov / vx) * sx) / CAST(n AS DOUBLE) AS intercept,
                   CASE WHEN vy > 0 THEN cov * cov / (vx * vy) END AS r2
            FROM st CROSS JOIN tot
        """,
        "anova_dow": f"""
            {PTS_CTE}, src AS (
                SELECT time, CAST(round(value / 0.01) AS BIGINT) AS q
                FROM pts WHERE uuid = 'purchase'
                  AND time >= {T_2024} AND time < {T_FEB}
            ), g AS (
                SELECT ((time // {DAY_NS}) + 4) % 7 AS dow,
                       count(*) AS ng,
                       CAST(sum(q) AS BIGINT) AS s1,
                       CAST(sum(q * q) AS BIGINT) AS s2
                FROM src GROUP BY 1
            ), t AS (
                SELECT CAST(sum(ng) AS BIGINT) AS n,
                       CAST(sum(s1) AS BIGINT) AS t1,
                       count(*) AS k
                FROM g
            ), terms AS (
                SELECT dow, n,
                       CAST(ng AS DOUBLE)
                       * (CAST(s1 AS DOUBLE) / CAST(ng AS DOUBLE)
                          - CAST(t1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s1 AS DOUBLE) / CAST(ng AS DOUBLE)
                          - CAST(t1 AS DOUBLE) / CAST(n AS DOUBLE)) AS bt,
                       CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                         / CAST(ng AS DOUBLE) AS wt
                FROM g CROSS JOIN t
            ), f AS (
                SELECT CAST(max(n) AS BIGINT) AS n_total,
                       count(*) AS n_groups,
                       CAST(0 AS DOUBLE)
                       + list_reduce(list(bt ORDER BY dow),
                                     (a, b) -> a + b) AS ssb,
                       CAST(0 AS DOUBLE)
                       + list_reduce(list(wt ORDER BY dow),
                                     (a, b) -> a + b) AS ssw
                FROM terms
            )
            SELECT n_total, n_groups,
                   n_groups - 1 AS df_between,
                   n_total - n_groups AS df_within,
                   ssb, ssw,
                   CASE WHEN ssw > 0 AND n_groups - 1 > 0
                             AND n_total - n_groups > 0
                   THEN (ssb / CAST(n_groups - 1 AS DOUBLE))
                        / (ssw / CAST(n_total - n_groups AS DOUBLE)) END
                       AS f_stat
            FROM f
        """,
        "streaming_kmv": f"""
            WITH h AS (
                SELECT DISTINCT event_type AS uuid,
                       CAST('0x' || substr(
                           md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 13)
                           AS BIGINT) AS h
                FROM events
            ), r AS (
                SELECT uuid, h,
                       row_number() OVER (PARTITION BY uuid ORDER BY h) AS rn
                FROM h
            ), t AS (
                SELECT uuid, CAST(max(h) AS BIGINT) AS kth_hash,
                       count(*) AS n_kept
                FROM r WHERE rn <= 256 GROUP BY 1
            )
            SELECT uuid, n_kept, kth_hash,
                   CASE WHEN n_kept = 256
                        THEN {float(255 * (1 << 52))!r}
                             / CAST(kth_hash AS DOUBLE)
                        ELSE CAST(n_kept AS DOUBLE) END AS kmv_est
            FROM t ORDER BY uuid
        """,
        "triangle_count": """
            WITH li AS (
                SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
            ), edges AS (
                SELECT DISTINCT a.p AS u, b.p AS v
                FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
            ), deg AS (
                SELECT p, count(*) AS deg FROM (
                    SELECT u AS p FROM edges
                    UNION ALL SELECT v AS p FROM edges
                ) GROUP BY 1
            ), oriented AS (
                SELECT CASE WHEN du.deg < dv.deg
                              OR (du.deg = dv.deg AND u < v)
                            THEN u ELSE v END AS src,
                       CASE WHEN du.deg < dv.deg
                              OR (du.deg = dv.deg AND u < v)
                            THEN v ELSE u END AS dst,
                       CASE WHEN du.deg < dv.deg
                              OR (du.deg = dv.deg AND u < v)
                            THEN dv.deg ELSE du.deg END AS ddeg
                FROM edges
                JOIN deg du ON du.p = u
                JOIN deg dv ON dv.p = v
            ), tri AS (
                SELECT count(*) AS n_triangles
                FROM (
                    SELECT e1.dst AS y, e2.dst AS z
                    FROM oriented e1
                    JOIN oriented e2 ON e1.src = e2.src
                     AND (e1.ddeg < e2.ddeg
                          OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
                ) c
                WHERE EXISTS (SELECT 1 FROM oriented w
                              WHERE w.src = c.y AND w.dst = c.z)
            ), w AS (
                SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT)
                           AS n_wedges,
                       count(*) AS n_nodes
                FROM deg
            ), e AS (SELECT count(*) AS n_edges FROM edges)
            SELECT n_nodes, n_edges, n_wedges, n_triangles,
                   3.0 * CAST(n_triangles AS DOUBLE)
                       / CAST(n_wedges AS DOUBLE) AS clustering
            FROM w, e, tri
        """,
        "chi2_independence": f"""
            {PTS_CTE}, cells AS (
                SELECT uuid,
                       ((time // {DAY_NS}) + 4) % 7 AS dow,
                       count(*) AS o
                FROM pts WHERE time >= {T_2024} AND time < {T_FEB}
                GROUP BY 1, 2
            ), rows_ AS (
                SELECT uuid, CAST(sum(o) AS BIGINT) AS r FROM cells
                GROUP BY 1
            ), cols_ AS (
                SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells
                GROUP BY 1
            ), tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
            spine AS (
                SELECT rows_.uuid, cols_.dow, r, c, n,
                       COALESCE(o, 0) AS o
                FROM rows_ CROSS JOIN cols_ CROSS JOIN tot
                LEFT JOIN cells ON cells.uuid = rows_.uuid
                               AND cells.dow = cols_.dow
            ), terms AS (
                SELECT uuid, dow, n,
                       CAST(n * o - r * c AS DOUBLE)
                       * CAST(n * o - r * c AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE)
                          * CAST(c AS DOUBLE)) AS term
                FROM spine
            ), agg AS (
                SELECT CAST(max(n) AS BIGINT) AS n_total,
                       count(DISTINCT uuid) AS n_rows,
                       count(DISTINCT dow) AS n_cols,
                       CAST(0 AS DOUBLE)
                       + list_reduce(list(term ORDER BY uuid, dow),
                                     (a, x) -> a + x) AS chi2
                FROM terms
            )
            SELECT n_total, n_rows, n_cols,
                   (n_rows - 1) * (n_cols - 1) AS dof,
                   chi2,
                   sqrt(chi2 / (CAST(n_total AS DOUBLE)
                                * CAST(least(n_rows, n_cols) - 1
                                       AS DOUBLE))) AS cramers_v
            FROM agg
        """,
        "kmv_distinct": f"""
            WITH h AS (
                SELECT DISTINCT event_type AS uuid,
                       CAST('0x' || substr(
                           md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 13)
                           AS BIGINT) AS h
                FROM events
            ), r AS (
                SELECT uuid, h,
                       row_number() OVER (PARTITION BY uuid ORDER BY h) AS rn
                FROM h
            ), t AS (
                SELECT uuid, CAST(max(h) AS BIGINT) AS kth_hash,
                       count(*) AS n_kept
                FROM r WHERE rn <= 256 GROUP BY 1
            ), e AS (
                SELECT event_type AS uuid,
                       count(DISTINCT user_id) AS n_exact
                FROM events GROUP BY 1
            )
            SELECT uuid, n_exact, n_kept, kth_hash,
                   CASE WHEN n_kept = 256
                        THEN {float(255 * (1 << 52))!r}
                             / CAST(kth_hash AS DOUBLE)
                        ELSE CAST(n_kept AS DOUBLE) END AS kmv_est
            FROM e JOIN t USING (uuid) ORDER BY uuid
        """,
        "moments_profile": f"""
            {PTS_CTE}, src AS (
                SELECT uuid, CAST(round(value / 0.01) AS BIGINT) AS q
                FROM pts WHERE time >= {T_2024} AND time < {T_FEB}
            ), agg AS (
                SELECT uuid, count(*) AS n,
                       CAST(sum(q) AS BIGINT) AS s1,
                       CAST(sum(q * q) AS BIGINT) AS s2,
                       sum(CAST(q * q AS HUGEINT) * q) AS s3,
                       sum(CAST(q * q AS HUGEINT) * (q * q)) AS s4
                FROM src GROUP BY 1
            ), m AS (
                -- HUGEINT->DOUBLE is not correctly rounded in DuckDB;
                -- base-2^31 limbs are int64 (exactly convertible) and
                -- the hi*2^31 + lo re-round mirrors the engine verbatim
                SELECT uuid, n,
                       CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                       CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
                       (CAST(CAST(s3 // 2147483648 AS BIGINT) AS DOUBLE)
                          * 2147483648.0
                        + CAST(CAST(s3 % 2147483648 AS BIGINT) AS DOUBLE))
                           / CAST(n AS DOUBLE) AS r3,
                       (CAST(CAST(s4 // 2147483648 AS BIGINT) AS DOUBLE)
                          * 2147483648.0
                        + CAST(CAST(s4 % 2147483648 AS BIGINT) AS DOUBLE))
                           / CAST(n AS DOUBLE) AS r4
                FROM agg
            ), c AS (
                SELECT uuid, n, mu,
                       r2 - mu * mu AS m2,
                       r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
                       r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
                          - 3.0 * mu * mu * mu * mu AS m4
                FROM m
            )
            SELECT uuid, n AS n_points,
                   mu * 0.01 AS mean,
                   sqrt(m2) * 0.01 AS std,
                   CASE WHEN m2 > 0 THEN m3 / (sqrt(m2) * m2) END
                       AS skewness,
                   CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END
                       AS kurtosis_x
            FROM c ORDER BY uuid
        """,
        "max_drawdown": f"""
            {PTS_CTE}, s AS (
                SELECT uuid, CAST(round(value / 0.01) AS BIGINT) AS q,
                       max(CAST(round(value / 0.01) AS BIGINT))
                           OVER (PARTITION BY uuid
                                 ORDER BY time,
                                          CAST(round(value / 0.01) AS BIGINT))
                           AS rm
                FROM pts WHERE time >= {T_2024} AND time < {T_FEB}
            )
            SELECT uuid, count(*) AS n_points,
                   CAST(max(rm - q) AS BIGINT) AS dd_q,
                   CAST(max(rm - q) AS DOUBLE) * 0.01 AS drawdown
            FROM s GROUP BY 1 ORDER BY 1
        """,
        "spearman_corr": f"""
            {PTS_CTE}, tx AS (
                SELECT (time - {T_2024}) // {DAY_NS} AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS xq
                FROM pts WHERE uuid = 'purchase'
                  AND time >= {T_2024} AND time < {T_FEB}
                GROUP BY 1
            ), ty AS (
                SELECT (time - {T_2024}) // {DAY_NS} AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS yv
                FROM pts WHERE uuid = 'view'
                  AND time >= {T_2024} AND time < {T_FEB}
                GROUP BY 1
            ), j AS (
                SELECT tx.widx, xq, yv FROM tx JOIN ty ON tx.widx = ty.widx
            ), r AS (
                SELECT CAST(2 * rank() OVER (ORDER BY xq)
                            + count(*) OVER (PARTITION BY xq) - 1
                            AS BIGINT) AS ra,
                       CAST(2 * rank() OVER (ORDER BY yv)
                            + count(*) OVER (PARTITION BY yv) - 1
                            AS BIGINT) AS rb
                FROM j
            ), a AS (
                SELECT count(*) AS n,
                       CAST(sum(ra) AS BIGINT) AS sa,
                       CAST(sum(rb) AS BIGINT) AS sb,
                       CAST(sum(ra * ra) AS BIGINT) AS saa,
                       CAST(sum(rb * rb) AS BIGINT) AS sbb,
                       CAST(sum(ra * rb) AS BIGINT) AS sab
                FROM r
            )
            SELECT n AS n_windows,
                   CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                              - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) > 0
                         AND (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                              - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0
                   THEN (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                        / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                                - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                           * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                                  - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
                   END AS rho
            FROM a
        """,
        "shipping_priority": """
            WITH o AS (
                SELECT o_orderkey, o_custkey,
                       CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
                           AS o_orderdate
                FROM orders
                WHERE CAST(o_orderdate AS DATE) < DATE '1996-07-01'
            ), li AS (
                SELECT l_orderkey,
                       CAST(round(l_extendedprice / 0.01) AS BIGINT)
                         * (100 - CAST(round(l_discount / 0.01) AS BIGINT))
                         AS rev4
                FROM lineitem
                WHERE CAST(l_shipdate AS DATE) > DATE '1996-07-01'
            )
            SELECT l_orderkey,
                   CAST(sum(rev4) AS DOUBLE) / 10000.0 AS revenue,
                   o_orderdate,
                   count(*) AS n_lines
            FROM li JOIN o ON l_orderkey = o_orderkey
            WHERE o_custkey IN (
                SELECT c_custkey FROM customer
                WHERE c_mktsegment = 'BUILDING')
            GROUP BY l_orderkey, o_orderdate
            ORDER BY sum(rev4) DESC, l_orderkey LIMIT 10
        """,
        "top_supplier": """
            WITH ps AS (
                SELECT l_suppkey,
                       sum(CAST(round(l_extendedprice / 0.01) AS BIGINT)
                           * (100 - CAST(round(l_discount / 0.01) AS BIGINT)))
                           AS s_rev4
                FROM lineitem
                WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
                  AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
                GROUP BY 1
            )
            SELECT s_suppkey, s_name,
                   CAST(s_rev4 AS DOUBLE) / 10000.0 AS total_revenue
            FROM ps JOIN supplier ON l_suppkey = s_suppkey
            WHERE s_rev4 = (SELECT max(s_rev4) FROM ps)
            ORDER BY s_suppkey
        """,
        "pivot_report": """
            WITH o AS (
                SELECT o_custkey, year(o_orderdate) AS yr,
                       CAST(round(o_totalprice / 0.01) AS BIGINT) AS cents
                FROM orders
            )
            SELECT n_name,
                   """
        + ",\n                   ".join(
            f"CAST(COALESCE(sum(CASE WHEN yr = {y} THEN cents END), 0)"
            f" AS DOUBLE) / 100.0 AS y{y}"
            for y in range(1995, 2002)
        )
        + """
            FROM o JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1 ORDER BY 1
        """,
        "assoc_rules": """
            WITH baskets AS (
                SELECT DISTINCT l_orderkey, p_brand AS brand
                FROM lineitem JOIN part ON l_partkey = p_partkey
            ), n AS (
                SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets
            ), pairs AS (
                SELECT a.brand AS brand_a, b.brand AS brand_b,
                       count(*) AS pair_cnt
                FROM baskets a
                JOIN baskets b ON a.l_orderkey = b.l_orderkey
                              AND a.brand <> b.brand
                GROUP BY 1, 2
            ), singles AS (
                SELECT brand, count(*) AS cnt FROM baskets GROUP BY 1
            )
            SELECT brand_a, brand_b, pair_cnt,
                   CAST(pair_cnt AS DOUBLE) / CAST(ca.cnt AS DOUBLE)
                       AS confidence,
                   CAST(n_orders * pair_cnt AS DOUBLE)
                       / CAST(ca.cnt * cb.cnt AS DOUBLE) AS lift
            FROM pairs
            JOIN singles ca ON brand_a = ca.brand
            JOIN singles cb ON brand_b = cb.brand
            CROSS JOIN n
            ORDER BY pair_cnt DESC, brand_a, brand_b LIMIT 50
        """,
        "aligned_windows": f"""
            {PTS_CTE}
            SELECT ((time >> 38) << 38) AS time, {stat_cols}
            FROM pts
            WHERE uuid = 'click' AND time >= {T_2024} AND time < {T_2025}
            GROUP BY 1 ORDER BY 1
        """,
        "aligned_quantiles": f"""
            {PTS_CTE}
            SELECT ((time >> 38) << 38) AS time,
                   quantile_cont(value, 0.5) AS p50,
                   quantile_cont(value, 0.9) AS p90,
                   quantile_cont(value, 0.99) AS p99,
                   count(value) AS cnt
            FROM pts
            WHERE uuid = 'click' AND time >= {T_2024} AND time < {T_2025}
            GROUP BY 1 ORDER BY 1
        """,
        "aligned_windows_all": f"""
            {PTS_CTE}
            SELECT uuid, ((time >> 40) << 40) AS time, {stat_cols}
            FROM pts
            WHERE time >= {T_2024} AND time < {T_2025}
            GROUP BY uuid, 2 ORDER BY uuid, time
        """,
        "aligned_windows_all_rollup": f"""
            {PTS_CTE}
            SELECT uuid, ((time >> 40) << 40) AS time, {stat_cols_q}
            FROM pts
            WHERE time >= {T_2024} AND time < {T_2025}
            GROUP BY uuid, 2 ORDER BY uuid, time
        """,
        "aligned_windows_rollup": f"""
            {PTS_CTE}
            SELECT ((time >> 40) << 40) AS time, {stat_cols_q}
            FROM pts
            WHERE uuid = 'click' AND time >= {T_2024} AND time < {T_2025}
            GROUP BY 1 ORDER BY 1
        """,
        "rollup_rewrite": f"""
            {PTS_CTE}
            SELECT ((time >> 40) << 40) AS time,
                   min(value) AS vmin,
                   round((sum(CAST(round(value / 0.01) AS BIGINT)) * 0.01)
                         / count(*), 6) AS vmean,
                   max(value) AS vmax, count(*) AS cnt
            FROM pts
            WHERE uuid = 'click'
              AND time >= {(T_2024 >> 40) << 40} AND time < {(T_2025 >> 40) << 40}
            GROUP BY 1 ORDER BY 1
        """,
        # Tumbling-window rewrite: DuckDB `//` on non-negative offsets ==
        # Spark `DIV`; mean via the same integer-quantum formulation the
        # quantized ladder serves.
        "windows_rewrite": f"""
            {PTS_CTE}
            SELECT (time - {(T_2024 >> 38) << 38}) // {(1 << 38) * 32} AS widx,
                   min(value) AS vmin,
                   round((sum(CAST(round(value / 0.01) AS BIGINT)) * 0.01)
                         / count(*), 6) AS vmean,
                   max(value) AS vmax, count(*) AS cnt
            FROM pts
            WHERE uuid = 'click'
              AND time >= {(T_2024 >> 38) << 38} AND time < {(T_2025 >> 38) << 38}
            GROUP BY 1 ORDER BY 1
        """,
        # Same canonical aggregate, reached through SQL text + the registered
        # view instead of the DataFrame API; the served result is identical.
        "sql_rollup_serve": f"""
            {PTS_CTE}
            SELECT ((time >> 40) << 40) AS time,
                   min(value) AS vmin,
                   round((sum(CAST(round(value / 0.01) AS BIGINT)) * 0.01)
                         / count(*), 6) AS vmean,
                   max(value) AS vmax, count(*) AS cnt
            FROM pts
            WHERE uuid = 'click'
              AND time >= {(T_2024 >> 40) << 40} AND time < {(T_2025 >> 40) << 40}
            GROUP BY 1 ORDER BY 1
        """,
        # Same quantized-mean contract as sql_rollup_serve, but the Spark
        # side runs PLAIN spark.sql under db.hook_sql() — proving the
        # session-level rewrite hook serves ladder answers for raw SQL text.
        "sql_hook_rollup": f"""
            {PTS_CTE}
            SELECT ((time >> 40) << 40) AS time,
                   min(value) AS vmin,
                   round((sum(CAST(round(value / 0.01) AS BIGINT)) * 0.01)
                         / count(*), 6) AS vmean,
                   max(value) AS vmax, count(*) AS cnt
            FROM pts
            WHERE uuid = 'error'
              AND time >= {(T_2024 >> 40) << 40} AND time < {(T_2025 >> 40) << 40}
            GROUP BY 1 ORDER BY 1
        """,
        "value_histogram": f"""
            {PTS_CTE}
            SELECT CAST(floor(value / 0.25) AS BIGINT) AS bin,
                   CAST(floor(value / 0.25) AS BIGINT)
                       * CAST(0.25 AS DOUBLE) AS bin_lo,
                   count(*) AS cnt
            FROM pts
            WHERE uuid = 'click' AND time >= {T_2024} AND time < {T_2025}
            GROUP BY 1 ORDER BY 1
        """,
        "windows_holes": f"""
            {PTS_CTE}, spine AS (
                SELECT range AS widx FROM range(0, {(T_FEB - T_2024) // DAY_NS})
            ), agg AS (
                SELECT (time - {T_2024}) // {DAY_NS} AS widx,
                       min(value) AS vmin, round(avg(value), 6) AS vmean,
                       max(value) AS vmax, count(*) AS cnt
                FROM pts
                WHERE uuid = 'view' AND time >= {T_2024} AND time < {T_FEB}
                GROUP BY 1
            )
            SELECT {T_2024} + spine.widx * {DAY_NS} AS time,
                   agg.vmin AS vmin, agg.vmean AS vmean, agg.vmax AS vmax,
                   coalesce(agg.cnt, 0) AS cnt
            FROM spine LEFT JOIN agg ON spine.widx = agg.widx
            ORDER BY time
        """,
        "decimate_envelope": f"""
            {PTS_CTE}
            , b AS (SELECT ((time >> 40) << 40) AS bucket, time, value
                    FROM pts
                    WHERE uuid = 'click' AND time >= {T_2024} AND time < {T_FEB}),
            lo AS (SELECT bucket, 'min' AS kind, time, value, row_number()
                          OVER (PARTITION BY bucket ORDER BY value ASC, time ASC) AS rn
                   FROM b),
            hi AS (SELECT bucket, 'max' AS kind, time, value, row_number()
                          OVER (PARTITION BY bucket ORDER BY value DESC, time ASC) AS rn
                   FROM b)
            SELECT bucket, kind, time, value FROM lo WHERE rn = 1
            UNION ALL
            SELECT bucket, kind, time, value FROM hi WHERE rn = 1
            ORDER BY bucket, kind
        """,
        "gaps": f"""
            {PTS_CTE}
            , l AS (SELECT time, lag(time) OVER (ORDER BY time, value) AS prev_time
                    FROM pts
                    WHERE uuid = 'error' AND time >= {T_2024} AND time < {T_FEB})
            SELECT prev_time AS gap_start, time AS gap_end,
                   time - prev_time AS gap_ns
            FROM l
            WHERE prev_time IS NOT NULL AND time - prev_time >= 3600000000000
            ORDER BY gap_start
        """,
        "sessions": f"""
            {PTS_CTE}
            , l AS (SELECT time, value,
                           lag(time) OVER (ORDER BY time, value) AS pt
                    FROM pts
                    WHERE uuid = 'error' AND time >= {T_2024} AND time < {T_FEB}),
            f AS (SELECT time, value,
                         CASE WHEN pt IS NULL OR time - pt >= 3600000000000
                              THEN 1 ELSE 0 END AS ns
                  FROM l),
            s AS (SELECT time, CAST(sum(ns) OVER (ORDER BY time, value
                              ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
                              AS session_id
                  FROM f)
            SELECT session_id, min(time) AS session_start,
                   max(time) AS session_end, count(*) AS n_points
            FROM s GROUP BY session_id ORDER BY session_id
        """,
        # Batch gap-and-islands per stream — the exact result the
        # streaming interval state must converge to under ANY arrival
        # order (late points merge or fuse sessions, nothing dropped).
        "streaming_sessions": f"""
            {PTS_CTE}
            , l AS (SELECT uuid, time, value,
                           lag(time) OVER (PARTITION BY uuid
                               ORDER BY time, value) AS pt
                    FROM pts
                    WHERE time >= {T_2024} AND time < {T_FEB}),
            f AS (SELECT uuid, time, value,
                         CASE WHEN pt IS NULL OR time - pt >= 3600000000000
                              THEN 1 ELSE 0 END AS ns
                  FROM l),
            s AS (SELECT uuid, time, sum(ns) OVER (PARTITION BY uuid
                              ORDER BY time, value
                              ROWS UNBOUNDED PRECEDING) AS sid
                  FROM f)
            SELECT uuid, min(time) AS session_start,
                   max(time) AS session_end, count(*) AS n_points
            FROM s GROUP BY uuid, sid ORDER BY uuid, session_start
        """,
        "rate": f"""
            {PTS_CTE}
            , l AS (SELECT time, value,
                           lag(time) OVER (ORDER BY time, value) AS pt,
                           lag(value) OVER (ORDER BY time, value) AS pv
                    FROM pts
                    WHERE uuid = 'click' AND time >= {T_2024} AND time < {T_JAN10})
            SELECT time, value,
                   CASE WHEN time - pt > 0
                        THEN (value - pv) / ((time - pt) / 1000000000.0)
                   END AS rate_per_sec
            FROM l WHERE pt IS NOT NULL ORDER BY time
        """,
        "resample_hold": f"""
            {PTS_CTE}, src AS (
                SELECT time, value FROM pts
                WHERE uuid = 'click' AND time >= 1704067200000000000 AND time < 1704672000000000000
            ), g AS (SELECT 1704067200000000000 + range * 3600000000000 AS tick FROM range(0, 168))
            SELECT g.tick AS time, s.value AS value
            FROM g ASOF LEFT JOIN src s ON g.tick >= s.time
            ORDER BY time
        """,
        "resample_linear": f"""
            {PTS_CTE}, src AS (
                SELECT time, value FROM pts
                WHERE uuid = 'view' AND time >= 1704067200000000000 AND time < 1704672000000000000
            ), g AS (SELECT 1704067200000000000 + range * 3600000000000 AS tick FROM range(0, 168)),
            p AS (SELECT g.tick, s.time AS t0, s.value AS v0
                  FROM g ASOF LEFT JOIN src s ON g.tick >= s.time),
            n AS (SELECT g.tick, s.time AS t1, s.value AS v1
                  FROM g ASOF LEFT JOIN src s ON g.tick < s.time)
            SELECT p.tick AS time,
                   CASE WHEN t0 = p.tick THEN v0
                        WHEN t0 IS NOT NULL AND t1 IS NOT NULL THEN
                        v0 + (v1 - v0) * (CAST(p.tick - t0 AS DOUBLE)
                                          / CAST(t1 - t0 AS DOUBLE))
                   END AS value
            FROM p JOIN n USING (tick) ORDER BY time
        """,
        "counter_rate": f"""
            {PTS_CTE}, src AS (
                SELECT time, value FROM pts
                WHERE uuid = 'signup' AND time >= 1704067200000000000 AND time < 1706745600000000000
            ), l AS (
                SELECT time, value,
                       lag(time) OVER (ORDER BY time, value) AS pt,
                       lag(value) OVER (ORDER BY time, value) AS pv
                FROM src
            ), d AS (
                SELECT (time - 1704067200000000000) // 86400000000000 AS widx,
                       CASE WHEN CAST(round(value / 0.01) AS BIGINT)
                                 >= CAST(round(pv / 0.01) AS BIGINT)
                            THEN CAST(round(value / 0.01) AS BIGINT)
                                 - CAST(round(pv / 0.01) AS BIGINT)
                            ELSE CAST(round(value / 0.01) AS BIGINT) END AS dq
                FROM l WHERE pt IS NOT NULL
            ), agg AS (
                SELECT widx, CAST(sum(dq) AS BIGINT) AS sq, count(*) AS nd
                FROM d GROUP BY 1
            ), spine AS (SELECT range AS widx FROM range(0, 31))
            SELECT 1704067200000000000 + spine.widx * 86400000000000 AS time,
                   COALESCE(agg.sq, 0) * CAST(0.01 AS DOUBLE) AS increase,
                   COALESCE(agg.nd, 0) AS n_deltas
            FROM spine LEFT JOIN agg USING (widx) ORDER BY time
        """,
        "trapz_integral": f"""
            {PTS_CTE}, src AS (
                SELECT time, value FROM pts
                WHERE uuid = 'click' AND time >= 1704067200000000000 AND time < 1706745600000000000
            ), l AS (
                SELECT time, value,
                       lag(time) OVER (ORDER BY time, value) AS pt,
                       lag(value) OVER (ORDER BY time, value) AS pv
                FROM src
            ), d AS (
                SELECT (pt - 1704067200000000000) // 86400000000000 AS widx,
                       (CAST(round(value / 0.01) AS BIGINT)
                        + CAST(round(pv / 0.01) AS BIGINT)) * (time - pt) AS t2q
                FROM l WHERE pt IS NOT NULL
            ), agg AS (SELECT widx, sum(t2q) AS s2q FROM d GROUP BY 1),
            spine AS (SELECT range AS widx FROM range(0, 31))
            SELECT 1704067200000000000 + spine.widx * 86400000000000 AS time,
                   CAST(COALESCE(agg.s2q, 0) AS DOUBLE) / 200000000000.0
                       AS integral_vs
            FROM spine LEFT JOIN agg USING (widx) ORDER BY time
        """,
        "anomaly_zscore": f"""
            {PTS_CTE}, src AS (
                SELECT time, value, ((time >> 44) << 44) AS bucket,
                       CAST(round(value / 0.01) AS BIGINT) AS q
                FROM pts
                WHERE uuid = 'error' AND time >= 1704067101192355840 AND time < 1706741113471107072
            ), m AS (
                SELECT bucket, count(*) AS n, CAST(sum(q) AS BIGINT) AS sq,
                       CAST(sum(q * q) AS BIGINT) AS sqq
                FROM src GROUP BY 1
            ), z AS (
                SELECT s.time, s.value,
                       CAST(s.q * m.n - m.sq AS DOUBLE)
                           / sqrt(CAST(m.n * m.sqq - m.sq * m.sq AS DOUBLE))
                           AS zscore,
                       s.bucket AS bucket_time,
                       m.n * m.sqq - m.sq * m.sq AS rad
                FROM src s JOIN m USING (bucket)
            )
            SELECT time, value, zscore, bucket_time FROM z
            WHERE rad > 0 AND abs(zscore) > 2.0 ORDER BY time
        """,
        "stream_corr": f"""
            {PTS_CTE}, sums AS (
                SELECT uuid, time >> 42 AS bucket,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT)) AS BIGINT) AS s
                FROM pts WHERE time >= 1704067101192355840 AND time < 1706745511517618176
                GROUP BY 1, 2
            ), marg AS (
                SELECT uuid, CAST(sum(s) AS BIGINT) AS sa,
                       CAST(sum(s * s) AS BIGINT) AS saa
                FROM sums GROUP BY 1
            ), dots AS (
                SELECT a.uuid AS uuid_a, b.uuid AS uuid_b,
                       CAST(sum(a.s * b.s) AS BIGINT) AS sab
                FROM sums a JOIN sums b USING (bucket)
                WHERE a.uuid < b.uuid GROUP BY 1, 2
            ), pairs AS (
                SELECT a.uuid AS uuid_a, b.uuid AS uuid_b
                FROM marg a CROSS JOIN marg b WHERE a.uuid < b.uuid
            ), x AS (
                SELECT pairs.uuid_a, pairs.uuid_b,
                       609.0 * CAST(COALESCE(dots.sab, 0) AS DOUBLE)
                           - CAST(ma.sa AS DOUBLE) * CAST(mb.sa AS DOUBLE) AS cov,
                       609.0 * CAST(ma.saa AS DOUBLE)
                           - CAST(ma.sa AS DOUBLE) * CAST(ma.sa AS DOUBLE) AS var_a,
                       609.0 * CAST(mb.saa AS DOUBLE)
                           - CAST(mb.sa AS DOUBLE) * CAST(mb.sa AS DOUBLE) AS var_b
                FROM pairs
                JOIN marg ma ON ma.uuid = pairs.uuid_a
                JOIN marg mb ON mb.uuid = pairs.uuid_b
                LEFT JOIN dots ON dots.uuid_a = pairs.uuid_a
                             AND dots.uuid_b = pairs.uuid_b
            )
            SELECT uuid_a, uuid_b, 609 AS n_buckets,
                   CASE WHEN var_a > 0 AND var_b > 0
                        THEN cov / (sqrt(var_a) * sqrt(var_b)) END AS corr
            FROM x ORDER BY uuid_a, uuid_b
        """,
        "lttb_decimate": f"""
            {PTS_CTE}, src AS (
                SELECT time, value, time >> 43 AS bkt, time - 1704067101192355840 AS toff,
                       CAST(round(value / 0.01) AS BIGINT) AS q
                FROM pts
                WHERE uuid = 'view' AND time >= 1704067101192355840 AND time < 1706741113471107072
            ), m AS (
                SELECT bkt, CAST(sum(toff) AS BIGINT) AS st,
                       CAST(sum(q) AS BIGINT) AS sq, count(*) AS cnt
                FROM src GROUP BY 1
            ), j AS (
                SELECT s.bkt, s.time, s.value, s.toff, s.q,
                       p.st AS pst, p.sq AS psq, p.cnt AS pcnt,
                       nx.st AS nst, nx.sq AS nsq, nx.cnt AS ncnt
                FROM src s
                LEFT JOIN m p ON p.bkt = s.bkt - 1
                LEFT JOIN m nx ON nx.bkt = s.bkt + 1
            ), k AS (
                SELECT bkt, time, value, toff,
                       CASE WHEN pcnt IS NOT NULL AND ncnt IS NOT NULL THEN
                         abs((CAST(pst AS DOUBLE) / CAST(pcnt AS DOUBLE)
                              - CAST(nst AS DOUBLE) / CAST(ncnt AS DOUBLE))
                             * (CAST(q AS DOUBLE) * CAST(0.01 AS DOUBLE)
                                - (CAST(psq AS DOUBLE) / CAST(pcnt AS DOUBLE))
                                  * CAST(0.01 AS DOUBLE))
                             - (CAST(pst AS DOUBLE) / CAST(pcnt AS DOUBLE)
                                - CAST(toff AS DOUBLE))
                               * ((CAST(nsq AS DOUBLE) / CAST(ncnt AS DOUBLE))
                                  * CAST(0.01 AS DOUBLE)
                                  - (CAST(psq AS DOUBLE) / CAST(pcnt AS DOUBLE))
                                    * CAST(0.01 AS DOUBLE)))
                       WHEN pcnt IS NULL THEN -CAST(toff AS DOUBLE)
                       ELSE CAST(toff AS DOUBLE) END AS key
                FROM j
            ), r AS (
                SELECT bkt, time, value,
                       row_number() OVER (PARTITION BY bkt
                           ORDER BY key DESC, toff ASC, value DESC) AS rn
                FROM k
            )
            SELECT (bkt << 43) AS bucket_time, time, value
            FROM r WHERE rn = 1 ORDER BY time
        """,
        "bpe_train": _bpe_oracle_sql(6),
        "bpe_train_batched": _bpe_batched_oracle_sql(8, 4),
        "funnel": """
            WITH s1 AS (
                SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'view' GROUP BY 1
            ), s2 AS (
                SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1
            ), s3 AS (
                SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1
            )
            SELECT * FROM (
                SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
                       count(*) AS users FROM s1
                UNION ALL
                SELECT CAST(2 AS BIGINT), 'click', count(*) FROM s2
                UNION ALL
                SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM s3
            ) ORDER BY step
        """,
        "funnel_windowed": f"""
            WITH ev AS (
                SELECT user_id, event_type, epoch_ns(ts) AS t FROM events
            ), s1 AS (
                SELECT user_id, min(t) AS t, min(t) AS t1 FROM ev
                WHERE event_type = 'view' GROUP BY 1
            ), s2 AS (
                SELECT e.user_id, min(e.t) AS t, min(s1.t1) AS t1
                FROM ev e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.t > s1.t
                  AND e.t <= s1.t1 + {2 * DAY_NS}
                GROUP BY 1
            ), s3 AS (
                SELECT e.user_id, min(e.t) AS t
                FROM ev e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.t > s2.t
                  AND e.t <= s2.t1 + {2 * DAY_NS}
                GROUP BY 1
            )
            SELECT * FROM (
                SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
                       count(*) AS users FROM s1
                UNION ALL
                SELECT CAST(2 AS BIGINT), 'click', count(*) FROM s2
                UNION ALL
                SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM s3
            ) ORDER BY step
        """,
        "retention_cohorts": f"""
            WITH uw AS (
                SELECT DISTINCT user_id,
                       (epoch_ns(ts) - {T_2024}) // {7 * DAY_NS} AS week
                FROM events WHERE epoch_ns(ts) >= {T_2024}
            ), c AS (
                SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1
            )
            SELECT c.cohort_week, uw.week - c.cohort_week AS week_offset,
                   count(*) AS users
            FROM uw JOIN c USING (user_id)
            GROUP BY 1, 2 ORDER BY cohort_week, week_offset
        """,
        "xcorr_lags": f"""
            {PTS_CTE}, sa AS (
                SELECT (time >> 40) - {T_2024 >> 40} AS bucket,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT)) AS BIGINT) AS s
                FROM pts WHERE uuid = 'click'
                  AND time >= {(T_2024 >> 40) << 40} AND time < {(T_2025 >> 40) << 40}
                GROUP BY 1
            ), sb AS (
                SELECT (time >> 40) - {T_2024 >> 40} AS bucket,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT)) AS BIGINT) AS s
                FROM pts WHERE uuid = 'view'
                  AND time >= {(T_2024 >> 40) << 40} AND time < {(T_2025 >> 40) << 40}
                GROUP BY 1
            ), lags AS (SELECT range AS lag FROM range(-3, 4)),
            sxy AS (
                SELECT lag, CAST(sum(sa.s * sb.s) AS BIGINT) AS Sxy
                FROM lags, sa, sb WHERE sb.bucket = sa.bucket + lags.lag
                GROUP BY 1
            ), pa AS (
                SELECT lag, CAST(sum(s) AS BIGINT) AS Sa,
                       CAST(sum(s * s) AS BIGINT) AS Saa
                FROM lags, sa
                WHERE bucket >= greatest(0, -lag)
                  AND bucket < {(((T_2025 >> 40) << 40) - ((T_2024 >> 40) << 40)) >> 40} - greatest(0, lag)
                GROUP BY 1
            ), pb AS (
                SELECT lag, CAST(sum(s) AS BIGINT) AS Sb,
                       CAST(sum(s * s) AS BIGINT) AS Sbb
                FROM lags, sb
                WHERE bucket >= greatest(0, lag)
                  AND bucket < {(((T_2025 >> 40) << 40) - ((T_2024 >> 40) << 40)) >> 40} + least(0, lag)
                GROUP BY 1
            ), j AS (
                SELECT lags.lag,
                       CAST(COALESCE(Sxy, 0) AS DOUBLE) AS dxy,
                       CAST(COALESCE(Sa, 0) AS DOUBLE) AS da,
                       CAST(COALESCE(Saa, 0) AS DOUBLE) AS daa,
                       CAST(COALESCE(Sb, 0) AS DOUBLE) AS db,
                       CAST(COALESCE(Sbb, 0) AS DOUBLE) AS dbb,
                       CAST({(((T_2025 >> 40) << 40) - ((T_2024 >> 40) << 40)) >> 40} - abs(lags.lag) AS DOUBLE) AS m
                FROM lags LEFT JOIN sxy USING (lag)
                          LEFT JOIN pa USING (lag) LEFT JOIN pb USING (lag)
            )
            SELECT lag,
                   CAST({(((T_2025 >> 40) << 40) - ((T_2024 >> 40) << 40)) >> 40} - abs(lag) AS BIGINT) AS n_pairs,
                   CASE WHEN (m * daa - da * da) > 0 AND (m * dbb - db * db) > 0
                        THEN (m * dxy - da * db)
                             / (sqrt(m * daa - da * da) * sqrt(m * dbb - db * db))
                   END AS xcorr
            FROM j ORDER BY lag
        """,
        "interval_join": f"""
            {PTS_CTE}
            , l AS (SELECT time, lag(time) OVER (ORDER BY time, value) AS prev_time
                    FROM pts
                    WHERE uuid = 'error' AND time >= {T_2024} AND time < {T_FEB})
            , g AS (SELECT prev_time AS s, time AS e FROM l
                    WHERE prev_time IS NOT NULL
                      AND time - prev_time >= 3600000000000)
            SELECT g.s AS gap_start, p.time, p.value
            FROM pts p JOIN g ON p.time >= g.s AND p.time < g.e
            WHERE p.uuid = 'click' AND p.time >= {T_2024} AND p.time < {T_FEB}
            ORDER BY gap_start, time, value
        """,
        "event_transitions": """
            WITH nx AS (
                SELECT event_type AS from_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS to_type
                FROM events
            )
            SELECT from_type, to_type, count(*) AS cnt
            FROM nx WHERE to_type IS NOT NULL
            GROUP BY 1, 2 ORDER BY from_type, to_type
        """,
        "ohlc_windows": f"""
            {PTS_CTE}, src AS (
                SELECT ((time >> 40) << 40) AS wt, time, value FROM pts
                WHERE uuid = 'click'
                  AND time >= {(T_2024 >> 40) << 40}
                  AND time < {(T_2025 >> 40) << 40}
            ), r AS (
                SELECT wt, value,
                       row_number() OVER (PARTITION BY wt
                           ORDER BY time, value) AS rn_o,
                       row_number() OVER (PARTITION BY wt
                           ORDER BY time DESC, value DESC) AS rn_c
                FROM src
            )
            SELECT wt AS time,
                   max(CASE WHEN rn_o = 1 THEN value END) AS open,
                   max(value) AS high, min(value) AS low,
                   max(CASE WHEN rn_c = 1 THEN value END) AS close,
                   count(*) AS cnt
            FROM r GROUP BY 1 ORDER BY time
        """,
        "diurnal_profile": f"""
            {PTS_CTE}, src AS (
                SELECT (time // 3600000000000) % 24 AS hour,
                       CAST(round(value / 0.01) AS BIGINT) AS q
                FROM pts
                WHERE uuid = 'click' AND time >= 1704067200000000000 AND time < 1706745600000000000
            ), agg AS (
                SELECT hour, count(*) AS cnt, CAST(sum(q) AS BIGINT) AS sq
                FROM src GROUP BY 1
            ), spine AS (SELECT range AS hour FROM range(0, 24))
            SELECT spine.hour, COALESCE(agg.cnt, 0) AS cnt,
                   CAST(agg.sq AS DOUBLE) / CAST(agg.cnt AS DOUBLE) AS mean_q,
                   (CAST(agg.sq AS DOUBLE) / CAST(agg.cnt AS DOUBLE))
                       * CAST(0.01 AS DOUBLE) AS mean
            FROM spine LEFT JOIN agg USING (hour) ORDER BY hour
        """,
        "hash_sample": f"""
            {PTS_CTE}, src AS (
                SELECT uuid, time, value,
                       md5(uuid || '|' || CAST(time AS VARCHAR)) AS h
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
            ), r AS (
                SELECT uuid, time, value,
                       row_number() OVER (PARTITION BY uuid
                           ORDER BY h, time, value) AS "rank"
                FROM src
            )
            SELECT uuid, time, value, "rank" FROM r
            WHERE "rank" <= 20 ORDER BY uuid, "rank"
        """,
        "streaming_deadband": f"""
            {PTS_CTE}, src AS (
                SELECT time, value,
                       CAST(round(value / 0.01) AS BIGINT) AS q
                FROM pts
                WHERE uuid = 'view' AND time >= 1704067200000000000 AND time < 1704844800000000000
            ), arr AS (
                SELECT list(struct_pack(t := time, v := value, q := q)
                            ORDER BY time, value) AS a
                FROM src
            ), f AS (
                SELECT list_reduce(
                    list_transform(a, p -> [struct_pack(t := p.t, v := p.v,
                                                        kq := p.q)]),
                    (acc, x) -> list_concat(acc,
                        CASE WHEN abs(x[1].kq - acc[len(acc)].kq) > 5000
                             THEN [x[1]]
                             ELSE CAST([] AS STRUCT(t BIGINT, v DOUBLE,
                                                    kq BIGINT)[]) END)
                ) AS r FROM arr
            )
            SELECT u.r.t AS time, u.r.v AS value
            FROM f, unnest(f.r) AS u(r) ORDER BY time
        """,
        "value_run_lengths": f"""
            {PTS_CTE}, src AS (
                SELECT time, value FROM pts
                WHERE uuid = 'error' AND time >= 1704067200000000000 AND time < 1704844800000000000
            ), l AS (
                SELECT time, value,
                       lag(value) OVER (ORDER BY time, value) AS pv,
                       lag(time) OVER (ORDER BY time, value) AS pt
                FROM src
            ), f AS (
                SELECT time, value,
                       CASE WHEN pt IS NULL OR value <> pv THEN 1 ELSE 0 END
                           AS nr
                FROM l
            ), s AS (
                SELECT time, value,
                       CAST(sum(nr) OVER (ORDER BY time, value
                            ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS rid
                FROM f
            )
            SELECT min(time) AS run_start, max(time) AS run_end,
                   count(*) AS n_points, min(value) AS value
            FROM s GROUP BY rid HAVING count(*) >= 1 ORDER BY run_start
        """,
        "deadband_compress": f"""
            {PTS_CTE}, src AS (
                SELECT time, value,
                       CAST(round(value / 0.01) AS BIGINT) AS q
                FROM pts
                WHERE uuid = 'view' AND time >= 1704067200000000000 AND time < 1704844800000000000
            ), arr AS (
                SELECT list(struct_pack(t := time, v := value, q := q)
                            ORDER BY time, value) AS a
                FROM src
            ), f AS (
                -- list_concat with a conditional 0/1-element tail: the
                -- obvious CASE WHEN cond THEN list_append(acc,x) ELSE acc
                -- END mis-folds in DuckDB 1.0 when the condition reads acc
                SELECT list_reduce(
                    list_transform(a, p -> [struct_pack(t := p.t, v := p.v,
                                                        kq := p.q)]),
                    (acc, x) -> list_concat(acc,
                        CASE WHEN abs(x[1].kq - acc[len(acc)].kq) > 5000
                             THEN [x[1]]
                             ELSE CAST([] AS STRUCT(t BIGINT, v DOUBLE,
                                                    kq BIGINT)[]) END)
                ) AS r FROM arr
            )
            SELECT u.r.t AS time, u.r.v AS value
            FROM f, unnest(f.r) AS u(r) ORDER BY time
        """,
        "minhash_jaccard_est": f"""
            WITH {_sig_cte()},
            bands AS (
                {" UNION ALL ".join(
                    "SELECT doc_id, " + str(b) + " AS band, concat_ws('|', "
                    + ", ".join(f"mh{b*4+i}" for i in range(4))
                    + ") AS band_key FROM sig"
                    for b in range(4)
                )}
            ),
            pairs AS (
                SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                FROM bands l JOIN bands r
                  ON l.band = r.band AND l.band_key = r.band_key
                 AND l.doc_id < r.doc_id
            ),
            m AS (
                SELECT p.a, p.b,
                       CAST(CASE WHEN l.mh0 = r.mh0 THEN 1 ELSE 0 END + CASE WHEN l.mh1 = r.mh1 THEN 1 ELSE 0 END + CASE WHEN l.mh2 = r.mh2 THEN 1 ELSE 0 END + CASE WHEN l.mh3 = r.mh3 THEN 1 ELSE 0 END + CASE WHEN l.mh4 = r.mh4 THEN 1 ELSE 0 END + CASE WHEN l.mh5 = r.mh5 THEN 1 ELSE 0 END + CASE WHEN l.mh6 = r.mh6 THEN 1 ELSE 0 END + CASE WHEN l.mh7 = r.mh7 THEN 1 ELSE 0 END + CASE WHEN l.mh8 = r.mh8 THEN 1 ELSE 0 END + CASE WHEN l.mh9 = r.mh9 THEN 1 ELSE 0 END + CASE WHEN l.mh10 = r.mh10 THEN 1 ELSE 0 END + CASE WHEN l.mh11 = r.mh11 THEN 1 ELSE 0 END + CASE WHEN l.mh12 = r.mh12 THEN 1 ELSE 0 END + CASE WHEN l.mh13 = r.mh13 THEN 1 ELSE 0 END + CASE WHEN l.mh14 = r.mh14 THEN 1 ELSE 0 END + CASE WHEN l.mh15 = r.mh15 THEN 1 ELSE 0 END AS BIGINT) AS matches
                FROM pairs p
                JOIN sig l ON l.doc_id = p.a
                JOIN sig r ON r.doc_id = p.b
            )
            SELECT a, b, matches,
                   CAST(matches AS DOUBLE) / 16.0 AS est_jaccard
            FROM m ORDER BY a, b
        """,
        "sax_symbols": f"""
            {PTS_CTE}, src AS (
                SELECT (time - 1704067200000000000) // 86400000000000 AS widx,
                       CAST(round(value / 0.01) AS BIGINT) AS q
                FROM pts
                WHERE uuid = 'click' AND time >= 1704067200000000000 AND time < 1706745600000000000
            ), wagg AS (
                SELECT widx, CAST(sum(q) AS BIGINT) AS sw, count(*) AS nw
                FROM src GROUP BY 1
            ), gl AS (
                SELECT count(*) AS n, CAST(sum(q) AS BIGINT) AS sq,
                       CAST(sum(q * q) AS BIGINT) AS sqq
                FROM src
            ), spine AS (SELECT range AS widx FROM range(0, 31)),
            z AS (
                SELECT spine.widx, wagg.nw,
                       (CAST(wagg.sw AS DOUBLE) / CAST(wagg.nw AS DOUBLE)
                        - CAST(gl.sq AS DOUBLE) / CAST(gl.n AS DOUBLE))
                       / (sqrt(CAST(gl.n AS DOUBLE) * CAST(gl.sqq AS DOUBLE)
                               - CAST(gl.sq AS DOUBLE) * CAST(gl.sq AS DOUBLE))
                          / CAST(gl.n AS DOUBLE)) AS zscore
                FROM spine LEFT JOIN wagg USING (widx) CROSS JOIN gl
            )
            SELECT 1704067200000000000 + widx * 86400000000000 AS time,
                   COALESCE(nw, 0) AS cnt,
                   CASE WHEN nw IS NOT NULL THEN zscore END AS zscore,
                   CASE WHEN nw IS NULL THEN NULL
                        WHEN zscore < CAST(-0.6744897501960817 AS DOUBLE)
                             THEN 'a'
                        WHEN zscore < CAST(0.0 AS DOUBLE) THEN 'b'
                        WHEN zscore < CAST(0.6744897501960817 AS DOUBLE)
                             THEN 'c'
                        ELSE 'd' END AS symbol
            FROM z ORDER BY time
        """,
        "props_histogram": f"""
            SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                   count(*) AS cnt
            FROM events
            WHERE json_extract(props, '$.k') IS NOT NULL
            GROUP BY 1, 2 ORDER BY event_type, k
        """,
        "user_activity": f"""
            SELECT user_id,
                   CAST(COALESCE(sum(CASE WHEN event_type = 'click' THEN 1 END), 0)
                       AS BIGINT) AS n_click,
                   CAST(COALESCE(sum(CASE WHEN event_type = 'view' THEN 1 END), 0)
                       AS BIGINT) AS n_view,
                   CAST(COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0)
                       AS BIGINT) AS n_purchase,
                   CAST(COALESCE(sum(CASE WHEN event_type = 'signup' THEN 1 END), 0)
                       AS BIGINT) AS n_signup,
                   CAST(COALESCE(sum(CASE WHEN event_type = 'error' THEN 1 END), 0)
                       AS BIGINT) AS n_error,
                   CAST(sum(CAST(round(value / 0.01) AS BIGINT)) AS BIGINT)
                       AS total_q,
                   count(*) AS n_events
            FROM events GROUP BY 1 ORDER BY user_id
        """,
        "autocorr": f"""
            {PTS_CTE}, sums AS (
                SELECT (time >> 42) - 387460 AS bucket,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT)) AS BIGINT) AS s
                FROM pts
                WHERE uuid = 'purchase' AND time >= 1704067101192355840 AND time < 1706745511517618176
                GROUP BY 1
            ), marg AS (
                SELECT CAST(sum(s) AS BIGINT) AS sm,
                       CAST(sum(s * s) AS BIGINT) AS ssm
                FROM sums
            ), lags(lag) AS (VALUES (1), (2), (3), (4), (5), (20)),
            sxy AS (
                SELECT lag, CAST(sum(a.s * b.s) AS BIGINT) AS sxy
                FROM lags CROSS JOIN sums a
                JOIN sums b ON b.bucket = a.bucket + lags.lag
                GROUP BY 1
            ), parts AS (
                SELECT lag,
                       CAST(sum(CASE WHEN bucket < 609 - lag THEN s END)
                            AS BIGINT) AS sh,
                       CAST(sum(CASE WHEN bucket >= lag THEN s END)
                            AS BIGINT) AS st
                FROM lags CROSS JOIN sums GROUP BY 1
            ), x AS (
                SELECT lags.lag,
                       609.0 * 609.0 * CAST(COALESCE(sxy.sxy, 0) AS DOUBLE)
                         - 609.0 * CAST(COALESCE(marg.sm, 0) AS DOUBLE)
                           * (CAST(COALESCE(parts.sh, 0) AS DOUBLE)
                              + CAST(COALESCE(parts.st, 0) AS DOUBLE))
                         + (609.0 - CAST(lags.lag AS DOUBLE))
                           * CAST(COALESCE(marg.sm, 0) AS DOUBLE)
                           * CAST(COALESCE(marg.sm, 0) AS DOUBLE) AS num,
                       609.0 * 609.0 * CAST(COALESCE(marg.ssm, 0) AS DOUBLE)
                         - 609.0 * CAST(COALESCE(marg.sm, 0) AS DOUBLE)
                           * CAST(COALESCE(marg.sm, 0) AS DOUBLE) AS den
                FROM lags
                LEFT JOIN sxy ON sxy.lag = lags.lag
                LEFT JOIN parts ON parts.lag = lags.lag
                CROSS JOIN marg
            )
            SELECT CAST(lag AS BIGINT) AS lag, 609 AS n_buckets,
                   CASE WHEN den > 0 THEN num / den END AS acf
            FROM x ORDER BY lag
        """,
        "knn_graph": f"""
            WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings WHERE vec_id < 8),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
            s AS (SELECT e.vec_id, c.cid,
                         round(list_cosine_similarity(e.v, c.cv), 6) AS score
                  FROM e CROSS JOIN c),
            r AS (SELECT vec_id, cid, row_number() OVER
                         (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
                  FROM s),
            assign AS (SELECT vec_id, cid AS cluster FROM r WHERE rn = 1),
            ea AS (SELECT e.vec_id, e.v, assign.cluster
                   FROM e JOIN assign USING (vec_id)),
            p AS (SELECT a.vec_id, b.vec_id AS neighbor,
                         round(list_cosine_similarity(a.v, b.v), 6) AS score
                  FROM ea a JOIN ea b
                    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id),
            rk AS (SELECT vec_id, neighbor, score, row_number() OVER
                          (PARTITION BY vec_id
                           ORDER BY score DESC, neighbor) AS "rank"
                   FROM p)
            SELECT vec_id, "rank", neighbor, score FROM rk
            WHERE "rank" <= 3 ORDER BY vec_id, "rank"
        """,
        "streaming_ewma": f"""
            {PTS_CTE}, src AS (
                SELECT uuid, time, value FROM pts
                WHERE uuid IN ('purchase', 'error')
                  AND time >= 1704067200000000000 AND time < 1704844800000000000
            ), arr AS (
                SELECT uuid, list(struct_pack(t := time, v := value)
                                  ORDER BY time, value) AS a
                FROM src GROUP BY uuid
            ), f AS (
                SELECT uuid, list_reduce(
                    list_transform(a, p -> [struct_pack(t := p.t, v := p.v,
                                                        e := p.v)]),
                    (acc, x) -> list_append(acc, struct_pack(
                        t := x[1].t, v := x[1].v,
                        e := CAST(0.25 AS DOUBLE) * x[1].v
                             + CAST(0.75 AS DOUBLE) * acc[len(acc)].e))
                ) AS r FROM arr
            )
            SELECT uuid, u.r.t AS time, u.r.v AS value, u.r.e AS ewma
            FROM f, unnest(f.r) AS u(r) ORDER BY uuid, time
        """,
        "ewma": f"""
            {PTS_CTE}, src AS (
                SELECT time, value FROM pts
                WHERE uuid = 'purchase' AND time >= 1704067200000000000 AND time < 1704844800000000000
            ), arr AS (
                SELECT list(struct_pack(t := time, v := value)
                            ORDER BY time, value) AS a
                FROM src
            ), f AS (
                SELECT list_reduce(
                    list_transform(a, p -> [struct_pack(t := p.t, v := p.v,
                                                        e := p.v)]),
                    (acc, x) -> list_append(acc, struct_pack(
                        t := x[1].t, v := x[1].v,
                        e := CAST(0.25 AS DOUBLE) * x[1].v
                             + CAST(0.75 AS DOUBLE) * acc[len(acc)].e))
                ) AS r FROM arr
            )
            SELECT u.r.t AS time, u.r.v AS value, u.r.e AS ewma
            FROM f, unnest(f.r) AS u(r) ORDER BY time
        """,
        "cusum_changepoint": f"""
            {PTS_CTE}, src AS (
                SELECT time, value, CAST(round(value / 0.01) AS BIGINT) AS q
                FROM pts
                WHERE uuid = 'purchase' AND time >= 1704067200000000000 AND time < 1706745600000000000
            ), r AS (
                SELECT time,
                       CAST(sum(q) OVER (ORDER BY time, value
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix,
                       CAST(row_number() OVER (ORDER BY time, value) AS BIGINT)
                           AS i
                FROM src
            ), t AS (
                SELECT CAST(sum(q) AS BIGINT) AS total, count(*) AS n FROM src
            ), s AS (
                SELECT r.time,
                       abs(t.n * r.prefix - r.i * t.total) AS score, t.n
                FROM r CROSS JOIN t
            )
            SELECT time, score, n FROM s ORDER BY score DESC, time ASC LIMIT 1
        """,
        "trend_ols": f"""
            {PTS_CTE}, src AS (
                SELECT (time - 1704067200000000000) // 86400000000000 AS widx,
                       (time - 1704067200000000000) % 86400000000000 AS t,
                       CAST(round(value / 0.01) AS BIGINT) AS vq
                FROM pts
                WHERE uuid = 'view' AND time >= 1704067200000000000 AND time < 1706745600000000000
            ), agg AS (
                SELECT widx, count(*) AS n,
                       CAST(sum(t) AS BIGINT) AS st,
                       CAST(sum(vq) AS BIGINT) AS sy,
                       sum(CAST(t AS HUGEINT) * t) AS stt,
                       sum(CAST(t AS HUGEINT) * vq) AS sty
                FROM src GROUP BY 1
            ), ex AS (
                -- exact hugeint numerator/denominator, then the engine-
                -- portable two-limb 2^52 double conversion (hugeint->double
                -- casts are 1 ulp off the JVM above 2^53; int64 casts are
                -- hardware-exact in every engine) — mirrors
                -- operators/stat.py trend_ols limb_double verbatim
                SELECT widx, n, st, sy,
                       CAST(n AS HUGEINT) * sty - CAST(st AS HUGEINT) * sy
                           AS num,
                       CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st
                           AS den
                FROM agg
            ), x AS (
                SELECT widx, n, st, sy, den,
                       (CASE WHEN num < 0 THEN -1.0 ELSE 1.0 END)
                         * (CAST(CAST(abs(num) // 4503599627370496 AS BIGINT)
                                 AS DOUBLE) * 4503599627370496.0
                            + CAST(CAST(abs(num) % 4503599627370496 AS BIGINT)
                                   AS DOUBLE)) AS numd,
                       (CASE WHEN den < 0 THEN -1.0 ELSE 1.0 END)
                         * (CAST(CAST(abs(den) // 4503599627370496 AS BIGINT)
                                 AS DOUBLE) * 4503599627370496.0
                            + CAST(CAST(abs(den) % 4503599627370496 AS BIGINT)
                                   AS DOUBLE)) AS dend
                FROM ex
            ), y AS (
                SELECT widx, n, den,
                       (numd / dend) AS slope_nsq,
                       ((CAST(sy AS DOUBLE) - (numd / dend) * CAST(st AS DOUBLE))
                           / CAST(n AS DOUBLE)) / 100.0 AS intercept
                FROM x
            ), spine AS (SELECT range AS widx FROM range(0, 31))
            SELECT 1704067200000000000 + spine.widx * 86400000000000 AS time,
                   CASE WHEN y.den > 0
                        THEN y.slope_nsq * 1000000000.0 / 100.0 END
                       AS slope_per_sec,
                   CASE WHEN y.den > 0 THEN y.intercept END AS intercept,
                   COALESCE(y.n, 0) AS n
            FROM spine LEFT JOIN y USING (widx) ORDER BY time
        """,
        "nearest_before": f"""
            {PTS_CTE}
            SELECT time, value FROM pts
            WHERE uuid = 'purchase' AND time < {T_JAN15}
            ORDER BY time DESC LIMIT 1
        """,
        "nearest_after": f"""
            {PTS_CTE}
            SELECT time, value FROM pts
            WHERE uuid = 'purchase' AND time >= {T_JAN15}
            ORDER BY time ASC LIMIT 1
        """,
        "changed_ranges": f"""
            {PTS_CTE}, b AS (
                SELECT DISTINCT (time >> 40) AS bucket FROM pts WHERE uuid = 'error'
            ), iv AS (
                SELECT (bucket << 40) AS s, ((bucket + 1) << 40) AS e FROM b
            ), m AS (
                SELECT s, e,
                       CASE WHEN s > max(e) OVER (ORDER BY s ROWS BETWEEN
                            UNBOUNDED PRECEDING AND 1 PRECEDING)
                            THEN 1 ELSE 0 END AS is_gap
                FROM iv
            ), g AS (
                SELECT s, e, sum(is_gap) OVER (ORDER BY s ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
                FROM m
            )
            SELECT min(s) AS start, max(e) AS "end" FROM g GROUP BY grp ORDER BY 1
        """,
        "changed_ranges_all": f"""
            {PTS_CTE}, b AS (
                SELECT DISTINCT uuid, (time >> 40) AS bucket FROM pts
            ), iv AS (
                SELECT uuid, (bucket << 40) AS s, ((bucket + 1) << 40) AS e FROM b
            ), m AS (
                SELECT uuid, s, e,
                       CASE WHEN s > max(e) OVER (PARTITION BY uuid ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            THEN 1 ELSE 0 END AS is_gap
                FROM iv
            ), g AS (
                SELECT uuid, s, e, sum(is_gap) OVER (PARTITION BY uuid ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
                FROM m
            )
            SELECT uuid, min(s) AS start, max(e) AS "end"
            FROM g GROUP BY uuid, grp ORDER BY uuid, start
        """,
        "multistream_align": f"""
            {PTS_CTE}
            SELECT time,
                   max(value) FILTER (WHERE uuid = 'click') AS click,
                   max(value) FILTER (WHERE uuid = 'error') AS error,
                   max(value) FILTER (WHERE uuid = 'purchase') AS purchase,
                   max(value) FILTER (WHERE uuid = 'signup') AS signup,
                   max(value) FILTER (WHERE uuid = 'view') AS view
            FROM pts WHERE time >= {T_2024} AND time < {T_2025}
            GROUP BY time ORDER BY time
        """,
        "streaming_dedup": """
            SELECT md5(text) AS h, min(doc_id) AS keeper_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1 ORDER BY h
        """,
        "bulk_export": f"""
            {PTS_CTE}
            SELECT time, value FROM pts
            WHERE uuid = 'error' AND time >= {T_2024}
              AND time < {T_2024 + 2 * DAY_NS}
            ORDER BY time, value
        """,
        "csv_export": f"""
            {PTS_CTE}
            SELECT time,
                   max(value) FILTER (WHERE uuid = 'click') AS click,
                   max(value) FILTER (WHERE uuid = 'error') AS error,
                   max(value) FILTER (WHERE uuid = 'purchase') AS purchase,
                   max(value) FILTER (WHERE uuid = 'signup') AS signup,
                   max(value) FILTER (WHERE uuid = 'view') AS view
            FROM pts WHERE time >= {T_2024} AND time < {T_FEB}
            GROUP BY time ORDER BY time
        """,
        "delete_range": f"""
            {PTS_CTE}
            SELECT time, value FROM pts
            WHERE uuid = 'signup' AND time >= {T_2024} AND time < {T_2025}
              AND NOT (time >= {T_JAN10} AND time < {T_JAN20})
            ORDER BY time
        """,
        "store_delete_range": f"""
            {PTS_CTE}
            SELECT time, value FROM pts
            WHERE uuid = 'signup' AND time >= {T_2024} AND time < {T_2025}
              AND NOT (time >= {T_JAN10} AND time < {T_JAN20})
            ORDER BY time
        """,
        "store_version_travel": f"""
            {PTS_CTE}
            SELECT time, value FROM pts
            WHERE uuid = 'signup' AND time >= {T_2024} AND time < {T_2025}
            ORDER BY time
        """,
        "streaming_stat_state": f"""
            {PTS_CTE}
            SELECT uuid, ((time >> 42) << 42) AS bucket,
                   min(value) AS vmin,
                   (CAST(CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                              AS BIGINT) AS DOUBLE) * 0.01)
                       / count(*) AS vmean,
                   max(value) AS vmax, count(*) AS cnt
            FROM pts
            GROUP BY uuid, 2 ORDER BY uuid, bucket
        """,
        "store_nearest": f"""
            {PTS_CTE}
            SELECT time, value FROM pts
            WHERE uuid = 'signup' AND time < {T_JAN15}
              AND NOT (time >= {T_JAN10} AND time < {T_JAN20})
            ORDER BY time DESC LIMIT 1
        """,
        "store_aligned_windows": f"""
            {PTS_CTE}
            SELECT ((time >> 41) << 41) AS time,
                   min(value) AS vmin, round(avg(value), 6) AS vmean,
                   max(value) AS vmax, count(*) AS cnt
            FROM pts
            WHERE uuid = 'signup' AND time >= {T_2024} AND time < {T_2025}
              AND NOT (time >= {T_JAN10} AND time < {T_JAN20})
            GROUP BY 1 ORDER BY 1
        """,
        "store_changes": f"""
            {PTS_CTE}, b AS (
                SELECT DISTINCT ((time >> 40) << 40) AS s FROM pts
                WHERE uuid = 'signup'
            ), iv0 AS (
                SELECT s, s + {1 << 40} AS e FROM b
                UNION ALL
                SELECT {(T_JAN10 >> 40) << 40},
                       {((T_JAN20 + (1 << 40) - 1) >> 40) << 40}
            ), iv AS (SELECT DISTINCT s, e FROM iv0), m AS (
                SELECT s, e,
                       CASE WHEN s > max(e) OVER (ORDER BY s ROWS BETWEEN
                            UNBOUNDED PRECEDING AND 1 PRECEDING)
                            THEN 1 ELSE 0 END AS is_gap
                FROM iv
            ), g AS (
                SELECT s, e, sum(is_gap) OVER (ORDER BY s ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
                FROM m
            )
            SELECT min(s) AS start, max(e) AS "end" FROM g GROUP BY grp ORDER BY 1
        """,
        "list_collections": """
            SELECT DISTINCT 'events/' || event_type AS collection FROM events
            WHERE 'events/' || event_type >= 'events/e'
            ORDER BY collection LIMIT 100
        """,
        "lookup_streams": """
            SELECT DISTINCT event_type || '/' || user_id AS uuid,
                   'events/' || event_type AS collection
            FROM events WHERE event_type = 'click'
            ORDER BY uuid
        """,
        "metadata_usage": """
            WITH s AS (SELECT DISTINCT event_type, user_id FROM events)
            SELECT key, count(*) AS cnt
            FROM s, (SELECT unnest(['kind', 'source']) AS key)
            GROUP BY key ORDER BY key
        """,
        "metadata_ann_usage": """
            WITH s AS (SELECT DISTINCT event_type, user_id FROM events)
            SELECT key, count(*) AS cnt
            FROM s, (SELECT unnest(['note']) AS key)
            GROUP BY key ORDER BY key
        """,
        "nearest_asof": f"""
            {PTS_CTE}, u AS (
                SELECT time AS t, 1 AS tie, time AS pt_time, value AS pt_value,
                       CAST(NULL AS BIGINT) AS probe_time
                FROM pts WHERE uuid = 'error'
                UNION ALL
                SELECT time, 0, NULL, NULL, time FROM pts WHERE uuid = 'click'
            ), w AS (
                SELECT probe_time,
                       last_value(pt_time IGNORE NULLS) OVER
                         (ORDER BY t, tie ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS time,
                       last_value(pt_value IGNORE NULLS) OVER
                         (ORDER BY t, tie ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS value
                FROM u
            )
            SELECT probe_time, time, value FROM w
            WHERE probe_time IS NOT NULL ORDER BY probe_time
        """,
        "align_windowed": f"""
            {PTS_CTE}
            SELECT ((time >> 42) << 42) AS time,
                   min(value)  FILTER (WHERE uuid = 'click') AS click_min,
                   round(avg(value) FILTER (WHERE uuid = 'click'), 6) AS click_mean,
                   max(value)  FILTER (WHERE uuid = 'click') AS click_max,
                   count(*)    FILTER (WHERE uuid = 'click') AS click_count,
                   min(value)  FILTER (WHERE uuid = 'error') AS error_min,
                   round(avg(value) FILTER (WHERE uuid = 'error'), 6) AS error_mean,
                   max(value)  FILTER (WHERE uuid = 'error') AS error_max,
                   count(*)    FILTER (WHERE uuid = 'error') AS error_count
            FROM pts
            WHERE uuid IN ('click', 'error')
              AND time >= {T_2024} AND time < {T_2025}
            GROUP BY 1 ORDER BY 1
        """,
        "windows_depth": f"""
            {PTS_CTE}, spine AS (
                SELECT range AS widx FROM range(0, {(T_FEB - T_2024) // DAY_NS})
            ), pre AS (
                -- integer-quantum sum (values are exact 2-decimal): int64
                -- sums are order-independent, so the mean below is
                -- bit-identical in any engine under any aggregation order
                SELECT (((time - {T_2024}) >> 40) << 40) AS btime,
                       min(value) AS bmin,
                       sum(CAST(round(value / 0.01) AS BIGINT)) AS bq,
                       max(value) AS bmax, count(*) AS bcnt
                FROM pts
                WHERE uuid = 'purchase' AND time >= {T_2024} AND time < {T_FEB}
                GROUP BY 1
            ), agg AS (
                SELECT btime // {DAY_NS} AS widx,
                       min(bmin) AS vmin,
                       round((sum(bq) * 0.01) / sum(bcnt), 6) AS vmean,
                       max(bmax) AS vmax, CAST(sum(bcnt) AS BIGINT) AS cnt
                FROM pre GROUP BY 1
            )
            SELECT {T_2024} + spine.widx * {DAY_NS} AS time,
                   agg.vmin, agg.vmean, agg.vmax, coalesce(agg.cnt, 0) AS cnt
            FROM spine LEFT JOIN agg ON spine.widx = agg.widx
            ORDER BY time
        """,
        "windows_rollup": f"""
            {PTS_CTE}, pre AS (
                -- integer-quantum sum mirrors the ladder's vq column: the
                -- served mean is computed from exactly-associative int64
                -- sums on both sides, no float accumulation-order surface
                SELECT ((time >> 38) << 38) AS btime,
                       min(value) AS bmin,
                       sum(CAST(round(value / 0.01) AS BIGINT)) AS bq,
                       max(value) AS bmax, count(*) AS bcnt
                FROM pts WHERE uuid = 'purchase'
                GROUP BY 1
            ), sel AS (
                SELECT * FROM pre
                WHERE btime + {1 << 38} > {T_2024} AND btime < {T_FEB}
            ), agg AS (
                SELECT greatest((btime - {T_2024}) // {DAY_NS}, 0) AS widx,
                       min(bmin) AS vmin,
                       round((sum(bq) * 0.01) / sum(bcnt), 6) AS vmean,
                       max(bmax) AS vmax, CAST(sum(bcnt) AS BIGINT) AS cnt
                FROM sel GROUP BY 1
            ), spine AS (
                SELECT range AS widx FROM range(0, {(T_FEB - T_2024) // DAY_NS})
            )
            SELECT {T_2024} + spine.widx * {DAY_NS} AS time,
                   agg.vmin, agg.vmean, agg.vmax, coalesce(agg.cnt, 0) AS cnt
            FROM spine LEFT JOIN agg ON spine.widx = agg.widx
            ORDER BY time
        """,
        "buffer_read_your_writes": f"""
            {PTS_CTE}
            SELECT time, value FROM pts
            WHERE uuid = 'signup' AND time >= {T_2024} AND time < {T_2024 + 2 * DAY_NS}
            ORDER BY time
        """,
        "buffer_query_version": f"""
            {PTS_CTE}
            SELECT CAST(1 AS BIGINT) AS major, count(*) AS minor FROM pts
            WHERE uuid = 'signup'
              AND time >= {T_2024 + DAY_NS} AND time < {T_2024 + 2 * DAY_NS}
        """,
        "registry_obliterate": """
            WITH s AS (
                SELECT DISTINCT event_type || '/' || user_id AS uuid,
                       'events/' || event_type AS collection
                FROM events
            ), v AS (
                SELECT min(uuid) AS vu FROM s WHERE collection = 'events/click'
            )
            SELECT uuid, collection FROM (
                SELECT s.uuid, s.collection FROM s, v WHERE s.uuid <> v.vu
                UNION ALL
                SELECT 'reborn-1', 'events/click'
            ) ORDER BY uuid
        """,
        "insert_cap": """
            SELECT CAST(414 AS BIGINT) AS code, CAST(0 AS BIGINT) AS visible_after
        """,
        "buffer_stat_merge": f"""
            {PTS_CTE}
            SELECT ((time >> 42) << 42) AS time,
                   min(value) AS vmin, round(avg(value), 6) AS vmean,
                   max(value) AS vmax, count(*) AS cnt
            FROM pts
            WHERE uuid = 'signup' AND time >= {(T_2024 >> 42) << 42}
              AND time < {((T_2024 + 2 * DAY_NS) >> 42) << 42}
            GROUP BY 1 ORDER BY 1
        """,
        "streaming_ingest": f"""
            {PTS_CTE}
            SELECT time, value FROM pts
            WHERE uuid = 'signup' AND time >= {T_2024} AND time < {T_2024 + 2 * DAY_NS}
            ORDER BY time
        """,
        # Changefeed delivery == the raw slice; ins_ver marks which of the
        # two commits (split at t_mid) delivered each row.
        "streaming_changefeed": f"""
            {PTS_CTE}
            SELECT uuid, time, value,
                   CAST(CASE WHEN time < {T_2024 + DAY_NS} THEN 1 ELSE 2 END
                        AS BIGINT) AS ins_ver
            FROM pts
            WHERE uuid = 'signup' AND time >= {T_2024}
              AND time < {T_2024 + 2 * DAY_NS}
            ORDER BY time
        """,
        "streaming_changefeed_deletes": f"""
            SELECT * FROM (VALUES
                ('signup', {T_2024}, {T_2024 + 6 * 3600 * 10**9},
                 CAST(2 AS BIGINT)),
                ('signup', {T_2024 + DAY_NS},
                 {T_2024 + DAY_NS + 6 * 3600 * 10**9}, CAST(4 AS BIGINT))
            ) AS t(uuid, "start", "end", ver)
            ORDER BY ver
        """,
        "streaming_rollup_serve": f"""
            {PTS_CTE}
            SELECT ((time >> 42) << 42) AS time, {stat_cols_q}
            FROM pts
            WHERE uuid = 'signup' AND time >= {(T_2024 >> 42) << 42}
              AND time < {((T_2024 + 2 * DAY_NS) >> 42) << 42}
            GROUP BY 1 ORDER BY 1
        """,
        "late_data_rollup": f"""
            {PTS_CTE}
            SELECT ((time >> 42) << 42) AS time, {stat_cols_q}
            FROM pts
            WHERE uuid = 'click' AND time >= {(T_2024 >> 42) << 42}
              AND time < {((T_2024 + 2 * DAY_NS) >> 42) << 42}
            GROUP BY 1 ORDER BY 1
        """,
        "store_compact": f"""
            {PTS_CTE}
            SELECT time, value FROM pts
            WHERE uuid = 'signup' AND time >= {T_2024} AND time < {T_2024 + DAY_NS}
            ORDER BY time
        """,
        "text_stats": f"""
            WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
            SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                coalesce(list_sum(list_transform(toks, x -> len(x))), 0)
                      / greatest(len(toks), 1) AS mean_token_len,
                len(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                      / greatest(len(text), 1) AS punct_ratio,
                len(list_filter(toks, x -> list_contains({_STOP_SQL}, x)))
                      / greatest(len(toks), 1) AS stopword_ratio,
                0.4 * least(len(toks) / 50.0, 1.0)
                    + 0.3 * (len(list_filter(toks, x -> list_contains({_STOP_SQL}, x)))
                             / greatest(len(toks), 1))
                    + 0.3 * (1.0 - len(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                             / greatest(len(text), 1)) AS quality
            FROM t ORDER BY doc_id
        """,
        "token_entropy": f"""
            WITH tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
            c AS (SELECT doc_id, tok, count(*) AS cnt FROM tk GROUP BY 1, 2),
            a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
                         sum(cnt * ln(cnt)) AS clogc
                  FROM c GROUP BY 1)
            SELECT d.doc_id,
                   CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens,
                   round(ln(a.n) - a.clogc / a.n, 6) AS entropy
            FROM documents d LEFT JOIN a USING (doc_id)
            ORDER BY doc_id
        """,
        "lang_id": _lang_id_sql(),
        "token_freq": f"""
            WITH tk AS (
                SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
            )
            SELECT tok, count(*) AS cnt, count(DISTINCT doc_id) AS doc_freq
            FROM tk GROUP BY tok
            ORDER BY cnt DESC, tok LIMIT 100
        """,
        "transition_lift": """
            WITH nx AS (
                SELECT event_type AS from_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS to_type
                FROM events
            ), pairs AS (
                SELECT from_type, to_type, count(*) AS cnt
                FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2
            ), nf AS (
                SELECT from_type, CAST(sum(cnt) AS BIGINT) AS n_f
                FROM pairs GROUP BY 1
            ), nt AS (
                SELECT to_type, CAST(sum(cnt) AS BIGINT) AS n_t
                FROM pairs GROUP BY 1
            ), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM pairs)
            SELECT p.from_type, p.to_type, p.cnt,
                   (CAST(p.cnt AS DOUBLE) * CAST(tot.n AS DOUBLE))
                       / (CAST(nf.n_f AS DOUBLE) * CAST(nt.n_t AS DOUBLE)) AS lift
            FROM pairs p
            JOIN nf USING (from_type) JOIN nt USING (to_type), tot
            ORDER BY from_type, to_type
        """,
        "interarrival_stats": f"""
            {PTS_CTE}, l AS (
                SELECT time, lag(time) OVER (ORDER BY time, value) AS pt
                FROM pts
                WHERE uuid = 'click' AND time >= {T_2024} AND time < {T_FEB}
            ), gp AS (
                SELECT time - pt AS g FROM l WHERE pt IS NOT NULL
            ), h AS (SELECT g, count(*) AS c FROM gp GROUP BY 1),
            cum AS (
                SELECT g, CAST(sum(c) OVER (
                    ORDER BY g ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                FROM h
            ), t AS (
                SELECT CAST(sum(c) AS BIGINT) AS n,
                       min(g) AS g_min, max(g) AS g_max FROM h
            )
            SELECT t.n AS n_gaps, t.g_min, t.g_max,
                   min(CASE WHEN cum.cum >= CAST(ceil(CAST(t.n AS DOUBLE) * 0.5) AS BIGINT)
                            THEN cum.g END) AS p50,
                   min(CASE WHEN cum.cum >= CAST(ceil(CAST(t.n AS DOUBLE) * 0.9) AS BIGINT)
                            THEN cum.g END) AS p90,
                   min(CASE WHEN cum.cum >= CAST(ceil(CAST(t.n AS DOUBLE) * 0.99) AS BIGINT)
                            THEN cum.g END) AS p99
            FROM cum, t GROUP BY 1, 2, 3
        """,
        "user_rfm": _rfm_sql(T_2025),
        "ann_recall_eval": _ann_recall_eval_sql(),
        "synthesize_stream": f"""
            {PTS_CTE}, g AS (
                SELECT uuid, ((time >> 42) << 42) AS t, value FROM pts
            ), a AS (
                SELECT t,
                       min(CASE WHEN uuid = 'click' THEN value END) AS c,
                       min(CASE WHEN uuid = 'view' THEN value END) AS v
                FROM g
                WHERE uuid IN ('click', 'view')
                  AND t >= 1704067101192355840 AND t < 1735689055607193600
                GROUP BY 1
            )
            SELECT 'click_minus_view' AS uuid, t AS time,
                   (0.0 + (c * 1.0)) + (v * -1.0) AS value
            FROM a WHERE c IS NOT NULL AND v IS NOT NULL
            ORDER BY time
        """,
        "coverage_report": f"""
            {PTS_CTE}, s AS (
                SELECT uuid, (time - 1704067200000000000) // 21600000000000 AS slot, count(*) AS c
                FROM pts WHERE time >= 1704067200000000000 AND time < 1735689600000000000
                GROUP BY 1, 2
            ), r AS (
                SELECT uuid, slot, c,
                       slot - lag(slot) OVER (PARTITION BY uuid ORDER BY slot)
                           AS jump
                FROM s
            ), per AS (
                SELECT uuid, count(*) AS n_present,
                       CAST(sum(c) AS BIGINT) AS n_points,
                       coalesce(max(jump - 1), 0) AS interior,
                       min(slot) AS first_slot, max(slot) AS last_slot
                FROM r GROUP BY 1
            )
            SELECT uuid, 1464 AS n_expected, n_present, n_points,
                   greatest(interior, first_slot,
                            1464 - 1 - last_slot) AS longest_gap_slots,
                   CAST(n_present AS DOUBLE) / 1464.0 AS coverage
            FROM per ORDER BY uuid
        """,
        "token_collocations": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            u AS (SELECT unnest(toks) AS w FROM t),
            uni AS (SELECT w, count(*) AS c FROM u GROUP BY 1),
            pr AS (
                SELECT unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
                       unnest(list_slice(toks, 2, len(toks))) AS w2
                FROM t WHERE len(toks) >= 2
            ),
            pairs AS (
                SELECT w1, w2, count(*) AS c12 FROM pr
                GROUP BY 1, 2 HAVING count(*) >= 5
            ),
            tot AS (
                SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_uni,
                       (SELECT CAST(sum(c12) AS BIGINT) FROM pairs) AS n_bi
            )
            SELECT p.w1, p.w2, p.c12, u1.c AS c1, u2.c AS c2,
                   ((CAST(p.c12 AS DOUBLE) * CAST(tot.n_uni AS DOUBLE))
                        * CAST(tot.n_uni AS DOUBLE))
                   / ((CAST(tot.n_bi AS DOUBLE) * CAST(u1.c AS DOUBLE))
                        * CAST(u2.c AS DOUBLE)) AS lift
            FROM pairs p
            JOIN uni u1 ON u1.w = p.w1
            JOIN uni u2 ON u2.w = p.w2, tot
            ORDER BY lift DESC, w1, w2 LIMIT 100
        """,
        "corpus_summary": f"""
            WITH t AS (
                SELECT doc_id, lang, source, {_TOKS} AS toks,
                       CAST(len(text) AS BIGINT) AS chars
                FROM documents
            ),
            base AS (
                SELECT count(*) AS n_docs,
                       CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
                       CAST(sum(chars) AS BIGINT) AS total_chars,
                       count(DISTINCT lang) AS n_langs,
                       count(DISTINCT source) AS n_sources
                FROM t
            ),
            v AS (
                SELECT count(DISTINCT w) AS n_unique_tokens
                FROM (SELECT unnest(toks) AS w FROM t)
            )
            SELECT n_docs, n_tokens, n_unique_tokens,
                   CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
                       AS mean_tokens,
                   total_chars, n_langs, n_sources
            FROM base, v
        """,
        "mad_anomaly": f"""
            {PTS_CTE}, b AS (
                SELECT ((time >> 49) << 49) AS bucket, time, value
                FROM pts
                WHERE uuid = 'view' AND time >= {T_2024} AND time < {T_2025}
            ), med AS (
                SELECT bucket, quantile_cont(value, 0.5) AS med
                FROM b GROUP BY 1
            ), dev AS (
                SELECT b.bucket, b.time, b.value, med.med,
                       abs(b.value - med.med) AS dev
                FROM b JOIN med USING (bucket)
            ), mad AS (
                SELECT bucket, quantile_cont(dev, 0.5) AS mad
                FROM dev GROUP BY 1
            )
            SELECT dev.bucket, dev.time, dev.value, dev.med, mad.mad, dev.dev
            FROM dev JOIN mad USING (bucket)
            WHERE dev.dev > 2.5 * mad.mad
            ORDER BY time, value
        """,
        "benford_digits": f"""
            {PTS_CTE}, base AS (
                SELECT uuid,
                       CAST(round(value / 0.01) AS BIGINT) AS q
                FROM pts WHERE time >= {T_2024} AND time < {T_2025}
            ), counts AS (
                SELECT uuid,
                       CAST(substr(CAST(abs(q) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                       count(*) AS cnt
                FROM base WHERE q != 0 GROUP BY 1, 2
            ), totals AS (
                SELECT uuid, CAST(sum(cnt) AS BIGINT) AS total
                FROM counts GROUP BY 1
            )
            SELECT c.uuid, c.digit, c.cnt,
                   CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE) AS freq
            FROM counts c JOIN totals t USING (uuid)
            ORDER BY uuid, digit
        """,
        "attribution_last_touch": _attribution_sql(),
        "streaming_attribution": _attribution_sql(),
        "time_to_convert": """
            WITH ff AS (
                SELECT user_id AS u, min(epoch_ns(ts)) AS t0
                FROM events WHERE event_type = 'view' GROUP BY 1
            ), lat AS (
                SELECT e.user_id AS u, min(epoch_ns(e.ts) - ff.t0) AS v
                FROM events e JOIN ff ON ff.u = e.user_id
                WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > ff.t0
                GROUP BY 1
            ), h AS (SELECT v, count(*) AS c FROM lat GROUP BY 1),
            cum AS (
                SELECT v, CAST(sum(c) OVER (
                    ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                FROM h
            ), t AS (
                SELECT CAST(sum(c) AS BIGINT) AS n,
                       min(v) AS lo, max(v) AS hi FROM h
            )
            SELECT t.n AS n_converted, t.lo AS lat_min, t.hi AS lat_max,
                   min(CASE WHEN cum.cum >= CAST(ceil(CAST(t.n AS DOUBLE) * 0.5) AS BIGINT)
                            THEN cum.v END) AS p50,
                   min(CASE WHEN cum.cum >= CAST(ceil(CAST(t.n AS DOUBLE) * 0.9) AS BIGINT)
                            THEN cum.v END) AS p90,
                   min(CASE WHEN cum.cum >= CAST(ceil(CAST(t.n AS DOUBLE) * 0.99) AS BIGINT)
                            THEN cum.v END) AS p99
            FROM cum, t GROUP BY 1, 2, 3
        """,
        "exceedance_corr": f"""
            {PTS_CTE}, ea AS (
                SELECT (time >> 40) AS bucket FROM pts
                WHERE uuid = 'click'
                  AND time >= {(T_2024 >> 40) << 40} AND time < {(T_2025 >> 40) << 40}
                GROUP BY 1 HAVING max(value) >= 10.0
            ), eb AS (
                SELECT (time >> 40) AS bucket FROM pts
                WHERE uuid = 'view'
                  AND time >= {(T_2024 >> 40) << 40} AND time < {(T_2025 >> 40) << 40}
                GROUP BY 1 HAVING max(value) >= 10.0
            ), c AS (
                SELECT (SELECT count(*) FROM ea) AS n_a,
                       (SELECT count(*) FROM eb) AS n_b,
                       (SELECT count(*) FROM ea JOIN eb USING (bucket)) AS n_both
            )
            SELECT CAST({(((T_2025 >> 40) << 40) - ((T_2024 >> 40) << 40)) >> 40} AS BIGINT) AS n_buckets,
                   n_a, n_b, n_both,
                   CASE WHEN CAST(n_a AS DOUBLE)
                             * (CAST({(((T_2025 >> 40) << 40) - ((T_2024 >> 40) << 40)) >> 40} AS DOUBLE) - CAST(n_a AS DOUBLE))
                             * CAST(n_b AS DOUBLE)
                             * (CAST({(((T_2025 >> 40) << 40) - ((T_2024 >> 40) << 40)) >> 40} AS DOUBLE) - CAST(n_b AS DOUBLE)) > 0
                        THEN (CAST({(((T_2025 >> 40) << 40) - ((T_2024 >> 40) << 40)) >> 40} AS DOUBLE) * CAST(n_both AS DOUBLE)
                                  - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                             / sqrt(CAST(n_a AS DOUBLE)
                                  * (CAST({(((T_2025 >> 40) << 40) - ((T_2024 >> 40) << 40)) >> 40} AS DOUBLE) - CAST(n_a AS DOUBLE))
                                  * CAST(n_b AS DOUBLE)
                                  * (CAST({(((T_2025 >> 40) << 40) - ((T_2024 >> 40) << 40)) >> 40} AS DOUBLE) - CAST(n_b AS DOUBLE)))
                   END AS phi
            FROM c
        """,
        "dau_wau": f"""
            WITH ud AS (
                SELECT DISTINCT user_id AS u,
                       (epoch_ns(ts) - {T_2024}) // {DAY_NS} AS day
                FROM events WHERE epoch_ns(ts) >= {T_2024}
            ), dau AS (
                SELECT day, count(*) AS dau FROM ud GROUP BY 1
            ), cover AS (
                SELECT u, unnest(generate_series(day, day + 6)) AS day FROM ud
            ), wau AS (
                SELECT day, count(DISTINCT u) AS wau FROM cover GROUP BY 1
            )
            SELECT dau.day, dau.dau, wau.wau,
                   CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
            FROM dau JOIN wau USING (day)
            ORDER BY day
        """,
        "ngram_freq": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            tk AS (SELECT doc_id, unnest({_BIGRAMS}) AS gram FROM t)
            SELECT gram, count(*) AS cnt, count(DISTINCT doc_id) AS doc_freq
            FROM tk GROUP BY gram
            ORDER BY cnt DESC, gram LIMIT 100
        """,
        # Exact batch counts: the streaming sketch never evicts at this
        # capacity, so its running counts (and overcount=0) must agree.
        "streaming_topk": f"""
            WITH tk AS (SELECT unnest({_TOKS}) AS token FROM documents)
            SELECT token, count(*) AS cnt, CAST(0 AS BIGINT) AS overcount
            FROM tk GROUP BY token
            ORDER BY cnt DESC, token LIMIT 50
        """,
        "text_scrub": r"""
            WITH s1 AS (
                SELECT doc_id, text,
                       len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
                       regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS t1
                FROM documents
            ), s2 AS (
                SELECT doc_id, n_urls,
                       len(regexp_extract_all(t1,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
                       regexp_replace(t1,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g') AS t2
                FROM s1
            )
            SELECT doc_id,
                   regexp_replace(t2, '[0-9][0-9][0-9][0-9][0-9]+', '<NUM>', 'g')
                       AS scrubbed,
                   CAST(n_urls AS BIGINT) AS n_urls,
                   CAST(n_emails AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(t2, '[0-9][0-9][0-9][0-9][0-9]+'))
                        AS BIGINT) AS n_numbers
            FROM s2 ORDER BY doc_id
        """,
        # Thresholds mirror functions/curation.py module constants.
        "quality_filter": f"""
            WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
            s AS (
                SELECT doc_id,
                       len(toks) AS n,
                       coalesce(list_sum(list_transform(toks, x -> strlen(x))), 0)
                           AS tok_chars,
                       strlen(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
                       strlen(text) AS n_chars,
                       len(list_filter(toks, x -> list_contains({_STOP_SQL}, x)))
                           AS n_stop
                FROM t
            )
            SELECT doc_id,
                   CAST(n AS BIGINT) AS n_tokens,
                   (n >= 10 AND n <= 100000) AS ok_n_tokens,
                   (tok_chars >= 2 * n AND tok_chars <= 12 * n) AS ok_token_len,
                   (n_punct * 5 <= n_chars) AS ok_punct,
                   (n_stop >= 2) AS ok_stopwords,
                   (n >= 10 AND n <= 100000
                    AND tok_chars >= 2 * n AND tok_chars <= 12 * n
                    AND n_punct * 5 <= n_chars AND n_stop >= 2) AS keep
            FROM s ORDER BY doc_id
        """,
        "decontaminate": f"""
            WITH tr AS (SELECT doc_id, {_TOKS} AS toks FROM documents
                        WHERE doc_id % 17 <> 0),
            raw_sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s0 FROM tr),
            dig AS (SELECT doc_id, md5(s0) AS d FROM raw_sh),
            sh AS (SELECT DISTINCT doc_id, {_hexn_sql('d', 15)} AS s FROM dig),
            bt AS (SELECT doc_id, {_TOKS} AS toks FROM documents
                   WHERE doc_id % 17 = 0),
            braw AS (SELECT unnest({_SHINGLES}) AS s0 FROM bt),
            bdig AS (SELECT md5(s0) AS d FROM braw),
            bsh AS (SELECT DISTINCT {_hexn_sql('d', 15)} AS s FROM bdig),
            sz AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
            mt AS (SELECT sh.doc_id, count(*) AS n_matched
                   FROM sh JOIN bsh USING (s) GROUP BY sh.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(sz.n_shingles, 0) AS BIGINT) AS n_shingles,
                   CAST(coalesce(mt.n_matched, 0) AS BIGINT) AS n_matched,
                   coalesce(mt.n_matched, 0)
                         / greatest(coalesce(sz.n_shingles, 0), 1) AS overlap,
                   (coalesce(mt.n_matched, 0) * 2 >= coalesce(sz.n_shingles, 0)
                    AND coalesce(sz.n_shingles, 0) > 0) AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
            LEFT JOIN sz ON sz.doc_id = d.doc_id
            LEFT JOIN mt ON mt.doc_id = d.doc_id
            ORDER BY d.doc_id
        """,
        "stratified_sample": f"""
            WITH h AS (
                SELECT doc_id, lang,
                       md5('smp|' || CAST(doc_id AS VARCHAR)) AS d
                FROM documents
            ), u AS (SELECT doc_id, lang, {_hexn_sql('d', 4)} AS u FROM h)
            SELECT doc_id, lang FROM u
            WHERE u < CASE lang {" ".join(
                f"WHEN '{k}' THEN {sample_threshold(v)}"
                for k, v in sorted(SAMPLE_RATES.items())
            )} ELSE {sample_threshold(SAMPLE_DEFAULT_RATE)} END
            ORDER BY doc_id
        """,
        "repetition_stats": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            g2 AS (SELECT doc_id, unnest({_BIGRAMS}) AS g FROM t),
            g3 AS (SELECT doc_id, unnest({_SHINGLES}) AS g FROM t),
            c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2),
            c3 AS (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY 1, 2),
            a2 AS (SELECT doc_id, sum(cnt) AS tot2, count(*) AS dist2,
                          max(cnt) AS top2
                   FROM c2 GROUP BY 1),
            a3 AS (SELECT doc_id, sum(cnt) AS tot3, count(*) AS dist3
                   FROM c3 GROUP BY 1)
            SELECT d.doc_id,
                   CAST(COALESCE(tot2, 0) AS BIGINT) AS n_bigrams,
                   COALESCE((tot2 - dist2) / tot2, 0.0)
                       AS dup_bigram_frac,
                   COALESCE((tot3 - dist3) / tot3, 0.0)
                       AS dup_trigram_frac,
                   COALESCE(top2, 0) AS top_bigram_cnt
            FROM documents d
            LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
            ORDER BY doc_id
        """,
        "doc_chunks": f"""
            WITH t AS (SELECT doc_id, len({_TOKS}) AS n FROM documents),
            s AS (SELECT doc_id, n,
                         unnest(generate_series(0, CAST(n - 1 AS BIGINT),
                                {CHUNK_LEN - CHUNK_OVERLAP})) AS tok_start
                  FROM t WHERE n > 0)
            SELECT doc_id,
                   tok_start // {CHUNK_LEN - CHUNK_OVERLAP} AS chunk_idx,
                   tok_start,
                   least({CHUNK_LEN}, n - tok_start) AS tok_len
            FROM s ORDER BY doc_id, chunk_idx
        """,
        "domain_mix": f"""
            WITH w(source, wt) AS (VALUES {", ".join(
                f"('{k}', {v})" for k, v in sorted(MIX_WEIGHTS.items())
            )}),
            c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
            cw AS (SELECT c.source, c.n, w.wt FROM c JOIN w USING (source)),
            thr AS (SELECT s.source,
                           min((65536 * s.wt * m.n) // (s.n * m.wt)) AS thr
                    FROM cw s CROSS JOIN cw m GROUP BY 1),
            h AS (SELECT doc_id, source,
                         md5('mix|' || CAST(doc_id AS VARCHAR)) AS d
                  FROM documents),
            u AS (SELECT doc_id, source, {_hexn_sql('d', 4)} AS u FROM h)
            SELECT doc_id, source
            FROM u JOIN thr USING (source)
            WHERE u < least(thr, 65536)
            ORDER BY doc_id
        """,
        "semantic_dedup": f"""
            WITH {_IVF_CTES},
            ea AS (SELECT e.vec_id, e.v, a.cluster
                   FROM e JOIN assign a USING (vec_id)),
            dup AS (SELECT DISTINCT l.vec_id
                    FROM ea l JOIN ea r
                      ON l.cluster = r.cluster AND l.vec_id > r.vec_id
                    WHERE round(list_cosine_similarity(l.v, r.v), 6) >= 0.35)
            SELECT ea.vec_id, ea.cluster,
                   (dup.vec_id IS NOT NULL) AS is_dup
            FROM ea LEFT JOIN dup ON ea.vec_id = dup.vec_id
            ORDER BY ea.vec_id
        """,
        "bm25_topk": f"""
            WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            dl AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
            st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, dl,
                          unnest(list_filter(toks,
                              x -> list_contains({_bm25_terms_sql()}, x))) AS term
                   FROM dl),
            tfc AS (SELECT doc_id, dl, term, count(*) AS tf
                    FROM tf GROUP BY 1, 2, 3),
            dfc AS (SELECT term, count(DISTINCT doc_id) AS df
                    FROM tfc GROUP BY 1),
            sc AS (SELECT doc_id,
                          round(sum(
                              ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                              * tf * ({BM25_K1} + 1.0)
                              / (tf + {BM25_K1}
                                 * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))
                          ), 6) AS score
                   FROM tfc JOIN dfc USING (term) CROSS JOIN st
                   GROUP BY doc_id)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 10
        """,
        "unigram_logprob": f"""
            WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
            c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
            t AS (SELECT sum(cnt) AS total FROM c),
            sc AS (SELECT doc_id, count(*) AS n_tokens,
                          round(avg(ln(cnt / total)), 6) AS mean_logprob
                   FROM tok JOIN c USING (tok) CROSS JOIN t
                   GROUP BY doc_id)
            SELECT d.doc_id, COALESCE(n_tokens, 0) AS n_tokens, mean_logprob
            FROM documents d LEFT JOIN sc USING (doc_id)
            ORDER BY d.doc_id
        """,
        "tfidf_topk": f"""
            WITH tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
            tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
            dfc AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
            nn AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
            s AS (SELECT tf.doc_id, tf.tok,
                         round(tf.tf * (ln((nn.n + 1.0) / (dfc.df + 1.0)) + 1.0),
                               6) AS score
                  FROM tf JOIN dfc USING (tok) CROSS JOIN nn),
            r AS (SELECT doc_id, tok, score, row_number() OVER
                         (PARTITION BY doc_id ORDER BY score DESC, tok) AS rank
                  FROM s)
            SELECT doc_id, rank, tok AS token, score
            FROM r WHERE rank <= 5 ORDER BY doc_id, rank
        """,
        "pq_encode": f"""
            WITH {_PQ_CTES}
            SELECT vec_id, j AS subspace, code FROM codes
            ORDER BY vec_id, subspace
        """,
        # One Lloyd iteration from the seed assignment: each (subspace,
        # code) cell is the per-dimension mean of its assigned subvectors.
        "pq_train": f"""
            WITH {_PQ_CTES},
            jm AS (SELECT c.j, c.code, s.sv
                   FROM codes c JOIN sub s ON c.vec_id = s.vec_id AND c.j = s.j),
            i AS (SELECT unnest(generate_series(1, 16)) AS i),
            dmm AS (SELECT j, code, i, sv[i] AS x FROM jm CROSS JOIN i)
            SELECT j AS subspace, code, CAST(i - 1 AS INT) AS dim,
                   round(avg(x), 6) AS val
            FROM dmm GROUP BY j, code, i ORDER BY subspace, code, dim
        """,
        "ann_pq_topk": f"""
            WITH {_PQ_CTES},
            qsub AS (SELECT j, sv AS qv FROM sub WHERE vec_id = 0),
            dt AS (SELECT cb.j, cb.code,
                          round(power(list_distance(cb.cv, qsub.qv), 2), 6) AS d
                   FROM cb JOIN qsub USING (j)),
            sc AS (SELECT c.vec_id, round(sum(d), 6) AS adc_dist
                   FROM codes c JOIN dt ON c.j = dt.j AND c.code = dt.code
                   GROUP BY 1)
            SELECT vec_id, adc_dist FROM sc ORDER BY adc_dist, vec_id LIMIT 10
        """,
        "pack_sequences": f"""
            WITH t AS (
                SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
                       CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            ), o AS (
                SELECT doc_id, shard, n_tokens,
                       CAST(coalesce(sum(n_tokens) OVER (
                           PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           AS BIGINT) AS tok_offset
                FROM t
            )
            SELECT doc_id, shard, n_tokens, tok_offset,
                   CAST(tok_offset // 256 AS BIGINT) AS seq_idx
            FROM o ORDER BY doc_id
        """,
        "pack_efficiency": f"""
            WITH t AS (
                SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
                       CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            ), o AS (
                SELECT doc_id, shard, n_tokens,
                       CAST(coalesce(sum(n_tokens) OVER (
                           PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           AS BIGINT) AS tok_offset
                FROM t
            ), per AS (
                SELECT shard, count(*) AS n_docs,
                       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                       CAST(sum(CASE WHEN (tok_offset + n_tokens - 1) // 256
                                          <> tok_offset // 256
                                      AND n_tokens > 0
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_split_docs
                FROM o GROUP BY 1
            )
            SELECT shard, n_docs, n_tokens,
                   CAST((n_tokens + 255) // 256 AS BIGINT) AS n_seqs,
                   CAST(((n_tokens + 255) // 256) * 256 - n_tokens AS BIGINT)
                       AS tail_waste,
                   CAST(n_tokens AS DOUBLE)
                     / CAST(((n_tokens + 255) // 256) * 256 AS DOUBLE)
                       AS fill_ratio,
                   n_split_docs,
                   CAST(n_split_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)
                       AS split_frac
            FROM per ORDER BY shard
        """,
        "exact_dedup": r"""
            WITH hh AS (
                SELECT doc_id,
                       md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h
                FROM documents
            ), k AS (SELECT h, min(doc_id) AS keeper FROM hh GROUP BY h)
            SELECT hh.doc_id, k.keeper, hh.doc_id <> k.keeper AS is_dup
            FROM hh JOIN k USING (h) ORDER BY hh.doc_id
        """,
        "minhash_signatures": f"""
            WITH {_sig_cte()}
            SELECT * FROM sig ORDER BY doc_id
        """,
        "minhash_lsh_pairs": f"""
            WITH {_sig_cte()},
            bands AS (
                {" UNION ALL ".join(
                    "SELECT doc_id, " + str(b) + " AS band, concat_ws('|', "
                    + ", ".join(f"mh{b*4+i}" for i in range(4))
                    + ") AS band_key FROM sig"
                    for b in range(4)
                )}
            )
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r
              ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
            ORDER BY a, b
        """,
        "lsh_index_stats": f"""
            WITH {_sig_cte()},
            bands AS (
                {" UNION ALL ".join(
                    "SELECT doc_id, " + str(b) + " AS band, concat_ws('|', "
                    + ", ".join(f"mh{b*4+i}" for i in range(4))
                    + ") AS band_key FROM sig"
                    for b in range(4)
                )}
            ),
            per_bucket AS (
                SELECT band, band_key, count(*) AS sz
                FROM bands GROUP BY band, band_key
            )
            SELECT band,
                   CAST(sum(sz) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   CAST(max(sz) AS BIGINT) AS max_bucket,
                   CAST(sum(sz) AS BIGINT) / count(*) AS mean_bucket,
                   CAST(sum(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_colliding
            FROM per_bucket GROUP BY band ORDER BY band
        """,
        "incremental_dedup": f"""
            WITH {_sig_cte()},
            bands AS (
                {" UNION ALL ".join(
                    "SELECT doc_id, " + str(b) + " AS band, concat_ws('|', "
                    + ", ".join(f"mh{b*4+i}" for i in range(4))
                    + ") AS band_key FROM sig"
                    for b in range(4)
                )}
            ),
            cand AS (
                SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS match_id
                FROM bands l JOIN bands r
                  ON l.band = r.band AND l.band_key = r.band_key
                WHERE l.doc_id % 10 = 0 AND r.doc_id % 10 <> 0
            ),
            m AS (
                SELECT c.new_id, c.match_id,
                       CAST({" + ".join(
                           f"CASE WHEN ls.mh{j} = rs.mh{j} THEN 1 ELSE 0 END"
                           for j in range(16)
                       )} AS BIGINT) AS matches
                FROM cand c
                JOIN sig ls ON ls.doc_id = c.new_id
                JOIN sig rs ON rs.doc_id = c.match_id
            )
            SELECT new_id, match_id, matches,
                   matches / 16.0 AS est_jaccard
            FROM m WHERE matches / 16.0 >= 0.25
            ORDER BY new_id, match_id
        """,
        "sdt_compress": _sdt_oracle_sql("click", T_2024, T_FEB, 200),
        "streaming_sdt": _sdt_oracle_sql(
            "view", T_2024, T_JAN10, 200, include_final=False
        ),
        "seasonal_naive_error": f"""
            {PTS_CTE}, sums AS (
                SELECT (time >> 40) - {T_2024 >> 40} AS bucket,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT)) AS BIGINT) AS s
                FROM pts WHERE uuid = 'click'
                  AND time >= {(T_2024 >> 40) << 40} AND time < {(T_2025 >> 40) << 40}
                GROUP BY 1
            ), j AS (
                SELECT abs(COALESCE(c.cs, 0) - COALESCE(p.ps, 0)) AS ae
                FROM (SELECT bucket AS t, s AS cs FROM sums WHERE bucket >= 79) c
                FULL JOIN (SELECT bucket + 79 AS t, s AS ps FROM sums
                           WHERE bucket < {(((T_2025 >> 40) << 40) - ((T_2024 >> 40) << 40)) >> 40} - 79) p
                USING (t)
            )
            SELECT CAST({(((T_2025 >> 40) << 40) - ((T_2024 >> 40) << 40)) >> 40} - 79 AS BIGINT) AS n_pairs,
                   CAST(COALESCE(sum(ae), 0) AS BIGINT) AS sae_q,
                   CAST(COALESCE(sum(ae), 0) AS DOUBLE)
                       / CAST({(((T_2025 >> 40) << 40) - ((T_2024 >> 40) << 40)) >> 40} - 79 AS DOUBLE) AS mae_q,
                   (CAST(COALESCE(sum(ae), 0) AS DOUBLE)
                       / CAST({(((T_2025 >> 40) << 40) - ((T_2024 >> 40) << 40)) >> 40} - 79 AS DOUBLE))
                       * CAST(0.01 AS DOUBLE) AS mae
            FROM j
        """,
        "streaming_crossings": f"""
            {PTS_CTE}, l AS (
                SELECT time, value,
                       lag(time) OVER (ORDER BY time, value) AS pt,
                       lag(value) OVER (ORDER BY time, value) AS pv
                FROM pts
                WHERE uuid = 'click' AND time >= {T_2024} AND time < {T_JAN10}
            )
            SELECT time, value, pt AS prev_time, pv AS prev_value,
                   CASE WHEN value >= 10.0 THEN 'up' ELSE 'down' END AS direction
            FROM l
            WHERE pt IS NOT NULL AND ((value >= 10.0) <> (pv >= 10.0))
            ORDER BY time, value
        """,
        "threshold_crossings": f"""
            {PTS_CTE}, l AS (
                SELECT time, value,
                       lag(time) OVER (ORDER BY time, value) AS pt,
                       lag(value) OVER (ORDER BY time, value) AS pv
                FROM pts
                WHERE uuid = 'click' AND time >= {T_2024} AND time < {T_FEB}
            )
            SELECT time, value, pt AS prev_time, pv AS prev_value,
                   CASE WHEN value >= 10.0 THEN 'up' ELSE 'down' END AS direction
            FROM l
            WHERE pt IS NOT NULL AND ((value >= 10.0) <> (pv >= 10.0))
            ORDER BY time, value
        """,
        "excursions": f"""
            {PTS_CTE}, l AS (
                SELECT time, value,
                       lag(time) OVER (ORDER BY time, value) AS pt,
                       lag(value) OVER (ORDER BY time, value) AS pv
                FROM pts
                WHERE uuid = 'click' AND time >= {T_2024} AND time < {T_FEB}
            ), f AS (
                SELECT time, value, value >= 10.0 AS ab,
                       CASE WHEN pt IS NULL OR ((value >= 10.0) <> (pv >= 10.0))
                            THEN 1 ELSE 0 END AS nr
                FROM l
            ), a AS (
                SELECT time, value, ab,
                       sum(nr) OVER (ORDER BY time, value
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
                FROM f
            )
            SELECT min(time) AS t_start, max(time) AS t_end,
                   max(time) - min(time) AS duration_ns,
                   count(*) AS n_points, max(value) AS v_max
            FROM a WHERE ab GROUP BY rid
            ORDER BY t_start
        """,
        "asof_features": f"""
            {PTS_CTE}, tt AS (
                SELECT time, count(*) AS c,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT)) AS BIGINT) AS sq
                FROM pts
                WHERE uuid = 'click' AND time >= {T_2024} AND time < {T_FEB}
                GROUP BY 1
            ), r AS (
                SELECT time,
                       CAST(sum(c) OVER win AS BIGINT) AS cnt,
                       CAST(sum(sq) OVER win AS BIGINT) AS sum_q
                FROM tt WINDOW win AS (
                    ORDER BY time
                    RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
            ), f AS (
                SELECT time, cnt, sum_q,
                       (CAST(sum_q AS DOUBLE) / CAST(cnt AS DOUBLE))
                           * CAST(0.01 AS DOUBLE) AS mean
                FROM r
            ), p AS (
                SELECT time AS target_time FROM pts
                WHERE uuid = 'purchase' AND time >= {T_2024} AND time < {T_FEB}
            )
            SELECT p.target_time, f.time AS feat_time, f.cnt, f.sum_q, f.mean
            FROM p ASOF LEFT JOIN f ON f.time < p.target_time
            ORDER BY target_time, feat_time
        """,
        "group_topk": """
            SELECT lang, doc_id, n_chars, CAST(rk AS BIGINT) AS rk FROM (
                SELECT lang, doc_id, n_chars,
                       row_number() OVER (
                           PARTITION BY lang ORDER BY n_chars DESC, doc_id
                       ) AS rk
                FROM documents
            ) WHERE rk <= 3 ORDER BY lang, rk
        """,
        "stream_profile": f"""
            {PTS_CTE}, pt AS (
                SELECT uuid, time, count(*) AS c,
                       min(value) AS vmin, max(value) AS vmax,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT)) AS BIGINT) AS sq
                FROM pts WHERE time >= {T_2024} AND time < {T_2025}
                GROUP BY 1, 2
            )
            SELECT uuid,
                   CAST(sum(c) AS BIGINT) AS n_points,
                   count(*) AS n_distinct_ts,
                   CAST(sum(c) - count(*) AS BIGINT) AS n_dup_ts,
                   min(time) AS t_min, max(time) AS t_max,
                   min(vmin) AS vmin, max(vmax) AS vmax,
                   CAST(sum(sq) AS BIGINT) AS sum_q
            FROM pt GROUP BY 1 ORDER BY uuid
        """,
        "ngram_novelty": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            raw_sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s0 FROM t),
            dig AS (SELECT doc_id, md5(s0) AS d FROM raw_sh),
            sh AS (SELECT DISTINCT doc_id, {_hexn_sql('d', 15)} AS s FROM dig),
            tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
            nov AS (
                SELECT fd AS doc_id, count(*) AS nn
                FROM (SELECT s, min(doc_id) AS fd FROM sh GROUP BY 1)
                GROUP BY 1
            )
            SELECT tot.doc_id, n_shingles,
                   COALESCE(nn, 0) AS n_novel,
                   CAST(COALESCE(nn, 0) AS DOUBLE)
                       / CAST(n_shingles AS DOUBLE) AS novelty
            FROM tot LEFT JOIN nov ON nov.doc_id = tot.doc_id
            ORDER BY tot.doc_id
        """,
        "rolling_stats": f"""
            {PTS_CTE}, tt AS (
                SELECT time, count(*) AS c,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT)) AS BIGINT) AS sq
                FROM pts
                WHERE uuid = 'click' AND time >= {T_2024} AND time < {T_FEB}
                GROUP BY 1
            ), r AS (
                SELECT time,
                       CAST(sum(c) OVER win AS BIGINT) AS cnt,
                       CAST(sum(sq) OVER win AS BIGINT) AS sum_q
                FROM tt WINDOW win AS (
                    ORDER BY time
                    RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
            )
            SELECT time, cnt, sum_q,
                   (CAST(sum_q AS DOUBLE) / CAST(cnt AS DOUBLE))
                       * CAST(0.01 AS DOUBLE) AS mean
            FROM r ORDER BY time
        """,
        "edit_verified_pairs": f"""
            WITH {_verified_pairs_ctes()},
            ev AS (
                SELECT c.a, c.b,
                       CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist,
                       CAST(greatest(length(da.text), length(db.text)) AS BIGINT) AS mlen
                FROM cand c
                JOIN documents da ON da.doc_id = c.a
                JOIN documents db ON db.doc_id = c.b
            )
            SELECT a, b, dist,
                   CAST(1 AS DOUBLE)
                       - CAST(dist AS DOUBLE) / CAST(mlen AS DOUBLE) AS edit_sim
            FROM ev
            WHERE CAST(1 AS DOUBLE)
                      - CAST(dist AS DOUBLE) / CAST(mlen AS DOUBLE) >= 0.3
            ORDER BY a, b
        """,
        "minhash_verified_pairs": f"""
            WITH {_verified_pairs_ctes()}
            SELECT a, b, jaccard FROM vp ORDER BY a, b
        """,
        # The incremental index must converge to EXACTLY the batch LSH
        # candidate set — same oracle as minhash_lsh_pairs.
        "streaming_lsh": f"""
            WITH {_sig_cte()},
            bands AS (
                {" UNION ALL ".join(
                    "SELECT doc_id, " + str(b) + " AS band, concat_ws('|', "
                    + ", ".join(f"mh{b*4+i}" for i in range(4))
                    + ") AS band_key FROM sig"
                    for b in range(4)
                )}
            )
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r
              ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
            ORDER BY a, b
        """,
        # Bipartite LSH decontamination: signatures over ALL documents,
        # corpus and bench band rows meet on (band, key), candidates
        # verified by exact shingle Jaccard >= 1/2 (integral compare).
        "decontaminate_lsh": f"""
            WITH {_sig_cte()},
            bands AS (
                {" UNION ALL ".join(
                    "SELECT doc_id, " + str(b) + " AS band, concat_ws('|', "
                    + ", ".join(f"mh{b*4+i}" for i in range(4))
                    + ") AS band_key FROM sig"
                    for b in range(4)
                )}
            ),
            cand AS (SELECT DISTINCT l.doc_id AS did, r.doc_id AS bid
                     FROM bands l JOIN bands r
                       ON l.band = r.band AND l.band_key = r.band_key
                     WHERE l.doc_id % 17 <> 0 AND r.doc_id % 17 = 0),
            dig2 AS (SELECT doc_id, md5(s) AS d FROM shrows),
            hsh AS (SELECT DISTINCT doc_id, {_hexn_sql('d', 15)} AS s FROM dig2),
            szs AS (SELECT doc_id, count(*) AS sz FROM hsh GROUP BY doc_id),
            iv AS (SELECT c.did, c.bid, count(*) AS inter
                   FROM cand c
                   JOIN hsh a ON a.doc_id = c.did
                   JOIN hsh b ON b.doc_id = c.bid AND b.s = a.s
                   GROUP BY c.did, c.bid),
            fl AS (SELECT iv.did,
                          sum(CASE WHEN iv.inter * 2 >= (sa.sz + sb.sz - iv.inter)
                                   THEN 1 ELSE 0 END) AS n_contaminating
                   FROM iv JOIN szs sa ON sa.doc_id = iv.did
                           JOIN szs sb ON sb.doc_id = iv.bid
                   GROUP BY iv.did),
            nc AS (SELECT did, count(*) AS n_candidates FROM cand GROUP BY did)
            SELECT d.doc_id,
                   CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
                   CAST(coalesce(fl.n_contaminating, 0) AS BIGINT)
                       AS n_contaminating,
                   coalesce(fl.n_contaminating, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
            LEFT JOIN nc ON nc.did = d.doc_id
            LEFT JOIN fl ON fl.did = d.doc_id
            ORDER BY d.doc_id
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_verified_pairs_ctes()},
            e AS (
                SELECT a AS src, b AS dst FROM vp
                UNION ALL
                SELECT b, a FROM vp
            ),
            reach(node, lbl) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.node
            )
            SELECT node AS doc_id, min(lbl) AS cluster, min(lbl) <> node AS is_dup
            FROM reach GROUP BY node ORDER BY doc_id
        """,
        # Components as in dedup_clusters, then the quality winner per
        # cluster: longest text, ties to the smallest doc id.
        "dedup_select": f"""
            WITH RECURSIVE {{vp_ctes}},
            e AS (
                SELECT a AS src, b AS dst FROM vp
                UNION ALL
                SELECT b, a FROM vp
            ),
            reach(node, lbl) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.node
            ),
            cl AS (SELECT node AS doc_id, min(lbl) AS cluster
                   FROM reach GROUP BY node),
            sc AS (SELECT c.doc_id, c.cluster,
                          CAST(len(d.text) AS BIGINT) AS score
                   FROM cl c JOIN documents d ON c.doc_id = d.doc_id),
            w AS (SELECT cluster, doc_id AS keep_id, row_number() OVER
                         (PARTITION BY cluster ORDER BY score DESC, doc_id)
                         AS rn
                  FROM sc)
            SELECT sc.doc_id, sc.cluster, sc.score,
                   sc.doc_id = w.keep_id AS kept
            FROM sc JOIN w ON sc.cluster = w.cluster AND w.rn = 1
            ORDER BY sc.doc_id
        """.format(vp_ctes=_verified_pairs_ctes()),
        "dedup_stats": f"""
            WITH RECURSIVE {_verified_pairs_ctes()},
            e AS (
                SELECT a AS src, b AS dst FROM vp
                UNION ALL
                SELECT b, a FROM vp
            ),
            reach(node, lbl) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.node
            ),
            cl AS (SELECT node AS doc_id, min(lbl) AS cluster
                   FROM reach GROUP BY node),
            csz AS (SELECT cluster, count(*) AS cluster_size FROM cl GROUP BY 1)
            SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
                   CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
                   CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_removed
            FROM csz GROUP BY cluster_size ORDER BY cluster_size
        """,
        "supplier_scorecard": """
            WITH j AS (
                SELECT l_suppkey,
                       CAST(CAST(l_shipdate AS DATE) >
                            CAST(o_orderdate AS DATE) + INTERVAL 30 DAY
                            AS BIGINT) AS late
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ), agg AS (
                SELECT l_suppkey, count(*) AS n_lines,
                       CAST(sum(late) AS BIGINT) AS n_late
                FROM j GROUP BY 1
            ), w AS (
                SELECT l_suppkey, n_lines, n_late,
                       CAST(n_lines AS DOUBLE) AS nd,
                       CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE) AS p
                FROM agg
            )
            SELECT s_suppkey, s_name, n_lines, n_late,
                   p AS late_rate,
                   ((p + 3.8416 / (2.0 * nd)) / (1.0 + 3.8416 / nd))
                     - ((1.96 * sqrt(p * (1.0 - p) / nd
                                     + 3.8416 / (4.0 * nd * nd)))
                        / (1.0 + 3.8416 / nd)) AS wilson_lo,
                   ((p + 3.8416 / (2.0 * nd)) / (1.0 + 3.8416 / nd))
                     + ((1.96 * sqrt(p * (1.0 - p) / nd
                                     + 3.8416 / (4.0 * nd * nd)))
                        / (1.0 + 3.8416 / nd)) AS wilson_hi
            FROM w JOIN supplier ON l_suppkey = s_suppkey
            ORDER BY s_suppkey
        """,
        "weighted_sample": f"""
            WITH h AS (
                SELECT doc_id, n_chars AS weight,
                       {_hexn_sql("md5('ws:' || CAST(doc_id AS VARCHAR))", 8)} AS hv
                FROM documents WHERE n_chars > 0
            )
            SELECT doc_id, CAST(weight AS BIGINT) AS weight,
                   ln((hv + 1) / 4294967296.0) / CAST(weight AS DOUBLE) AS key
            FROM h ORDER BY key DESC, doc_id LIMIT 100
        """,
        "ivf_recall_curve": f"""
            WITH {_IVF_CTES},
            pr AS (SELECT vec_id AS probe_id, v AS q FROM e
                   WHERE vec_id IN (0, 1, 2, 3)),
            cr AS (SELECT pr.probe_id, c.cid,
                          round(list_cosine_similarity(c.cv, pr.q), 6) AS cs
                   FROM c, pr),
            rk AS (SELECT probe_id, cid,
                          row_number() OVER (PARTITION BY probe_id
                                             ORDER BY cs DESC, cid) AS crank
                   FROM cr),
            ex AS (SELECT pr.probe_id, e.vec_id,
                          row_number() OVER (
                              PARTITION BY pr.probe_id
                              ORDER BY round(list_cosine_similarity(e.v, pr.q), 6)
                                       DESC, e.vec_id) AS rn
                   FROM e, pr),
            exact AS (SELECT probe_id, vec_id FROM ex WHERE rn <= 10),
            exn AS (SELECT probe_id, count(*) AS n_exact FROM exact GROUP BY 1),
            cand AS (SELECT rk.probe_id, e.vec_id, rk.crank,
                            round(list_cosine_similarity(e.v, pr.q), 6) AS cosine
                     FROM e
                     JOIN assign a ON e.vec_id = a.vec_id
                     JOIN rk ON a.cluster = rk.cid
                     JOIN pr ON pr.probe_id = rk.probe_id
                     WHERE rk.crank <= 8),
            npg AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
            sel AS (SELECT probe_id, nprobe, vec_id,
                           row_number() OVER (PARTITION BY probe_id, nprobe
                                              ORDER BY cosine DESC, vec_id) AS rn
                    FROM cand JOIN npg ON npg.nprobe >= cand.crank),
            topk AS (SELECT probe_id, nprobe, vec_id FROM sel WHERE rn <= 10),
            hits AS (SELECT t.probe_id, t.nprobe, count(*) AS n_hits
                     FROM topk t JOIN exact x
                       ON t.probe_id = x.probe_id AND t.vec_id = x.vec_id
                     GROUP BY 1, 2)
            SELECT g.probe_id, CAST(g.nprobe AS INTEGER) AS nprobe,
                   CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
                   CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
                     / CAST(exn.n_exact AS DOUBLE) AS recall
            FROM (SELECT probe_id, nprobe FROM exn, npg) g
            JOIN exn ON exn.probe_id = g.probe_id
            LEFT JOIN hits h ON h.probe_id = g.probe_id AND h.nprobe = g.nprobe
            ORDER BY g.probe_id, nprobe
        """,
        "label_noise_screen": """
            WITH e AS (
                SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ), dm AS (
                SELECT label AS cid, u.i - 1 AS dim, avg(v[u.i]) AS m
                FROM e, unnest(generate_series(1, len(v))) AS u(i)
                GROUP BY 1, 2
            ), c AS (
                SELECT cid,
                       list_transform(list(m ORDER BY dim), x -> round(x, 6))
                           AS cv
                FROM dm GROUP BY cid
            ), sc AS (
                SELECT e.vec_id, e.label, c.cid,
                       round(list_cosine_similarity(e.v, c.cv), 6) AS cs
                FROM e, c
            ), best AS (
                SELECT vec_id, label, cid, cs,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cs DESC, cid) AS rn
                FROM sc
            ), own AS (
                SELECT vec_id, cs AS own_cos FROM sc WHERE cid = label
            )
            SELECT b.vec_id, b.label, b.cid AS pred_label,
                   own.own_cos, b.cs AS pred_cos,
                   b.cs - own.own_cos AS margin
            FROM best b JOIN own ON b.vec_id = own.vec_id
            WHERE b.rn = 1 AND b.cid <> b.label
            ORDER BY margin DESC, b.vec_id
        """,
        "dedup_threshold_curve": f"""
            WITH {_verified_pairs_ctes()},
            th AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
                          AS threshold),
            fanned AS (
                SELECT vp.a, vp.b, th.threshold
                FROM vp JOIN th ON vp.jaccard >= th.threshold
            ),
            pc AS (SELECT threshold, count(*) AS n_pairs
                   FROM fanned GROUP BY 1),
            dc AS (SELECT threshold, count(DISTINCT doc) AS n_docs
                   FROM (SELECT threshold, unnest([a, b]) AS doc FROM fanned)
                   GROUP BY 1)
            SELECT th.threshold,
                   CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
                   CAST(COALESCE(dc.n_docs, 0) AS BIGINT) AS n_docs
            FROM th
            LEFT JOIN pc ON th.threshold = pc.threshold
            LEFT JOIN dc ON th.threshold = dc.threshold
            ORDER BY th.threshold
        """,
        "rate_anomaly": f"""
            {PTS_CTE}, base AS (
                SELECT uuid, ((time - {T_2024}) // {HOUR_NS}) % 24 AS hod,
                       count(*) AS c
                FROM pts
                WHERE time >= {T_2024} AND time < {T_2024 + 21 * DAY_NS}
                GROUP BY 1, 2
            ), uu AS (
                SELECT DISTINCT uuid FROM pts
                WHERE time >= {T_2024} AND time < {T_2024 + 21 * DAY_NS}
            ), hs AS (
                SELECT uu.uuid, h.range AS hod FROM uu, range(0, 24) h
            ), lam AS (
                SELECT hs.uuid, hs.hod,
                       CAST(COALESCE(base.c, 0) AS DOUBLE) / 21.0 AS lam
                FROM hs LEFT JOIN base
                  ON hs.uuid = base.uuid AND hs.hod = base.hod
            ), ss AS (
                SELECT uu.uuid, s.range AS slot
                FROM uu, range({21 * 24}, {31 * 24}) s
            ), obs AS (
                SELECT uuid, (time - {T_2024}) // {HOUR_NS} AS slot,
                       count(*) AS k
                FROM pts
                WHERE time >= {T_2024 + 21 * DAY_NS}
                  AND time < {T_2024 + 31 * DAY_NS}
                GROUP BY 1, 2
            ), sc AS (
                SELECT ss.uuid, ss.slot,
                       CAST(COALESCE(obs.k, 0) AS BIGINT) AS k,
                       ss.slot % 24 AS hod
                FROM ss LEFT JOIN obs
                  ON ss.uuid = obs.uuid AND ss.slot = obs.slot
            )
            SELECT sc.uuid, {T_2024} + sc.slot * {HOUR_NS} AS time,
                   CAST(sc.hod AS BIGINT) AS hod, sc.k, lam.lam,
                   2.0 * (sqrt(CAST(sc.k AS DOUBLE) + 0.375)
                          - sqrt(lam.lam + 0.375)) AS z
            FROM sc JOIN lam ON sc.uuid = lam.uuid AND sc.hod = lam.hod
            WHERE abs(2.0 * (sqrt(CAST(sc.k AS DOUBLE) + 0.375)
                             - sqrt(lam.lam + 0.375))) >= 3.0
            ORDER BY sc.uuid, time
        """,
        "simhash": f"""
            WITH tk AS (
                SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
            ), th AS (
                SELECT doc_id, {_HEX4} AS th FROM tk
            ), votes AS (
                SELECT doc_id, b.bit,
                       CASE WHEN (th >> b.bit) & 1 = 1 THEN 1 ELSE -1 END AS vote
                FROM th, (SELECT unnest(generate_series(0, 15)) AS bit) b
            ), s AS (
                SELECT doc_id, bit, sum(vote) AS s FROM votes GROUP BY doc_id, bit
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)
                        AS BIGINT) AS simhash
            FROM s GROUP BY doc_id ORDER BY doc_id
        """,
        "simhash_pairs": f"""
            WITH tk AS (
                SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
            ), th AS (
                SELECT doc_id, {_hexn_sql("md5(tok)", 15)} AS th FROM tk
            ), votes AS (
                SELECT doc_id, b.bit,
                       CASE WHEN (th >> b.bit) & 1 = 1 THEN 1 ELSE -1 END AS vote
                FROM th, (SELECT unnest(generate_series(0, 59)) AS bit) b
            ), s AS (
                SELECT doc_id, bit, sum(vote) AS s FROM votes GROUP BY doc_id, bit
            ), fp AS (
                SELECT doc_id,
                       CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)
                            AS BIGINT) AS h
                FROM s GROUP BY doc_id
            ), bt AS (
                SELECT doc_id, b.band, (h >> (b.band * 15)) & 32767 AS bv, h
                FROM fp, (SELECT unnest(generate_series(0, 3)) AS band) b
            ), cand AS (
                SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.h AS ha, r.h AS hb
                FROM bt l JOIN bt r
                  ON l.band = r.band AND l.bv = r.bv AND l.doc_id < r.doc_id
            )
            SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
            FROM cand
            WHERE CAST(bit_count(xor(ha, hb)) AS INTEGER) <= 3
            ORDER BY a, b
        """,
        "lsh_recall_eval": f"""
            WITH {_sig_cte()},
            bands AS (
                {" UNION ALL ".join(
                    "SELECT doc_id, " + str(b) + " AS band, concat_ws('|', "
                    + ", ".join(f"mh{b*4+i}" for i in range(4))
                    + ") AS band_key FROM sig"
                    for b in range(4)
                )}
            ), cand AS (
                SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                FROM bands l JOIN bands r
                  ON l.band = r.band AND l.band_key = r.band_key
                 AND l.doc_id < r.doc_id
            ), sh2 AS (
                SELECT DISTINCT doc_id, {_hexn_sql("md5(s)", 15)} AS s FROM shrows
            ), sz AS (
                SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY doc_id
            ), inter AS (
                SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
                FROM sh2 l JOIN sh2 r ON l.s = r.s AND l.doc_id < r.doc_id
                GROUP BY l.doc_id, r.doc_id
            ), truth AS (
                SELECT a, b FROM inter
                JOIN sz sa ON sa.doc_id = a
                JOIN sz sb ON sb.doc_id = b
                WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
            )
            SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
                   CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
                   CAST((SELECT count(*) FROM truth JOIN cand USING (a, b))
                        AS BIGINT) AS n_hits,
                   CAST((SELECT count(*) FROM truth JOIN cand USING (a, b))
                        AS DOUBLE)
                     / CAST((SELECT count(*) FROM truth) AS DOUBLE) AS recall,
                   CAST((SELECT count(*) FROM truth JOIN cand USING (a, b))
                        AS DOUBLE)
                     / CAST((SELECT count(*) FROM cand) AS DOUBLE) AS precision
        """,
        "product_profit": """
            WITH p AS (
                SELECT p_partkey,
                       CAST(round(p_retailprice / 0.01) AS BIGINT) AS retail_h
                FROM part WHERE p_type = 'ECONOMY'
            ), li AS (
                SELECT l_orderkey, l_partkey, l_suppkey,
                       CAST(l_quantity AS BIGINT) AS qty,
                       CAST(round(l_extendedprice / 0.01) AS BIGINT)
                         * (100 - CAST(round(l_discount / 0.01) AS BIGINT)) AS rev4
                FROM lineitem
            ), j AS (
                SELECT n_name,
                       year(CAST(o_orderdate AS DATE)) AS o_year,
                       rev4 - retail_h * qty * 60 AS profit4
                FROM li JOIN p ON l_partkey = p_partkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN orders ON l_orderkey = o_orderkey
            )
            SELECT n_name, o_year,
                   CAST(sum(profit4) AS DOUBLE) / 10000.0 AS profit,
                   count(*) AS n_items
            FROM j GROUP BY 1, 2 ORDER BY n_name, o_year DESC
        """,
        "bigram_perplexity": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            bi AS (
                SELECT doc_id, u.i - 1 AS pos,
                       toks[u.i] AS w1, toks[u.i + 1] AS w2
                FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
                WHERE len(toks) >= 2
            ),
            b AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
            uni AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
            v AS (SELECT count(DISTINCT tok) AS vsz
                  FROM (SELECT unnest(toks) AS tok FROM t)),
            terms AS (
                SELECT bi.doc_id, bi.pos,
                       ln((b.c12 + 1) / (uni.c1 + v.vsz)) AS term
                FROM bi JOIN b USING (w1, w2)
                JOIN uni USING (w1) CROSS JOIN v
            ),
            per AS (
                SELECT doc_id, count(*) AS n_bigrams,
                       list_reduce(
                           list_prepend(CAST(0 AS DOUBLE),
                                        list(term ORDER BY pos)),
                           (a, x) -> a + x) AS ll
                FROM terms GROUP BY doc_id
            )
            SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, ll,
                   exp(-(ll / CAST(n_bigrams AS DOUBLE))) AS ppl
            FROM per ORDER BY doc_id
        """,
        "ngram_jaccard": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            raw_sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s0 FROM t),
            dig AS (SELECT doc_id, md5(s0) AS d FROM raw_sh),
            sh0 AS (
                SELECT DISTINCT doc_id, {_hexn_sql('d', 15)} AS s FROM dig
            ),
            -- df_cap=1000: same capped-vocabulary contract as the Spark
            -- side (functions/dedup.py ngram_jaccard_pairs) — shingles in
            -- more than 1000 documents are dropped from intersection AND
            -- sizes before the self-join.
            dfs AS (SELECT s, count(*) AS nd FROM sh0 GROUP BY s),
            sh AS (SELECT sh0.doc_id, sh0.s FROM sh0
                   JOIN dfs ON dfs.s = sh0.s AND dfs.nd <= 1000),
            sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
                FROM sh l JOIN sh r ON l.s = r.s AND l.doc_id < r.doc_id
                GROUP BY l.doc_id, r.doc_id
            )
            SELECT a, b,
                   inter / (sa.sz + sb.sz - inter) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = a
            JOIN sz sb ON sb.doc_id = b
            WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
            ORDER BY a, b
        """,
        "dsir_weights": f"""
            WITH t AS (SELECT doc_id, (lang = 'en') AS is_t, {_TOKS} AS toks
                       FROM documents),
            tk AS (SELECT doc_id, is_t, unnest(toks) AS tok FROM t),
            tb AS (SELECT doc_id, is_t,
                          ({_hexn_sql("md5(tok)", 8)}) % 1024 AS b FROM tk),
            bc AS (SELECT b, count(*) AS cr,
                          count(*) FILTER (WHERE is_t) AS ct
                   FROM tb GROUP BY b),
            tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM bc),
            w AS (SELECT b, ln((ct + 1.0) / (nt + 1024.0))
                           - ln((cr + 1.0) / (nr + 1024.0)) AS w
                  FROM bc CROSS JOIN tot),
            sc AS (SELECT tb.doc_id, count(*) AS n_tokens,
                          round(sum(w.w), 6) AS log_weight
                   FROM tb JOIN w USING (b) GROUP BY tb.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
                   sc.log_weight
            FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
            ORDER BY d.doc_id
        """,
        "dup_spans": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            w1 AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 7)) AS i,
                          toks
                   FROM t WHERE len(toks) >= 8),
            w2 AS (SELECT doc_id, CAST(i AS BIGINT) AS tok_start,
                          md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS d
                   FROM w1),
            w3 AS (SELECT doc_id, tok_start, {_hexn_sql("d", 15)} AS h FROM w2),
            c AS (SELECT h, count(DISTINCT doc_id) AS n_docs,
                         count(*) AS n_occurrences
                  FROM w3 GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
            SELECT w3.doc_id, w3.tok_start, c.n_docs, c.n_occurrences
            FROM w3 JOIN c USING (h) ORDER BY doc_id, tok_start
        """,
        "ann_batch_topk": """
            WITH probes AS (
                SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS q
                FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
            ),
            s AS (SELECT p.probe_id, e.vec_id,
                         round(list_cosine_similarity(
                             CAST(e.embedding AS DOUBLE[]), p.q), 6) AS cosine
                  FROM embeddings e CROSS JOIN probes p),
            r AS (SELECT probe_id, vec_id, cosine,
                         row_number() OVER (PARTITION BY probe_id
                                            ORDER BY cosine DESC, vec_id) AS rank
                  FROM s)
            SELECT probe_id, vec_id, CAST(rank AS BIGINT) AS rank, cosine
            FROM r WHERE rank <= 10 ORDER BY probe_id, rank
        """,
        "hard_negatives": """
            WITH probe AS (
                SELECT CAST(embedding AS DOUBLE[]) AS q, label AS qlabel
                FROM embeddings WHERE vec_id = 0
            )
            SELECT vec_id, CAST(label AS BIGINT) AS label,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                                probe.q), 6) AS cosine
            FROM embeddings, probe
            WHERE label <> probe.qlabel
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "cosine_topk": """
            WITH probe AS (
                SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0
            )
            SELECT vec_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), probe.q),
                         6) AS cosine
            FROM embeddings, probe
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "bpe_token_stats": f"""
            WITH t AS (SELECT doc_id, text,
                              regexp_extract_all(text, '{_BPE_PAT}') AS toks
                       FROM documents)
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_bpe,
                   CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_bpe,
                   len(text) / greatest(len(toks), 1) AS chars_per_token
            FROM t ORDER BY doc_id
        """,
        "rolling_fingerprint": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            h AS (SELECT doc_id,
                         list_transform(toks, tok -> {_hexn_sql('md5(tok)', 4)}) AS hs
                  FROM t)
            SELECT doc_id,
                   CAST(CASE WHEN len(hs) = 0 THEN 0
                        ELSE list_reduce(hs, (a, x) -> (a * 131 + x) % 1000000007)
                        END AS BIGINT) AS fp
            FROM h ORDER BY doc_id
        """,
        "multimodal_decode": f"""
            WITH {_media_decoded_cte()}
            SELECT * FROM dec ORDER BY media_id
        """,
        "media_frame_sample": f"""
            WITH {_media_decoded_cte()}
            SELECT media_id,
                   CAST(unnest(generate_series(0, n_frames - 1, 300)) AS INT)
                       AS frame_idx
            FROM dec WHERE kind = 'video'
            ORDER BY media_id, frame_idx
        """,
        "media_dedup": """
            WITH m AS (SELECT doc_id AS media_id, sha256(text) AS digest
                       FROM documents),
            g AS (SELECT digest, min(media_id) AS keeper_id,
                         count(*) AS n_copies
                  FROM m GROUP BY digest)
            SELECT m.media_id, m.digest, g.keeper_id,
                   CAST(g.n_copies AS BIGINT) AS n_copies,
                   m.media_id <> g.keeper_id AS is_dup
            FROM m JOIN g USING (digest) ORDER BY m.media_id
        """,
        "media_features": """
            -- Byte-based on purpose: the Spark side computes statistics
            -- over the UTF-8 ENCODED payload, so the oracle decodes each
            -- byte from hex(encode(text)) rather than iterating
            -- characters — ord(char) would only agree on pure-ASCII
            -- corpora and silently diverge on any multibyte document.
            WITH hx AS (
                SELECT doc_id AS media_id, hex(encode(text)) AS h,
                       CAST(octet_length(encode(text)) AS BIGINT) AS nb
                FROM documents
            ), ch AS (
                SELECT media_id,
                       CAST('0x' || substr(h, 2 * i - 1, 2) AS INTEGER) AS o
                FROM hx, unnest(generate_series(1, CAST(nb AS INTEGER))) AS t(i)
            ), hist AS (
                SELECT media_id, o, count(*) AS cnt
                FROM ch GROUP BY media_id, o
            ), base AS (
                SELECT media_id, nb AS n_bytes FROM hx
            ), feats AS (
                SELECT media_id,
                       CAST(count(*) AS INTEGER) AS n_distinct_bytes,
                       CAST(sum(o * cnt) AS BIGINT) AS sum_bytes,
                       CAST(sum(CASE WHEN o BETWEEN 32 AND 126
                                     THEN cnt ELSE 0 END) AS BIGINT) AS printable,
                       any_value(n) AS n,
                       list_reduce(
                           list_prepend(CAST(0 AS DOUBLE),
                               list(-((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
                                      * log2(CAST(cnt AS DOUBLE)
                                             / CAST(n AS DOUBLE)))
                                    ORDER BY o)),
                           (a, x) -> a + x) AS byte_entropy
                FROM (SELECT hist.*, base.n_bytes AS n
                      FROM hist JOIN base USING (media_id))
                GROUP BY media_id
            )
            SELECT b.media_id, b.n_bytes,
                   COALESCE(f.n_distinct_bytes, 0) AS n_distinct_bytes,
                   CAST(f.sum_bytes AS DOUBLE) / CAST(f.n AS DOUBLE) AS mean_byte,
                   CAST(f.printable AS DOUBLE) / CAST(f.n AS DOUBLE)
                       AS printable_ratio,
                   f.byte_entropy
            FROM base b LEFT JOIN feats f USING (media_id)
            ORDER BY b.media_id
        """,
        "media_resize_plan": f"""
            WITH {_media_decoded_cte()}, s AS (
                SELECT media_id, width, height,
                       least(1.0, 224.0 / greatest(width, height)) AS scale
                FROM dec WHERE width IS NOT NULL
            )
            SELECT media_id, width, height,
                   CAST(greatest(round(width * scale), 1) AS INT) AS out_w,
                   CAST(greatest(round(height * scale), 1) AS INT) AS out_h
            FROM s ORDER BY media_id
        """,
        "ivf_assign": f"""
            WITH {_IVF_CTES}
            SELECT vec_id, cluster FROM assign ORDER BY vec_id
        """,
        "ivf_refine": f"""
            WITH {_IVF_CTES},
            j AS (SELECT a.cluster, e.v FROM e JOIN assign a ON e.vec_id = a.vec_id),
            dims AS (SELECT unnest(generate_series(1, 64)) AS i),
            d AS (SELECT cluster, i, v[i] AS x FROM j CROSS JOIN dims)
            SELECT cluster AS cid, CAST(i - 1 AS INT) AS dim,
                   round(avg(x), 6) AS val
            FROM d GROUP BY cluster, i ORDER BY cid, dim
        """,
        # Two full Lloyd iterations replayed as chained CTEs: refine the
        # seed assignment to c1 (per-dim means rounded to 6, like the
        # engine), re-assign against c1, refine again. Emitted flattened.
        "kmeans_train": f"""
            WITH {_IVF_CTES},
            dims AS (SELECT unnest(generate_series(1, 64)) AS i),
            j1 AS (SELECT a.cluster, e.v FROM e JOIN assign a ON e.vec_id = a.vec_id),
            d1 AS (SELECT cluster, i, v[i] AS x FROM j1 CROSS JOIN dims),
            m1 AS (SELECT cluster, i, round(avg(x), 6) AS val
                   FROM d1 GROUP BY cluster, i),
            c1 AS (SELECT cluster AS cid, list(val ORDER BY i) AS cv
                   FROM m1 GROUP BY cluster),
            s2 AS (SELECT e.vec_id, c1.cid,
                          round(list_cosine_similarity(e.v, c1.cv), 6) AS score
                   FROM e CROSS JOIN c1),
            r2 AS (SELECT vec_id, cid, row_number() OVER
                          (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
                   FROM s2),
            a2 AS (SELECT vec_id, cid AS cluster FROM r2 WHERE rn = 1),
            j2 AS (SELECT a.cluster, e.v FROM e JOIN a2 a ON e.vec_id = a.vec_id),
            d2 AS (SELECT cluster, i, v[i] AS x FROM j2 CROSS JOIN dims),
            m2 AS (SELECT cluster, i, round(avg(x), 6) AS val
                   FROM d2 GROUP BY cluster, i)
            SELECT cluster AS cid, CAST(i - 1 AS INT) AS dim, val
            FROM m2 ORDER BY cid, dim
        """,
        "ann_ivf_topk": f"""
            WITH {_IVF_CTES},
            pc AS (SELECT cluster FROM assign WHERE vec_id = 0),
            probe AS (SELECT v AS q FROM e WHERE vec_id = 0)
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.v, probe.q), 6) AS cosine
            FROM e
            JOIN assign a ON e.vec_id = a.vec_id
            JOIN pc ON a.cluster = pc.cluster, probe
            ORDER BY cosine DESC, e.vec_id LIMIT 10
        """,
        "ivf_index_stats": f"""
            WITH {_IVF_CTES},
            per AS (SELECT cluster, count(*) AS n_vecs
                    FROM assign GROUP BY cluster),
            t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS t FROM per)
            SELECT cluster, CAST(n_vecs AS BIGINT) AS n_vecs,
                   CAST(n_vecs AS BIGINT) / t.t AS frac
            FROM per, t ORDER BY cluster
        """,
        "bm25_index_stats": f"""
            WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            tk AS (SELECT doc_id, unnest(toks) AS term FROM d),
            tfc AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
            per AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
                           CAST(sum(tf) AS BIGINT) AS total_tf
                    FROM tfc GROUP BY term),
            t AS (SELECT CAST(sum(df) AS BIGINT) AS t FROM per)
            SELECT term, df, total_tf, df / t.t AS postings_share
            FROM per, t ORDER BY df DESC, term LIMIT 20
        """,
        "ann_ivf_multiprobe": f"""
            WITH {_IVF_CTES},
            probe AS (SELECT v AS q FROM e WHERE vec_id = 0),
            cr AS (SELECT c.cid,
                          round(list_cosine_similarity(c.cv, probe.q), 6) AS cs
                   FROM c, probe),
            pc AS (SELECT cid AS cluster FROM cr ORDER BY cs DESC, cid LIMIT 2)
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.v, probe.q), 6) AS cosine
            FROM e
            JOIN assign a ON e.vec_id = a.vec_id
            JOIN pc ON a.cluster = pc.cluster, probe
            ORDER BY cosine DESC, e.vec_id LIMIT 10
        """,
        "ann_lsh_buckets": _ann_lsh_sql(),
        "ann_lsh_topk": _ann_lsh_topk_sql(),
        "embedding_near_dups": """
            WITH e AS (
                SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            )
            SELECT l.vec_id AS a, r.vec_id AS b,
                   round(list_cosine_similarity(l.v, r.v), 6) AS cosine
            FROM e l JOIN e r ON l.label = r.label AND l.vec_id < r.vec_id
            WHERE round(list_cosine_similarity(l.v, r.v), 6) >= 0.35
            ORDER BY a, b
        """,
        "local_supplier_volume": """
            WITH o AS (
                SELECT o_orderkey, o_custkey FROM orders
                WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
                  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
            ), li AS (
                SELECT l_orderkey, l_suppkey,
                       CAST(round(l_extendedprice / 0.01) AS BIGINT)
                         * (100 - CAST(round(l_discount / 0.01) AS BIGINT))
                         AS rev4
                FROM lineitem
            ), asia AS (
                SELECT n_nationkey, n_name FROM nation
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'ASIA'
            )
            SELECT n_name,
                   CAST(sum(rev4) AS DOUBLE) / 10000.0 AS revenue,
                   count(*) AS n_items
            FROM li JOIN o ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN asia ON s_nationkey = n_nationkey
            GROUP BY 1 ORDER BY sum(rev4) DESC, n_name
        """,
        "market_share": """
            WITH mkt AS (
                SELECT n_nationkey FROM nation
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'AMERICA'
            ), supp AS (
                SELECT s_suppkey FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_7'
            ), li AS (
                SELECT l_orderkey, l_suppkey,
                       CAST(round(l_extendedprice / 0.01) AS BIGINT)
                         * (100 - CAST(round(l_discount / 0.01) AS BIGINT))
                         AS rev4
                FROM lineitem
            )
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(sum(CASE WHEN l_suppkey IN (SELECT s_suppkey FROM supp)
                                 THEN rev4 ELSE 0 END) AS DOUBLE)
                     / CAST(sum(rev4) AS DOUBLE) AS mkt_share,
                   CAST(sum(rev4) AS DOUBLE) / 10000.0 AS total_revenue,
                   count(*) AS n_items
            FROM li JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_nationkey IN (SELECT n_nationkey FROM mkt)
            GROUP BY 1 ORDER BY 1
        """,
        "promo_revenue": """
            WITH li AS (
                SELECT l_partkey,
                       strftime(l_shipdate, '%Y-%m') AS ship_month,
                       CAST(round(l_extendedprice / 0.01) AS BIGINT)
                         * (100 - CAST(round(l_discount / 0.01) AS BIGINT))
                         AS rev4
                FROM lineitem
                WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
                  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
            )
            SELECT ship_month,
                   CAST(sum(CASE WHEN p_type = 'PROMO'
                                 THEN rev4 * 100 ELSE 0 END) AS DOUBLE)
                     / CAST(sum(rev4) AS DOUBLE) AS promo_pct,
                   CAST(sum(rev4) AS DOUBLE) / 10000.0 AS total_revenue,
                   count(*) AS n_items
            FROM li JOIN part ON l_partkey = p_partkey
            GROUP BY 1 ORDER BY 1
        """,
        "small_qty_revenue": """
            WITH li AS (
                SELECT l_partkey,
                       CAST(round(l_quantity) AS BIGINT) AS qty,
                       CAST(round(l_extendedprice / 0.01) AS BIGINT) AS cents
                FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_brand = 'Brand#23')
            ), stats AS (
                SELECT l_partkey AS sp_partkey,
                       CAST(sum(qty) AS BIGINT) AS s_qty,
                       count(*) AS cnt
                FROM li GROUP BY 1
            )
            SELECT 'Brand#23' AS brand,
                   CAST(sum(cents) AS DOUBLE) / 100.0 AS small_qty_revenue,
                   count(*) AS n_items
            FROM li JOIN stats ON l_partkey = sp_partkey
            WHERE qty * 5 * cnt < 1 * s_qty
        """,
        "large_orders": """
            WITH po AS (
                SELECT l_orderkey,
                       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                         AS sum_qty
                FROM lineitem GROUP BY 1 HAVING sum_qty > 150
            )
            SELECT c_name, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   CAST(CAST(round(o_totalprice / 0.01) AS BIGINT) AS DOUBLE)
                     / 100.0 AS total_price,
                   sum_qty
            FROM po JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY CAST(round(o_totalprice / 0.01) AS BIGINT) DESC,
                     o_orderkey
            LIMIT 20
        """,
        "disjunctive_revenue": """
            WITH li AS (
                SELECT l_partkey,
                       CAST(round(l_quantity) AS BIGINT) AS qty,
                       CAST(round(l_extendedprice / 0.01) AS BIGINT)
                         * (100 - CAST(round(l_discount / 0.01) AS BIGINT))
                         AS rev4
                FROM lineitem WHERE l_quantity BETWEEN 1 AND 30
            )
            SELECT CAST(sum(rev4) AS DOUBLE) / 10000.0 AS revenue,
                   count(*) AS n_items
            FROM li JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                   AND qty BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                   AND qty BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                   AND qty BETWEEN 20 AND 30)
        """,
        "idle_customers": """
            WITH c AS (
                SELECT c_custkey, c_mktsegment,
                       CAST(round(c_acctbal / 0.01) AS BIGINT) AS cents
                FROM customer
            ), pos AS (
                SELECT CAST(sum(cents) AS BIGINT) AS s_pos,
                       count(*) AS n_pos
                FROM c WHERE cents > 0
            )
            SELECT c_mktsegment, count(*) AS n_custs,
                   CAST(sum(cents) AS DOUBLE) / 100.0 AS total_acctbal
            FROM c, pos
            WHERE cents * n_pos > s_pos
              AND c_custkey NOT IN (SELECT o_custkey FROM orders
                   WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01')
            GROUP BY 1 ORDER BY 1
        """,
        "hll_distinct": """
            WITH ids AS (
                SELECT event_type,
                       CAST(user_id AS VARCHAR) || ':' ||
                       CAST(epoch_ns(ts) // 86400000000000 AS VARCHAR)
                           AS uid_day
                FROM events
            ), h AS (
                SELECT event_type AS uuid,
                       CAST('0x' || substr(md5('hll:' || uid_day), 1, 15)
                            AS BIGINT) AS h60,
                       uid_day
                FROM ids
            ), r AS (
                SELECT uuid, h60 % 256 AS reg,
                       (h60 >> 8) % 1099511627776 AS suf
                FROM h
            ), regs AS (
                SELECT uuid, reg,
                       CAST(max(41 - CASE WHEN suf = 0 THEN 0
                           ELSE CAST(floor(log2(CAST(suf AS DOUBLE)))
                                AS BIGINT) + 1 END) AS BIGINT) AS M
                FROM r GROUP BY 1, 2
            ), pg AS (
                SELECT uuid,
                       CAST(sum(CAST(1 AS BIGINT) << CAST(41 - M AS INTEGER))
                            AS BIGINT) AS s_used,
                       count(*) AS n_used
                FROM regs GROUP BY 1
            ), e AS (
                SELECT event_type AS uuid,
                       count(DISTINCT uid_day) AS n_exact
                FROM ids GROUP BY 1
            )
            SELECT uuid, n_exact, n_used AS n_registers_used,
                   CASE WHEN ({ALPHA_M2_241} /
                              CAST(s_used + (256 - n_used)
                                   * 2199023255552 AS DOUBLE))
                             <= 640.0
                         AND (256 - n_used) > 0
                        THEN 256.0 * ln(256.0 /
                             CAST(256 - n_used AS DOUBLE))
                        ELSE {ALPHA_M2_241} /
                             CAST(s_used + (256 - n_used)
                                  * 2199023255552 AS DOUBLE)
                   END AS hll_est
            FROM e JOIN pg USING (uuid) ORDER BY uuid
        """.replace("{ALPHA_M2_241}", repr(
            (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256 * float(1 << 41)
        )),
        "bloom_audit": """
            WITH ids AS (
                SELECT source AS src, CAST(doc_id AS BIGINT) AS id
                FROM documents
            ), bits AS (
                SELECT DISTINCT
                       CAST('0x' || substr(md5('bloom' || r || ':' ||
                            CAST(id AS VARCHAR)), 1, 12) AS BIGINT) % 256
                           AS pos
                FROM ids, (SELECT unnest([0, 1]) AS r)
                WHERE src = 'src0'
            ), probes AS (
                SELECT src, id, r,
                       CAST('0x' || substr(md5('bloom' || r || ':' ||
                            CAST(id AS VARCHAR)), 1, 12) AS BIGINT) % 256
                           AS pos
                FROM ids, (SELECT unnest([0, 1]) AS r)
            ), hits AS (
                SELECT src, id FROM probes
                WHERE pos IN (SELECT pos FROM bits)
                GROUP BY 1, 2 HAVING count(*) = 2
            ), flagged AS (
                SELECT i.src, i.id,
                       CASE WHEN h.id IS NULL THEN 0 ELSE 1 END AS claimed,
                       CASE WHEN i.src = 'src0' THEN 1 ELSE 0 END
                           AS is_member
                FROM ids i LEFT JOIN hits h
                  ON i.src = h.src AND i.id = h.id
            )
            SELECT src AS source, count(*) AS n_ids,
                   CAST(sum(claimed) AS BIGINT) AS claimed,
                   CAST(sum(is_member) AS BIGINT) AS true_members,
                   CAST(sum(CASE WHEN claimed = 1 AND is_member = 0
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS false_positives,
                   CASE WHEN count(*) - sum(is_member) > 0
                        THEN CAST(sum(CASE WHEN claimed = 1
                                           AND is_member = 0
                                      THEN 1 ELSE 0 END) AS DOUBLE)
                             / CAST(count(*) - sum(is_member) AS DOUBLE)
                        ELSE 0.0 END AS fp_rate
            FROM flagged GROUP BY 1 ORDER BY 1
        """,
        "ams_f2": """
            WITH counts AS (
                SELECT tok, count(*) AS cnt
                FROM (SELECT unnest(string_split_regex(trim(text),
                                                       '\\s+')) AS tok
                      FROM documents)
                WHERE tok <> '' GROUP BY 1
            ), est AS (
                SELECT r,
                       CAST(sum(CASE WHEN CAST('0x' || substr(
                                md5('ams' || r || ':' || tok), 1, 4)
                                AS BIGINT) % 2 = 0
                            THEN cnt ELSE -cnt END) AS BIGINT) AS S
                FROM counts, (SELECT unnest([0,1,2,3,4,5,6,7]) AS r)
                GROUP BY 1
            ), sq AS (
                SELECT S * S AS sq,
                       row_number() OVER (ORDER BY S * S) AS rn
                FROM est
            )
            SELECT (SELECT CAST(sum(cnt * cnt) AS BIGINT) FROM counts)
                       AS f2_exact,
                   (SELECT CAST(sq AS BIGINT) FROM sq WHERE rn = 4)
                       AS f2_est_median,
                   (SELECT CAST(CAST(sum(sq) AS BIGINT) AS DOUBLE) / 8.0
                    FROM sq) AS f2_est_mean,
                   (SELECT count(*) FROM counts) AS n_tokens_distinct,
                   CAST(8 AS BIGINT) AS d
        """,
        "variance_ratio": """
            {PTS}, pts2 AS (
                SELECT uuid, time, value FROM pts
                WHERE time >= 1704067200000000000 AND time < 1706745600000000000
            ), su AS (
                SELECT uuid, (time - 1704067200000000000) // 86400000000000 AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts2 GROUP BY 1, 2
            ), spine AS (
                SELECT u.uuid, g.widx
                FROM (SELECT DISTINCT uuid FROM su) u
                CROSS JOIN (SELECT unnest(range(0, 31)) AS widx) g
            ), x AS (
                SELECT spine.uuid, spine.widx, COALESCE(s, 0) AS s
                FROM spine LEFT JOIN su USING (uuid, widx)
            ), marg AS (
                SELECT uuid, CAST(sum(s) AS BIGINT) AS S,
                       CAST(sum(s * s) AS BIGINT) AS SS
                FROM x GROUP BY 1
            ), y AS (
                SELECT uuid, 2 AS q, widx, y FROM (
                    SELECT uuid, widx,
                           CAST(sum(s) OVER (PARTITION BY uuid ORDER BY widx
                                ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING)
                                AS BIGINT) AS y
                    FROM x) WHERE widx <= 29
                UNION ALL
                SELECT uuid, 5 AS q, widx, y FROM (
                    SELECT uuid, widx,
                           CAST(sum(s) OVER (PARTITION BY uuid ORDER BY widx
                                ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)
                                AS BIGINT) AS y
                    FROM x) WHERE widx <= 26
                UNION ALL
                SELECT uuid, 10 AS q, widx, y FROM (
                    SELECT uuid, widx,
                           CAST(sum(s) OVER (PARTITION BY uuid ORDER BY widx
                                ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING)
                                AS BIGINT) AS y
                    FROM x) WHERE widx <= 21
            ), qagg AS (
                SELECT uuid, q, CAST(sum(y) AS BIGINT) AS Sy,
                       CAST(sum(y * y) AS BIGINT) AS SSy,
                       count(*) AS ny
                FROM y GROUP BY 1, 2
            )
            SELECT uuid, q,
                   CASE WHEN CAST(q AS DOUBLE)
                             * (31.0 * CAST(SS AS DOUBLE)
                                - CAST(S AS DOUBLE) * CAST(S AS DOUBLE))
                             * CAST(ny AS DOUBLE) * CAST(ny AS DOUBLE) <> 0
                        THEN ((CAST(ny AS DOUBLE) * CAST(SSy AS DOUBLE)
                               - CAST(Sy AS DOUBLE) * CAST(Sy AS DOUBLE))
                              * 31.0 * 31.0)
                             / (CAST(q AS DOUBLE)
                                * (31.0 * CAST(SS AS DOUBLE)
                                   - CAST(S AS DOUBLE) * CAST(S AS DOUBLE))
                                * CAST(ny AS DOUBLE) * CAST(ny AS DOUBLE))
                   END AS vr,
                   CAST(31 AS BIGINT) AS n_buckets
            FROM qagg JOIN marg USING (uuid) ORDER BY uuid, q
        """.replace("{PTS}", PTS_CTE),
        "permutation_entropy": """
            {PTS}, pts2 AS (
                SELECT uuid, time, value FROM pts
                WHERE time >= 1704067200000000000 AND time < 1706745600000000000
            ), su AS (
                SELECT uuid, (time - 1704067200000000000) // 86400000000000 AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts2 GROUP BY 1, 2
            ), spine AS (
                SELECT u.uuid, g.widx
                FROM (SELECT DISTINCT uuid FROM su) u
                CROSS JOIN (SELECT unnest(range(0, 31)) AS widx) g
            ), x AS (
                SELECT spine.uuid, spine.widx, COALESCE(s, 0) AS s
                FROM spine LEFT JOIN su USING (uuid, widx)
            ), tri AS (
                SELECT uuid, s AS a,
                       lead(s, 1) OVER w AS b,
                       lead(s, 2) OVER w AS c
                FROM x WINDOW w AS (PARTITION BY uuid ORDER BY widx)
            ), coded AS (
                SELECT uuid,
                       ((CASE WHEN b < a THEN 1 ELSE 0 END)
                        + (CASE WHEN c < a THEN 1 ELSE 0 END)) * 9
                       + ((CASE WHEN a <= b THEN 1 ELSE 0 END)
                          + (CASE WHEN c < b THEN 1 ELSE 0 END)) * 3
                       + (CASE WHEN a <= c THEN 1 ELSE 0 END)
                       + (CASE WHEN b <= c THEN 1 ELSE 0 END) AS code
                FROM tri WHERE c IS NOT NULL
            ), cnts AS (
                SELECT uuid, count(*) AS N,
                       sum(CASE WHEN code = 5 THEN 1 ELSE 0 END) AS c5,
                       sum(CASE WHEN code = 7 THEN 1 ELSE 0 END) AS c7,
                       sum(CASE WHEN code = 11 THEN 1 ELSE 0 END) AS c11,
                       sum(CASE WHEN code = 15 THEN 1 ELSE 0 END) AS c15,
                       sum(CASE WHEN code = 19 THEN 1 ELSE 0 END) AS c19,
                       sum(CASE WHEN code = 21 THEN 1 ELSE 0 END) AS c21
                FROM coded GROUP BY 1
            ), hh AS (
                SELECT uuid, N,
                       (CASE WHEN c5 > 0 THEN -(CAST(c5 AS DOUBLE) / CAST(N AS DOUBLE)) * ln(CAST(c5 AS DOUBLE) / CAST(N AS DOUBLE)) ELSE 0.0 END)
                     + (CASE WHEN c7 > 0 THEN -(CAST(c7 AS DOUBLE) / CAST(N AS DOUBLE)) * ln(CAST(c7 AS DOUBLE) / CAST(N AS DOUBLE)) ELSE 0.0 END)
                     + (CASE WHEN c11 > 0 THEN -(CAST(c11 AS DOUBLE) / CAST(N AS DOUBLE)) * ln(CAST(c11 AS DOUBLE) / CAST(N AS DOUBLE)) ELSE 0.0 END)
                     + (CASE WHEN c15 > 0 THEN -(CAST(c15 AS DOUBLE) / CAST(N AS DOUBLE)) * ln(CAST(c15 AS DOUBLE) / CAST(N AS DOUBLE)) ELSE 0.0 END)
                     + (CASE WHEN c19 > 0 THEN -(CAST(c19 AS DOUBLE) / CAST(N AS DOUBLE)) * ln(CAST(c19 AS DOUBLE) / CAST(N AS DOUBLE)) ELSE 0.0 END)
                     + (CASE WHEN c21 > 0 THEN -(CAST(c21 AS DOUBLE) / CAST(N AS DOUBLE)) * ln(CAST(c21 AS DOUBLE) / CAST(N AS DOUBLE)) ELSE 0.0 END)
                       AS h
                FROM cnts
            )
            SELECT uuid, N AS n_triples, h, h / 1.791759469228055 AS h_norm
            FROM hh ORDER BY uuid
        """.replace("{PTS}", PTS_CTE),
        "peak_detect": """
            {PTS}, pts2 AS (
                SELECT uuid, time, value FROM pts
                WHERE time >= 1704067200000000000 AND time < 1706745600000000000
            ), su AS (
                SELECT uuid, (time - 1704067200000000000) // 86400000000000 AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts2 GROUP BY 1, 2
            ), spine AS (
                SELECT u.uuid, g.widx
                FROM (SELECT DISTINCT uuid FROM su) u
                CROSS JOIN (SELECT unnest(range(0, 31)) AS widx) g
            ), x AS (
                SELECT spine.uuid, spine.widx, COALESCE(s, 0) AS s
                FROM spine LEFT JOIN su USING (uuid, widx)
            ), lgd AS (
                SELECT uuid, widx, s,
                       lag(s, 1) OVER w AS p,
                       lead(s, 1) OVER w AS nx
                FROM x WINDOW w AS (PARTITION BY uuid ORDER BY widx)
            )
            SELECT uuid,
                   1704067200000000000 + widx * 86400000000000 AS time,
                   CAST(s AS DOUBLE) / 100.0 AS value,
                   CAST(s - greatest(p, nx) AS DOUBLE) / 100.0
                       AS prominence_min
            FROM lgd
            WHERE p IS NOT NULL AND nx IS NOT NULL
              AND s > p AND s >= nx AND s - greatest(p, nx) >= 10000
            ORDER BY uuid, time
        """.replace("{PTS}", PTS_CTE),
        "savgol_smooth": """
            {PTS}, pts2 AS (
                SELECT uuid, time, value FROM pts
                WHERE time >= 1704067200000000000 AND time < 1706745600000000000
            ), su AS (
                SELECT uuid, (time - 1704067200000000000) // 86400000000000 AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts2 GROUP BY 1, 2
            ), spine AS (
                SELECT u.uuid, g.widx
                FROM (SELECT DISTINCT uuid FROM su) u
                CROSS JOIN (SELECT unnest(range(0, 31)) AS widx) g
            ), x AS (
                SELECT spine.uuid, spine.widx, COALESCE(s, 0) AS s
                FROM spine LEFT JOIN su USING (uuid, widx)
            ), taps AS (
                SELECT uuid, widx, s,
                       lag(s, 2) OVER w AS m2, lag(s, 1) OVER w AS m1,
                       lead(s, 1) OVER w AS p1, lead(s, 2) OVER w AS p2
                FROM x WINDOW w AS (PARTITION BY uuid ORDER BY widx)
            )
            SELECT uuid,
                   1704067200000000000 + widx * 86400000000000 AS time,
                   CAST(s AS DOUBLE) / 100.0 AS raw,
                   CAST(-3 * m2 + 12 * m1 + 17 * s + 12 * p1 - 3 * p2
                        AS DOUBLE) / 3500.0 AS smooth
            FROM taps WHERE m2 IS NOT NULL AND p2 IS NOT NULL
            ORDER BY uuid, time
        """.replace("{PTS}", PTS_CTE),
        "seasonal_decompose": """
            {PTS}, pts2 AS (
                SELECT uuid, time, value FROM pts
                WHERE time >= 1704067200000000000 AND time < 1706745600000000000 AND uuid = 'click'
            ), su AS (
                SELECT uuid, (time - 1704067200000000000) // 3600000000000 AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts2 GROUP BY 1, 2
            ), spine AS (
                SELECT u.uuid, g.widx
                FROM (SELECT DISTINCT uuid FROM su) u
                CROSS JOIN (SELECT unnest(range(0, 744)) AS widx) g
            ), x AS (
                SELECT spine.uuid, spine.widx, COALESCE(s, 0) AS s
                FROM spine LEFT JOIN su USING (uuid, widx)
            ), t AS (
                SELECT uuid, widx, s,
                       2 * CAST(sum(s) OVER (PARTITION BY uuid ORDER BY widx
                             ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
                           AS BIGINT)
                       - lag(s, 12) OVER w - lead(s, 12) OVER w AS tnum,
                       widx % 24 AS phase
                FROM x WINDOW w AS (PARTITION BY uuid ORDER BY widx)
            ), v AS (
                SELECT uuid, widx, s, tnum, phase,
                       48 * s - tnum AS dnum
                FROM t WHERE tnum IS NOT NULL
            ), seas AS (
                SELECT uuid, phase, CAST(sum(dnum) AS BIGINT) AS Sphase,
                       count(*) AS cphase
                FROM v GROUP BY 1, 2
            )
            SELECT v.uuid,
                   1704067200000000000 + widx * 3600000000000 AS time,
                   CAST(s AS DOUBLE) / 100.0 AS x,
                   CAST(tnum AS DOUBLE) / 4800.0 AS trend,
                   CAST(Sphase AS DOUBLE)
                       / (4800.0 * CAST(cphase AS DOUBLE)) AS seasonal,
                   (CAST(cphase AS DOUBLE) * CAST(dnum AS DOUBLE)
                    - CAST(Sphase AS DOUBLE))
                       / (4800.0 * CAST(cphase AS DOUBLE)) AS residual
            FROM v JOIN seas ON v.uuid = seas.uuid AND v.phase = seas.phase
            ORDER BY v.uuid, time
        """.replace("{PTS}", PTS_CTE),
        "dominant_period": """
            {PTS}, pts2 AS (
                SELECT uuid, time, value FROM pts
                WHERE time >= 1704067200000000000 AND time < 1705276800000000000
            ), su AS (
                SELECT uuid, (time - 1704067200000000000) // 3600000000000 AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts2 GROUP BY 1, 2
            ), spine AS (
                SELECT u.uuid, g.widx
                FROM (SELECT DISTINCT uuid FROM su) u
                CROSS JOIN (SELECT unnest(range(0, 336)) AS widx) g
            ), x AS (
                SELECT spine.uuid, spine.widx, COALESCE(s, 0) AS s
                FROM spine LEFT JOIN su USING (uuid, widx)
            ), lagq AS (
                SELECT unnest(range(2, 37)) AS lag
            ), marg AS (
                SELECT uuid, CAST(sum(s) AS BIGINT) AS S,
                       CAST(sum(s * s) AS BIGINT) AS SS
                FROM x GROUP BY 1
            ), sxy AS (
                SELECT a.uuid, lag,
                       CAST(sum(a.s * b.s) AS BIGINT) AS Sxy
                FROM x a CROSS JOIN lagq
                JOIN x b ON b.uuid = a.uuid AND b.widx = a.widx + lag
                GROUP BY 1, 2
            ), parts AS (
                SELECT uuid, lag,
                       CAST(COALESCE(sum(CASE WHEN widx < 336 - lag
                                              THEN s END), 0) AS BIGINT)
                           AS Sh,
                       CAST(COALESCE(sum(CASE WHEN widx >= lag
                                              THEN s END), 0) AS BIGINT)
                           AS St
                FROM x CROSS JOIN lagq GROUP BY 1, 2
            ), per_lag AS (
                SELECT sxy.uuid, sxy.lag,
                       336 * 336 * Sxy - 336 * S * (Sh + St)
                           + (336 - sxy.lag) * S * S AS num_exact,
                       336.0 * 336.0 * CAST(Sxy AS DOUBLE)
                           - 336.0 * CAST(S AS DOUBLE)
                             * (CAST(Sh AS DOUBLE) + CAST(St AS DOUBLE))
                           + (336.0 - CAST(sxy.lag AS DOUBLE))
                             * CAST(S AS DOUBLE) * CAST(S AS DOUBLE)
                           AS num_dbl,
                       336.0 * 336.0 * CAST(SS AS DOUBLE)
                           - 336.0 * CAST(S AS DOUBLE) * CAST(S AS DOUBLE)
                           AS den_dbl
                FROM sxy
                JOIN parts ON parts.uuid = sxy.uuid AND parts.lag = sxy.lag
                JOIN marg ON marg.uuid = sxy.uuid
            ), pick AS (
                SELECT uuid, lag, num_dbl, den_dbl,
                       row_number() OVER (PARTITION BY uuid
                            ORDER BY num_exact DESC, lag) AS rn
                FROM per_lag
            )
            SELECT uuid, CAST(lag AS BIGINT) AS best_lag,
                   CASE WHEN den_dbl <> 0 THEN num_dbl / den_dbl END AS acf,
                   CAST(336 AS BIGINT) AS n_buckets
            FROM pick WHERE rn = 1 ORDER BY uuid
        """.replace("{PTS}", PTS_CTE),
        "mips_topk": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ), m2 AS (
                SELECT max(list_dot_product(v, v)) AS M2 FROM e
            ), q AS (
                SELECT v AS qv FROM e WHERE vec_id = 7
            )
            SELECT vec_id,
                   round(list_dot_product(v, qv), 6) AS dot,
                   round(list_dot_product(v, qv)
                         / (sqrt(list_dot_product(qv, qv)) * sqrt(M2)), 6)
                       AS aug_cos
            FROM e, q, m2
            ORDER BY dot DESC, vec_id LIMIT 10
        """,
        "sq8_topk": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ), pos AS (
                SELECT vec_id, unnest(v) AS x,
                       unnest(generate_series(1, 64)) AS i
                FROM e
            ), stats AS (
                SELECT i, min(x) AS lo, max(x) AS hi FROM pos GROUP BY i
            ), arrs AS (
                SELECT list(lo ORDER BY i) AS lo_a, list(hi ORDER BY i) AS hi_a
                FROM stats
            ), q AS (
                SELECT v AS qv FROM e WHERE vec_id = 7
            ), dec AS (
                SELECT vec_id,
                       list_transform(generate_series(1, 64), i ->
                           lo_a[i] + least(255.0,
                               floor((v[i] - lo_a[i]) * 255.0
                                     / (CASE WHEN hi_a[i] > lo_a[i]
                                             THEN hi_a[i] - lo_a[i]
                                             ELSE 1.0 END)))
                             * (hi_a[i] - lo_a[i]) / 255.0) AS dv,
                       v
                FROM e, arrs
            )
            SELECT vec_id,
                   round(list_dot_product(dv, qv), 6) AS approx_dot,
                   round(list_dot_product(v, qv), 6) AS exact_dot,
                   round(list_dot_product(dv, qv), 6)
                       - round(list_dot_product(v, qv), 6) AS err
            FROM dec, q
            ORDER BY approx_dot DESC, vec_id LIMIT 10
        """,
        "containment_pairs": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                           '\\s+'), x -> x <> '') AS toks
                FROM documents
            ), raw_sh AS (
                SELECT doc_id,
                       unnest(CASE WHEN len(toks) >= 3
                           THEN list_transform(
                               generate_series(1, len(toks) - 2),
                               i -> array_to_string(
                                   list_slice(toks, i, i + 2), ' '))
                           ELSE CAST([] AS VARCHAR[]) END) AS s0
                FROM t
            ), sh0 AS (
                SELECT DISTINCT doc_id,
                       CAST('0x' || substr(md5(s0), 1, 15) AS BIGINT) AS s
                FROM raw_sh
            ),
            -- df_cap=1000: mirrors functions/dedup.py containment_pairs —
            -- capped vocabulary for both intersection and |A|.
            dfs AS (SELECT s, count(*) AS nd FROM sh0 GROUP BY s),
            sh AS (SELECT sh0.doc_id, sh0.s FROM sh0
                   JOIN dfs ON dfs.s = sh0.s AND dfs.nd <= 1000),
            sz AS (
                SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
            ), inter AS (
                SELECT l.doc_id AS src, r.doc_id AS dst,
                       count(*) AS inter
                FROM sh l JOIN sh r
                  ON l.s = r.s AND l.doc_id <> r.doc_id
                GROUP BY 1, 2
            )
            SELECT src, dst,
                   inter / sz AS containment,
                   inter, sz AS src_sz
            FROM inter JOIN sz ON src = doc_id
            WHERE inter / sz >= 0.5
            ORDER BY src, dst
        """,
        "readability": """
            WITH t AS (
                SELECT doc_id,
                       len(list_filter(regexp_split_to_array(lower(text),
                           '\\s+'), x -> x <> '')) AS words,
                       greatest(CAST(1 AS BIGINT),
                           CAST(len(regexp_extract_all(text, '[.!?]+'))
                                AS BIGINT)) AS sentences,
                       CAST(len(regexp_extract_all(lower(text),
                           '[aeiouy]+')) AS BIGINT) AS syllables
                FROM documents
            )
            SELECT doc_id, CAST(words AS BIGINT) AS words, sentences,
                   syllables,
                   CASE WHEN words > 0 THEN
                       0.39 * (CAST(words AS DOUBLE)
                               / CAST(sentences AS DOUBLE))
                       + 11.8 * (CAST(syllables AS DOUBLE)
                                 / CAST(words AS DOUBLE))
                       - 15.59
                   END AS fk_grade
            FROM t ORDER BY doc_id
        """,
        "frequent_sequences": """
            WITH o AS (
                SELECT user_id, event_type,
                       lead(event_type, 1) OVER w AS e1,
                       lead(event_type, 2) OVER w AS e2
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT event_type || '>' || e1 || '>' || e2 AS seq,
                   count(*) AS cnt
            FROM o WHERE e2 IS NOT NULL
            GROUP BY 1 ORDER BY cnt DESC, seq LIMIT 20
        """,
        "ols_two_factor": """
            {PTS}, su AS (
                SELECT (time - 1704067200000000000) // 86400000000000 AS widx, uuid,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts
                WHERE uuid IN ('purchase', 'click', 'view')
                  AND time >= 1704067200000000000 AND time < 1706745600000000000
                GROUP BY 1, 2
            ), wide AS (
                SELECT g.widx,
                       CAST(COALESCE(sum(CASE WHEN uuid = 'purchase'
                                         THEN s END), 0) AS BIGINT) AS y,
                       CAST(COALESCE(sum(CASE WHEN uuid = 'click'
                                         THEN s END), 0) AS BIGINT) AS x1,
                       CAST(COALESCE(sum(CASE WHEN uuid = 'view'
                                         THEN s END), 0) AS BIGINT) AS x2
                FROM (SELECT unnest(range(0, 31)) AS widx) g
                LEFT JOIN su ON su.widx = g.widx
                GROUP BY 1
            ), mom AS (
                SELECT count(*) AS n,
                       CAST(sum(x1) AS HUGEINT) AS S1,
                       CAST(sum(x2) AS HUGEINT) AS S2,
                       CAST(sum(y) AS HUGEINT) AS Sy,
                       CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS S11,
                       CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS S22,
                       CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS S12,
                       CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS S1y,
                       CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS S2y,
                       CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS Syy
                FROM wide
            ), dets AS (
                SELECT n, Sy, S1y, S2y, Syy,
                       n * (S11 * S22 - S12 * S12)
                         - S1 * (S1 * S22 - S12 * S2)
                         + S2 * (S1 * S12 - S11 * S2) AS det,
                       Sy * (S11 * S22 - S12 * S12)
                         - S1 * (S1y * S22 - S12 * S2y)
                         + S2 * (S1y * S12 - S11 * S2y) AS det0,
                       n * (S1y * S22 - S12 * S2y)
                         - Sy * (S1 * S22 - S12 * S2)
                         + S2 * (S1 * S2y - S1y * S2) AS det1,
                       n * (S11 * S2y - S1y * S12)
                         - S1 * (S1 * S2y - S1y * S2)
                         + Sy * (S1 * S12 - S11 * S2) AS det2
                FROM mom
            )
            SELECT CAST(n AS BIGINT) AS n,
                   CASE WHEN CAST(det AS DOUBLE) <> 0 THEN
                       (CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE)) / 100.0
                   END AS b0,
                   CASE WHEN CAST(det AS DOUBLE) <> 0 THEN
                       CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE)
                   END AS b1,
                   CASE WHEN CAST(det AS DOUBLE) <> 0 THEN
                       CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE)
                   END AS b2,
                   CASE WHEN CAST(det AS DOUBLE) <> 0
                         AND (CAST(Syy AS DOUBLE) - CAST(Sy AS DOUBLE)
                              * CAST(Sy AS DOUBLE) / CAST(n AS DOUBLE)) <> 0
                   THEN 1.0 - (CAST(Syy AS DOUBLE)
                               - ((CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE))
                                    * CAST(Sy AS DOUBLE)
                                  + (CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE))
                                    * CAST(S1y AS DOUBLE)
                                  + (CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE))
                                    * CAST(S2y AS DOUBLE)))
                              / (CAST(Syy AS DOUBLE) - CAST(Sy AS DOUBLE)
                                 * CAST(Sy AS DOUBLE) / CAST(n AS DOUBLE))
                   END AS r2
            FROM dets
        """.replace("{PTS}", PTS_CTE),
        "degree_assortativity": """
            WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
            edges AS (
                SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                WHERE a.l_partkey <> b.l_partkey
            ), deg AS (
                SELECT u, count(*) AS deg FROM edges GROUP BY 1
            ), ed AS (
                SELECT du.deg AS x, dv.deg AS y
                FROM edges JOIN deg du ON edges.u = du.u
                JOIN deg dv ON edges.v = dv.u
            ), mom AS (
                SELECT count(*) AS n,
                       CAST(sum(x) AS BIGINT) AS Sx,
                       CAST(sum(y) AS BIGINT) AS Sy,
                       CAST(sum(x * x) AS BIGINT) AS Sxx,
                       CAST(sum(y * y) AS BIGINT) AS Syy,
                       CAST(sum(x * y) AS BIGINT) AS Sxy
                FROM ed
            ), nn AS (SELECT count(*) AS n_nodes FROM deg)
            SELECT n AS n_edges, n_nodes,
                   CASE WHEN sqrt((CAST(n AS DOUBLE) * CAST(Sxx AS DOUBLE)
                                   - CAST(Sx AS DOUBLE) * CAST(Sx AS DOUBLE))
                                  * (CAST(n AS DOUBLE) * CAST(Syy AS DOUBLE)
                                     - CAST(Sy AS DOUBLE) * CAST(Sy AS DOUBLE)))
                             <> 0
                        THEN (CAST(n AS DOUBLE) * CAST(Sxy AS DOUBLE)
                              - CAST(Sx AS DOUBLE) * CAST(Sy AS DOUBLE))
                             / sqrt((CAST(n AS DOUBLE) * CAST(Sxx AS DOUBLE)
                                     - CAST(Sx AS DOUBLE) * CAST(Sx AS DOUBLE))
                                    * (CAST(n AS DOUBLE) * CAST(Syy AS DOUBLE)
                                       - CAST(Sy AS DOUBLE) * CAST(Sy AS DOUBLE)))
                   END AS assortativity
            FROM mom, nn
        """,
        "customer_distribution": """
            WITH pc AS (
                SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1
            ), j AS (
                SELECT COALESCE(cnt, 0) AS c_count
                FROM customer LEFT JOIN pc ON c_custkey = o_custkey
            )
            SELECT c_count, count(*) AS custdist
            FROM j GROUP BY 1 ORDER BY custdist DESC, c_count DESC
        """,
        "runs_test": """
            {PTS}, su AS (
                SELECT uuid, (time - 1704067200000000000) // 86400000000000 AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
                GROUP BY 1, 2
            ), spine AS (
                SELECT u.uuid, g.widx
                FROM (SELECT DISTINCT uuid FROM su) u
                CROSS JOIN (SELECT unnest(range(0, 31)) AS widx) g
            ), x AS (
                SELECT spine.uuid, spine.widx, COALESCE(s, 0) AS s
                FROM spine LEFT JOIN su USING (uuid, widx)
            ), med AS (
                SELECT uuid, s AS med FROM (
                    SELECT uuid, s, row_number() OVER (PARTITION BY uuid
                        ORDER BY s, widx) AS rn FROM x)
                WHERE rn = 16
            ), signed AS (
                SELECT x.uuid, widx,
                       CASE WHEN s > med THEN 1 ELSE 0 END AS up
                FROM x JOIN med ON x.uuid = med.uuid
                WHERE s <> med
            ), lagged AS (
                SELECT uuid, up,
                       lag(up) OVER (PARTITION BY uuid ORDER BY widx) AS prev
                FROM signed
            ), agg AS (
                SELECT uuid,
                       CAST(sum(up) AS BIGINT) AS n1,
                       CAST(sum(1 - up) AS BIGINT) AS n2,
                       CAST(sum(CASE WHEN prev IS NULL OR up <> prev
                                     THEN 1 ELSE 0 END) AS BIGINT) AS runs
                FROM lagged GROUP BY 1
            )
            SELECT uuid, n1, n2, runs,
                   CASE WHEN n1 > 0 AND n2 > 0 AND
                        (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                         * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                            - (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
                        / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                           * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                           * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                              - 1.0)) > 0
                   THEN (CAST(runs AS DOUBLE)
                         - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                            / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                            + 1.0))
                        / sqrt((2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                                * (2.0 * CAST(n1 AS DOUBLE)
                                   * CAST(n2 AS DOUBLE)
                                   - (CAST(n1 AS DOUBLE)
                                      + CAST(n2 AS DOUBLE))))
                               / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                                  * (CAST(n1 AS DOUBLE)
                                     + CAST(n2 AS DOUBLE))
                                  * ((CAST(n1 AS DOUBLE)
                                      + CAST(n2 AS DOUBLE)) - 1.0)))
                   END AS z
            FROM agg ORDER BY uuid
        """.replace("{PTS}", PTS_CTE),
        "power_users": """
            WITH pu AS (
                SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
            ), r AS (
                SELECT cnt, row_number() OVER (ORDER BY cnt DESC, user_id)
                           AS rn
                FROM pu
            ), nu AS (
                SELECT count(*) AS n_users,
                       CAST(sum(cnt) AS BIGINT) AS total_events
                FROM pu
            ), t AS (
                SELECT CAST(sum(cnt) AS BIGINT) AS top_events
                FROM r, nu
                WHERE rn <= greatest(CAST(1 AS BIGINT), n_users // 10)
            )
            SELECT n_users,
                   greatest(CAST(1 AS BIGINT), n_users // 10) AS k,
                   top_events, total_events,
                   CAST(top_events AS DOUBLE)
                       / CAST(total_events AS DOUBLE) AS share
            FROM nu, t
        """,
        "ngram_coverage": """
            WITH t AS (
                SELECT list_filter(regexp_split_to_array(lower(text),
                    '\\s+'), x -> x <> '') AS toks
                FROM documents
            ), grams AS (
                SELECT unnest(CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                        i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                    ELSE CAST([] AS VARCHAR[]) END) AS g
                FROM t
            ), counts AS (
                SELECT g, count(*) AS cnt FROM grams GROUP BY 1
            ), ranked AS (
                SELECT cnt, row_number() OVER (ORDER BY cnt DESC, g) AS rn
                FROM counts
            ), ks AS (SELECT unnest([10, 100, 1000]) AS k)
            SELECT CAST(k AS BIGINT) AS k,
                   CAST(COALESCE(sum(CASE WHEN rn <= k THEN cnt END), 0)
                        AS BIGINT) AS covered,
                   CAST(sum(cnt) AS BIGINT) AS total,
                   count(*) AS distinct_grams,
                   CAST(COALESCE(sum(CASE WHEN rn <= k THEN cnt END), 0)
                        AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS coverage
            FROM ranked CROSS JOIN ks
            GROUP BY k ORDER BY k
        """,
        "forecast_revenue": """
            SELECT CAST(sum(CAST(round(l_extendedprice / 0.01) AS BIGINT)
                            * CAST(round(l_discount / 0.01) AS BIGINT))
                        AS DOUBLE) / 10000.0 AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
              AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
              AND CAST(round(l_discount / 0.01) AS BIGINT) BETWEEN 4 AND 6
              AND l_quantity < 24
        """,
        "hist_quantiles": """
            {PTS}, src AS (
                SELECT uuid, CAST(round(value / 0.01) AS BIGINT) AS vq
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
            ), rng AS (
                SELECT uuid, CAST(min(vq) AS BIGINT) AS lo,
                       CAST(max(vq) AS BIGINT) AS hi, count(*) AS n
                FROM src GROUP BY 1
            ), binned AS (
                SELECT src.uuid, ((vq - lo) * 64) // (hi - lo + 1) AS b,
                       count(*) AS cnt
                FROM src JOIN rng USING (uuid) GROUP BY 1, 2
            ), cum AS (
                SELECT uuid, b, cnt,
                       CAST(COALESCE(sum(cnt) OVER (PARTITION BY uuid
                            ORDER BY b) - cnt, 0) AS BIGINT) AS cum_before
                FROM binned
            ), pq AS (SELECT unnest([50, 90, 99]) AS p),
            wr AS (
                SELECT uuid, p, lo, hi, n, (p * n + 99) // 100 AS rank
                FROM rng, pq
            ), cell AS (
                SELECT wr.uuid, p, lo, hi, rank, cum_before, cnt, b
                FROM wr JOIN cum ON wr.uuid = cum.uuid
                WHERE cum_before < rank AND rank <= cum_before + cnt
            ), ranked AS (
                SELECT uuid, vq,
                       row_number() OVER (PARTITION BY uuid ORDER BY vq)
                           AS rn
                FROM src
            ), ex AS (
                SELECT r.uuid, p, CAST(vq AS DOUBLE) / 100.0 AS exact
                FROM ranked r JOIN wr ON r.uuid = wr.uuid AND rn = rank
            ), est AS (
                SELECT uuid, p,
                       ((CAST(lo AS DOUBLE) + CAST(b AS DOUBLE)
                         * ((CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE) + 1.0)
                            / 64.0))
                        + (CAST(rank AS DOUBLE) - CAST(cum_before AS DOUBLE))
                          / CAST(cnt AS DOUBLE)
                          * ((CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE) + 1.0)
                             / 64.0))
                       / 100.0 AS est
                FROM cell
            )
            SELECT est.uuid, CAST(est.p AS BIGINT) AS p, est, exact,
                   est - exact AS err
            FROM est JOIN ex ON est.uuid = ex.uuid AND est.p = ex.p
            ORDER BY est.uuid, p
        """.replace("{PTS}", PTS_CTE),
        "cluster_purity": """
            WITH pts AS (
                SELECT vec_id AS pid, label AS lab,
                       list_transform(CAST(embedding AS DOUBLE[]),
                           x -> CAST(round(x / 0.0001) AS BIGINT)) AS v
                FROM embeddings
            ), comp AS (
                SELECT lab, unnest(v) AS x,
                       unnest(generate_series(1, 64)) AS d
                FROM pts
            ), cs AS (
                SELECT lab, d, CAST(sum(x) AS BIGINT) AS S
                FROM comp GROUP BY 1, 2
            ), cents AS (
                SELECT lab AS clab, list(S ORDER BY d) AS S FROM cs GROUP BY 1
            ), sizes AS (
                SELECT lab AS clab, count(*) AS c FROM pts GROUP BY 1
            ), cb AS (
                SELECT cents.clab, S, c FROM cents JOIN sizes USING (clab)
            ), scored AS (
                SELECT pid, lab, clab,
                       CAST(list_sum(list_transform(
                           generate_series(1, 64),
                           i -> (c * v[i] - S[i]) * (c * v[i] - S[i])))
                           AS BIGINT) AS m,
                       CAST(c AS HUGEINT) * c AS c2
                FROM pts CROSS JOIN cb
            ), own AS (
                SELECT pid, m AS m_own, c2 AS c2_own
                FROM scored WHERE lab = clab
            ), beaten AS (
                SELECT DISTINCT s.pid
                FROM scored s JOIN own ON s.pid = own.pid
                WHERE s.lab <> s.clab
                  AND CAST(s.m AS HUGEINT) * own.c2_own
                      < CAST(own.m_own AS HUGEINT) * s.c2
            ), flags AS (
                SELECT lab, CASE WHEN pid IN (SELECT pid FROM beaten)
                                 THEN 0 ELSE 1 END AS is_own
                FROM pts
            ), intra AS (
                SELECT lab, CAST(sum(m) AS BIGINT) AS sm,
                       CAST(max(c2) AS HUGEINT) AS c2
                FROM scored WHERE lab = clab GROUP BY 1
            ), per AS (
                SELECT lab, count(*) AS n,
                       CAST(sum(is_own) AS BIGINT) AS nearest_own
                FROM flags GROUP BY 1
            )
            SELECT CAST(per.lab AS BIGINT) AS label, n, nearest_own,
                   CAST(nearest_own AS DOUBLE) / CAST(n AS DOUBLE)
                       AS purity,
                   CAST(sm AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(c2 AS DOUBLE))
                       * 1e-08 AS mean_intra_sq
            FROM per JOIN intra ON per.lab = intra.lab
            ORDER BY label
        """,
        "kmv_set_ops": """
            WITH h AS (
                SELECT DISTINCT event_type AS g,
                       CAST('0x' || substr(
                           md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 13)
                           AS BIGINT) AS h
                FROM events WHERE event_type IN ('click', 'purchase')
            ), sk AS (
                SELECT g, h FROM (
                    SELECT g, h, row_number() OVER (PARTITION BY g
                        ORDER BY h) AS rn FROM h)
                WHERE rn <= 256
            ), merged AS (
                SELECT h,
                       max(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS in_a,
                       max(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)
                           AS in_b
                FROM sk GROUP BY 1
            ), topu AS (
                SELECT * FROM (
                    SELECT h, in_a, in_b,
                           row_number() OVER (ORDER BY h) AS urn
                    FROM merged)
                WHERE urn <= 256
            ), usk AS (
                SELECT CAST(max(h) AS BIGINT) AS kth, count(*) AS nk,
                       CAST(sum(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END)
                            AS BIGINT) AS nboth
                FROM topu
            ), ex AS (
                SELECT count(DISTINCT CASE WHEN event_type = 'click'
                              THEN user_id END) AS n_a,
                       count(DISTINCT CASE WHEN event_type = 'purchase'
                              THEN user_id END) AS n_b,
                       count(DISTINCT user_id) AS union_exact
                FROM events WHERE event_type IN ('click', 'purchase')
            )
            SELECT n_a, n_b, union_exact,
                   CASE WHEN nk = 256
                        THEN 1.1484179049794765e+18 / CAST(kth AS DOUBLE)
                        ELSE CAST(nk AS DOUBLE) END AS union_est,
                   n_a + n_b - union_exact AS inter_exact,
                   (CAST(nboth AS DOUBLE) / CAST(nk AS DOUBLE))
                       * (CASE WHEN nk = 256
                               THEN 1.1484179049794765e+18 / CAST(kth AS DOUBLE)
                               ELSE CAST(nk AS DOUBLE) END) AS inter_est,
                   CAST(n_a + n_b - union_exact AS DOUBLE)
                       / CAST(union_exact AS DOUBLE) AS jaccard_exact,
                   CAST(nboth AS DOUBLE) / CAST(nk AS DOUBLE) AS jaccard_est
            FROM ex, usk
        """,
        "tail_index": """
            {PTS}, src AS (
                SELECT uuid, CAST(round(value / 0.01) AS BIGINT) AS vq
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
            ), ranked AS (
                SELECT uuid, vq,
                       row_number() OVER (PARTITION BY uuid
                            ORDER BY vq DESC) AS rn
                FROM src WHERE vq > 0
            ), xk AS (
                SELECT uuid, vq AS xk1 FROM ranked WHERE rn = 101
            ), got AS (
                SELECT uuid, count(*) AS got FROM ranked
                WHERE rn <= 101 GROUP BY 1
            ), terms AS (
                SELECT ranked.uuid,
                       list(ln(CAST(vq AS DOUBLE) / CAST(xk1 AS DOUBLE))
                            ORDER BY rn) AS arr
                FROM ranked JOIN xk USING (uuid)
                WHERE rn <= 100 GROUP BY 1
            ), ls AS (
                SELECT terms.uuid,
                       CAST(0 AS DOUBLE)
                           + list_reduce(arr, (a, x) -> a + x) AS logsum
                FROM terms
            )
            SELECT ls.uuid, CAST(100 AS BIGINT) AS k,
                   CAST(xk1 AS DOUBLE) / 100.0 AS x_kplus1,
                   CASE WHEN logsum > 0 THEN 100.0 / logsum END AS alpha
            FROM ls JOIN xk ON ls.uuid = xk.uuid
            JOIN got ON ls.uuid = got.uuid
            WHERE got = 101 ORDER BY ls.uuid
        """.replace("{PTS}", PTS_CTE),
        "group_sample": """
            {PTS}, src AS (
                SELECT uuid, time, value,
                       CAST('0x' || substr(md5('gs:' || uuid || ':' ||
                            CAST(time AS VARCHAR)), 1, 13) AS BIGINT) AS rk
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
            )
            SELECT uuid, time, value, rk FROM (
                SELECT uuid, time, value, rk,
                       row_number() OVER (PARTITION BY uuid
                            ORDER BY rk, time) AS rn
                FROM src)
            WHERE rn <= 20 ORDER BY uuid, rk, time
        """.replace("{PTS}", PTS_CTE),
        "error_budget": """
            WITH per AS (
                SELECT (epoch_ns(ts) - 1704067200000000000) // 86400000000000 AS widx,
                       count(*) AS events,
                       CAST(sum(CASE WHEN event_type = 'error'
                                THEN 1 ELSE 0 END) AS BIGINT) AS errors
                FROM events
                WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1706745600000000000
                GROUP BY 1
            ), cum AS (
                SELECT widx, events, errors,
                       CAST(sum(errors) OVER (ORDER BY widx) AS BIGINT)
                           AS cum_err
                FROM per
            ), tot AS (SELECT CAST(sum(events) AS BIGINT) AS tot_ev FROM per)
            SELECT 1704067200000000000 + widx * 86400000000000 AS time, events, errors,
                   CAST(errors AS DOUBLE) / CAST(events AS DOUBLE)
                       AS error_share,
                   CAST(errors * 1000000 AS DOUBLE)
                       / CAST(events * 150000 AS DOUBLE) AS burn_rate,
                   CAST(cum_err * 1000000 AS DOUBLE)
                       / CAST(tot_ev * 150000 AS DOUBLE) AS cum_budget_used
            FROM cum, tot ORDER BY time
        """,
        "incident_report": """
            {PTS}, su AS (
                SELECT uuid, (time - 1704067200000000000) // 86400000000000 AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
                GROUP BY 1, 2
            ), spine AS (
                SELECT u.uuid, g.widx
                FROM (SELECT DISTINCT uuid FROM su) u
                CROSS JOIN (SELECT unnest(range(0, 31)) AS widx) g
            ), x AS (
                SELECT spine.uuid, spine.widx, COALESCE(s, 0) AS s
                FROM spine LEFT JOIN su USING (uuid, widx)
            ), marg AS (
                SELECT uuid, CAST(sum(s) AS BIGINT) AS m_sum,
                       CAST(sum(s * s) AS BIGINT) AS m_sq
                FROM x GROUP BY 1
            ), zz AS (
                SELECT x.uuid, widx,
                       (31.0 * CAST(s AS DOUBLE) - CAST(m_sum AS DOUBLE))
                       / sqrt(31.0 * CAST(m_sq AS DOUBLE)
                              - CAST(m_sum AS DOUBLE)
                                * CAST(m_sum AS DOUBLE)) AS z
                FROM x JOIN marg ON x.uuid = marg.uuid
            ), fl AS (
                SELECT uuid, widx, z FROM zz
                WHERE z > 1.5 OR z < -1.5
            ), runs AS (
                SELECT uuid, widx, z,
                       CASE WHEN widx - lag(widx) OVER w IS NULL
                                 OR widx - lag(widx) OVER w > 1
                            THEN 1 ELSE 0 END AS new_run
                FROM fl WINDOW w AS (PARTITION BY uuid ORDER BY widx)
            ), rid AS (
                SELECT uuid, widx, z,
                       CAST(sum(new_run) OVER (PARTITION BY uuid
                            ORDER BY widx) AS BIGINT) AS run_id
                FROM runs
            )
            SELECT uuid,
                   1704067200000000000 + min(widx) * 86400000000000 AS incident_start,
                   1704067200000000000 + (max(widx) + 1) * 86400000000000 AS incident_end,
                   count(*) AS n_buckets,
                   max(abs(z)) AS peak_z
            FROM rid GROUP BY uuid, run_id
            ORDER BY uuid, incident_start
        """.replace("{PTS}", PTS_CTE),
        "top_movers": """
            {PTS}, su AS (
                SELECT uuid, (time - 1704067200000000000) // 86400000000000 AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
                GROUP BY 1, 2
            ), spine AS (
                SELECT u.uuid, g.widx
                FROM (SELECT DISTINCT uuid FROM su) u
                CROSS JOIN (SELECT unnest(range(0, 31)) AS widx) g
            ), x AS (
                SELECT spine.uuid, spine.widx, COALESCE(s, 0) AS s
                FROM spine LEFT JOIN su USING (uuid, widx)
            ), lagd AS (
                SELECT uuid, widx, s,
                       lag(s) OVER (PARTITION BY uuid ORDER BY widx) AS p
                FROM x
            )
            SELECT uuid, 1704067200000000000 + widx * 86400000000000 AS time,
                   CAST(s AS DOUBLE) / 100.0 AS value,
                   CAST(p AS DOUBLE) / 100.0 AS prev_value,
                   CAST(s - p AS DOUBLE) / 100.0 AS delta
            FROM lagd WHERE p IS NOT NULL
            ORDER BY abs(s - p) DESC, uuid, widx LIMIT 10
        """.replace("{PTS}", PTS_CTE),
        "quality_curve": """
            WITH pd AS (
                SELECT CAST(len(list_filter(regexp_split_to_array(
                    lower(text), '\\s+'), x -> x <> '')) AS BIGINT)
                    AS n_tok
                FROM documents
            ), th AS (
                SELECT unnest([10, 20, 40, 80, 160]) AS min_tokens
            )
            SELECT CAST(min_tokens AS BIGINT) AS min_tokens,
                   CAST(sum(CASE WHEN n_tok >= min_tokens
                            THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
                   count(*) AS docs_total,
                   CAST(COALESCE(sum(CASE WHEN n_tok >= min_tokens
                            THEN n_tok END), 0) AS BIGINT) AS tokens_kept,
                   CAST(sum(n_tok) AS BIGINT) AS tokens_total,
                   CAST(sum(CASE WHEN n_tok >= min_tokens THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS doc_share,
                   CAST(COALESCE(sum(CASE WHEN n_tok >= min_tokens
                            THEN n_tok END), 0) AS DOUBLE)
                       / CAST(sum(n_tok) AS DOUBLE) AS token_share
            FROM pd CROSS JOIN th
            GROUP BY 1 ORDER BY 1
        """,
        "granger_lite": """
            {PTS}, su AS (
                SELECT (time - 1704067200000000000) // 86400000000000 AS widx, uuid,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts
                WHERE uuid IN ('purchase', 'click')
                  AND time >= 1704067200000000000 AND time < 1706745600000000000
                GROUP BY 1, 2
            ), wide AS (
                SELECT g.widx,
                       CAST(COALESCE(sum(CASE WHEN uuid = 'purchase'
                                         THEN s END), 0) AS BIGINT) AS y,
                       CAST(COALESCE(sum(CASE WHEN uuid = 'click'
                                         THEN s END), 0) AS BIGINT) AS x
                FROM (SELECT unnest(range(0, 31)) AS widx) g
                LEFT JOIN su ON su.widx = g.widx
                GROUP BY 1
            ), lagd AS (
                SELECT widx, y, x,
                       lag(y) OVER (ORDER BY widx) AS yl,
                       lag(x) OVER (ORDER BY widx) AS xl
                FROM wide
            ), mom AS (
                SELECT count(*) AS n,
                       CAST(sum(yl) AS HUGEINT) AS S1,
                       CAST(sum(xl) AS HUGEINT) AS S2,
                       CAST(sum(y) AS HUGEINT) AS Sy,
                       CAST(sum(CAST(yl AS HUGEINT) * yl) AS HUGEINT) AS S11,
                       CAST(sum(CAST(xl AS HUGEINT) * xl) AS HUGEINT) AS S22,
                       CAST(sum(CAST(yl AS HUGEINT) * xl) AS HUGEINT) AS S12,
                       CAST(sum(CAST(yl AS HUGEINT) * y) AS HUGEINT) AS S1y,
                       CAST(sum(CAST(xl AS HUGEINT) * y) AS HUGEINT) AS S2y,
                       CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS Syy
                FROM lagd WHERE yl IS NOT NULL
            ), dets AS (
                SELECT *,
                       n * (S11 * S22 - S12 * S12)
                         - S1 * (S1 * S22 - S12 * S2)
                         + S2 * (S1 * S12 - S11 * S2) AS det,
                       Sy * (S11 * S22 - S12 * S12)
                         - S1 * (S1y * S22 - S12 * S2y)
                         + S2 * (S1y * S12 - S11 * S2y) AS det0,
                       n * (S1y * S22 - S12 * S2y)
                         - Sy * (S1 * S22 - S12 * S2)
                         + S2 * (S1 * S2y - S1y * S2) AS det1,
                       n * (S11 * S2y - S1y * S12)
                         - S1 * (S1 * S2y - S1y * S2)
                         + Sy * (S1 * S12 - S11 * S2) AS det2,
                       CAST(n * S1y - S1 * Sy AS DOUBLE)
                         / CAST(n * S11 - S1 * S1 AS DOUBLE) AS b1r
                FROM mom
            ), rr AS (
                SELECT *,
                       (CAST(Sy AS DOUBLE) - b1r * CAST(S1 AS DOUBLE))
                           / CAST(n AS DOUBLE) AS b0r,
                       CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) AS b0f,
                       CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) AS b1f,
                       CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) AS b2f
                FROM dets
            ), rss AS (
                SELECT *,
                       CAST(Syy AS DOUBLE)
                           - (b0r * CAST(Sy AS DOUBLE)
                              + b1r * CAST(S1y AS DOUBLE)) AS rss_r,
                       CAST(Syy AS DOUBLE)
                           - (b0f * CAST(Sy AS DOUBLE)
                              + b1f * CAST(S1y AS DOUBLE)
                              + b2f * CAST(S2y AS DOUBLE)) AS rss_f
                FROM rr
            )
            SELECT CAST(n AS BIGINT) AS n,
                   b1f AS b_ar, b2f AS b_x,
                   rss_r AS rss_restricted, rss_f AS rss_full,
                   CASE WHEN rss_f > 0 THEN
                       (rss_r - rss_f) / (rss_f / (CAST(n AS DOUBLE) - 3.0))
                   END AS f_stat
            FROM rss
        """.replace("{PTS}", PTS_CTE),
        "sax_motifs": """
            {PTS}, src AS (
                SELECT uuid, (time - 1704067200000000000) // 86400000000000 AS widx,
                       CAST(round(value / 0.01) AS BIGINT) AS q
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
            ), wagg AS (
                SELECT uuid, widx, CAST(sum(q) AS BIGINT) AS sw,
                       count(*) AS nw
                FROM src GROUP BY 1, 2
            ), gl AS (
                SELECT uuid, count(*) AS n, CAST(sum(q) AS BIGINT) AS sq,
                       CAST(sum(q * q) AS BIGINT) AS sqq
                FROM src GROUP BY 1
            ), spine AS (
                SELECT u.uuid, g.widx
                FROM (SELECT DISTINCT uuid FROM wagg) u
                CROSS JOIN (SELECT unnest(range(0, 31)) AS widx) g
            ), syms AS (
                SELECT spine.uuid, spine.widx,
                       CASE WHEN nw IS NULL THEN NULL
                            WHEN ((CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE)
                                   - CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
                                  / (sqrt(CAST(n AS DOUBLE)
                                          * CAST(sqq AS DOUBLE)
                                          - CAST(sq AS DOUBLE)
                                            * CAST(sq AS DOUBLE))
                                     / CAST(n AS DOUBLE))) < -0.6744897501960817 THEN 'a'
                            WHEN ((CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE)
                                   - CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
                                  / (sqrt(CAST(n AS DOUBLE)
                                          * CAST(sqq AS DOUBLE)
                                          - CAST(sq AS DOUBLE)
                                            * CAST(sq AS DOUBLE))
                                     / CAST(n AS DOUBLE))) < 0.0 THEN 'b'
                            WHEN ((CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE)
                                   - CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
                                  / (sqrt(CAST(n AS DOUBLE)
                                          * CAST(sqq AS DOUBLE)
                                          - CAST(sq AS DOUBLE)
                                            * CAST(sq AS DOUBLE))
                                     / CAST(n AS DOUBLE))) < 0.6744897501960817 THEN 'c'
                            ELSE 'd' END AS sym
                FROM spine
                LEFT JOIN wagg ON spine.uuid = wagg.uuid
                                AND spine.widx = wagg.widx
                JOIN gl ON spine.uuid = gl.uuid
            ), words AS (
                SELECT uuid, sym,
                       lead(sym, 1) OVER w AS s1,
                       lead(sym, 2) OVER w AS s2,
                       lead(sym, 3) OVER w AS s3
                FROM syms WINDOW w AS (PARTITION BY uuid ORDER BY widx)
            )
            SELECT uuid, sym || s1 || s2 || s3 AS motif, count(*) AS cnt
            FROM words
            WHERE sym IS NOT NULL AND s1 IS NOT NULL
              AND s2 IS NOT NULL AND s3 IS NOT NULL
            GROUP BY 1, 2 ORDER BY cnt DESC, motif, uuid LIMIT 20
        """.replace("{PTS}", PTS_CTE),
        "streaming_hll": """
            WITH ids AS (
                SELECT event_type,
                       CAST(user_id AS VARCHAR) || ':' ||
                       CAST(epoch_ns(ts) // 86400000000000 AS VARCHAR)
                           AS uid_day
                FROM events
            ), h AS (
                SELECT event_type AS uuid,
                       CAST('0x' || substr(md5('hll:' || uid_day), 1, 15)
                            AS BIGINT) AS h60
                FROM ids
            ), r AS (
                SELECT uuid, h60 % 256 AS reg,
                       (h60 >> 8) % 1099511627776 AS suf
                FROM h
            ), regs AS (
                SELECT uuid, reg,
                       CAST(max(41 - CASE WHEN suf = 0 THEN 0
                           ELSE CAST(floor(log2(CAST(suf AS DOUBLE)))
                                AS BIGINT) + 1 END) AS BIGINT) AS M
                FROM r GROUP BY 1, 2
            ), pg AS (
                SELECT uuid,
                       CAST(sum(CAST(1 AS BIGINT) << CAST(41 - M AS INTEGER))
                            AS BIGINT) AS s_used,
                       count(*) AS n_used
                FROM regs GROUP BY 1
            ), seen AS (
                SELECT event_type AS uuid, count(*) AS n_seen
                FROM ids GROUP BY 1
            )
            SELECT uuid, n_seen, n_used AS n_registers_used,
                   CASE WHEN ({ALPHA} /
                              CAST(s_used + (256 - n_used)
                                   * 2199023255552 AS DOUBLE))
                             <= 640.0
                         AND (256 - n_used) > 0
                        THEN 256.0 * ln(256.0 /
                             CAST(256 - n_used AS DOUBLE))
                        ELSE {ALPHA} /
                             CAST(s_used + (256 - n_used)
                                  * 2199023255552 AS DOUBLE)
                   END AS hll_est
            FROM seen JOIN pg USING (uuid) ORDER BY uuid
        """.replace("{ALPHA}", repr(
            (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256 * float(1 << 41)
        )),
        "k_anonymity": """
            WITH g AS (
                SELECT event_type,
                       (epoch_ns(ts) // 3600000000000) % 24 AS hod,
                       user_id % 50 AS ub,
                       count(*) AS gsz
                FROM events GROUP BY 1, 2, 3
            )
            SELECT event_type,
                   CAST(sum(gsz) AS BIGINT) AS n_rows,
                   count(*) AS n_groups,
                   CAST(min(gsz) AS BIGINT) AS k_min,
                   CAST(sum(CASE WHEN gsz < 5 THEN gsz ELSE 0 END)
                        AS BIGINT) AS rows_below_k,
                   CAST(sum(CASE WHEN gsz < 5 THEN gsz ELSE 0 END)
                        AS DOUBLE) / CAST(sum(gsz) AS DOUBLE)
                       AS share_below_k
            FROM g GROUP BY 1 ORDER BY 1
        """,
        "target_encode": """
            WITH src AS (
                SELECT event_id, event_type,
                       CAST(round(value / 0.01) AS BIGINT) AS vq
                FROM events
            ), cat AS (
                SELECT event_type, CAST(sum(vq) AS BIGINT) AS S,
                       count(*) AS n
                FROM src GROUP BY 1
            )
            SELECT event_id, src.event_type,
                   CAST(vq AS DOUBLE) / 100.0 AS value,
                   CASE WHEN n > 1 THEN
                       (CAST(S - vq AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                           / 100.0
                   END AS loo_enc
            FROM src JOIN cat ON src.event_type = cat.event_type
            ORDER BY event_id
        """,
        "hashed_features": """
            WITH src AS (
                SELECT user_id,
                       CAST('0x' || substr(md5(event_type || ':' ||
                            CAST((epoch_ns(ts) // 3600000000000) % 24
                                 AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS b
                FROM events
            )
            SELECT user_id,
                   CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS f0,
                   CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                   CAST(sum(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
                   CAST(sum(CASE WHEN b = 3 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
                   CAST(sum(CASE WHEN b = 4 THEN 1 ELSE 0 END) AS BIGINT) AS f4,
                   CAST(sum(CASE WHEN b = 5 THEN 1 ELSE 0 END) AS BIGINT) AS f5,
                   CAST(sum(CASE WHEN b = 6 THEN 1 ELSE 0 END) AS BIGINT) AS f6,
                   CAST(sum(CASE WHEN b = 7 THEN 1 ELSE 0 END) AS BIGINT) AS f7,
                   count(*) AS n_events
            FROM src GROUP BY 1 ORDER BY 1
        """,
        "split_report": """
            WITH src AS (
                SELECT CASE
                         WHEN CAST('0x' || substr(md5('split:' ||
                              CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                              % 10 < 8 THEN 'train'
                         WHEN CAST('0x' || substr(md5('split:' ||
                              CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                              % 10 < 9 THEN 'val'
                         ELSE 'test' END AS split,
                       event_type, user_id AS uid
                FROM events
            ), per AS (
                SELECT split, event_type, count(*) AS n_rows,
                       count(DISTINCT uid) AS n_users
                FROM src GROUP BY 1, 2
            ), tt AS (
                SELECT event_type, count(*) AS type_rows FROM src GROUP BY 1
            )
            SELECT split, per.event_type, n_rows, n_users,
                   CAST(n_rows AS DOUBLE) / CAST(type_rows AS DOUBLE)
                       AS type_share
            FROM per JOIN tt ON per.event_type = tt.event_type
            ORDER BY split, per.event_type
        """,
        "curation_pipeline": """
            WITH t AS (
                SELECT doc_id, text,
                       list_filter(regexp_split_to_array(lower(text),
                           '\\s+'), x -> x <> '') AS toks
                FROM documents
            ), base AS (
                SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok FROM t
            ), hh AS (
                SELECT doc_id,
                       md5(regexp_replace(trim(lower(text)), '\\s+', ' ',
                           'g')) AS h
                FROM documents
            ), keepers AS (
                SELECT h, min(doc_id) AS keeper FROM hh GROUP BY h
            ), dup AS (
                SELECT hh.doc_id, hh.doc_id <> keeper AS is_dup
                FROM hh JOIN keepers USING (h)
            ), qs AS (
                SELECT doc_id,
                       len(toks) AS n,
                       coalesce(list_sum(list_transform(toks,
                           x -> strlen(x))), 0) AS tok_chars,
                       strlen(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                           AS n_punct,
                       strlen(text) AS n_chars,
                       len(list_filter(toks, x -> list_contains(
                           ['the','a','of','and','to','in','is','on','for',
                            'with'], x))) AS n_stop
                FROM t
            ), qual AS (
                SELECT doc_id,
                       (n >= 10 AND n <= 100000
                        AND tok_chars >= 2 * n AND tok_chars <= 12 * n
                        AND n_punct * 5 <= n_chars * 1
                        AND n_stop >= 2) AS q_keep
                FROM qs
            ), raw_sh AS (
                SELECT doc_id,
                       unnest(CASE WHEN len(toks) >= 3
                           THEN list_transform(
                               generate_series(1, len(toks) - 2),
                               i -> array_to_string(
                                   list_slice(toks, i, i + 2), ' '))
                           ELSE CAST([] AS VARCHAR[]) END) AS s0
                FROM t
            ), sh AS (
                SELECT DISTINCT doc_id,
                       CAST('0x' || substr(md5(s0), 1, 15) AS BIGINT) AS s
                FROM raw_sh
            ), bsh AS (
                SELECT DISTINCT s FROM sh WHERE doc_id % 17 = 0
            ), ov AS (
                SELECT sh.doc_id, count(*) AS n_shingles,
                       CAST(sum(CASE WHEN bsh.s IS NOT NULL THEN 1 ELSE 0
                            END) AS BIGINT) AS n_matched
                FROM sh LEFT JOIN bsh ON sh.s = bsh.s
                GROUP BY 1
            ), cont AS (
                SELECT base.doc_id,
                       COALESCE(n_matched * 2 >= n_shingles * 1
                                AND n_shingles > 0, FALSE) AS contaminated
                FROM base LEFT JOIN ov ON base.doc_id = ov.doc_id
            ), flags AS (
                SELECT n_tok,
                       NOT is_dup AS s1,
                       NOT is_dup AND q_keep AS s2,
                       NOT is_dup AND q_keep AND NOT contaminated AS s3
                FROM base
                JOIN dup USING (doc_id)
                JOIN qual USING (doc_id)
                JOIN cont USING (doc_id)
            ), agg AS (
                SELECT count(*) AS d0, CAST(sum(n_tok) AS BIGINT) AS t0,
                       CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT)
                           AS d1,
                       CAST(sum(CASE WHEN s1 THEN n_tok ELSE 0 END)
                            AS BIGINT) AS t1,
                       CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT)
                           AS d2,
                       CAST(sum(CASE WHEN s2 THEN n_tok ELSE 0 END)
                            AS BIGINT) AS t2,
                       CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT)
                           AS d3,
                       CAST(sum(CASE WHEN s3 THEN n_tok ELSE 0 END)
                            AS BIGINT) AS t3
                FROM flags
            ), stages AS (
                SELECT 0 AS stage_idx, 'raw' AS stage, d0 AS docs,
                       t0 AS tokens, d0, t0 FROM agg
                UNION ALL
                SELECT 1, 'dedup', d1, t1, d0, t0 FROM agg
                UNION ALL
                SELECT 2, 'quality', d2, t2, d0, t0 FROM agg
                UNION ALL
                SELECT 3, 'decontaminated', d3, t3, d0, t0 FROM agg
            )
            SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
                   docs, tokens,
                   CAST(docs AS DOUBLE) / CAST(d0 AS DOUBLE) AS doc_share,
                   CAST(tokens AS DOUBLE) / CAST(t0 AS DOUBLE)
                       AS token_share
            FROM stages ORDER BY stage_idx
        """,
        "hour_dow_heatmap": """
            {PTS}
            SELECT uuid,
                   ((time // 86400000000000) + 4) % 7 AS dow,
                   (time // 3600000000000) % 24 AS hod,
                   count(*) AS n,
                   CAST(sum(CAST(round(value / 0.01) AS BIGINT)) AS DOUBLE)
                       / (CAST(count(*) AS DOUBLE) * 100.0) AS mean
            FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
            GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
        """.replace("{PTS}", PTS_CTE),
        "var_cvar": """
            {PTS}, su AS (
                SELECT uuid, (time - 1704067200000000000) // 86400000000000 AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
                GROUP BY 1, 2
            ), spine AS (
                SELECT u.uuid, g.widx
                FROM (SELECT DISTINCT uuid FROM su) u
                CROSS JOIN (SELECT unnest(range(0, 31)) AS widx) g
            ), x AS (
                SELECT spine.uuid, spine.widx, COALESCE(s, 0) AS s
                FROM spine LEFT JOIN su USING (uuid, widx)
            ), deltas AS (
                SELECT uuid, s - lag(s) OVER (PARTITION BY uuid
                    ORDER BY widx) AS d
                FROM x QUALIFY d IS NOT NULL
            ), nn AS (
                SELECT uuid, count(*) AS nd FROM deltas GROUP BY 1
            ), ranked AS (
                SELECT uuid, d, row_number() OVER (PARTITION BY uuid
                    ORDER BY d) AS rn
                FROM deltas
            ), vr AS (
                SELECT ranked.uuid, d AS var_q
                FROM ranked JOIN nn ON ranked.uuid = nn.uuid
                WHERE rn = (5 * nd + 99) // 100
            ), tail AS (
                SELECT deltas.uuid, CAST(sum(d) AS BIGINT) AS tail_sum,
                       count(*) AS n_tail
                FROM deltas JOIN vr ON deltas.uuid = vr.uuid
                WHERE d <= var_q GROUP BY 1
            )
            SELECT nn.uuid, nd AS n_deltas,
                   CAST(var_q AS DOUBLE) / 100.0 AS var,
                   CAST(tail_sum AS DOUBLE)
                       / (CAST(n_tail AS DOUBLE) * 100.0) AS cvar,
                   n_tail
            FROM nn JOIN vr ON nn.uuid = vr.uuid
            JOIN tail ON nn.uuid = tail.uuid
            ORDER BY nn.uuid
        """.replace("{PTS}", PTS_CTE),
        "mix_entropy": """
            WITH per AS (
                SELECT (epoch_ns(ts) - 1704067200000000000) // 86400000000000 AS widx,
                       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c0,
                       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2,
                       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS c3,
                       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS c4,
                       count(*) AS N
                FROM events
                WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1706745600000000000
                GROUP BY 1
            ), hh AS (
                SELECT widx, N,
                       0.0 + (CASE WHEN c0 > 0 THEN -((CAST(c0 AS DOUBLE) / CAST(N AS DOUBLE))
                        * ln(CAST(c0 AS DOUBLE) / CAST(N AS DOUBLE)))
                        ELSE 0.0 END)
                     + (CASE WHEN c1 > 0 THEN -((CAST(c1 AS DOUBLE) / CAST(N AS DOUBLE))
                        * ln(CAST(c1 AS DOUBLE) / CAST(N AS DOUBLE)))
                        ELSE 0.0 END)
                     + (CASE WHEN c2 > 0 THEN -((CAST(c2 AS DOUBLE) / CAST(N AS DOUBLE))
                        * ln(CAST(c2 AS DOUBLE) / CAST(N AS DOUBLE)))
                        ELSE 0.0 END)
                     + (CASE WHEN c3 > 0 THEN -((CAST(c3 AS DOUBLE) / CAST(N AS DOUBLE))
                        * ln(CAST(c3 AS DOUBLE) / CAST(N AS DOUBLE)))
                        ELSE 0.0 END)
                     + (CASE WHEN c4 > 0 THEN -((CAST(c4 AS DOUBLE) / CAST(N AS DOUBLE))
                        * ln(CAST(c4 AS DOUBLE) / CAST(N AS DOUBLE)))
                        ELSE 0.0 END) AS h,
                       greatest(c0, c1, c2, c3, c4) AS gm,
                       c0, c1, c2, c3, c4
                FROM per
            )
            SELECT 1704067200000000000 + widx * 86400000000000 AS time, N AS n_events, h,
                   h / ln(5.0) AS h_norm,
                   CASE WHEN c0 = gm AND TRUE THEN 'click' WHEN c1 = gm AND c0 < gm THEN 'view' WHEN c2 = gm AND c0 < gm AND c1 < gm THEN 'purchase' WHEN c3 = gm AND c0 < gm AND c1 < gm AND c2 < gm THEN 'signup' WHEN c4 = gm AND c0 < gm AND c1 < gm AND c2 < gm AND c3 < gm THEN 'error' END AS dominant
            FROM hh ORDER BY time
        """,
        "user_novelty": """
            WITH uw AS (
                SELECT DISTINCT user_id AS u,
                       (epoch_ns(ts) - 1704067200000000000) // 86400000000000 AS widx
                FROM events
                WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1706745600000000000
            ), fw AS (
                SELECT u, min(widx) AS w0 FROM uw GROUP BY 1
            )
            SELECT 1704067200000000000 + widx * 86400000000000 AS time,
                   count(*) AS active_users,
                   CAST(sum(CASE WHEN widx = w0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS new_users,
                   count(*) - CAST(sum(CASE WHEN widx = w0 THEN 1 ELSE 0
                        END) AS BIGINT) AS returning_users,
                   CAST(sum(CASE WHEN widx = w0 THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS new_share
            FROM uw JOIN fw USING (u)
            GROUP BY widx ORDER BY time
        """,
        "rerank_fusion": """
            WITH d AS (
                SELECT doc_id, list_filter(regexp_split_to_array(
                    lower(text), '\\s+'), x -> x <> '') AS toks
                FROM documents
            ), dl AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
            st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, dl,
                          unnest(list_filter(toks, x -> list_contains(
                              ['spark','hash','merge','window'], x)))
                              AS term
                   FROM dl),
            tfc AS (SELECT doc_id, dl, term, count(*) AS tf
                    FROM tf GROUP BY 1, 2, 3),
            dfc AS (SELECT term, count(DISTINCT doc_id) AS df
                    FROM tfc GROUP BY 1),
            sc AS (SELECT doc_id,
                          round(sum(
                              ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                              * tf * (1.2 + 1.0)
                              / (tf + 1.2
                                 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                          ), 6) AS score
                   FROM tfc JOIN dfc USING (term) CROSS JOIN st
                   GROUP BY doc_id),
            lexr AS (
                SELECT doc_id AS dd,
                       row_number() OVER (ORDER BY score DESC, doc_id)
                           AS bm25_rank
                FROM (SELECT doc_id, score FROM sc
                      ORDER BY score DESC, doc_id LIMIT 50)
            ), e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ), q AS (SELECT v AS qv FROM e WHERE vec_id = 7),
            cos AS (
                SELECT vec_id,
                       round(list_cosine_similarity(v, qv), 6) AS cosine
                FROM e, q ORDER BY cosine DESC, vec_id LIMIT 50
            ), denser AS (
                SELECT vec_id AS dd,
                       row_number() OVER (ORDER BY cosine DESC, vec_id)
                           AS cos_rank
                FROM cos
            ), fused AS (
                SELECT COALESCE(lexr.dd, denser.dd) AS doc_id,
                       bm25_rank, cos_rank
                FROM lexr FULL OUTER JOIN denser ON lexr.dd = denser.dd
            )
            SELECT doc_id,
                   (CASE WHEN bm25_rank IS NOT NULL
                         THEN 1.0 / (60.0 + CAST(bm25_rank AS DOUBLE))
                         ELSE 0.0 END)
                   + (CASE WHEN cos_rank IS NOT NULL
                           THEN 1.0 / (60.0 + CAST(cos_rank AS DOUBLE))
                           ELSE 0.0 END) AS rrf,
                   bm25_rank, cos_rank
            FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
        """,
        "discount_elasticity": """
            WITH src AS (
                SELECT p_brand,
                       CAST(round(l_discount / 0.01) AS BIGINT) AS x,
                       CAST(round(l_quantity) AS BIGINT) AS y
                FROM lineitem JOIN part ON l_partkey = p_partkey
            ), mom AS (
                SELECT p_brand, count(*) AS n,
                       CAST(sum(x) AS BIGINT) AS Sx,
                       CAST(sum(y) AS BIGINT) AS Sy,
                       CAST(sum(x * x) AS BIGINT) AS Sxx,
                       CAST(sum(y * y) AS BIGINT) AS Syy,
                       CAST(sum(x * y) AS BIGINT) AS Sxy
                FROM src GROUP BY 1
            )
            SELECT p_brand, n AS n_items,
                   CASE WHEN CAST(n AS DOUBLE) * CAST(Sxx AS DOUBLE)
                             - CAST(Sx AS DOUBLE) * CAST(Sx AS DOUBLE) <> 0
                        THEN (CAST(n AS DOUBLE) * CAST(Sxy AS DOUBLE)
                              - CAST(Sx AS DOUBLE) * CAST(Sy AS DOUBLE))
                             / (CAST(n AS DOUBLE) * CAST(Sxx AS DOUBLE)
                                - CAST(Sx AS DOUBLE) * CAST(Sx AS DOUBLE))
                   END AS slope,
                   CASE WHEN (CAST(n AS DOUBLE) * CAST(Sxx AS DOUBLE)
                              - CAST(Sx AS DOUBLE) * CAST(Sx AS DOUBLE))
                             <> 0
                         AND (CAST(n AS DOUBLE) * CAST(Syy AS DOUBLE)
                              - CAST(Sy AS DOUBLE) * CAST(Sy AS DOUBLE))
                             <> 0
                        THEN ((CAST(n AS DOUBLE) * CAST(Sxy AS DOUBLE)
                               - CAST(Sx AS DOUBLE) * CAST(Sy AS DOUBLE))
                              * (CAST(n AS DOUBLE) * CAST(Sxy AS DOUBLE)
                                 - CAST(Sx AS DOUBLE) * CAST(Sy AS DOUBLE)))
                             / ((CAST(n AS DOUBLE) * CAST(Sxx AS DOUBLE)
                                 - CAST(Sx AS DOUBLE) * CAST(Sx AS DOUBLE))
                                * (CAST(n AS DOUBLE) * CAST(Syy AS DOUBLE)
                                   - CAST(Sy AS DOUBLE)
                                     * CAST(Sy AS DOUBLE)))
                   END AS r2,
                   CAST(Sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty
            FROM mom ORDER BY p_brand
        """,
        "embedding_drift": """
            WITH pts AS (
                SELECT vec_id % 2 = 0 AS is_a,
                       unnest(list_transform(CAST(embedding AS DOUBLE[]),
                           x -> CAST(round(x / 0.0001) AS BIGINT))) AS x,
                       unnest(generate_series(0, 63)) AS d
                FROM embeddings
            ), mom AS (
                SELECT d,
                       CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END)
                            AS BIGINT) AS na,
                       CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END)
                            AS BIGINT) AS nb,
                       CAST(sum(CASE WHEN is_a THEN x ELSE 0 END)
                            AS BIGINT) AS Sa,
                       CAST(sum(CASE WHEN is_a THEN 0 ELSE x END)
                            AS BIGINT) AS Sb,
                       CAST(sum(CASE WHEN is_a THEN x * x ELSE 0 END)
                            AS BIGINT) AS SSa,
                       CAST(sum(CASE WHEN is_a THEN 0 ELSE x * x END)
                            AS BIGINT) AS SSb
                FROM pts GROUP BY 1
            ), zz AS (
                SELECT d AS dim,
                       (CAST(Sa AS DOUBLE) / CAST(na AS DOUBLE)
                        - CAST(Sb AS DOUBLE) / CAST(nb AS DOUBLE))
                       / sqrt((((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                                * (CAST(SSa AS DOUBLE)
                                   + CAST(SSb AS DOUBLE))
                                - (CAST(Sa AS DOUBLE) + CAST(Sb AS DOUBLE))
                                  * (CAST(Sa AS DOUBLE)
                                     + CAST(Sb AS DOUBLE)))
                               / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                                  * (CAST(na AS DOUBLE)
                                     + CAST(nb AS DOUBLE))))
                              * (1.0 / CAST(na AS DOUBLE)
                                 + 1.0 / CAST(nb AS DOUBLE))) AS z,
                       CAST(Sa AS DOUBLE)
                           / (CAST(na AS DOUBLE) * 10000.0) AS mean_a,
                       CAST(Sb AS DOUBLE)
                           / (CAST(nb AS DOUBLE) * 10000.0) AS mean_b,
                       na AS n_a, nb AS n_b
                FROM mom
            )
            SELECT dim, z, mean_a, mean_b, n_a, n_b FROM (
                SELECT *, row_number() OVER (ORDER BY abs(z) DESC, dim)
                    AS rn FROM zz)
            WHERE rn <= 10 ORDER BY abs(z) DESC, dim
        """,
        "vocab_growth": """
            WITH toks AS (
                SELECT doc_id AS did,
                       unnest(list_filter(regexp_split_to_array(
                           lower(text), '\\s+'), x -> x <> '')) AS tok
                FROM documents
            ), first AS (
                SELECT tok, CAST(min(did) AS BIGINT) AS first_doc
                FROM toks GROUP BY 1
            ), per_doc AS (
                SELECT did, count(*) AS n_tok FROM toks GROUP BY 1
            ), ks AS (SELECT unnest([50, 100, 200, 500]) AS k_docs),
            vol AS (
                SELECT k_docs,
                       CAST(COALESCE(sum(CASE WHEN did < k_docs
                            THEN n_tok END), 0) AS BIGINT) AS tokens_total
                FROM per_doc CROSS JOIN ks GROUP BY 1
            ), voc AS (
                SELECT k_docs,
                       CAST(sum(CASE WHEN first_doc < k_docs
                            THEN 1 ELSE 0 END) AS BIGINT) AS vocab
                FROM first CROSS JOIN ks GROUP BY 1
            )
            SELECT CAST(vol.k_docs AS BIGINT) AS k_docs, tokens_total,
                   vocab,
                   CASE WHEN tokens_total > 0 THEN
                       CAST(vocab AS DOUBLE) / CAST(tokens_total AS DOUBLE)
                   END AS ttr
            FROM vol JOIN voc ON vol.k_docs = voc.k_docs
            ORDER BY k_docs
        """,
        "skyline_parts": """
            WITH src AS (
                SELECT p_partkey,
                       CAST(round(p_retailprice / 0.01) AS BIGINT) AS pc,
                       CAST(p_size AS BIGINT) AS sz
                FROM part
            ), pairs AS (SELECT DISTINCT pc, sz FROM src),
            fr AS (
                SELECT pc, sz,
                       max(sz) OVER (ORDER BY pc ASC, sz DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS prev_max
                FROM pairs
            ), frontier AS (
                SELECT pc, sz FROM fr
                WHERE prev_max IS NULL OR sz > prev_max
            )
            SELECT CAST(src.pc AS DOUBLE) / 100.0 AS retail_price,
                   src.sz AS p_size,
                   count(*) AS n_parts,
                   CAST(min(p_partkey) AS BIGINT) AS min_partkey
            FROM src JOIN frontier
              ON src.pc = frontier.pc AND src.sz = frontier.sz
            GROUP BY src.pc, src.sz
            ORDER BY retail_price
        """,
        "weekend_effect": """
            {PTS}, su AS (
                SELECT uuid, (time - 1704067200000000000) // 86400000000000 AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
                GROUP BY 1, 2
            ), spine AS (
                SELECT u.uuid, g.widx
                FROM (SELECT DISTINCT uuid FROM su) u
                CROSS JOIN (SELECT unnest(range(0, 31)) AS widx) g
            ), x AS (
                SELECT spine.uuid, spine.widx, COALESCE(s, 0) AS s,
                       ((spine.widx + 19727) % 7) IN (0, 6) AS is_we
                FROM spine LEFT JOIN su USING (uuid, widx)
            ), mom AS (
                SELECT uuid,
                       CAST(sum(CASE WHEN NOT is_we THEN 1 ELSE 0 END)
                            AS BIGINT) AS n1,
                       CAST(sum(CASE WHEN is_we THEN 1 ELSE 0 END)
                            AS BIGINT) AS n2,
                       CAST(sum(CASE WHEN NOT is_we THEN s ELSE 0 END)
                            AS BIGINT) AS S1,
                       CAST(sum(CASE WHEN is_we THEN s ELSE 0 END)
                            AS BIGINT) AS S2,
                       CAST(sum(CASE WHEN NOT is_we THEN s * s ELSE 0 END)
                            AS BIGINT) AS SS1,
                       CAST(sum(CASE WHEN is_we THEN s * s ELSE 0 END)
                            AS BIGINT) AS SS2
                FROM x GROUP BY 1
            ), tt AS (
                SELECT uuid, n1, n2,
                       CAST(S1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
                       CAST(S2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
                       (CAST(n1 AS DOUBLE) * CAST(SS1 AS DOUBLE)
                        - CAST(S1 AS DOUBLE) * CAST(S1 AS DOUBLE))
                       / (CAST(n1 AS DOUBLE)
                          * (CAST(n1 AS DOUBLE) - 1.0))
                       / CAST(n1 AS DOUBLE) AS a,
                       (CAST(n2 AS DOUBLE) * CAST(SS2 AS DOUBLE)
                        - CAST(S2 AS DOUBLE) * CAST(S2 AS DOUBLE))
                       / (CAST(n2 AS DOUBLE)
                          * (CAST(n2 AS DOUBLE) - 1.0))
                       / CAST(n2 AS DOUBLE) AS b
                FROM mom
            )
            SELECT uuid, n1 AS n_wd, n2 AS n_we,
                   m1 / 100.0 AS mean_wd, m2 / 100.0 AS mean_we,
                   CASE WHEN n1 > 1 AND n2 > 1 AND a + b > 0
                        THEN (m1 - m2) / sqrt(a + b) END AS t,
                   CASE WHEN n1 > 1 AND n2 > 1 AND a + b > 0
                        THEN (a + b) * (a + b)
                             / (a * a / (CAST(n1 AS DOUBLE) - 1.0)
                                + b * b / (CAST(n2 AS DOUBLE) - 1.0))
                   END AS df
            FROM tt ORDER BY uuid
        """.replace("{PTS}", PTS_CTE),
        "collection_tree": """
            WITH st AS (
                SELECT DISTINCT 'events/' || event_type AS collection,
                       event_type || '/' || CAST(user_id AS VARCHAR)
                           AS uuid
                FROM events
            ), ex AS (
                SELECT collection,
                       unnest(list_transform(
                           generate_series(1,
                               len(string_split(collection, '/'))),
                           i -> array_to_string(list_slice(
                               string_split(collection, '/'), 1, i), '/')))
                           AS prefix
                FROM st
            )
            SELECT prefix,
                   CAST(len(string_split(prefix, '/')) AS BIGINT) AS depth,
                   count(*) AS n_streams,
                   count(DISTINCT collection) AS n_collections
            FROM ex GROUP BY 1 ORDER BY 1
        """,
        "market_concentration": """
            WITH li AS (
                SELECT l_orderkey,
                       CAST(round(l_extendedprice / 0.01) AS BIGINT)
                         * (100 - CAST(round(l_discount / 0.01) AS BIGINT))
                         AS rev4
                FROM lineitem
            ), pc AS (
                SELECT o_custkey, CAST(sum(rev4) AS HUGEINT) AS r
                FROM li JOIN orders ON l_orderkey = o_orderkey
                GROUP BY 1
            ), agg AS (
                SELECT n_name, count(*) AS n_customers,
                       CAST(sum(r) AS HUGEINT) AS S,
                       CAST(sum(r * r) AS HUGEINT) AS S2,
                       CAST(max(r) AS HUGEINT) AS rmax
                FROM pc JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY 1
            )
            SELECT n_name, n_customers,
                   CAST(S2 AS DOUBLE)
                       / (CAST(S AS DOUBLE) * CAST(S AS DOUBLE)) AS hhi,
                   CAST(rmax AS DOUBLE) / CAST(S AS DOUBLE) AS top_share
            FROM agg ORDER BY n_name
        """,
        "gap_histogram": """
            {PTS}, g AS (
                SELECT uuid,
                       time - lag(time) OVER (PARTITION BY uuid
                           ORDER BY time) AS gap
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
            )
            SELECT uuid,
                   CAST(strlen(CAST(gap AS VARCHAR)) AS BIGINT) AS digits,
                   count(*) AS n_gaps,
                   CAST(min(gap) AS BIGINT) AS min_gap_ns,
                   CAST(max(gap) AS BIGINT) AS max_gap_ns
            FROM g WHERE gap IS NOT NULL AND gap > 0
            GROUP BY 1, 2 ORDER BY 1, 2
        """.replace("{PTS}", PTS_CTE),
        "halfway_point": """
            {PTS}, su AS (
                SELECT uuid, (time - 1704067200000000000) // 86400000000000 AS widx,
                       CAST(sum(CAST(round(value / 0.01) AS BIGINT))
                            AS BIGINT) AS s
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
                GROUP BY 1, 2
            ), spine AS (
                SELECT u.uuid, g.widx
                FROM (SELECT DISTINCT uuid FROM su) u
                CROSS JOIN (SELECT unnest(range(0, 31)) AS widx) g
            ), x AS (
                SELECT spine.uuid, spine.widx, COALESCE(s, 0) AS s
                FROM spine LEFT JOIN su USING (uuid, widx)
            ), cum AS (
                SELECT uuid, widx,
                       CAST(sum(s) OVER (PARTITION BY uuid ORDER BY widx)
                            AS BIGINT) AS cum
                FROM x
            ), tot AS (
                SELECT uuid, CAST(sum(s) AS BIGINT) AS total
                FROM x GROUP BY 1
            ), hit AS (
                SELECT cum.uuid, CAST(min(widx) AS BIGINT) AS halfway_widx
                FROM cum JOIN tot ON cum.uuid = tot.uuid
                WHERE 2 * cum >= total GROUP BY 1
            )
            SELECT uuid, halfway_widx,
                   1704067200000000000 + halfway_widx * 86400000000000 AS halfway_time,
                   CAST(31 AS BIGINT) AS n_buckets,
                   CAST(halfway_widx + 1 AS DOUBLE) / 31.0
                       AS frontload_ratio
            FROM hit ORDER BY uuid
        """.replace("{PTS}", PTS_CTE),
        "mode_value": """
            {PTS}, c AS (
                SELECT uuid, CAST(round(value / 0.01) AS BIGINT) AS vq,
                       count(*) AS cnt
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
                GROUP BY 1, 2
            ), pick AS (
                SELECT uuid, vq, cnt,
                       row_number() OVER (PARTITION BY uuid
                           ORDER BY cnt DESC, vq) AS rn
                FROM c
            ), tot AS (
                SELECT uuid, CAST(sum(cnt) AS BIGINT) AS n_points
                FROM c GROUP BY 1
            )
            SELECT pick.uuid,
                   CAST(vq AS DOUBLE) / 100.0 AS mode_value,
                   CAST(cnt AS BIGINT) AS mode_count,
                   n_points,
                   CAST(cnt AS DOUBLE) / CAST(n_points AS DOUBLE)
                       AS mode_share
            FROM pick JOIN tot ON pick.uuid = tot.uuid
            WHERE rn = 1 ORDER BY pick.uuid
        """.replace("{PTS}", PTS_CTE),
        "tukey_outliers": """
            {PTS}, src AS (
                SELECT uuid, CAST(round(value / 0.01) AS BIGINT) AS vq
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
            ), ranked AS (
                SELECT uuid, vq,
                       row_number() OVER (PARTITION BY uuid ORDER BY vq)
                           AS rn
                FROM src
            ), nn AS (SELECT uuid, count(*) AS n FROM src GROUP BY 1),
            qs AS (
                SELECT ranked.uuid,
                       CAST(min(CASE WHEN rn = (n + 3) // 4 THEN vq END)
                            AS BIGINT) AS q1q,
                       CAST(min(CASE WHEN rn = (3 * n + 3) // 4 THEN vq
                            END) AS BIGINT) AS q3q
                FROM ranked JOIN nn ON ranked.uuid = nn.uuid
                WHERE rn = (n + 3) // 4 OR rn = (3 * n + 3) // 4
                GROUP BY 1
            ), fl AS (
                SELECT src.uuid,
                       CASE WHEN CAST(vq AS DOUBLE) <
                            CAST(q1q AS DOUBLE) - 1.5
                                * (CAST(q3q AS DOUBLE)
                                   - CAST(q1q AS DOUBLE))
                            THEN 1 ELSE 0 END AS below,
                       CASE WHEN CAST(vq AS DOUBLE) >
                            CAST(q3q AS DOUBLE) + 1.5
                                * (CAST(q3q AS DOUBLE)
                                   - CAST(q1q AS DOUBLE))
                            THEN 1 ELSE 0 END AS above
                FROM src JOIN qs ON src.uuid = qs.uuid
            ), agg AS (
                SELECT uuid, CAST(sum(below) AS BIGINT) AS n_below,
                       CAST(sum(above) AS BIGINT) AS n_above,
                       count(*) AS n_points
                FROM fl GROUP BY 1
            )
            SELECT agg.uuid,
                   CAST(q1q AS DOUBLE) / 100.0 AS q1,
                   CAST(q3q AS DOUBLE) / 100.0 AS q3,
                   (CAST(q1q AS DOUBLE) - 1.5 * (CAST(q3q AS DOUBLE)
                        - CAST(q1q AS DOUBLE))) / 100.0 AS lo_fence,
                   (CAST(q3q AS DOUBLE) + 1.5 * (CAST(q3q AS DOUBLE)
                        - CAST(q1q AS DOUBLE))) / 100.0 AS hi_fence,
                   n_below, n_above, n_points
            FROM agg JOIN qs ON agg.uuid = qs.uuid
            ORDER BY agg.uuid
        """.replace("{PTS}", PTS_CTE),
        "lang_confusion": """
            WITH t AS (
                SELECT doc_id, lang,
                       list_filter(regexp_split_to_array(lower(text),
                           '\\s+'), x -> x <> '') AS toks
                FROM documents
            ), sc AS (
                SELECT doc_id, lang,
                       len(list_filter(toks, x -> list_contains(
                           ['der','die','und','ist'], x))) AS s_de,
                       len(list_filter(toks, x -> list_contains(
                           ['the','and','of','is'], x))) AS s_en,
                       len(list_filter(toks, x -> list_contains(
                           ['el','la','de','que'], x))) AS s_es,
                       len(list_filter(toks, x -> list_contains(
                           ['le','les','et','est'], x))) AS s_fr
                FROM t
            ), preds AS (
                SELECT lang AS declared,
                       CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0
                                THEN 'und'
                            WHEN s_de = greatest(s_de, s_en, s_es, s_fr)
                                THEN 'de'
                            WHEN s_en = greatest(s_de, s_en, s_es, s_fr)
                                THEN 'en'
                            WHEN s_es = greatest(s_de, s_en, s_es, s_fr)
                                THEN 'es'
                            WHEN s_fr = greatest(s_de, s_en, s_es, s_fr)
                                THEN 'fr'
                            ELSE 'und' END AS predicted
                FROM sc
            ), cells AS (
                SELECT declared, predicted, count(*) AS n
                FROM preds GROUP BY 1, 2
            ), tot AS (
                SELECT declared, CAST(sum(n) AS BIGINT) AS t
                FROM cells GROUP BY 1
            )
            SELECT cells.declared, predicted, n,
                   CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS share
            FROM cells JOIN tot ON cells.declared = tot.declared
            ORDER BY cells.declared, predicted
        """,
        "hourly_conversion": """
            WITH src AS (
                SELECT (epoch_ns(ts) // 3600000000000) % 24 AS hod,
                       CASE WHEN event_type = 'view' THEN 1 ELSE 0 END
                           AS is_from,
                       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                           AS is_to
                FROM events WHERE event_type IN ('view', 'purchase')
            )
            SELECT hod,
                   CAST(sum(is_from) AS BIGINT) AS n_from,
                   CAST(sum(is_to) AS BIGINT) AS n_to,
                   CASE WHEN sum(is_from) > 0 THEN
                       CAST(sum(is_to) AS DOUBLE)
                           / CAST(sum(is_from) AS DOUBLE)
                   END AS cvr
            FROM src GROUP BY 1 ORDER BY 1
        """,
        "repurchase_intervals": """
            WITH g AS (
                SELECT datediff('day', lag(CAST(o_orderdate AS DATE))
                           OVER (PARTITION BY o_custkey
                                 ORDER BY CAST(o_orderdate AS DATE),
                                          o_orderkey),
                           CAST(o_orderdate AS DATE)) AS gap
                FROM orders QUALIFY gap IS NOT NULL
            ), agg AS (
                SELECT count(*) AS n, CAST(sum(gap) AS BIGINT) AS s FROM g
            ), ranked AS (
                SELECT gap, row_number() OVER (ORDER BY gap) AS rn FROM g
            ), pick AS (
                SELECT CAST(min(CASE WHEN rn = (50 * n + 99) // 100
                            THEN gap END) AS BIGINT) AS p50_days,
                       CAST(min(CASE WHEN rn = (90 * n + 99) // 100
                            THEN gap END) AS BIGINT) AS p90_days
                FROM ranked, agg
                WHERE rn = (50 * n + 99) // 100
                   OR rn = (90 * n + 99) // 100
            )
            SELECT n AS n_gaps, p50_days, p90_days,
                   CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_days
            FROM agg, pick
        """,
        "ship_delay_profile": """
            WITH d AS (
                SELECT datediff('day', CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) AS d
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ), agg AS (
                SELECT count(*) AS n,
                       CAST(sum(CASE WHEN d > 60 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_slow
                FROM d
            ), ranked AS (
                SELECT d, row_number() OVER (ORDER BY d) AS rn FROM d
            ), pick AS (
                SELECT CAST(min(CASE WHEN rn = (50 * n + 99) // 100
                            THEN d END) AS BIGINT) AS p50,
                       CAST(min(CASE WHEN rn = (90 * n + 99) // 100
                            THEN d END) AS BIGINT) AS p90,
                       CAST(min(CASE WHEN rn = (99 * n + 99) // 100
                            THEN d END) AS BIGINT) AS p99
                FROM ranked, agg
                WHERE rn = (50 * n + 99) // 100
                   OR rn = (90 * n + 99) // 100
                   OR rn = (99 * n + 99) // 100
            )
            SELECT n AS n_items, p50, p90, p99, n_slow,
                   CAST(n_slow AS DOUBLE) / CAST(n AS DOUBLE) AS slow_share
            FROM agg, pick
        """,
        "boilerplate_ngrams": """
            WITH t AS (
                SELECT doc_id, list_filter(regexp_split_to_array(
                    lower(text), '\\s+'), x -> x <> '') AS toks
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id,
                       unnest(CASE WHEN len(toks) >= 2
                           THEN list_transform(
                               generate_series(1, len(toks) - 1),
                               i -> array_to_string(
                                   list_slice(toks, i, i + 1), ' '))
                           ELSE CAST([] AS VARCHAR[]) END) AS s0
                FROM t
            ), nd AS (SELECT count(*) AS nd FROM documents),
            c AS (
                SELECT s0 AS shingle, count(*) AS df FROM sh GROUP BY 1
            )
            SELECT shingle, df,
                   CAST(df AS DOUBLE) / CAST(nd AS DOUBLE) AS df_share
            FROM c, nd
            WHERE df * 100 >= nd * 1
            ORDER BY df DESC, shingle LIMIT 20
        """,
        "order_backlog": """
            WITH ls AS (
                SELECT l_orderkey,
                       max(CAST(l_shipdate AS DATE)) AS close_d
                FROM lineitem GROUP BY 1
            ), spans AS (
                SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m')
                           AS open_m,
                       strftime(close_d, '%Y-%m') AS close_m
                FROM orders JOIN ls ON o_orderkey = l_orderkey
            ), opened AS (
                SELECT open_m AS month, count(*) AS n_opened
                FROM spans GROUP BY 1
            ), closed AS (
                SELECT close_m AS month, count(*) AS n_closed
                FROM spans GROUP BY 1
            ), merged AS (
                SELECT COALESCE(opened.month, closed.month) AS month,
                       COALESCE(n_opened, 0) AS n_opened,
                       COALESCE(n_closed, 0) AS n_closed
                FROM opened FULL OUTER JOIN closed
                  ON opened.month = closed.month
            )
            SELECT month, CAST(n_opened AS BIGINT) AS n_opened,
                   CAST(n_closed AS BIGINT) AS n_closed,
                   CAST(sum(n_opened - n_closed) OVER (ORDER BY month
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS backlog_eom
            FROM merged ORDER BY month
        """,
        "lake_integrity": """
            WITH checks AS (
                SELECT 'lineitem_orphan_order' AS "check",
                       (SELECT count(*) FROM lineitem) AS n_total,
                       (SELECT count(*) FROM lineitem
                        WHERE l_orderkey NOT IN
                            (SELECT o_orderkey FROM orders)) AS n_failing
                UNION ALL
                SELECT 'order_orphan_customer',
                       (SELECT count(*) FROM orders),
                       (SELECT count(*) FROM orders
                        WHERE o_custkey NOT IN
                            (SELECT c_custkey FROM customer))
                UNION ALL
                SELECT 'order_without_lines',
                       (SELECT count(*) FROM orders),
                       (SELECT count(*) FROM orders
                        WHERE o_orderkey NOT IN
                            (SELECT l_orderkey FROM lineitem))
                UNION ALL
                SELECT 'part_never_sold',
                       (SELECT count(*) FROM part),
                       (SELECT count(*) FROM part
                        WHERE p_partkey NOT IN
                            (SELECT l_partkey FROM lineitem))
                UNION ALL
                SELECT 'supplier_never_used',
                       (SELECT count(*) FROM supplier),
                       (SELECT count(*) FROM supplier
                        WHERE s_suppkey NOT IN
                            (SELECT l_suppkey FROM lineitem))
                UNION ALL
                SELECT 'customer_without_orders',
                       (SELECT count(*) FROM customer),
                       (SELECT count(*) FROM customer
                        WHERE c_custkey NOT IN
                            (SELECT o_custkey FROM orders))
            )
            SELECT "check", CAST(n_total AS BIGINT) AS n_total,
                   CAST(n_failing AS BIGINT) AS n_failing,
                   CAST(n_failing AS DOUBLE) / CAST(n_total AS DOUBLE)
                       AS share
            FROM checks ORDER BY "check"
        """,
        "session_conversion": """
            WITH e AS (
                SELECT user_id, epoch_ns(ts) AS t, event_id, event_type
                FROM events
            ), s AS (
                SELECT user_id, t, event_id, event_type,
                       CASE WHEN lag(t) OVER w IS NULL
                                 OR t - lag(t) OVER w > 1800000000000
                            THEN 1 ELSE 0 END AS new_s
                FROM e WINDOW w AS (PARTITION BY user_id
                                    ORDER BY t, event_id)
            ), sid AS (
                SELECT user_id, event_type,
                       CAST(sum(new_s) OVER (PARTITION BY user_id
                            ORDER BY t, event_id) AS BIGINT) AS sid
                FROM s
            ), per AS (
                SELECT user_id, sid, count(*) AS depth,
                       max(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) AS conv
                FROM sid GROUP BY 1, 2
            )
            SELECT CAST(depth AS BIGINT) AS depth,
                   count(*) AS n_sessions,
                   CAST(sum(conv) AS BIGINT) AS n_converted,
                   CAST(sum(conv) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       AS cvr
            FROM per GROUP BY 1 ORDER BY 1
        """,
        "graph_summary": """
            WITH li AS (
                SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ), edges AS (
                SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                WHERE a.l_partkey < b.l_partkey
            ), deg AS (
                SELECT p, count(*) AS deg FROM (
                    SELECT u AS p FROM edges
                    UNION ALL SELECT v FROM edges)
                GROUP BY 1
            ), parts AS (SELECT DISTINCT l_partkey AS p FROM li),
            iso AS (
                SELECT count(*) AS n_isolated FROM parts
                WHERE p NOT IN (SELECT p FROM deg)
            ), m AS (SELECT count(*) AS n_edges FROM edges),
            d AS (
                SELECT count(*) AS n_nodes,
                       CAST(sum(deg) AS BIGINT) AS sdeg,
                       CAST(max(deg) AS BIGINT) AS max_degree
                FROM deg
            )
            SELECT n_nodes, n_edges,
                   (2.0 * CAST(n_edges AS DOUBLE))
                       / (CAST(n_nodes AS DOUBLE)
                          * (CAST(n_nodes AS DOUBLE) - 1.0)) AS density,
                   CAST(sdeg AS DOUBLE) / CAST(n_nodes AS DOUBLE)
                       AS avg_degree,
                   max_degree, n_isolated
            FROM d, m, iso
        """,
        "source_profile": """
            WITH src AS (
                SELECT source,
                       CAST(strlen(text) AS BIGINT) AS chars,
                       CAST(len(list_filter(regexp_split_to_array(
                           lower(text), '\\s+'), x -> x <> ''))
                           AS BIGINT) AS toks
                FROM documents
            ), agg AS (
                SELECT source, count(*) AS n_docs,
                       CAST(sum(chars) AS BIGINT) AS s_chars,
                       CAST(sum(toks) AS BIGINT) AS s_toks
                FROM src GROUP BY 1
            ), med AS (
                SELECT src.source, chars AS median_chars
                FROM (
                    SELECT source, chars,
                           row_number() OVER (PARTITION BY source
                               ORDER BY chars) AS rn
                    FROM src) src
                JOIN agg ON src.source = agg.source
                WHERE rn = (n_docs + 1) // 2
            )
            SELECT agg.source, n_docs,
                   CAST(s_chars AS DOUBLE) / CAST(n_docs AS DOUBLE)
                       AS mean_chars,
                   median_chars,
                   CAST(s_toks AS DOUBLE) / CAST(n_docs AS DOUBLE)
                       AS mean_tokens
            FROM agg JOIN med ON agg.source = med.source
            ORDER BY agg.source
        """,
        "bbit_minhash": """
            WITH {SIG},
            bands AS (
                SELECT doc_id, 0 AS band, concat_ws('|', mh0, mh1, mh2, mh3) AS band_key FROM sig UNION ALL SELECT doc_id, 1 AS band, concat_ws('|', mh4, mh5, mh6, mh7) AS band_key FROM sig UNION ALL SELECT doc_id, 2 AS band, concat_ws('|', mh8, mh9, mh10, mh11) AS band_key FROM sig UNION ALL SELECT doc_id, 3 AS band, concat_ws('|', mh12, mh13, mh14, mh15) AS band_key FROM sig
            ),
            pairs AS (
                SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                FROM bands l JOIN bands r
                  ON l.band = r.band AND l.band_key = r.band_key
                 AND l.doc_id < r.doc_id
            ),
            m AS (
                SELECT p.a, p.b,
                       CAST(CASE WHEN l.mh0 = r.mh0 THEN 1 ELSE 0 END + CASE WHEN l.mh1 = r.mh1 THEN 1 ELSE 0 END + CASE WHEN l.mh2 = r.mh2 THEN 1 ELSE 0 END + CASE WHEN l.mh3 = r.mh3 THEN 1 ELSE 0 END + CASE WHEN l.mh4 = r.mh4 THEN 1 ELSE 0 END + CASE WHEN l.mh5 = r.mh5 THEN 1 ELSE 0 END + CASE WHEN l.mh6 = r.mh6 THEN 1 ELSE 0 END + CASE WHEN l.mh7 = r.mh7 THEN 1 ELSE 0 END + CASE WHEN l.mh8 = r.mh8 THEN 1 ELSE 0 END + CASE WHEN l.mh9 = r.mh9 THEN 1 ELSE 0 END + CASE WHEN l.mh10 = r.mh10 THEN 1 ELSE 0 END + CASE WHEN l.mh11 = r.mh11 THEN 1 ELSE 0 END + CASE WHEN l.mh12 = r.mh12 THEN 1 ELSE 0 END + CASE WHEN l.mh13 = r.mh13 THEN 1 ELSE 0 END + CASE WHEN l.mh14 = r.mh14 THEN 1 ELSE 0 END + CASE WHEN l.mh15 = r.mh15 THEN 1 ELSE 0 END AS BIGINT) AS matches,
                       CAST(CASE WHEN l.mh0 % 2 = r.mh0 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh1 % 2 = r.mh1 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh2 % 2 = r.mh2 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh3 % 2 = r.mh3 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh4 % 2 = r.mh4 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh5 % 2 = r.mh5 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh6 % 2 = r.mh6 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh7 % 2 = r.mh7 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh8 % 2 = r.mh8 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh9 % 2 = r.mh9 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh10 % 2 = r.mh10 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh11 % 2 = r.mh11 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh12 % 2 = r.mh12 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh13 % 2 = r.mh13 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh14 % 2 = r.mh14 % 2 THEN 1 ELSE 0 END + CASE WHEN l.mh15 % 2 = r.mh15 % 2 THEN 1 ELSE 0 END AS BIGINT) AS bit_agree
                FROM pairs p
                JOIN sig l ON l.doc_id = p.a
                JOIN sig r ON r.doc_id = p.b
            )
            SELECT a, b, matches,
                   CAST(matches AS DOUBLE) / 16.0 AS est_full,
                   bit_agree,
                   2.0 * (CAST(bit_agree AS DOUBLE) / 16.0) - 1.0
                       AS est_bbit
            FROM m ORDER BY a, b
        """.replace("{SIG}", _sig_cte()),
        "dup_rate_by_source": """
            WITH hh AS (
                SELECT doc_id, source,
                       md5(regexp_replace(trim(lower(text)), '\\s+', ' ',
                           'g')) AS h
                FROM documents
            ), k AS (SELECT h, min(doc_id) AS keeper FROM hh GROUP BY h)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(CASE WHEN hh.doc_id <> keeper THEN 1 ELSE 0
                        END) AS BIGINT) AS n_dups,
                   CAST(sum(CASE WHEN hh.doc_id <> keeper THEN 1 ELSE 0
                        END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       AS dup_rate
            FROM hh JOIN k USING (h)
            GROUP BY 1 ORDER BY 1
        """,
        "kmv_daily": """
            WITH h AS (
                SELECT DISTINCT event_type AS uuid,
                       (epoch_ns(ts) - 1704067200000000000) // 86400000000000 AS day,
                       CAST('0x' || substr(
                           md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 13)
                           AS BIGINT) AS h
                FROM events
                WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1706745600000000000
            ), r AS (
                SELECT uuid, day, h,
                       row_number() OVER (PARTITION BY uuid, day
                           ORDER BY h) AS rn
                FROM h
            ), kept AS (
                SELECT uuid, day, CAST(max(h) AS BIGINT) AS kth,
                       count(*) AS n_kept
                FROM r WHERE rn <= 64 GROUP BY 1, 2
            ), ex AS (
                SELECT uuid, day, count(*) AS n_exact FROM h GROUP BY 1, 2
            )
            SELECT ex.uuid, ex.day, n_exact, n_kept,
                   CASE WHEN n_kept = 64
                        THEN 2.8372677652434125e+17 / CAST(kth AS DOUBLE)
                        ELSE CAST(n_kept AS DOUBLE) END AS kmv_est
            FROM ex JOIN kept ON ex.uuid = kept.uuid AND ex.day = kept.day
            ORDER BY ex.uuid, ex.day
        """,
        "segment_spend_profile": """
            WITH src AS (
                SELECT c_mktsegment,
                       CAST(round(o_totalprice / 0.01) AS BIGINT) AS pc
                FROM orders JOIN customer ON o_custkey = c_custkey
            ), agg AS (
                SELECT c_mktsegment, count(*) AS n_orders,
                       CAST(sum(pc) AS BIGINT) AS s
                FROM src GROUP BY 1
            ), med AS (
                SELECT src.c_mktsegment, pc AS medc
                FROM (
                    SELECT c_mktsegment, pc,
                           row_number() OVER (PARTITION BY c_mktsegment
                               ORDER BY pc) AS rn
                    FROM src) src
                JOIN agg ON src.c_mktsegment = agg.c_mktsegment
                WHERE rn = (n_orders + 1) // 2
            )
            SELECT agg.c_mktsegment, n_orders,
                   CAST(s AS DOUBLE)
                       / (CAST(n_orders AS DOUBLE) * 100.0) AS mean_price,
                   CAST(medc AS DOUBLE) / 100.0 AS median_price
            FROM agg JOIN med ON agg.c_mktsegment = med.c_mktsegment
            ORDER BY agg.c_mktsegment
        """,
        "round_number_bias": """
            {PTS}, src AS (
                SELECT uuid, CAST(round(value / 0.01) AS BIGINT) AS vq
                FROM pts WHERE time >= 1704067200000000000 AND time < 1706745600000000000
            )
            SELECT uuid, count(*) AS n,
                   CAST(sum(CASE WHEN vq % 100 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_whole,
                   CAST(sum(CASE WHEN vq % 50 = 0 AND vq % 100 <> 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_half,
                   CAST(sum(CASE WHEN vq % 100 = 0 THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       AS whole_share,
                   CAST(sum(CASE WHEN vq % 50 = 0 AND vq % 100 <> 0
                            THEN 1 ELSE 0 END) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS half_share
            FROM src GROUP BY 1 ORDER BY 1
        """.replace("{PTS}", PTS_CTE),
        "spend_trajectory": """
            WITH seq AS (
                SELECT o_custkey,
                       CAST(row_number() OVER (PARTITION BY o_custkey
                           ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
                           AS BIGINT) AS x,
                       CAST(round(o_totalprice / 0.01) AS BIGINT) AS y
                FROM orders
            ), per AS (
                SELECT o_custkey, count(*) AS n,
                       CAST(sum(x) AS HUGEINT) AS Sx,
                       CAST(sum(y) AS HUGEINT) AS Sy,
                       CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS Sxx,
                       CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS Sxy,
                       CAST(min(CASE WHEN x = 1 THEN y END) AS BIGINT)
                           AS first_y,
                       CAST(max(CASE WHEN x = n2.mx THEN y END) AS BIGINT)
                           AS last_y
                FROM seq JOIN (
                    SELECT o_custkey AS ck, max(x) AS mx
                    FROM seq GROUP BY 1) n2
                  ON seq.o_custkey = n2.ck
                GROUP BY 1 HAVING count(*) >= 3
            ), agg AS (
                SELECT count(*) AS n_customers,
                       CAST(sum(n) AS BIGINT) AS n_orders,
                       CAST(sum(n * Sxy - Sx * Sy) AS HUGEINT) AS num,
                       CAST(sum(n * Sxx - Sx * Sx) AS HUGEINT) AS den,
                       CAST(sum(first_y) AS BIGINT) AS s_first,
                       CAST(sum(last_y) AS BIGINT) AS s_last
                FROM per
            )
            SELECT n_customers, n_orders,
                   CASE WHEN CAST(den AS DOUBLE) <> 0 THEN
                       CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                   END AS slope_cents_per_order,
                   CAST(s_first AS DOUBLE)
                       / (CAST(n_customers AS DOUBLE) * 100.0)
                       AS mean_first_price,
                   CAST(s_last AS DOUBLE)
                       / (CAST(n_customers AS DOUBLE) * 100.0)
                       AS mean_last_price
            FROM agg
        """,
        "basket_diversity": """
            WITH per AS (
                SELECT l_orderkey, count(DISTINCT l_partkey) AS n_parts
                FROM lineitem GROUP BY 1
            ), tot AS (SELECT count(*) AS t FROM per)
            SELECT CAST(n_parts AS BIGINT) AS n_parts,
                   count(*) AS n_orders,
                   CAST(count(*) AS DOUBLE) / CAST(t AS DOUBLE) AS share
            FROM per, tot GROUP BY n_parts, t ORDER BY n_parts
        """,
        "lexical_diversity": """
            WITH t AS (
                SELECT doc_id,
                       list_sort(list_filter(regexp_split_to_array(
                           lower(text), '\\s+'), x -> x <> '')) AS srt
                FROM documents
            ), c AS (
                SELECT doc_id,
                       CAST(len(srt) AS BIGINT) AS n_tokens,
                       CAST(len(list_distinct(srt)) AS BIGINT) AS n_types,
                       CAST(CASE WHEN len(srt) > 0 THEN
                           list_sum(list_transform(
                               generate_series(1, len(srt)),
                               i -> CASE WHEN srt[i] <>
                                        COALESCE(srt[i - 1], '')
                                     AND srt[i] <>
                                        COALESCE(srt[i + 1], '')
                                    THEN 1 ELSE 0 END))
                           ELSE 0 END AS BIGINT) AS n_hapax
                FROM t
            )
            SELECT doc_id, n_tokens, n_types,
                   CASE WHEN n_tokens > 0 THEN
                       CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                   END AS ttr,
                   CASE WHEN n_types > 0 THEN
                       CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE)
                   END AS hapax_share
            FROM c ORDER BY doc_id
        """,
        "delay_by_priority": """
            WITH src AS (
                SELECT o_orderpriority,
                       datediff('day', CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) AS d
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ), agg AS (
                SELECT o_orderpriority, count(*) AS n_items,
                       CAST(sum(d) AS BIGINT) AS s
                FROM src GROUP BY 1
            ), med AS (
                SELECT src.o_orderpriority, d AS median_days
                FROM (
                    SELECT o_orderpriority, d,
                           row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY d) AS rn
                    FROM src) src
                JOIN agg ON src.o_orderpriority = agg.o_orderpriority
                WHERE rn = (n_items + 1) // 2
            )
            SELECT agg.o_orderpriority, n_items,
                   CAST(s AS DOUBLE) / CAST(n_items AS DOUBLE)
                       AS mean_days,
                   CAST(median_days AS BIGINT) AS median_days
            FROM agg JOIN med
              ON agg.o_orderpriority = med.o_orderpriority
            ORDER BY agg.o_orderpriority
        """,
        "activity_histogram": """
            WITH per AS (
                SELECT user_id, (epoch_ns(ts) - 1704067200000000000) // 86400000000000 AS widx,
                       count(*) AS k
                FROM events
                WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1706745600000000000
                GROUP BY 1, 2
            ), tot AS (SELECT count(*) AS t FROM per)
            SELECT CAST(k AS BIGINT) AS events_in_window,
                   count(*) AS n_user_windows,
                   CAST(count(*) AS DOUBLE) / CAST(t AS DOUBLE) AS share
            FROM per, tot GROUP BY k, t ORDER BY events_in_window
        """,
        "cube_report": """
            SELECT CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
                   l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice / 0.01) AS BIGINT)
                            * (100 - CAST(round(l_discount / 0.01) AS BIGINT))) AS DOUBLE)
                       / 10000.0 AS sum_disc_price,
                   count(*) AS n_items
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
            ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """,
        "join_skew_audit": """
            WITH per_key AS (
                SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1
            ), tot AS (
                SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys
                FROM per_key
            )
            SELECT l_partkey, CAST(cnt AS BIGINT) AS cnt,
                   CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
                   CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
                       / CAST(total AS DOUBLE) AS skew_vs_mean
            FROM per_key, tot ORDER BY cnt DESC, l_partkey LIMIT 10
        """,
        "sorted_neighborhood_pairs": f"""
            WITH keyed AS (
                SELECT doc_id, substr(k, 1, 8) AS blk, substr(k, 1, 64) AS k64
                FROM (SELECT doc_id,
                             regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS k
                      FROM documents)
            ), nb AS (
                SELECT doc_id, lead(doc_id, 1) OVER w AS n1,
                       lead(doc_id, 2) OVER w AS n2, lead(doc_id, 3) OVER w AS n3
                FROM keyed WINDOW w AS (PARTITION BY blk ORDER BY k64, doc_id)
            ), cand AS (
                SELECT least(doc_id, n) AS a, greatest(doc_id, n) AS b
                FROM (SELECT doc_id, unnest([n1, n2, n3]) AS n FROM nb)
                WHERE n IS NOT NULL
            ), tok AS (
                SELECT doc_id AS d, unnest(list_distinct({_TOKS})) AS tok
                FROM documents
            ), sz AS (SELECT d, count(*) AS sz FROM tok GROUP BY d),
            inter AS (
                SELECT a, b, count(*) AS inter
                FROM cand JOIN tok ta ON ta.d = a
                JOIN tok tb ON tb.d = b AND tb.tok = ta.tok
                GROUP BY a, b
            )
            SELECT a, b,
                   CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
            FROM inter JOIN sz sa ON sa.d = a JOIN sz sb ON sb.d = b
            WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.3
            ORDER BY a, b
        """,
        "snm_recall_eval": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            raw_sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s0 FROM t),
            sh2 AS (
                SELECT DISTINCT doc_id, {_hexn_sql("md5(s0)", 15)} AS s
                FROM raw_sh
            ),
            sz AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY doc_id),
            inter AS (
                SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
                FROM sh2 l JOIN sh2 r ON l.s = r.s AND l.doc_id < r.doc_id
                GROUP BY l.doc_id, r.doc_id
            ),
            truth AS (
                SELECT a, b FROM inter
                JOIN sz sa ON sa.doc_id = a
                JOIN sz sb ON sb.doc_id = b
                WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
            ),
            keyed AS (
                SELECT doc_id, substr(kk, 1, 8) AS blk, substr(kk, 1, 64) AS k64
                FROM (SELECT doc_id,
                             regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS kk
                      FROM documents)
            ),
            nb AS (
                SELECT doc_id, lead(doc_id, 1) OVER w AS n1,
                       lead(doc_id, 2) OVER w AS n2, lead(doc_id, 3) OVER w AS n3
                FROM keyed WINDOW w AS (PARTITION BY blk ORDER BY k64, doc_id)
            ),
            cand AS (
                SELECT least(doc_id, n) AS a, greatest(doc_id, n) AS b
                FROM (SELECT doc_id, unnest([n1, n2, n3]) AS n FROM nb)
                WHERE n IS NOT NULL
            )
            SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
                   CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
                   CAST((SELECT count(*) FROM truth JOIN cand USING (a, b))
                        AS BIGINT) AS n_hits,
                   CAST((SELECT count(*) FROM truth JOIN cand USING (a, b))
                        AS DOUBLE)
                     / CAST((SELECT count(*) FROM truth) AS DOUBLE) AS recall,
                   CAST((SELECT count(*) FROM truth JOIN cand USING (a, b))
                        AS DOUBLE)
                     / CAST((SELECT count(*) FROM cand) AS DOUBLE) AS precision
        """,
        "winnowing_fingerprints": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            g AS (SELECT doc_id, {_SHINGLES} AS grams FROM t),
            h AS (SELECT doc_id,
                         list_transform(list_transform(grams, s -> md5(s)),
                                        d -> {_hexn_sql('d', 8)}) AS hs
                  FROM g),
            wn AS (
                SELECT doc_id, len(hs) AS n_grams,
                       CASE WHEN len(hs) >= 4 THEN
                           list_transform(generate_series(1, len(hs) - 3),
                               i -> list_aggregate(list_slice(hs, i, i + 3), 'min'))
                       ELSE CAST([] AS BIGINT[]) END AS wins
                FROM h
            )
            SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                   CAST(len(wins) AS BIGINT) AS n_windows,
                   CAST(len(list_distinct(wins)) AS BIGINT) AS n_fps,
                   CASE WHEN len(wins) > 0 THEN
                       CAST(len(list_distinct(wins)) AS DOUBLE) / len(wins)
                   END AS fp_density,
                   list_aggregate(list_distinct(wins), 'min') AS fp_min,
                   list_aggregate(list_distinct(wins), 'max') AS fp_max
            FROM wn ORDER BY doc_id
        """,
    }
    # Persisted-index twins are oracle-IDENTICAL to their one-shot
    # counterparts by contract (same formula, same rounding, same
    # ordering): alias the SQL instead of duplicating it, so a future
    # formula fix cannot silently diverge the pair.
    d["bm25_index_topk"] = d["bm25_topk"]
    d["ann_index_topk"] = d["ann_ivf_multiprobe"]
    # Maintenance-exactness twins: append-then-query must equal a full
    # rebuild, so their oracle IS the full-corpus query's oracle.
    d["bm25_index_incremental"] = d["bm25_topk"]
    d["ann_index_incremental"] = d["ann_ivf_multiprobe"]
    # Retirement-exactness oracles: the engine tombstones ids in the
    # persisted index (never rebuilding it); the oracle recomputes the
    # query from scratch on the POST-DELETE corpus, so a green row proves
    # retire-then-query == post-delete rebuild, bit-exactly.
    d["incremental_dedup_retire"] = f"""
            WITH {_sig_cte()},
            bands AS (
                {" UNION ALL ".join(
                    "SELECT doc_id, " + str(b) + " AS band, concat_ws('|', "
                    + ", ".join(f"mh{b*4+i}" for i in range(4))
                    + ") AS band_key FROM sig"
                    for b in range(4)
                )}
            ),
            cand AS (
                SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS match_id
                FROM bands l JOIN bands r
                  ON l.band = r.band AND l.band_key = r.band_key
                WHERE l.doc_id % 10 = 0 AND r.doc_id % 10 <> 0
                  AND r.doc_id % 7 <> 3
            ),
            m AS (
                SELECT c.new_id, c.match_id,
                       CAST({" + ".join(
                           f"CASE WHEN ls.mh{j} = rs.mh{j} THEN 1 ELSE 0 END"
                           for j in range(16)
                       )} AS BIGINT) AS matches
                FROM cand c
                JOIN sig ls ON ls.doc_id = c.new_id
                JOIN sig rs ON rs.doc_id = c.match_id
            )
            SELECT new_id, match_id, matches,
                   matches / 16.0 AS est_jaccard
            FROM m WHERE matches / 16.0 >= 0.25
            ORDER BY new_id, match_id
        """
    d["bm25_index_retire"] = f"""
            WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents
                       WHERE doc_id % 7 <> 3),
            dl AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
            st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, dl,
                          unnest(list_filter(toks,
                              x -> list_contains({_bm25_terms_sql()}, x))) AS term
                   FROM dl),
            tfc AS (SELECT doc_id, dl, term, count(*) AS tf
                    FROM tf GROUP BY 1, 2, 3),
            dfc AS (SELECT term, count(DISTINCT doc_id) AS df
                    FROM tfc GROUP BY 1),
            sc AS (SELECT doc_id,
                          round(sum(
                              ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                              * tf * ({BM25_K1} + 1.0)
                              / (tf + {BM25_K1}
                                 * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))
                          ), 6) AS score
                   FROM tfc JOIN dfc USING (term) CROSS JOIN st
                   GROUP BY doc_id)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 10
        """
    d["bm25_index_verify"] = f"""
            WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents
                       WHERE doc_id % 7 <> 3),
            t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(COALESCE(sum(len(toks)), 0) AS BIGINT) AS s,
                         CAST(sum(CASE WHEN len(toks) >= 1 THEN 1 ELSE 0 END)
                              AS BIGINT) AS p
                  FROM d)
            SELECT n AS n_docs, s AS sum_dl, n AS docs_n_docs,
                   s AS docs_sum_dl, p AS postings_n_docs,
                   (p <= n) AS consistent
            FROM t
        """
    d["ann_index_retire"] = f"""
            WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings WHERE vec_id < 8),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings WHERE vec_id % 5 <> 2),
            s AS (SELECT e.vec_id, c.cid,
                         round(list_cosine_similarity(e.v, c.cv), 6) AS score
                  FROM e CROSS JOIN c),
            r AS (SELECT vec_id, cid, row_number() OVER
                         (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
                  FROM s),
            assign AS (SELECT vec_id, cid AS cluster FROM r WHERE rn = 1),
            probe AS (SELECT v AS q FROM e WHERE vec_id = 0),
            cr AS (SELECT c.cid,
                          round(list_cosine_similarity(c.cv, probe.q), 6) AS cs
                   FROM c, probe),
            pc AS (SELECT cid AS cluster FROM cr ORDER BY cs DESC, cid LIMIT 2)
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.v, probe.q), 6) AS cosine
            FROM e
            JOIN assign a ON e.vec_id = a.vec_id
            JOIN pc ON a.cluster = pc.cluster, probe
            ORDER BY cosine DESC, e.vec_id LIMIT 10
        """
    # Compaction twins: compact-then-query must equal the tombstone view,
    # which equals the post-delete rebuild — one oracle serves all three.
    d["lsh_index_compact"] = d["incremental_dedup_retire"]
    d["bm25_index_compact"] = d["bm25_index_retire"]
    d["ivf_index_compact"] = d["ann_index_retire"]
    # Index-served SemDeDup carries the identical assignment + pair rule.
    d["semantic_dedup_index"] = d["semantic_dedup"]
    # IVF-PQ twins: an all-cells probe of the persisted code index is
    # ADC over the corpus, so exactness and maintenance entries share the
    # one-shot ann_pq_topk oracle; the stats entry shares ivf_index_stats
    # (same coarse quantizer, same assignment).
    d["pq_index_topk"] = d["ann_pq_topk"]
    d["pq_index_incremental"] = d["ann_pq_topk"]
    d["pq_index_stats"] = d["ivf_index_stats"]
    # Retirement: ADC over the POST-DELETE vectors with the FULL-corpus
    # codebooks (the quantizer is frozen at build time — retire never
    # retrains), so a green row proves retire-then-probe == a rebuild
    # with the same quantizer, bit-exactly.
    d["pq_index_retire"] = f"""
            WITH {_PQ_CTES},
            qsub AS (SELECT j, sv AS qv FROM sub WHERE vec_id = 0),
            dt AS (SELECT cb.j, cb.code,
                          round(power(list_distance(cb.cv, qsub.qv), 2), 6) AS d
                   FROM cb JOIN qsub USING (j)),
            sc AS (SELECT c.vec_id, round(sum(d), 6) AS adc_dist
                   FROM codes c JOIN dt ON c.j = dt.j AND c.code = dt.code
                   WHERE c.vec_id % 5 <> 2
                   GROUP BY 1)
            SELECT vec_id, adc_dist FROM sc ORDER BY adc_dist, vec_id LIMIT 10
        """
    d["pq_index_compact"] = d["pq_index_retire"]
    # Quantizer-drift gauge: per sampled vector the per-subspace MIN of
    # the same round-6 squared L2 the codes CTE ranks, quantized to int64
    # micro-units (order-independent sum), then one global mean/max.
    d["pq_index_drift"] = f"""
            WITH {_PQ_CTES},
            dmin AS (SELECT s.vec_id, s.j,
                            min(round(power(list_distance(s.sv, cb.cv), 2),
                                      6)) AS dmin
                     FROM sub s JOIN cb USING (j)
                     WHERE s.vec_id % 3 = 0 GROUP BY 1, 2),
            rq AS (SELECT vec_id,
                          CAST(sum(CAST(round(dmin * 1e6) AS BIGINT))
                               AS BIGINT) AS rq
                   FROM dmin GROUP BY 1)
            SELECT CAST(count(*) AS BIGINT) AS n_sampled,
                   CAST(sum(rq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
                       AS mean_resid,
                   CAST(max(rq) AS DOUBLE) / 1e6 AS max_resid
            FROM rq
        """
    # Pruned IVF-PQ probe: the oracle replays the coarse assignment, the
    # top-2 cell choice, and the ADC scoring inside those cells.
    d["pq_index_probe"] = f"""
            WITH {_PQ_CTES},
            c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
            s AS (SELECT e.vec_id, c.cid,
                         round(list_cosine_similarity(e.v, c.cv), 6) AS score
                  FROM e CROSS JOIN c),
            r AS (SELECT vec_id, cid, row_number() OVER
                         (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
                  FROM s),
            assign AS (SELECT vec_id, cid AS cluster FROM r WHERE rn = 1),
            probe AS (SELECT v AS q FROM e WHERE vec_id = 0),
            cr AS (SELECT c.cid,
                          round(list_cosine_similarity(c.cv, probe.q), 6) AS cs
                   FROM c, probe),
            pc AS (SELECT cid AS cluster FROM cr ORDER BY cs DESC, cid LIMIT 2),
            qsub AS (SELECT j, sv AS qv FROM sub WHERE vec_id = 0),
            dt AS (SELECT cb.j, cb.code,
                          round(power(list_distance(cb.cv, qsub.qv), 2), 6) AS d
                   FROM cb JOIN qsub USING (j)),
            sc AS (SELECT c2.vec_id, round(sum(d), 6) AS adc_dist
                   FROM codes c2
                   JOIN assign a ON c2.vec_id = a.vec_id
                   JOIN pc ON a.cluster = pc.cluster
                   JOIN dt ON c2.j = dt.j AND c2.code = dt.code
                   GROUP BY 1)
            SELECT vec_id, adc_dist FROM sc ORDER BY adc_dist, vec_id LIMIT 10
        """
    # Quantizer re-encode: the oracle replays the WHOLE evolution — live
    # filter (vec_id % 5 <> 2 retired), seed assignment from the LIVE
    # corpus' first-8 seeds, one Lloyd mean step (round-6 per-dim means
    # — the pq_train oracle's formulation), re-encode argmin against the
    # trained codebooks, then ADC with probe vec 0 — so reencode-then-
    # probe == a from-scratch rebuild with the same trained quantizer.
    _PQ_LIVE_TRAIN_CTES = """
            j AS (SELECT unnest(generate_series(0, 3)) AS j),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings WHERE vec_id % 5 <> 2),
            sub AS (SELECT vec_id, j, list_slice(v, j*16 + 1, j*16 + 16) AS sv
                    FROM e CROSS JOIN j),
            cb0 AS (SELECT e.vec_id AS code, j,
                           list_slice(v, j*16 + 1, j*16 + 16) AS cv
                    FROM e CROSS JOIN j WHERE e.vec_id < 8),
            d0 AS (SELECT s.vec_id, s.j, cb0.code,
                          round(list_distance(s.sv, cb0.cv), 6) AS dist
                   FROM sub s JOIN cb0 USING (j)),
            r0 AS (SELECT vec_id, j, code, row_number() OVER
                          (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
                   FROM d0),
            a0 AS (SELECT vec_id, j, code FROM r0 WHERE rn = 1),
            jm AS (SELECT a0.j, a0.code, s.sv
                   FROM a0 JOIN sub s ON a0.vec_id = s.vec_id AND a0.j = s.j),
            i AS (SELECT unnest(generate_series(1, 16)) AS i),
            dmm AS (SELECT j, code, i, sv[i] AS x FROM jm CROSS JOIN i),
            dm AS (SELECT j, code, i, round(avg(x), 6) AS xm
                   FROM dmm GROUP BY 1, 2, 3),
            cb1 AS (SELECT j, code, list(xm ORDER BY i) AS cv
                    FROM dm GROUP BY 1, 2)
    """
    d["pq_index_reencode"] = f"""
            WITH {_PQ_LIVE_TRAIN_CTES},
            d1 AS (SELECT s.vec_id, s.j, cb1.code,
                          round(list_distance(s.sv, cb1.cv), 6) AS dist
                   FROM sub s JOIN cb1 USING (j)),
            r1 AS (SELECT vec_id, j, code, row_number() OVER
                          (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
                   FROM d1),
            codes1 AS (SELECT vec_id, j, code FROM r1 WHERE rn = 1),
            qsub AS (SELECT j, sv AS qv FROM sub WHERE vec_id = 0),
            dt AS (SELECT cb1.j, cb1.code,
                          round(power(list_distance(cb1.cv, qsub.qv), 2), 6) AS d
                   FROM cb1 JOIN qsub USING (j)),
            sc AS (SELECT c.vec_id, round(sum(d), 6) AS adc_dist
                   FROM codes1 c JOIN dt ON c.j = dt.j AND c.code = dt.code
                   GROUP BY 1)
            SELECT vec_id, adc_dist FROM sc ORDER BY adc_dist, vec_id LIMIT 10
        """
    # Gauge-then-remedy: mean residual of the live vec_id % 3 sample
    # against the BUILD-time seed codebook (seeded from the FULL corpus
    # — retire never touches the quantizer) and against the re-trained
    # one; the same int64 micro-unit quantization as pq_index_drift.
    d["pq_index_reencode_drift"] = f"""
            WITH {_PQ_LIVE_TRAIN_CTES},
            cbf AS (SELECT vec_id AS code, j,
                           list_slice(CAST(embedding AS DOUBLE[]),
                                      j*16 + 1, j*16 + 16) AS cv
                    FROM embeddings CROSS JOIN j WHERE vec_id < 8),
            samp AS (SELECT vec_id, j, sv FROM sub WHERE vec_id % 3 = 0),
            dmin0 AS (SELECT s.vec_id, s.j,
                             min(round(power(list_distance(s.sv, cbf.cv), 2),
                                       6)) AS dmin
                      FROM samp s JOIN cbf USING (j) GROUP BY 1, 2),
            rq0 AS (SELECT vec_id,
                           CAST(sum(CAST(round(dmin * 1e6) AS BIGINT))
                                AS BIGINT) AS rq
                    FROM dmin0 GROUP BY 1),
            dmin1 AS (SELECT s.vec_id, s.j,
                             min(round(power(list_distance(s.sv, cb1.cv), 2),
                                       6)) AS dmin
                      FROM samp s JOIN cb1 USING (j) GROUP BY 1, 2),
            rq1 AS (SELECT vec_id,
                           CAST(sum(CAST(round(dmin * 1e6) AS BIGINT))
                                AS BIGINT) AS rq
                    FROM dmin1 GROUP BY 1),
            a AS (SELECT CAST(count(*) AS BIGINT) AS n_sampled,
                         CAST(sum(rq) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                             / 1e6 AS mean_resid_seed
                  FROM rq0),
            b AS (SELECT CAST(sum(rq) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                             / 1e6 AS mean_resid_trained
                  FROM rq1)
            SELECT n_sampled, mean_resid_seed, mean_resid_trained,
                   mean_resid_trained <= mean_resid_seed AS resid_dropped
            FROM a CROSS JOIN b
        """
    # BM25 drift gauge: 90% corpus is the index, held-out 10% is the
    # incoming batch; every counter recomputed from the same tokenizer,
    # every rate a single IEEE division of exact int64s.
    d["bm25_index_drift"] = f"""
            WITH ct AS (SELECT doc_id, {_TOKS} AS toks FROM documents
                        WHERE doc_id % 10 <> 0),
            vocab AS (SELECT DISTINCT unnest(toks) AS term FROM ct),
            cstat AS (SELECT CAST(count(*) AS BIGINT) AS n,
                             CAST(sum(len(toks)) AS BIGINT) AS s FROM ct),
            bt AS (SELECT doc_id, {_TOKS} AS toks FROM documents
                   WHERE doc_id % 10 = 0),
            bstat AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                             CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM bt),
            btok AS (SELECT unnest(toks) AS term FROM bt),
            occ AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens,
                           CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                                AS BIGINT) AS oov_tokens
                    FROM btok b LEFT JOIN vocab v ON b.term = v.term),
            uniq AS (SELECT CAST(count(*) AS BIGINT) AS batch_terms,
                            CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                                 AS BIGINT) AS new_terms
                     FROM (SELECT DISTINCT term FROM btok) b
                     LEFT JOIN vocab v ON b.term = v.term)
            SELECT n_docs, n_tokens, oov_tokens,
                   CAST(oov_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                       AS oov_rate,
                   batch_terms, new_terms,
                   CAST(new_terms AS DOUBLE) / CAST(batch_terms AS DOUBLE)
                       AS new_term_rate,
                   CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)
                       AS batch_avgdl,
                   CAST(cstat.s AS DOUBLE) / CAST(cstat.n AS DOUBLE)
                       AS index_avgdl,
                   (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))
                       / (CAST(cstat.s AS DOUBLE) / CAST(cstat.n AS DOUBLE))
                       AS len_ratio
            FROM bstat CROSS JOIN occ CROSS JOIN uniq CROSS JOIN cstat
        """
    # LSH banding-precision drift: sampled index candidates (smaller id
    # % 4 == 0), signature-estimate vs exact shingle Jaccard, per-pair
    # FLOOR micro-unit quantization (tie-free, order-independent sums).
    _est_matches = " + ".join(
        f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)" for j in range(16)
    )
    d["lsh_index_drift"] = f"""
            WITH {_sig_cte()},
            bands AS (
                {" UNION ALL ".join(
                    "SELECT doc_id, " + str(b) + " AS band, concat_ws('|', "
                    + ", ".join(f"mh{b*4+i}" for i in range(4))
                    + ") AS band_key FROM sig"
                    for b in range(4)
                )}
            ),
            cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                     FROM bands l JOIN bands r
                       ON l.band = r.band AND l.band_key = r.band_key
                     WHERE l.doc_id % 4 = 0 AND l.doc_id < r.doc_id),
            est AS (SELECT c.a, c.b,
                           CAST(floor(({_est_matches}) / 16 * 1e6)
                                AS BIGINT) AS est_q
                    FROM cand c
                    JOIN sig sa ON sa.doc_id = c.a
                    JOIN sig sb ON sb.doc_id = c.b),
            t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            raw_sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s0 FROM t),
            dig AS (SELECT doc_id, md5(s0) AS dg FROM raw_sh),
            sh AS (SELECT DISTINCT doc_id, {_hexn_sql('dg', 15)} AS s FROM dig),
            sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            iv AS (SELECT c.a, c.b, count(*) AS inter
                   FROM cand c
                   JOIN sh l ON l.doc_id = c.a
                   JOIN sh r ON r.doc_id = c.b AND r.s = l.s
                   GROUP BY c.a, c.b),
            pp AS (SELECT e.a, e.b, e.est_q,
                          CAST(floor(COALESCE(iv.inter, 0)
                                     / (sa.sz + sb.sz - COALESCE(iv.inter, 0))
                                     * 1e6) AS BIGINT) AS true_q
                   FROM est e
                   LEFT JOIN iv ON iv.a = e.a AND iv.b = e.b
                   JOIN sz sa ON sa.doc_id = e.a
                   JOIN sz sb ON sb.doc_id = e.b)
            SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(est_q) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
                       AS mean_est_jaccard,
                   CAST(sum(true_q) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
                       AS mean_true_jaccard,
                   CAST(sum(abs(est_q - true_q)) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) / 1e6 AS mean_abs_err,
                   CAST(sum(CASE WHEN true_q >= 500000 THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS "precision"
            FROM pp
        """
    return d
