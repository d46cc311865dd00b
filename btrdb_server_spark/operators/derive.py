"""Derived-stream operators: gap detection, rate-of-change, sessionization.

The BTrDB ecosystem's distiller layer computes exactly these as derived
streams over the raw points plane (missing-data ranges and d/dt signals
feeding grid analytics); the reference engine itself serves the raw scans
they consume. Both need each point's predecessor: with `bucket_pw` set the
lag runs per (uuid, 2**bucket_pw time bucket) with a one-row-per-bucket
carry chain — the chunked-window pattern of operators/nearest.py — so a
billion-point stream fans out across buckets instead of serializing through
one task. Without it (small/interactive ranges) a flat per-stream window is
used.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from btrdb_server_spark.operators.fold import (
    deadband_fold,
    ewma_fold,
    fold_batch,
    holt_fold,
    sdt_fold,
)


def _lagged(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    bucket_pw: int | None = None,
) -> DataFrame:
    """(time, value, prev_time, prev_value) per consecutive point pair of
    one stream in [start, end). The range predicate is applied BEFORE the
    window (pushed to the scan); the first in-range point pairs with
    nothing — callers drop or keep the null-prev row as their semantics
    require.

    bucket_pw=None: one window partition per stream (fine for bounded
    interactive ranges, serializes a dense stream). bucket_pw=k: windows
    partition by (uuid, time >> k); the first point of each bucket takes its
    predecessor from a carry chain of per-bucket last points — the carry
    side is one row per non-empty bucket, so its per-uuid window is
    metadata-sized while the point-scale work is fully parallel."""
    src = points.where(
        (F.col("uuid") == F.lit(uuid))
        & (F.col("time") >= F.lit(start))
        & (F.col("time") < F.lit(end))
    )
    if bucket_pw is None:
        # value tiebreak: deterministic pairing under duplicate timestamps
        # (no-op on clean data, engine-stable when dups exist)
        w = Window.partitionBy("uuid").orderBy("time", "value")
        return src.select(
            "uuid",
            "time",
            "value",
            F.lag("time").over(w).alias("prev_time"),
            F.lag("value").over(w).alias("prev_value"),
        )

    b = src.withColumn("bucket", F.shiftright("time", bucket_pw))
    wb = Window.partitionBy("uuid", "bucket").orderBy("time", "value")
    within = b.select(
        "uuid",
        "bucket",
        "time",
        "value",
        F.lag("time").over(wb).alias("prev_time"),
        F.lag("value").over(wb).alias("prev_value"),
    )
    # Carry chain: last point of each non-empty bucket (max struct orders by
    # (time, value) — the same ordering as the within-bucket lag, so ties
    # pair identically). edges is one row per non-empty bucket; lag over it
    # yields, for every bucket, the nearest PRECEDING non-empty bucket's
    # last point — exactly the predecessor of the bucket's first row.
    edges = b.groupBy("uuid", "bucket").agg(
        F.max(F.struct(F.col("time"), F.col("value"))).alias("edge")
    )
    wc = Window.partitionBy("uuid").orderBy("bucket")
    carry = edges.select(
        "uuid", "bucket", F.lag("edge").over(wc).alias("carry")
    )
    return (
        within.join(carry, ["uuid", "bucket"], "left")
        .select(
            "uuid",
            "time",
            "value",
            F.coalesce(F.col("prev_time"), F.col("carry.time")).alias("prev_time"),
            F.when(F.col("prev_time").isNotNull(), F.col("prev_value"))
            .otherwise(F.col("carry.value"))
            .alias("prev_value"),
        )
    )


def gaps(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    min_gap: int,
    bucket_pw: int | None = None,
) -> DataFrame:
    """Missing-data ranges: every [prev_time, time) span between consecutive
    points of the stream that is at least `min_gap` ns wide. The outage
    report a telemetry pipeline runs first — the reference's Windows
    count=0 holes (A2) answer the same question at fixed bucket widths;
    this is the exact point-level variant. Columns: gap_start, gap_end,
    gap_ns; ordered by gap_start."""
    lagged = _lagged(points, uuid, start, end, bucket_pw)
    return (
        lagged.where(
            F.col("prev_time").isNotNull()
            & (F.col("time") - F.col("prev_time") >= F.lit(min_gap))
        )
        .select(
            F.col("prev_time").alias("gap_start"),
            F.col("time").alias("gap_end"),
            (F.col("time") - F.col("prev_time")).alias("gap_ns"),
        )
        .orderBy("gap_start")
    )


def sessions(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    gap: int,
    bucket_pw: int | None = None,
) -> DataFrame:
    """Gap-based sessionization: consecutive points of one stream closer
    than `gap` ns belong to the same session (burst/outage segmentation —
    the dual of `gaps`, which reports the spaces between these sessions).
    One row per session: (session_id, session_start, session_end,
    n_points), session_id 0-based in time order. All-integer output, so
    the result is engine-exact.

    Scale shape mirrors `_lagged`: with `bucket_pw` set, the new-session
    flags AND the running session index are computed per (uuid, bucket)
    with a carry chain — the per-bucket flag totals (one row per non-empty
    bucket) are cumulated on the metadata-sized side and added as a bucket
    offset, so no point-scale window ever partitions by uuid alone and a
    dense stream fans out across buckets."""
    if gap <= 0:
        raise ValueError("session gap must be positive")
    lagged = _lagged(points, uuid, start, end, bucket_pw)
    new_s = (
        F.col("prev_time").isNull()
        | ((F.col("time") - F.col("prev_time")) >= F.lit(gap))
    ).cast("long")
    if bucket_pw is None:
        w = (
            Window.partitionBy("uuid")
            .orderBy("time", "value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        sid = (F.sum("new_s").over(w) - F.lit(1)).alias("session_id")
        flagged = lagged.select("uuid", "time", "value", new_s.alias("new_s"))
        assigned = flagged.select("time", sid)
    else:
        b = lagged.select(
            "uuid",
            "time",
            "value",
            new_s.alias("new_s"),
            F.shiftright("time", bucket_pw).alias("bucket"),
        )
        wb = (
            Window.partitionBy("uuid", "bucket")
            .orderBy("time", "value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        within = b.select(
            "uuid", "bucket", "time", F.sum("new_s").over(wb).alias("cum")
        )
        # Carry side: one row per non-empty bucket; the offset is the sum
        # of flags in all PRECEDING buckets of the stream.
        totals = b.groupBy("uuid", "bucket").agg(F.sum("new_s").alias("tot"))
        wc = (
            Window.partitionBy("uuid")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = totals.select(
            "uuid", "bucket", F.coalesce(F.sum("tot").over(wc), F.lit(0)).alias("off")
        )
        assigned = (
            within.join(offsets, ["uuid", "bucket"])
            .select(
                "time",
                (F.col("cum") + F.col("off") - F.lit(1)).alias("session_id"),
            )
        )
    return (
        assigned.groupBy("session_id")
        .agg(
            F.min("time").alias("session_start"),
            F.max("time").alias("session_end"),
            F.count("time").alias("n_points"),
        )
        .orderBy("session_id")
    )


def counter_increase(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    width: int,
    value_quantum: float = 0.01,
    bucket_pw: int | None = None,
) -> DataFrame:
    """Reset-aware counter increase per tumbling window (the Prometheus
    ``increase()`` semantics over a monotonic counter that may restart):
    per consecutive point pair, the contribution is ``v - prev`` when the
    counter advanced and ``v`` when it reset (v < prev — the counter
    restarted from zero, so the post-reset reading is the visible
    increase). Sums per window of the RIGHT endpoint; the first point of
    the range has no predecessor and contributes nothing.

    Exactness: deltas are computed in integer quantum units (int64 —
    per-window sums are exactly associative under any partitioning), and
    the output converts once: ``increase = sum_quanta * quantum`` (a
    single IEEE multiply, engine-deterministic). Whole windows only, no
    hole suppression — count=0 windows report increase 0.0 like the
    reference's Windows holes (qtree.go:1149-1179).

    Scale shape: one bucketed lag (`_lagged`, carry-chain when bucket_pw
    is set) + one groupBy — the shuffle carries a row per window after
    map-side combine."""
    if width <= 0:
        raise ValueError("window width must be positive")
    end = end - (end - start) % width
    if start >= end:
        raise ValueError("start >= end after rounding")
    lagged = _lagged(points, uuid, start, end, bucket_pw)
    # round(value / quantum), matching the oracle textually: 2-decimal data
    # is never within an ulp of a .5 tie, so HALF_UP-vs-banker's is moot.
    c = F.round(F.col("value") / F.lit(value_quantum)).cast("long")
    cp = F.round(F.col("prev_value") / F.lit(value_quantum)).cast("long")
    delta = F.when(c >= cp, c - cp).otherwise(c)
    # int64 div, never float division: beyond 2**52-ns offsets a double
    # ratio rounds by whole ns and misassigns boundary points (stat.py).
    contrib = lagged.where(F.col("prev_time").isNotNull()).select(
        F.expr(f"(time - ({start})) div {width}").alias("widx"),
        delta.alias("dq"),
    )
    agg = contrib.groupBy("widx").agg(
        F.sum("dq").alias("sq"), F.count("*").alias("n_deltas")
    )
    spark = points.sparkSession
    spine = spark.range(0, (end - start) // width).select(F.col("id").alias("widx"))
    return (
        spine.join(agg, "widx", "left")
        .select(
            (F.lit(start) + F.col("widx") * F.lit(width)).alias("time"),
            (F.coalesce(F.col("sq"), F.lit(0)) * F.lit(value_quantum)).alias(
                "increase"
            ),
            F.coalesce(F.col("n_deltas"), F.lit(0)).alias("n_deltas"),
        )
        .orderBy("time")
    )


def trapz_integral(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    width: int,
    value_quantum: float = 0.01,
    bucket_pw: int | None = None,
) -> DataFrame:
    """Trapezoidal integral per tumbling window — energy from power, volume
    from flow (the classic derived stream the d/dt `rate` operator is the
    inverse of). Each consecutive pair contributes
    ``(v0 + v1)/2 * dt_seconds``, assigned to the window of its LEFT
    endpoint; pairs are formed inside [start, end) only.

    Exactness: the pair term ``(q0 + q1) * dt_ns`` is exact integer
    arithmetic in quantum units; per-window sums accumulate in
    decimal(38,0) (exact at any magnitude the int64 term set can reach —
    a month of ns-spaced pairs overflows int64, so the accumulator must be
    wider). The single lossy step is the final cast of the exact integer
    to double, then one divide by 2e11 (the /2 trapezoid, /100 quantum,
    /1e9 ns->s fold into one exactly-representable constant when
    quantum=0.01) — both round-to-nearest once, so any engine summing
    exactly produces bit-identical doubles.

    Scale shape: one bucketed lag + one groupBy, map-side combined."""
    if width <= 0:
        raise ValueError("window width must be positive")
    end = end - (end - start) % width
    if start >= end:
        raise ValueError("start >= end after rounding")
    q = round(1.0 / value_quantum)  # exact int (100 for cents)
    lagged = _lagged(points, uuid, start, end, bucket_pw)
    c = F.round(F.col("value") / F.lit(value_quantum)).cast("long")
    cp = F.round(F.col("prev_value") / F.lit(value_quantum)).cast("long")
    term = ((c + cp) * (F.col("time") - F.col("prev_time"))).cast("decimal(38,0)")
    contrib = lagged.where(F.col("prev_time").isNotNull()).select(
        F.expr(f"(prev_time - ({start})) div {width}").alias("widx"),
        term.alias("t2q"),
    )
    agg = contrib.groupBy("widx").agg(F.sum("t2q").alias("s2q"))
    divisor = 2.0e9 * q  # 2e11 for quantum 0.01 — exactly representable
    spark = points.sparkSession
    spine = spark.range(0, (end - start) // width).select(F.col("id").alias("widx"))
    return (
        spine.join(agg, "widx", "left")
        .select(
            (F.lit(start) + F.col("widx") * F.lit(width)).alias("time"),
            (
                F.coalesce(F.col("s2q"), F.lit(0).cast("decimal(38,0)")).cast("double")
                / F.lit(divisor)
            ).alias("integral_vs"),
        )
        .orderBy("time")
    )


def rate(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    bucket_pw: int | None = None,
) -> DataFrame:
    """Discrete derivative: (value - prev_value) / (dt seconds) per
    consecutive point pair — the d/dt derived stream (frequency from phase
    angle, power from energy). Duplicate timestamps (dt = 0) yield NULL
    rather than Inf. Columns: time, value, rate_per_sec; the first point
    of the range has no predecessor and is omitted."""
    lagged = _lagged(points, uuid, start, end, bucket_pw)
    dt = F.col("time") - F.col("prev_time")
    return (
        lagged.where(F.col("prev_time").isNotNull())
        .select(
            "time",
            "value",
            F.when(
                dt > 0,
                (F.col("value") - F.col("prev_value")) / (dt / F.lit(1_000_000_000.0)),
            ).alias("rate_per_sec"),
        )
        .orderBy("time")
    )


def ewma(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    alpha: float = 0.25,
    bucket_pw: int | None = None,
) -> DataFrame:
    """Exponentially weighted moving average: s_i = alpha*x_i +
    (1-alpha)*s_{i-1}, s_0 = x_0 — the classic smoothing pass every
    dashboard and alerting rule runs over raw telemetry. Columns:
    time, value, ewma; ordered by time.

    The recurrence is inherently sequential; two physical strategies:

    - bucket_pw=None (interactive): per-stream sorted fold
      (operators/fold.ewma_fold, the step streaming_ewma folds too) —
      the EXACT left-to-right
      recurrence, bit-reproducible in any engine that folds the same
      order (the DuckDB oracle replays the identical op sequence). One
      row per stream holds the whole range: bounded ranges only.
    - bucket_pw=k (scale): EWMA is an affine recurrence, so a bucket
      composes to s_out = A*s_in + B with A = (1-alpha)^n_b and B the
      bucket's zero-state response — both computed by the same in-bucket
      fold. The carry chain folds the bucket-level affine maps (one row
      per non-empty bucket, metadata-sized), then each bucket replays its
      in-bucket fold seeded with the carried s_in. Work per task is one
      bucket; a billion-point stream fans out across buckets. The affine
      composition reassociates float ops, so results agree with the flat
      path to rounding (~1e-12 relative), not bit-exactly — documented,
      and why the oracle pairs with the flat path.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    src = points.where(
        (F.col("uuid") == F.lit(uuid))
        & (F.col("time") >= F.lit(start))
        & (F.col("time") < F.lit(end))
    )
    a, b = F.lit(alpha), F.lit(1.0 - alpha)

    def fold_bucket(arr, seed_expr, seeded):
        """Fold sorted (time, value) structs into (time, value, ewma)
        structs; seeded=True starts from seed_expr (carry-in), else the
        first element seeds with its own value."""
        init = F.array(
            F.struct(
                F.element_at(arr, 1)["time"].alias("time"),
                F.element_at(arr, 1)["value"].alias("value"),
                (
                    (a * F.element_at(arr, 1)["value"] + b * seed_expr)
                    if seeded
                    else F.element_at(arr, 1)["value"]
                ).alias("ewma"),
            )
        )
        rest = F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
        return F.aggregate(
            rest,
            init,
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.struct(
                        x["time"].alias("time"),
                        x["value"].alias("value"),
                        (a * x["value"] + b * F.element_at(acc, -1)["ewma"]).alias(
                            "ewma"
                        ),
                    )
                ),
            ),
        )

    if bucket_pw is None:
        # One Arrow-shipped fold per stream through the step streaming_ewma
        # folds too (operators/fold.ewma_fold): O(n), where the previous
        # Catalyst form (F.aggregate growing an array with concat) copied
        # the whole accumulated array per element — O(n^2) struct copies,
        # measured 4.2 s for a 6k-point stream at sf0.1 vs ~0.6 s (guide
        # §4.2). The op sequence is the IDENTICAL IEEE chain (a*x_i +
        # b*s_{i-1}, each op rounded once), and the (time, value) sort
        # matches sort_array's struct order, so results stay bit-equal to
        # the DuckDB oracle's replay.
        return fold_batch(
            src.select("uuid", "time", "value"),
            ["uuid"],
            ewma_fold(alpha),
            "time long, value double, ewma double",
        ).orderBy("time")

    # Scale path: per-bucket folds + affine carry chain.
    by_bucket = (
        src.withColumn("bucket", F.shiftright("time", bucket_pw))
        .groupBy("uuid", "bucket")
        .agg(F.sort_array(F.collect_list(F.struct("time", "value"))).alias("arr"))
    )
    # In-bucket affine map (A, B): zero-state fold gives B; A = (1-a)^n.
    # U is the self-seeded output (first element's ewma = its own value) —
    # the correct s_out when the bucket is the stream's FIRST.
    zero_fold = F.aggregate(
        F.col("arr"),
        F.lit(0.0),
        lambda acc, x: a * x["value"] + b * acc,
    )
    self_fold = F.aggregate(
        F.slice(F.col("arr"), 2, F.greatest(F.size("arr") - 1, F.lit(0))),
        F.element_at(F.col("arr"), 1)["value"],
        lambda acc, x: a * x["value"] + b * acc,
    )
    summaries = by_bucket.select(
        "uuid",
        "bucket",
        F.pow(b, F.size("arr")).alias("A"),
        zero_fold.alias("B"),
        self_fold.alias("U"),
    )
    # Carry: fold bucket affine maps in bucket order — metadata-sized.
    carry_arr = summaries.groupBy("uuid").agg(
        F.sort_array(F.collect_list(F.struct("bucket", "A", "B", "U"))).alias("bs")
    )
    seeds = carry_arr.select(
        "uuid",
        F.explode(
            F.aggregate(
                F.col("bs"),
                F.array().cast(
                    "array<struct<bucket:bigint,s_in:double,seeded:boolean,s_out:double>>"
                ),
                lambda acc, x: F.concat(
                    acc,
                    F.array(
                        F.struct(
                            x["bucket"].alias("bucket"),
                            F.when(
                                F.size(acc) > 0, F.element_at(acc, -1)["s_out"]
                            ).alias("s_in"),
                            (F.size(acc) > 0).alias("seeded"),
                            F.when(
                                F.size(acc) > 0,
                                x["A"] * F.element_at(acc, -1)["s_out"] + x["B"],
                            )
                            .otherwise(x["U"])
                            .alias("s_out"),
                        )
                    ),
                ),
            )
        ).alias("c"),
    ).select("uuid", "c.bucket", "c.s_in", "c.seeded")
    joined = by_bucket.join(seeds, ["uuid", "bucket"])
    folded = joined.select(
        F.explode(
            F.when(
                F.col("seeded"), fold_bucket(F.col("arr"), F.col("s_in"), True)
            ).otherwise(fold_bucket(F.col("arr"), None, False))
        ).alias("r")
    )
    return folded.select("r.time", "r.value", "r.ewma").orderBy("time")


def cusum_changepoint(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    value_quantum: float = 0.01,
    bucket_pw: int | None = None,
) -> DataFrame:
    """Level-shift detection: the point where the centered cumulative sum
    deviates most from the straight line — the classic CUSUM changepoint
    statistic max_i |prefix_i - (i/n)*total|, here scaled by n to stay in
    integers: score_i = |n*prefix_i - i*total| (same argmax). One row:
    (time, score, n) — the split point after which the mean differs most,
    with score in n*quantum units.

    Exactness: prefix sums, ranks and the score are all int64 in quantum
    units (bound: n^2 * max|value|/quantum <= 9.2e18 — ~4e6 points of
    cent-quantized data per analyzed range; chunk longer ranges), and the
    argmax is an integer struct-max with ties to the earliest time — so
    the selected changepoint is engine-exact, no float anywhere.

    Scale shape: the prefix sum and rank ride the same (uuid, bucket)
    carry-chain pattern as `sessions` when bucket_pw is set; the argmax
    is one map-side-combined struct max."""
    src = points.where(
        (F.col("uuid") == F.lit(uuid))
        & (F.col("time") >= F.lit(start))
        & (F.col("time") < F.lit(end))
    ).select(
        "uuid",
        "time",
        "value",
        F.round(F.col("value") / F.lit(value_quantum)).cast("long").alias("q"),
    )
    if bucket_pw is None:
        w = (
            Window.partitionBy("uuid")
            .orderBy("time", "value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        ranked = src.select(
            "time",
            F.sum("q").over(w).alias("prefix"),
            F.count("*").over(w).alias("i"),
        )
    else:
        b = src.withColumn("bucket", F.shiftright("time", bucket_pw))
        wb = (
            Window.partitionBy("uuid", "bucket")
            .orderBy("time", "value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        within = b.select(
            "uuid",
            "bucket",
            "time",
            F.sum("q").over(wb).alias("cum_q"),
            F.count("*").over(wb).alias("cum_i"),
        )
        totals = b.groupBy("uuid", "bucket").agg(
            F.sum("q").alias("tq"), F.count("*").alias("ti")
        )
        wc = (
            Window.partitionBy("uuid")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = totals.select(
            "uuid",
            "bucket",
            F.coalesce(F.sum("tq").over(wc), F.lit(0)).alias("oq"),
            F.coalesce(F.sum("ti").over(wc), F.lit(0)).alias("oi"),
        )
        ranked = within.join(offsets, ["uuid", "bucket"]).select(
            "time",
            (F.col("cum_q") + F.col("oq")).alias("prefix"),
            (F.col("cum_i") + F.col("oi")).alias("i"),
        )
    tot = src.groupBy().agg(
        F.sum("q").alias("total"), F.count("*").alias("n")
    )
    score = F.abs(F.col("n") * F.col("prefix") - F.col("i") * F.col("total"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.struct(
                score.alias("score"), (-F.col("time")).alias("negt")
            ).alias("cand"),
            "n",
        )
        .groupBy("n")
        .agg(F.max("cand").alias("best"))
        .select(
            (-F.col("best.negt")).alias("time"),
            F.col("best.score").alias("score"),
            F.col("n"),
        )
    )


def _assign_run_ids(lagged, new_run, bucket_pw, carry=()):
    """Gap-and-islands run assignment shared by the run-shaped operators
    (value_run_lengths, excursions): a running sum of the `new_run` flag
    in (time, value) order becomes the 0-based run_id. bucket_pw=None
    runs one window per stream; with bucket_pw the cumulative flag rides
    per (uuid, bucket) and a metadata-sized per-uuid offset chain (one
    row per non-empty bucket) globalizes the ids — a dense stream fans
    out across buckets. Returns (time, value, *carry, run_id)."""
    carry = list(carry)
    if bucket_pw is None:
        w = (
            Window.partitionBy("uuid")
            .orderBy("time", "value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return lagged.select(
            "time",
            "value",
            *carry,
            (F.sum(new_run).over(w) - F.lit(1)).alias("run_id"),
        )
    b = lagged.select(
        "uuid",
        "time",
        "value",
        *carry,
        new_run.alias("nr"),
        F.shiftright("time", bucket_pw).alias("bucket"),
    )
    wb = (
        Window.partitionBy("uuid", "bucket")
        .orderBy("time", "value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = b.select(
        "uuid", "bucket", "time", "value", *carry, F.sum("nr").over(wb).alias("cum")
    )
    totals = b.groupBy("uuid", "bucket").agg(F.sum("nr").alias("tot"))
    wc = (
        Window.partitionBy("uuid")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "uuid", "bucket", F.coalesce(F.sum("tot").over(wc), F.lit(0)).alias("off")
    )
    return within.join(offsets, ["uuid", "bucket"]).select(
        "time",
        "value",
        *carry,
        (F.col("cum") + F.col("off") - F.lit(1)).alias("run_id"),
    )


def value_run_lengths(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    min_run: int = 2,
    bucket_pw: int | None = None,
) -> DataFrame:
    """Runs of consecutive points with the SAME value — the stuck-sensor /
    flatline detector (a transducer reporting a frozen reading is the
    classic silent failure a fleet health scan looks for; the dual of
    `gaps`, which finds silence rather than repetition). One row per run
    of length >= min_run: (run_start, run_end, n_points, value).
    All-integer + verbatim-value output: engine-exact.

    Scale shape: exactly the `sessions` machinery with the new-run flag
    keyed on value INEQUALITY instead of time distance — with bucket_pw
    the flags and the running run index ride the (uuid, bucket)
    carry-chain, so a dense stream fans out across buckets."""
    lagged = _lagged(points, uuid, start, end, bucket_pw)
    new_run = (
        F.col("prev_time").isNull() | (F.col("value") != F.col("prev_value"))
    ).cast("long")
    assigned = _assign_run_ids(lagged, new_run, bucket_pw)
    return (
        assigned.groupBy("run_id")
        .agg(
            F.min("time").alias("run_start"),
            F.max("time").alias("run_end"),
            F.count("*").alias("n_points"),
            # value is constant within a run; min() mirrors cleanly in SQL
            F.min("value").alias("value"),
        )
        .where(F.col("n_points") >= min_run)
        .select("run_start", "run_end", "n_points", "value")
        .orderBy("run_start")
    )


def deadband_compress(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    deadband: float,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Deadband compression (the industrial-historian staple): keep a
    point only when its value moved more than `deadband` away from the
    LAST KEPT point's value; the first point is always kept. The output
    is the minimal exception set a PI-style historian stores, and what a
    plotter requests before rendering a slow-moving signal.

    The keep decision depends on the last KEPT point — an inherently
    sequential fold, like `ewma`. Values and the deadband compare in
    integer quantum units (|q - q_kept| > deadband_q), so the kept set is
    engine-exact; the fold runs per-stream over the sorted point array
    (interactive ranges; chunk by time or run the ladder's decimation
    for plot-scale serving at 100 TB — documented, the same contract as
    ewma's flat path). Columns: time, value; ordered by time."""
    if deadband <= 0:
        raise ValueError("deadband must be positive")
    dq = round(deadband / value_quantum)
    src = points.where(
        (F.col("uuid") == F.lit(uuid))
        & (F.col("time") >= F.lit(start))
        & (F.col("time") < F.lit(end))
    ).select(
        "uuid",
        "time",
        "value",
        F.round(F.col("value") / F.lit(value_quantum)).cast("long").alias("q"),
    )
    # One Arrow-shipped fold per stream through the step streaming_deadband
    # folds too (operators/fold.deadband_fold): the previous Catalyst form
    # (F.aggregate growing the kept array via concat) copied the whole
    # accumulated array on every KEPT point — O(kept²) struct copies in
    # one task. The keep decision is pure int64 arithmetic
    # (|q - q_kept| > dq), so the kept set is engine-exact either way,
    # and the sort matches sort_array's (time, value, q) struct order
    # (q is a function of value, so (time, value) decides every tie).
    return fold_batch(
        src, ["uuid"], deadband_fold(int(dq)), "time long, value double"
    ).orderBy("time")


def rolling_stats(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    width: int,
    bucket_pw: int | None = None,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Trailing-window aggregates WITHOUT a serial per-stream window: for
    every distinct timestamp t of the stream in [start, end), the count,
    exact quantum-unit sum, and mean of all points in [t - width, t]
    (time-inclusive frame — duplicate-timestamp peers all included, the
    RANGE-frame semantics). The moving-average / event-rate signal a
    monitoring pipeline derives per point.

    Scale shape (the reason this operator exists instead of
    Window.orderBy.rangeBetween, which serializes a stream through one
    task): (1) a map-side-combined groupBy(time) collapses the point
    plane to distinct-time partials; (2) each partial is replicated to
    its own 2**pw bucket and the next (pw chosen so 2**pw >= width, hence
    any contributor of target t lives in t's bucket or the previous one);
    (3) one shuffle hash equi-join on the bucket key pairs targets with
    the ~2 buckets that can contribute, the exact [t-width, t] predicate
    filters, and a second groupBy(time) sums the partials. Every stage is
    key-parallel; the fan-out factor is exactly 2. The mean divides the
    exact int64 sum by the exact count in double (one division, one
    multiply) — bit-identical in any engine. Columns: time, cnt, sum_q,
    mean; ordered by time."""
    if width <= 0:
        raise ValueError("width must be positive")
    pw = bucket_pw if bucket_pw is not None else max(int(width).bit_length(), 1)
    if (1 << pw) < width:
        raise ValueError(f"2**bucket_pw ({1 << pw}) must be >= width ({width})")
    q = F.round(F.col("value") / F.lit(value_quantum)).cast("long")
    tt = (
        points.where(
            (F.col("uuid") == F.lit(uuid))
            & (F.col("time") >= F.lit(start))
            & (F.col("time") < F.lit(end))
        )
        .groupBy("time")
        .agg(F.count("*").alias("c"), F.sum(q).alias("sq"))
        .localCheckpoint(eager=True)  # feeds both join sides; one point scan
    )
    b = F.shiftright("time", pw)
    targets = tt.select(F.col("time").alias("t"), b.alias("tb"))
    contrib = tt.select(
        F.col("time").alias("qt"),
        "c",
        "sq",
        F.explode(F.array(b, b + F.lit(1))).alias("tb"),
    )
    rolled = (
        targets.join(contrib, "tb")
        .where((F.col("qt") <= F.col("t")) & (F.col("qt") >= F.col("t") - F.lit(width)))
        .groupBy("t")
        .agg(F.sum("c").alias("cnt"), F.sum("sq").alias("sum_q"))
    )
    mean = (
        F.col("sum_q").cast("double") / F.col("cnt").cast("double")
    ) * F.lit(value_quantum)
    return rolled.select(
        F.col("t").alias("time"), "cnt", "sum_q", mean.alias("mean")
    ).orderBy("time")


def asof_features(
    points: DataFrame,
    target_uuid: str,
    feature_uuid: str,
    start: int,
    end: int,
    width: int,
    bucket_pw: int | None = None,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Point-in-time-correct feature join: for every point of
    `target_uuid` in [start, end), the most recent trailing-`width`
    rolling stats of `feature_uuid` computed STRICTLY BEFORE the target
    time — the leakage-free feature lookup a training pipeline needs
    (a feature computed at t must never see the event at t). Targets
    preceding the first feature row keep null features.

    Composition, not new machinery: rolling_stats builds the feature
    stream (distinct-time partials, neighbor-bucket equi-join), the
    vectorized as-of carry (operators/nearest.py — backward-exclusive by
    the probes-sort-first tie rule) matches each target to its feature
    time, and a feature-time-keyed join re-attaches the full row. With
    `bucket_pw` the as-of window runs per (uuid, bucket) with the carry
    chain — no serial pass. Columns: target_time, feat_time, cnt, sum_q,
    mean; ordered by target_time."""
    from btrdb_server_spark.operators.nearest import nearest_asof

    feat = rolling_stats(
        points, feature_uuid, start, end, width, value_quantum=value_quantum
    ).localCheckpoint(eager=False)  # feeds the as-of union AND the join-back
    fpts = feat.select(
        F.lit("__f").alias("uuid"), "time", F.col("mean").alias("value")
    )
    probes = points.where(
        (F.col("uuid") == F.lit(target_uuid))
        & (F.col("time") >= F.lit(start))
        & (F.col("time") < F.lit(end))
    ).select(F.lit("__f").alias("uuid"), F.col("time").alias("probe_time"))
    m = nearest_asof(fpts, probes, backward=True, bucket_pw=bucket_pw)
    return (
        m.select(
            F.col("probe_time").alias("target_time"),
            F.col("time").alias("feat_time"),
        )
        .join(
            feat.select(
                F.col("time").alias("feat_time"), "cnt", "sum_q", "mean"
            ),
            "feat_time",
            "left",
        )
        .select("target_time", "feat_time", "cnt", "sum_q", "mean")
        .orderBy("target_time", "feat_time")
    )


def threshold_crossings(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    threshold: float,
    bucket_pw: int | None = None,
) -> DataFrame:
    """Alarm-edge detection: every point where the stream crosses
    `threshold` relative to its predecessor — 'up' when the point is at
    or above the threshold and its predecessor was below, 'down' for the
    reverse. The event feed a SCADA alarm plane derives from a raw
    signal. The first in-range point has no predecessor and never
    crosses. Values pass through untouched; the comparison is a plain
    IEEE >=, identical in any engine. Columns: time, value, prev_time,
    prev_value, direction; ordered by (time, value)."""
    lagged = _lagged(points, uuid, start, end, bucket_pw)
    above = F.col("value") >= F.lit(threshold)
    prev_above = F.col("prev_value") >= F.lit(threshold)
    return (
        lagged.where(F.col("prev_time").isNotNull() & (above != prev_above))
        .select(
            "time",
            "value",
            "prev_time",
            "prev_value",
            F.when(above, F.lit("up")).otherwise(F.lit("down")).alias("direction"),
        )
        .orderBy("time", "value")
    )


def excursions(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    threshold: float,
    min_points: int = 1,
    bucket_pw: int | None = None,
) -> DataFrame:
    """Threshold-excursion (dwell-time) report: one row per maximal run of
    consecutive points at or above `threshold` — when the excursion
    started and ended, how long the signal dwelt there, how many points,
    and the peak — the 'time above limit' table an alarm review or a
    regulatory report asks for. Complements threshold_crossings (the
    edges) with the islands between them.

    Scale shape: the shared gap-and-islands assignment
    (_assign_run_ids) keyed on the above/below STATE change; with
    bucket_pw the run index rides the (uuid, bucket) carry chain. The
    per-run aggregate is map-side combined on run_id. Columns: t_start,
    t_end, duration_ns, n_points, v_max; ordered by t_start."""
    lagged = _lagged(points, uuid, start, end, bucket_pw)
    above = F.col("value") >= F.lit(threshold)
    prev_above = F.col("prev_value") >= F.lit(threshold)
    new_run = (F.col("prev_time").isNull() | (above != prev_above)).cast("long")
    assigned = _assign_run_ids(
        lagged.withColumn("ab", above), new_run, bucket_pw, carry=("ab",)
    )
    return (
        assigned.where(F.col("ab"))
        .groupBy("run_id")
        .agg(
            F.min("time").alias("t_start"),
            F.max("time").alias("t_end"),
            (F.max("time") - F.min("time")).alias("duration_ns"),
            F.count("*").alias("n_points"),
            F.max("value").alias("v_max"),
        )
        .where(F.col("n_points") >= F.lit(min_points))
        .select("t_start", "t_end", "duration_ns", "n_points", "v_max")
        .orderBy("t_start")
    )


def sdt_compress(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    tolerance: float,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Swinging-door trending (SDT) — the PI-historian flagship
    compression: keep a point only when the line from the last STORED
    point (the pivot) can no longer pass within `tolerance` of every
    point seen since. The envelope is the classic pair of slopes (the
    'doors'): each new point narrows [slope_lo, slope_hi] through
    (value ± tolerance); when the doors cross, the PREVIOUS point is
    stored, becomes the pivot, and the envelope restarts. The final
    point is always stored. Complements deadband_compress (value-step
    exceptions) with trend-aware linear segments.

    Exactness: duplicate timestamps first collapse to their max value
    (deterministic both engines); every slope is one IEEE-double division
    of two exact int64s (quanta numerator, ns denominator — times
    strictly increase after the collapse, so no zero/NaN), and min/max +
    one comparison per step are bit-identical in any engine: the kept
    set is engine-exact.

    Execution: unlike deadband (whose kept set is tiny), SDT's output
    grows with the input, and a Catalyst higher-order fold must carry
    the kept array through every step — O(n^2) copying, measured 18 s at
    20k points. The fold is therefore an Arrow-batched applyInPandas of
    operators/fold.sdt_fold, the step streaming_sdt folds too (O(n), the
    documented seam for sequential set-emitting folds —
    Python floats are the same IEEE binary64, so the kept set is
    unchanged). Per-stream interactive ranges; chunk by time or serve
    plots from the ladder's decimation at 100 TB. Columns: time, value;
    ordered by time."""
    if tolerance <= 0:
        raise ValueError("tolerance must be positive")
    eq = round(tolerance / value_quantum)
    src = (
        points.where(
            (F.col("uuid") == F.lit(uuid))
            & (F.col("time") >= F.lit(start))
            & (F.col("time") < F.lit(end))
        )
        .groupBy("time")
        .agg(F.max("value").alias("value"))
        .select(
            "time",
            "value",
            F.round(F.col("value") / F.lit(value_quantum)).cast("long").alias("q"),
        )
    )

    def final(state: tuple, out: dict) -> dict:
        # a finite range stores its last point (the stream twin never does)
        tl, vl = state[2], state[4]
        if out["time"][-1] != tl:
            out["time"].append(tl)
            out["value"].append(vl)
        return out

    return fold_batch(
        src, [F.lit(1).alias("g")], sdt_fold(eq), "time long, value double", final
    ).orderBy("time")


def exact_percentiles(
    values: DataFrame,
    col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    n_label: str = "n",
    min_label: str = "v_min",
    max_label: str = "v_max",
) -> DataFrame:
    """EXACT type-1 (no-interpolation) percentiles of one integer column,
    plus count/min/max — one output row. Engine-exact: p_q = the smallest
    value whose cumulative count reaches ceil(q * n).

    Scale shape: the selection runs on the DISTINCT-VALUE histogram
    (groupBy with map-side combine), so the single cumulative window is
    value-domain-scale — far below row scale whenever the column is
    quantized (gap ns, latency ns, counts)."""
    labels = [f"p{q * 100:g}".replace(".", "_") for q in qs]
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate quantile labels from qs={qs}")
    h = values.groupBy(F.col(col).alias("_v")).agg(F.count("*").alias("_c"))
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = h.select("_v", F.sum("_c").over(w).alias("_cum"))
    total = h.agg(
        F.sum("_c").alias("_n"), F.min("_v").alias("_lo"), F.max("_v").alias("_hi")
    )
    picks = [
        F.min(
            F.when(
                F.col("_cum") >= F.ceil(F.col("_n").cast("double") * F.lit(q)),
                F.col("_v"),
            )
        ).alias(lbl)
        for q, lbl in zip(qs, labels)
    ]
    return (
        cum.crossJoin(F.broadcast(total))
        .groupBy("_n", "_lo", "_hi")
        .agg(*picks)
        .select(
            F.col("_n").alias(n_label),
            F.col("_lo").alias(min_label),
            F.col("_hi").alias(max_label),
            *labels,
        )
    )


def interarrival_stats(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    bucket_pw: int | None = None,
) -> DataFrame:
    """Inter-arrival-time distribution of one stream: count, min, max and
    EXACT type-1 percentiles (see exact_percentiles) of the gaps between
    consecutive points — the cadence fingerprint that tells a regular
    1-Hz feed from a bursty event stream at a glance. All-integer output
    (ns). The bucketed lag produces gaps without a serial window.
    Columns: n_gaps, g_min, g_max, p<q>... ; one row."""
    lagged = _lagged(points, uuid, start, end, bucket_pw)
    g = lagged.where(F.col("prev_time").isNotNull()).select(
        (F.col("time") - F.col("prev_time")).alias("g")
    )
    return exact_percentiles(
        g, "g", qs, n_label="n_gaps", min_label="g_min", max_label="g_max"
    )


def holt_forecast(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    width: int,
    alpha: float = 0.25,
    beta: float = 0.125,
) -> DataFrame:
    """Holt double exponential smoothing per window: fold the window's
    points left-to-right through

        level' = a*x + (1-a)*(level + trend)
        trend' = b*(level' - level) + (1-b)*trend

    seeded with level = first value, trend = 0, and emit the window's final
    state plus the one-step-ahead forecast level+trend — the trend-aware
    smoother behind capacity forecasts, where plain EWMA lags ramps.
    Columns: time (window start), n, level, trend, forecast; windows with
    no points are omitted (hole semantics follow AlignedWindows,
    qtree/qtree.go:925 - empty windows are not emitted).

    Exactness: the fold is a fixed IEEE op sequence over the sorted window
    (time, then value tiebreak), bit-reproducible in any engine that
    replays the same order — the DuckDB oracle does, op for op (same
    duplicated level' subexpression in the trend update, so even the
    rounding of the intermediate matches). Defaults a=1/4, b=1/8 are exact
    binary fractions.

    Scale shape: one map-side collect_list per window; per-task work is one
    window's points. Like ewma's bucket path, Holt is an affine (2x2
    matrix) recurrence, so windows could compose associatively for
    unbounded spans — not needed while windows are bounded."""
    if width <= 0:
        raise ValueError("window width must be positive")
    a, b = F.lit(alpha), F.lit(1.0 - alpha)
    g, h = F.lit(beta), F.lit(1.0 - beta)
    src = points.where(
        (F.col("uuid") == F.lit(uuid))
        & (F.col("time") >= F.lit(start))
        & (F.col("time") < F.lit(end))
    ).select(
        F.expr(f"(time - ({start})) div {width}").alias("widx"),
        F.struct("time", "value").alias("p"),
    )
    arr = F.array_sort(F.collect_list("p")).alias("arr")
    folded = src.groupBy("widx").agg(arr, F.count("*").alias("n"))

    first_v = F.element_at(F.col("arr"), 1)["value"]
    init = F.struct(first_v.alias("l"), F.lit(0.0).alias("tr"))
    rest = F.slice(
        F.col("arr"), 2, F.greatest(F.size(F.col("arr")) - 1, F.lit(0))
    )

    def step(acc, x):
        # level' appears twice (once for l, once inside tr) — the oracle
        # duplicates the same subexpression so intermediate rounding matches.
        lp = a * x["value"] + b * (acc["l"] + acc["tr"])
        return F.struct(
            lp.alias("l"),
            (g * (lp - acc["l"]) + h * acc["tr"]).alias("tr"),
        )

    fin = F.aggregate(rest, init, step)
    return (
        folded.select(
            (F.lit(start) + F.col("widx") * F.lit(width)).alias("time"),
            F.col("n"),
            fin["l"].alias("level"),
            fin["tr"].alias("trend"),
            (fin["l"] + fin["tr"]).alias("forecast"),
        )
        .orderBy("time")
    )


def holt_smooth(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    alpha: float = 0.25,
    beta: float = 0.125,
) -> DataFrame:
    """Per-point Holt double exponential smoothing of one stream (the flat
    companion of holt_forecast's per-window finals, and the batch oracle
    for streaming_holt): every input point with its running (level, trend)
    state. Columns: time, value, level, trend; ordered by time.

    Same exactness contract as ewma's flat path: one sorted fold per
    stream, a fixed IEEE op sequence the DuckDB oracle replays op-for-op.
    Bounded interactive ranges only — the scale paths are holt_forecast
    (per-window, embarrassingly parallel) or, for unbounded per-point
    output, the affine 2x2-matrix composition noted there."""
    # Same shape as ewma's flat path: one Arrow-shipped fold per stream
    # through the step streaming_holt folds too (operators/fold.holt_fold),
    # replacing the O(n^2) array-growing Catalyst fold (measured 9.4 s ->
    # ~0.6 s for a 6k-point stream at sf0.1; guide §4.2). The op sequence
    # is the identical IEEE chain — lp computed once and reused in the
    # trend update, (l + tr) parenthesized exactly as before — and the
    # sort matches array_sort's (time, value) struct order, so the
    # emission stays bit-equal to the DuckDB oracle's op-for-op replay.
    src = points.where(
        (F.col("uuid") == F.lit(uuid))
        & (F.col("time") >= F.lit(start))
        & (F.col("time") < F.lit(end))
    ).select("uuid", "time", "value")
    return fold_batch(
        src,
        ["uuid"],
        holt_fold(alpha, beta),
        "time long, value double, level double, trend double",
    ).orderBy("time")


def kalman_level(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    width: int,
    q_var: float = 0.25,
    r_var: float = 4.0,
) -> DataFrame:
    """Kalman filter, local-level model, per window: fold the window's
    points through

        P~ = P + q                      (predict)
        K  = P~ / (P~ + r)              (gain)
        x' = x + K·(z - x)              (update)
        P' = (1 - K)·P~

    seeded with x = first value, P = r, and emit the window's final
    (level, p_var, gain) — the optimal denoiser for a drifting sensor
    under Gaussian assumptions, and the third member of the sequential-
    smoother family next to ewma (fixed gain) and holt (trend-aware).
    Columns: time, n, level, p_var, gain; empty windows omitted.

    Exactness: identical contract to holt_forecast — a fixed IEEE op
    sequence over the sorted window, with every reused intermediate (P~,
    K) expanded to the SAME duplicated subexpression on both engines, so
    intermediate rounding matches bit-for-bit. Defaults q=1/4, r=4 are
    exact binary fractions. Scale shape: one map-side collect_list per
    window, per-task work bounded by the window."""
    if width <= 0:
        raise ValueError("window width must be positive")
    qv, rv = F.lit(q_var), F.lit(r_var)
    src = points.where(
        (F.col("uuid") == F.lit(uuid))
        & (F.col("time") >= F.lit(start))
        & (F.col("time") < F.lit(end))
    ).select(
        F.expr(f"(time - ({start})) div {width}").alias("widx"),
        F.struct("time", "value").alias("p"),
    )
    folded = src.groupBy("widx").agg(
        F.array_sort(F.collect_list("p")).alias("arr"), F.count("*").alias("n")
    )
    first_v = F.element_at(F.col("arr"), 1)["value"]
    # acc = [x, P, K] — plain array accumulator (engine-portable; see the
    # DuckDB struct-accumulator note on holt_forecast's oracle).
    init = F.array(first_v, rv.cast("double"), F.lit(0.0))
    rest = F.slice(
        F.col("arr"), 2, F.greatest(F.size(F.col("arr")) - 1, F.lit(0))
    )

    def step(acc, x):
        z = x["value"]
        xp, pp = F.element_at(acc, 1), F.element_at(acc, 2)
        ppred = pp + qv
        k = ppred / (ppred + rv)
        return F.array(
            xp + k * (z - xp),
            (F.lit(1.0) - k) * ppred,
            k,
        )

    fin = F.aggregate(rest, init, step)
    return (
        folded.select(
            (F.lit(start) + F.col("widx") * F.lit(width)).alias("time"),
            F.col("n"),
            F.element_at(fin, 1).alias("level"),
            F.element_at(fin, 2).alias("p_var"),
            F.element_at(fin, 3).alias("gain"),
        )
        .orderBy("time")
    )


def burstiness(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    bucket_pw: int | None = None,
) -> DataFrame:
    """Goh-Barabási burstiness of one stream's inter-arrival gaps:
    B = (σ − μ)/(σ + μ) ∈ [−1, 1] — B≈−1 a metronome, B≈0 Poisson,
    B→1 heavy bursts — the single number that tells a polled feed from an
    event-driven one (the cadence summary interarrival_stats' percentiles
    approximate visually). One row: n_gaps, mean_ns, std_ns, b.

    Exactness: gap count/sum/sum-of-squares are exact integers
    (decimal(38,0) for Σg²); μ, σ and B are a fixed double op sequence
    (σ uses the population form √(Σg²/n − μ²), computed exactly as
    written). Same bucketed-lag scale path as gaps/rate."""
    lagged = _lagged(points, uuid, start, end, bucket_pw)
    g = lagged.where(F.col("prev_time").isNotNull()).select(
        (F.col("time") - F.col("prev_time")).alias("g")
    )
    agg = g.agg(
        F.count("*").alias("n_gaps"),
        F.sum("g").alias("sg"),
        F.sum(F.col("g").cast("decimal(38,0)") * F.col("g")).alias("sgg"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mu = d("sg") / d("n_gaps")
    sig = F.sqrt(d("sgg") / d("n_gaps") - mu * mu)
    return agg.select(
        "n_gaps",
        mu.alias("mean_ns"),
        sig.alias("std_ns"),
        ((sig - mu) / (sig + mu)).alias("b"),
    )


def max_drawdown(
    points: DataFrame,
    start: int,
    end: int,
    bucket_pw: int = 36,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Per-stream maximum drawdown over [start, end): the largest
    peak-to-trough decline max_t(runmax(t) - v(t)), on exact integer
    quanta so the result is order-independent. Duplicate timestamps are
    ordered (time, value) in BOTH engine and oracle — the only source of
    ambiguity in a running max — making the statistic deterministic.

    Scale shape: the running max NEVER serializes a stream through one
    task. Within each (uuid, 2**bucket_pw) bucket a bounded window
    computes the in-bucket running max; across buckets the carry is pure
    algebra on bucket-scale rows — for prefix peak P and bucket members,
    max_t(max(P, runmax_in(t)) - v(t)) = max(in-bucket best, P - bucket
    min) — so the cross-bucket pass is one lag-style window over one row
    per non-empty bucket (the derive.py carry-chain pattern). Columns:
    uuid, n_points, dd_q, drawdown."""
    q = F.round(F.col("value") / F.lit(value_quantum)).cast("long")
    src = points.where(
        (F.col("time") >= F.lit(start)) & (F.col("time") < F.lit(end))
    ).select(
        "uuid",
        "time",
        q.alias("q"),
        F.shiftright("time", bucket_pw).alias("bucket"),
    )
    w_in = Window.partitionBy("uuid", "bucket").orderBy("time", "q")
    pts = src.withColumn("rm", F.max("q").over(w_in))
    per_bucket = pts.groupBy("uuid", "bucket").agg(
        F.max("q").alias("bmax"),
        F.min("q").alias("bmin"),
        F.max(F.col("rm") - F.col("q")).alias("ibest"),
        F.count("*").alias("n"),
    )
    w_prev = (
        Window.partitionBy("uuid")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = per_bucket.withColumn("peak", F.max("bmax").over(w_prev))
    best = F.greatest(
        F.col("ibest"), F.coalesce(F.col("peak") - F.col("bmin"), F.lit(0))
    )
    agg = carried.groupBy("uuid").agg(
        F.sum("n").alias("n_points"), F.max(best).alias("dd_q")
    )
    return agg.select(
        "uuid",
        "n_points",
        "dd_q",
        (F.col("dd_q").cast("double") * F.lit(value_quantum)).alias("drawdown"),
    ).orderBy("uuid")
