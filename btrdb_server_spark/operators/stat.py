"""Statistical queries: AlignedWindows (power-of-two buckets) and Windows
(arbitrary-width tumbling windows with hole emission and depth-bounded
approximation).

Reference semantics:
- AlignedWindows(uuid, start, end, pw): one StatPoint {bucket_start, min,
  mean, max, count} per 2**pw-ns bucket (aligned to multiples of 2**pw)
  intersecting the floored range; start and end are masked down to bucket
  boundaries and end is decremented (quasar.go:285-289); EMPTY BUCKETS ARE
  OMITTED (qtree/qtree.go:930-947).
- Windows(uuid, start, end, width, depth): tumbling windows of arbitrary ns
  width from start; end rounded down so only whole windows are emitted
  (quasar.go:328-330); HOLES ARE EMITTED as count=0 records
  (qtree/qtree.go:1149-1179); depth>0 stops tree descent at 2**depth-ns
  buckets, trading boundary accuracy for speed (qtree.go:1112-1148).

Spark-first: both are single groupBy aggregations over an integer-arithmetic
bucket key — shiftright for aligned (arithmetic shift = floor division, valid
for the negative half of the time domain), floor-div for arbitrary width.
Spark's partial->final aggregation is exactly the reference's per-subtree
partial StatRecord merge (merger.go:132-214), so the plan map-side combines
before the shuffle: at 100 TB the shuffle carries one row per (uuid, bucket),
not per point. Hole emission joins a generated window spine (sequence+explode)
against the aggregate — the spine side is tiny and broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from btrdb_server_spark.constants import MAX_PW
from btrdb_server_spark.operators.raw import time_range_pred


def _stat_agg():
    """The closed aggregate set {min, mean, max, count} (qtree.go:802-808)."""
    return [
        F.min("value").alias("min"),
        F.avg("value").alias("mean"),
        F.max("value").alias("max"),
        F.count("value").alias("count"),
    ]


def align_floor(t: int, pw: int) -> int:
    """t &^ ((1<<pw)-1) — floor to a 2**pw boundary (works for negatives,
    matching Go's bit-clear on two's complement; qtree_utils.go:404-411)."""
    return t & ~((1 << pw) - 1)


def aligned_windows(
    points: DataFrame, uuid: str, start: int, end: int, pw: int
) -> DataFrame:
    """One StatPoint per aligned 2**pw bucket in [floor(start), floor(end));
    empty buckets omitted. Columns: time (bucket start), min, mean, max, count."""
    if not 0 <= pw <= MAX_PW:
        raise ValueError(f"pointwidth {pw} out of range [0, {MAX_PW}]")  # quasar.go:277
    fstart = align_floor(start, pw)
    fend = align_floor(end, pw)  # buckets with start in [fstart, fend) are returned
    return (
        points.where((F.col("uuid") == F.lit(uuid)) & time_range_pred(fstart, fend))
        .groupBy(F.shiftleft(F.shiftright("time", pw), pw).alias("time"))
        .agg(*_stat_agg())
        .orderBy("time")
    )


def windows(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    width: int,
    depth: int = 0,
    value_quantum: float | None = None,
) -> DataFrame:
    """Tumbling windows [start + k*width, start + (k+1)*width) for whole
    windows only; count=0 holes emitted. depth>0 pre-buckets points to
    2**depth-aligned buckets first (the reference's bounded-descent
    approximation: a boundary bucket lands wholly in the window containing its
    start). Columns: time (window start), min, mean, max, count.

    `value_quantum`: when the data is known to be quantized (e.g. 0.01 for
    2-decimal values), the depth-path mean is computed from integer multiples
    of the quantum — int64 sums are exactly associative, so the result is
    bit-identical under ANY partitioning / aggregation order / engine. At
    1000 executors a float double-sum (sum of per-bucket sums) is
    accumulation-order-dependent; the quantized path removes that whole
    nondeterminism surface for sensor-style fixed-point data."""
    if width <= 0:
        raise ValueError("window width must be positive")
    if not 0 <= depth <= 63:
        raise ValueError("window depth invalid")  # quasar.go:318
    end = end - (end - start) % width  # quasar.go:328-330
    if start >= end:
        raise ValueError("start >= end after rounding")
    n_windows = (end - start) // width

    src = points.where((F.col("uuid") == F.lit(uuid)) & time_range_pred(start, end))
    if depth > 0:
        # Bounded descent: a point belongs to the 2**depth bucket aligned to
        # the query start, and that bucket belongs WHOLLY to the window
        # containing its start (approximation contract; start-relative
        # alignment keeps every bucket inside [0, n_windows) so no points
        # are dropped). The window index is therefore a pure FUNCTION of the
        # point's time — one aggregation, not a bucket pre-agg feeding a
        # window agg: min/max/count/sum are associative, so collapsing the
        # two stages is exact, and with value_quantum the int64 sum makes
        # the mean bit-identical to the two-stage form under any order.
        # Integer `div`, never float division: at offsets beyond 2**52 ns
        # (~52 days — well inside the 146-year domain) casting the offset
        # to double rounds by whole nanoseconds, misassigning points that
        # land within that error of a window boundary. The whole index
        # computation stays in int64.
        widx = F.expr(
            f"(shiftleft(shiftright(time - ({start}), {depth}), {depth}))"
            f" div {width}"
        )
        sum_agg = (
            F.sum(F.round(F.col("value") / F.lit(value_quantum), 0).cast("long"))
            if value_quantum is not None
            else F.sum("value")
        ).alias("vsum")
        mean_expr = (
            (F.col("vsum") * F.lit(value_quantum)) / F.col("count")
            if value_quantum is not None
            else F.col("vsum") / F.col("count")
        )
        agg = (
            src.groupBy(widx.alias("widx"))
            .agg(
                F.min("value").alias("min"),
                sum_agg,
                F.max("value").alias("max"),
                F.count("value").alias("count"),
            )
            .select("widx", "min", mean_expr.alias("mean"), "max", "count")
        )
    else:
        agg = (
            # int64 div (offset is non-negative in-range): exact over the
            # full time domain, unlike floor(double division) — see above.
            src.withColumn("widx", F.expr(f"(time - ({start})) div {width}"))
            .groupBy("widx")
            .agg(*_stat_agg())
        )

    return spine_join(agg, start, width, n_windows)


# Spine rows per partition: a Windows answer of up to this many windows is
# generated in ONE partition (~60 MB of JSON pages at most); a longer one
# spreads over more, so its pages still reach the driver a partition at a
# time.
SPINE_ROWS_PER_TASK = 1 << 20


def spine_join(agg: DataFrame, start: int, width: int, n_windows: int) -> DataFrame:
    """Windows' answer from its per-window aggregate `agg` (widx, min,
    mean, max, count): the spine of every k in [0, n_windows) left-joined
    with `agg`, so holes become count=0 rows (qtree.go:1149-1179), sorted
    by time. Over a partitioned read `agg` is broadcast, so the points are
    shuffled once, by widx. When `agg` is already one partition — a small
    single-stream read — a broadcast would cost a Spark job of its own, so
    the join is shuffled-hash instead: with the spine also one partition,
    the join and the sort plan no exchange and the answer is one job."""
    spine = agg.sparkSession.range(
        0, n_windows, numPartitions=max(1, -(-n_windows // SPINE_ROWS_PER_TASK))
    ).select(F.col("id").alias("widx"))
    # planned, not run: a coalesce(1) below the aggregate makes its output
    # one partition; a file scan's partitioning is unknown (0)
    one_partition = (
        agg._jdf.queryExecution().sparkPlan().outputPartitioning().numPartitions()
        == 1
    )
    return (
        spine.join(agg.hint("shuffle_hash") if one_partition else agg, "widx", "left")
        .select(
            (F.lit(start) + F.col("widx") * F.lit(width)).alias("time"),
            F.col("min"),
            F.col("mean"),
            F.col("max"),
            F.coalesce(F.col("count"), F.lit(0)).alias("count"),
        )
        .orderBy("time")
    )


def aligned_windows_all_streams(
    points: DataFrame, start: int, end: int, pw: int
) -> DataFrame:
    """Fleet variant: stats per (uuid, bucket) for every stream in one pass —
    the scan pattern a 100 TB rollup build uses (see plans/rollup.py)."""
    fstart = align_floor(start, pw)
    fend = align_floor(end, pw)
    return (
        points.where(time_range_pred(fstart, fend))
        .groupBy("uuid", F.shiftleft(F.shiftright("time", pw), pw).alias("time"))
        .agg(*_stat_agg())
    )


def aligned_quantiles(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    pw: int,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Extension beyond the reference's closed Min/Mean/Max/Count set
    (qtree.go:802-808): exact linear-interpolation quantiles per aligned
    2**pw bucket — the percentile-latency view every ops dashboard wants
    from a stream. Not servable from the rollup ladder (quantiles are not
    associative); this is the documented raw-scan path, same single
    pushed-down groupBy shape as AlignedWindows. For cheap coarse serving
    at scale, swap percentile() for approx_percentile (t-digest) and
    accept the documented error bound."""
    if not 0 <= pw <= MAX_PW:
        raise ValueError(f"pointwidth {pw} out of range [0, {MAX_PW}]")
    fstart = align_floor(start, pw)
    fend = align_floor(end, pw)
    # Label from the full decimal so e.g. 0.99 -> p99, 0.999 -> p99_9,
    # 0.125 -> p12_5 (int truncation would collide 0.99/0.999 at 'p99').
    labels = [f"p{q * 100:g}".replace(".", "_") for q in qs]
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate quantile labels from qs={qs}")
    aggs = [
        F.expr(f"percentile(value, {q})").alias(lbl) for q, lbl in zip(qs, labels)
    ] + [F.count("value").alias("count")]
    return (
        points.where((F.col("uuid") == F.lit(uuid)) & time_range_pred(fstart, fend))
        .groupBy(F.shiftleft(F.shiftright("time", pw), pw).alias("time"))
        .agg(*aggs)
        .orderBy("time")
    )


def decimate_envelope(
    points: DataFrame, uuid: str, start: int, end: int, pw: int
) -> DataFrame:
    """Plot-resolution decimation: per aligned 2**pw bucket emit the
    min-value and max-value points (exact times preserved) — the envelope a
    plotter draws so spikes can't vanish between pixels, the raw-point
    complement of the min/max the reference pre-stores in every tree node
    (blocktypes.go:112-117) and serves for zoomed-out plots. Ties break to
    the earliest time, so the result is engine-deterministic.

    Scale shape: both extremes ride ONE groupBy as lexicographic struct
    min/max — a map-side-combinable partial aggregate (no window sort, no
    second shuffle); the shuffle carries one pre-reduced row per bucket per
    map task and the output is <= 2 rows per bucket at any input density."""
    if not 0 <= pw <= MAX_PW:
        raise ValueError(f"pointwidth {pw} out of range [0, {MAX_PW}]")
    fstart = align_floor(start, pw)
    fend = align_floor(end, pw)
    base = points.where(
        (F.col("uuid") == F.lit(uuid)) & time_range_pred(fstart, fend)
    ).select(F.shiftleft(F.shiftright("time", pw), pw).alias("bucket"), "time", "value")
    # min struct(value, time): smallest value, tie -> earliest time.
    # max struct(value, -time): largest value, tie -> earliest time.
    agg = base.groupBy("bucket").agg(
        F.min(F.struct(F.col("value"), F.col("time"))).alias("lo"),
        F.max(F.struct(F.col("value"), (-F.col("time")).alias("nt"))).alias("hi"),
    )
    # explode (not a self-union) so the aggregate subplan appears ONCE in
    # the plan — a union of two selects over `agg` would scan and aggregate
    # the input twice (verified: no exchange reuse even under AQE).
    return agg.select(
        "bucket",
        F.explode(
            F.array(
                F.struct(
                    F.lit("min").alias("kind"),
                    F.col("lo.time").alias("time"),
                    F.col("lo.value").alias("value"),
                ),
                F.struct(
                    F.lit("max").alias("kind"),
                    (-F.col("hi.nt")).alias("time"),
                    F.col("hi.value").alias("value"),
                ),
            )
        ).alias("e"),
    ).select("bucket", "e.kind", "e.time", "e.value").orderBy("bucket", "kind")


def value_histogram(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    bin_width: float = 0.25,
) -> DataFrame:
    """Value-distribution histogram for one stream over [start, end): one
    row per non-empty bin of width `bin_width`, the stat-plane complement
    to the time-bucketed Min/Mean/Max/Count set (what an ops dashboard
    plots to spot sensor saturation / bimodality). Columns: bin (index,
    floor(value / bin_width)), bin_lo (inclusive lower edge), cnt.

    Exactness contract: use a power-of-two bin_width (0.25, 0.5, 1, 2...)
    so value / bin_width is an exact double operation — bin indexes are
    then bit-identical in any engine. One map-side-combined groupBy; the
    shuffle carries one row per non-empty bin.
    """
    from math import frexp

    mant, _ = frexp(bin_width)
    if mant != 0.5:
        raise ValueError("bin_width must be a power of two for exact binning")
    src = points.where((F.col("uuid") == F.lit(uuid)) & time_range_pred(start, end))
    return (
        src.groupBy(F.floor(F.col("value") / F.lit(bin_width)).alias("bin"))
        .agg(F.count("*").alias("cnt"))
        .select("bin", (F.col("bin") * F.lit(bin_width)).alias("bin_lo"), "cnt")
        .orderBy("bin")
    )


def anomaly_zscore(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    pw: int,
    threshold: float = 3.0,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Bucket-local z-score outliers: points whose value deviates from
    their aligned 2**pw bucket's mean by more than `threshold` population
    standard deviations — the first-line anomaly screen over telemetry
    (spike/dropout detection with a locally adaptive baseline, served from
    the same single-scan shape as AlignedWindows).

    Exactness: per-bucket moments accumulate in integer quantum units
    (n, sum q, sum q^2 — int64-exact, order-independent), and the z-score
    is computed from them without ever forming a float mean or variance:

        z = (q*n - sq) / sqrt(n*sqq - sq^2)

    — numerator and radicand are exact int64 (bounded by bucket size *
    quantum-range^2; a 2**40-ns bucket of cent-quantized values is far
    inside the 9.2e18 ceiling), so the double division / sqrt / compare
    sequence is bit-identical in any engine. Zero-variance buckets emit
    nothing (every point equals the mean).

    Scale shape: ONE groupBy for the moments (map-side combined, one row
    per bucket) joined back to the scan — the join key is the bucket, so
    with AQE the moment side broadcasts; no window function, no sort."""
    if not 0 <= pw <= MAX_PW:
        raise ValueError(f"pointwidth {pw} out of range [0, {MAX_PW}]")
    fstart = align_floor(start, pw)
    fend = align_floor(end, pw)
    src = points.where(
        (F.col("uuid") == F.lit(uuid)) & time_range_pred(fstart, fend)
    ).select(
        "time",
        "value",
        F.shiftleft(F.shiftright("time", pw), pw).alias("bucket"),
        F.round(F.col("value") / F.lit(value_quantum)).cast("long").alias("q"),
    )
    moments = src.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    radicand = F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq")
    z = (F.col("q") * F.col("n") - F.col("sq")).cast("double") / F.sqrt(
        radicand.cast("double")
    )
    return (
        src.join(moments, "bucket")
        .where(radicand > 0)
        .select("time", "value", z.alias("zscore"), F.col("bucket").alias("bucket_time"))
        .where(F.abs(F.col("zscore")) > F.lit(threshold))
        .orderBy("time")
    )


def lttb_decimate(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    pw: int,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets plot decimation, mean-anchor variant:
    per aligned 2**pw bucket keep the ONE point forming the largest
    triangle with the NEIGHBOR BUCKETS' mean points — the shape-preserving
    downsample plotting stacks use where min/max envelopes over-plot
    (Steinarsson 2013). Classic LTTB anchors on the previously SELECTED
    point (a sequential chain); anchoring on the neighbor bucket means is
    the standard parallel approximation — every bucket's choice is
    independent, so the whole pass is one aggregation, no cross-bucket
    order. Buckets missing a left (right) neighbor keep their earliest
    (latest) point, like LTTB pins the series endpoints.

    Exactness: times enter as int64 offsets from the range floor (< 2**52
    for any real range, so their doubles are exact); anchor means divide
    int64 sums once; the area determinant is a fixed IEEE sequence on
    those doubles — bit-identical in any engine. Ties (equal area, then
    equal time) break to earliest time, then largest value.

    Scale shape: one groupBy for bucket moments (map-side combined, one
    row per bucket), joined back shifted by ±1 (bucket-scale side —
    broadcast under AQE), one groupBy argmax via lexicographic struct max.
    No window functions, no sort until the final bucket-count-sized
    orderBy."""
    if not 0 <= pw <= MAX_PW:
        raise ValueError(f"pointwidth {pw} out of range [0, {MAX_PW}]")
    fstart = align_floor(start, pw)
    fend = align_floor(end, pw)
    src = points.where(
        (F.col("uuid") == F.lit(uuid)) & time_range_pred(fstart, fend)
    ).select(
        "time",
        "value",
        F.shiftright("time", pw).alias("bkt"),
        (F.col("time") - F.lit(fstart)).alias("toff"),
        F.round(F.col("value") / F.lit(value_quantum)).cast("long").alias("q"),
    )
    # localCheckpoint: the moments table joins back twice (prev and next
    # neighbor) — unmaterialized, each side re-runs the point-scale
    # scan+groupBy. It is bucket-count-sized, so pinning costs KBs and
    # leaves exactly two passes over the points (moments + selection).
    moms = (
        src.groupBy("bkt")
        .agg(
            F.sum("toff").alias("st"),
            F.sum("q").alias("sq"),
            F.count("*").alias("cnt"),
        )
        .localCheckpoint(eager=True)
    )
    prev = moms.select(
        (F.col("bkt") + 1).alias("bkt"),
        F.col("st").alias("pst"),
        F.col("sq").alias("psq"),
        F.col("cnt").alias("pcnt"),
    )
    nxt = moms.select(
        (F.col("bkt") - 1).alias("bkt"),
        F.col("st").alias("nst"),
        F.col("sq").alias("nsq"),
        F.col("cnt").alias("ncnt"),
    )
    j = src.join(prev, "bkt", "left").join(nxt, "bkt", "left")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    qv = F.lit(value_quantum)
    ta = d("pst") / d("pcnt")
    va = (d("psq") / d("pcnt")) * qv
    tb = d("nst") / d("ncnt")
    vb = (d("nsq") / d("ncnt")) * qv
    tp = d("toff")
    vp = d("q") * qv
    area = F.abs((ta - tb) * (vp - va) - (ta - tp) * (vb - va))
    key = (
        F.when(F.col("pcnt").isNotNull() & F.col("ncnt").isNotNull(), area)
        .when(F.col("pcnt").isNull(), -tp)  # no left neighbor: earliest
        .otherwise(tp)  # no right neighbor: latest
    )
    picked = (
        j.select(
            "bkt",
            F.struct(
                key.alias("k"),
                (-F.col("toff")).alias("negtoff"),
                F.col("value").alias("v"),
            ).alias("cand"),
        )
        .groupBy("bkt")
        .agg(F.max("cand").alias("best"))
    )
    return picked.select(
        F.shiftleft(F.col("bkt"), pw).alias("bucket_time"),
        (F.lit(fstart) - F.col("best.negtoff")).alias("time"),
        F.col("best.v").alias("value"),
    ).orderBy("time")


def trend_ols(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    width: int,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Per-window least-squares trend: slope (value units per second) and
    intercept (value at the window start) of the OLS line through the
    window's points — the drift detector behind every "rate of change of
    the daily average" panel, and the regression aggregate the reference's
    closed min/mean/max/count set cannot express.

    Exactness: all five sufficient statistics are exact integers —
    t offsets from the window start in int64, values in quantum units;
    sum(t), sum(q), n in int64 and the big products sum(t*t), sum(t*q) in
    decimal(38,0) (a day of ns offsets squared overflows int64; 38 digits
    hold the closed form's n*Stt products for windows up to ~a month of
    ns offsets). The closed-form

        slope = (n*Sty - St*Sy) / (n*Stt - St*St)

    computes numerator and denominator EXACTLY in decimal, then converts
    each to double through an explicit two-limb 2^52 split
    (sign * (double(|x| div 2^52) * 2^52 + double(|x| mod 2^52))): both
    limbs are int64 (hardware-correct casts in every engine), the scale
    is a power of two (exact multiply), and the one add rounds once — so
    the conversion is the same IEEE sequence everywhere. A plain
    decimal/hugeint -> double cast is NOT portable above 2^53: engines
    disagree by 1 ulp (DuckDB's hugeint cast vs the JVM's BigDecimal —
    surfaced by the first full sf0.1 oracle sweep). Windows with fewer
    than 2 distinct times emit null slope/intercept.

    Scale shape: one map-side-combined groupBy, one row per window on the
    shuffle; the spine join is window-count-sized and broadcast."""
    if width <= 0:
        raise ValueError("window width must be positive")
    end = end - (end - start) % width
    if start >= end:
        raise ValueError("start >= end after rounding")
    q = round(1.0 / value_quantum)
    src = points.where(
        (F.col("uuid") == F.lit(uuid)) & time_range_pred(start, end)
    ).select(
        F.expr(f"(time - ({start})) div {width}").alias("widx"),
        (
            (F.col("time") - F.lit(start))
            - F.expr(f"((time - ({start})) div {width}) * {width}")
        ).alias("t"),
        F.round(F.col("value") / F.lit(value_quantum)).cast("long").alias("vq"),
    )
    agg = src.groupBy("widx").agg(
        F.count("*").alias("n"),
        F.sum("t").alias("st"),
        F.sum("vq").alias("sy"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("t")).alias("stt"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("vq")).alias("sty"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    # exact integer numerator / denominator (den >= 0 by Cauchy-Schwarz)
    agg = agg.select(
        "widx",
        "n",
        "st",
        "sy",
        (dec("n") * F.col("sty") - dec("st") * F.col("sy")).alias("num"),
        (dec("n") * F.col("stt") - dec("st") * F.col("st")).alias("den"),
    )
    LIMB = 4503599627370496  # 2^52

    def limb_double(c: str):
        """Engine-portable exact-integer -> double conversion (see
        docstring): sign * (double(|x| div 2^52) * 2^52 + double(|x| mod
        2^52)); mirrored verbatim in the DuckDB oracle."""
        q_d = F.expr(f"CAST((abs({c}) div {LIMB}) AS BIGINT)").cast("double")
        r_d = F.expr(f"CAST((abs({c}) % {LIMB}) AS BIGINT)").cast("double")
        sgn = F.when(F.col(c) < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
        return sgn * (q_d * F.lit(float(LIMB)) + r_d)

    agg = agg.select(
        "widx",
        "n",
        "st",
        "sy",
        "den",
        limb_double("num").alias("numd"),
        limb_double("den").alias("dend"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    slope_nsq = F.col("numd") / F.col("dend")
    # cents/ns -> value/s: * 1e9 / q (both exactly representable)
    slope = slope_nsq * F.lit(1.0e9) / F.lit(float(q))
    intercept = ((d("sy") - slope_nsq * d("st")) / d("n")) / F.lit(float(q))
    nonflat = F.col("den") > 0  # exact integer guard
    spark = points.sparkSession
    spine = spark.range(0, (end - start) // width).select(F.col("id").alias("widx"))
    return (
        spine.join(agg, "widx", "left")
        .select(
            (F.lit(start) + F.col("widx") * F.lit(width)).alias("time"),
            F.when(nonflat, slope).alias("slope_per_sec"),
            F.when(nonflat, intercept).alias("intercept"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
        .orderBy("time")
    )


# N(0,1) quartile breakpoints for a 4-letter SAX alphabet (Lin et al. 2003).
_SAX_BREAKPOINTS = (-0.6744897501960817, 0.0, 0.6744897501960817)


def sax_symbols(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    width: int,
    value_quantum: float = 0.01,
) -> DataFrame:
    """SAX symbolization (Lin et al. 2003): PAA-reduce the stream to one
    mean per tumbling window, z-normalize against the RANGE's global
    moments, and discretize into the 4-letter Gaussian-equiprobable
    alphabet a<b<c<d — the front end of motif discovery, novelty
    detection, and symbolic indexing over telemetry.

    Exactness: window sums and the global moments are exact int64 in
    quantum units; z is scale-invariant, so the quantum never converts
    out — z = (Sw/nw - S/n) / (sqrt(n*SQQ - S^2)/n) evaluates in double
    on exact integers (fixed IEEE sequence, engine-identical), and the
    breakpoint comparisons are against exact double literals, so the
    symbol assignment is bit-deterministic. Empty windows emit a null
    symbol (the hole contract of A2).

    Scale shape: one map-side-combined groupBy for the window sums; the
    global-moment side is one row, broadcast. No windows, no sorts until
    the window-count-sized orderBy."""
    if width <= 0:
        raise ValueError("window width must be positive")
    end = end - (end - start) % width
    if start >= end:
        raise ValueError("start >= end after rounding")
    src = points.where(
        (F.col("uuid") == F.lit(uuid)) & time_range_pred(start, end)
    ).select(
        F.expr(f"(time - ({start})) div {width}").alias("widx"),
        F.round(F.col("value") / F.lit(value_quantum)).cast("long").alias("q"),
    )
    wagg = src.groupBy("widx").agg(
        F.sum("q").alias("sw"), F.count("*").alias("nw")
    )
    gl = src.agg(
        F.count("*").alias("n"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    sigma_q = F.sqrt(
        (d("n") * d("sqq") - d("sq") * d("sq")).cast("double")
    ) / d("n")
    z = (d("sw") / d("nw") - d("sq") / d("n")) / sigma_q
    b1, b2, b3 = (F.lit(b) for b in _SAX_BREAKPOINTS)
    sym = (
        F.when(z < b1, "a").when(z < b2, "b").when(z < b3, "c").otherwise("d")
    )
    spark = points.sparkSession
    spine = spark.range(0, (end - start) // width).select(F.col("id").alias("widx"))
    return (
        spine.join(wagg, "widx", "left")
        .crossJoin(F.broadcast(gl))
        .select(
            (F.lit(start) + F.col("widx") * F.lit(width)).alias("time"),
            F.coalesce(F.col("nw"), F.lit(0)).alias("cnt"),
            F.when(F.col("nw").isNotNull(), z).alias("zscore"),
            F.when(F.col("nw").isNotNull(), sym).alias("symbol"),
        )
        .orderBy("time")
    )


def diurnal_profile(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Hour-of-day seasonality profile: per hour 0-23 (UTC), the count and
    integer-quantum mean of every reading that ever fell in that hour —
    the diurnal fingerprint (load curves, office-hours patterns) that
    `autocorr` detects and this operator describes. The mean rides the
    integer-quantum path: sum in int64 quanta, one double division — so
    the 24-row profile is bit-identical in any engine. Hours with no
    points emit cnt=0/null mean. Columns: hour, cnt, mean_q (quantum
    units, e.g. cents), mean (value units: mean_q * quantum).

    Scale shape: one map-side-combined groupBy on an integer expression;
    the 24-row spine joins broadcast."""
    src = points.where(
        (F.col("uuid") == F.lit(uuid)) & time_range_pred(start, end)
    ).select(
        F.expr("(time div 3600000000000) % 24").alias("hour"),
        F.round(F.col("value") / F.lit(value_quantum)).cast("long").alias("q"),
    )
    agg = src.groupBy("hour").agg(
        F.count("*").alias("cnt"), F.sum("q").alias("sq")
    )
    spark = points.sparkSession
    spine = spark.range(0, 24).select(F.col("id").alias("hour"))
    mean_q = F.col("sq").cast("double") / F.col("cnt").cast("double")
    return (
        spine.join(agg, "hour", "left")
        .select(
            "hour",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            mean_q.alias("mean_q"),
            (mean_q * F.lit(value_quantum)).alias("mean"),
        )
        .orderBy("hour")
    )


def ohlc_windows(
    points: DataFrame, uuid: str, start: int, end: int, pw: int
) -> DataFrame:
    """Candlestick read: per aligned 2**pw bucket the Open/High/Low/Close
    of one stream — the historian/finance downsample that keeps the first
    and last reading of each interval instead of (or alongside) the mean.
    Same bucket alignment and range masking as aligned_windows
    (quasar.go:285-289); empty buckets omitted.

    Open/close are defined by LEXICOGRAPHIC (time, value) order, so a
    duplicate-timestamp tie resolves deterministically (same rule as the
    dup-timestamp compat flag elsewhere): open = value of min
    struct(time, value), close = value of max struct(time, value).
    min/max over structs are declarative aggregates — the plan is ONE
    map-side-combined groupBy; the shuffle carries one 5-field row per
    (bucket), never per point. Struct-typed agg buffers do fall off
    whole-stage HashAggregate onto SortAggregate (per-partition sort by
    bucket key) — the deliberate trade: one sorted pass over the points
    beats the hash-friendly alternative (a primitive-only aggregate plus
    a SECOND point-scale join to resolve open/close ties), and the
    partial aggregate still collapses each partition to bucket-scale
    before the exchange (pinned in tests/test_plans.py). Values pass
    through untouched (no arithmetic), so output doubles are bit-exact in
    any engine. Columns: time (bucket start), open, high, low, close,
    cnt."""
    if not 0 <= pw <= MAX_PW:
        raise ValueError(f"pointwidth {pw} out of range [0, {MAX_PW}]")
    fstart = align_floor(start, pw)
    fend = align_floor(end, pw)
    return (
        points.where((F.col("uuid") == F.lit(uuid)) & time_range_pred(fstart, fend))
        .groupBy(F.shiftleft(F.shiftright("time", pw), pw).alias("time"))
        .agg(
            F.min(F.struct("time", "value")).alias("o"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("time", "value")).alias("c"),
            F.count("*").alias("cnt"),
        )
        .select(
            "time",
            F.col("o.value").alias("open"),
            "high",
            "low",
            F.col("c.value").alias("close"),
            "cnt",
        )
        .orderBy("time")
    )


def stream_profile(
    points: DataFrame,
    start: int,
    end: int,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Per-stream data-quality profile over [start, end): point count,
    distinct and duplicate timestamp counts, time extent, value extremes,
    and the exact quantum-unit value sum — the one-pass DQ report run
    before onboarding a feed (duplicate-timestamp pressure is what the
    reference's pw=0 truncation warning guards, qtree.go:692-699).

    Scale shape: two-level aggregation — (uuid, time) partials first, so
    map-side combine absorbs duplicate-heavy streams before any shuffle,
    then a per-uuid rollup of the partials. All-integer output except the
    untouched vmin/vmax pass-throughs. Columns: uuid, n_points,
    n_distinct_ts, n_dup_ts, t_min, t_max, vmin, vmax, sum_q."""
    q = F.round(F.col("value") / F.lit(value_quantum)).cast("long")
    per_ts = (
        points.where(time_range_pred(start, end))
        .groupBy("uuid", "time")
        .agg(
            F.count("*").alias("c"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.sum(q).alias("sq"),
        )
    )
    return (
        per_ts.groupBy("uuid")
        .agg(
            F.sum("c").alias("n_points"),
            F.count("*").alias("n_distinct_ts"),
            (F.sum("c") - F.count("*")).alias("n_dup_ts"),
            F.min("time").alias("t_min"),
            F.max("time").alias("t_max"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum("sq").alias("sum_q"),
        )
        .orderBy("uuid")
    )


def rate_anomaly(
    points: DataFrame,
    start: int,
    base_days: int,
    score_days: int,
    hour_ns: int,
    day_ns: int,
    z_cut: float = 3.0,
) -> DataFrame:
    """Event-RATE anomalies with a seasonal Poisson baseline: per
    (stream, hour-of-day) the baseline rate lambda comes from the first
    `base_days` days; every hour slot of the following `score_days` days
    is scored with the Anscombe variance-stabilized z
    z = 2*(sqrt(k + 3/8) - sqrt(lambda + 3/8)), ~N(0,1) under Poisson —
    the traffic-drop/spike pager rule. Zero-count hours are scored too
    (an outage IS the anomaly), via an hour spine per stream. One row
    per |z| >= z_cut: (uuid, time, hod, k, lam, z), ordered by uuid,
    time.

    Exactness end-to-end: counts are integers, lambda is one division by
    base_days, and sqrt is CORRECTLY ROUNDED in IEEE 754 — unlike
    ln/exp, both engines are bit-identical by spec, no libm UDF needed.
    Scale shape: two hour-grain groupBys (slot scale, far below point
    scale), a period-row-per-stream baseline broadcast, and a generated
    slot spine; raw points are read twice.

    The seasonal period is day_ns // hour_ns (24 for real hours/days) and
    is used consistently for the hour-of-day mapping, the baseline spine,
    and slot scoring; day_ns must be an exact multiple of hour_ns or the
    baseline lambda and the slot mapping would silently disagree."""
    if day_ns % hour_ns:
        raise ValueError(
            f"day_ns ({day_ns}) must be an exact multiple of hour_ns ({hour_ns})"
        )
    period = day_ns // hour_ns
    hod = F.expr(f"((time - ({start})) div {hour_ns}) % {period}")
    day = F.expr(f"(time - ({start})) div {day_ns}")
    base_end = start + base_days * day_ns
    score_end = start + (base_days + score_days) * day_ns
    base_cnt = (
        points.where(time_range_pred(start, base_end))
        .select("uuid", hod.alias("hod"))
        .groupBy("uuid", "hod")
        .agg(F.count("*").alias("c"))
    )
    uuids = points.where(time_range_pred(start, base_end)).select("uuid").distinct()
    hod_spine = uuids.crossJoin(
        F.broadcast(
            points.sparkSession.range(0, period).select(F.col("id").alias("hod"))
        )
    )
    lam = hod_spine.join(base_cnt, ["uuid", "hod"], "left").select(
        "uuid",
        "hod",
        (
            F.coalesce(F.col("c"), F.lit(0)).cast("double")
            / F.lit(float(base_days))
        ).alias("lam"),
    )
    slot0 = base_days * (day_ns // hour_ns)
    slot1 = (base_days + score_days) * (day_ns // hour_ns)
    slot_spine = uuids.crossJoin(
        F.broadcast(
            points.sparkSession.range(slot0, slot1).select(F.col("id").alias("slot"))
        )
    )
    obs = (
        points.where(time_range_pred(base_end, score_end))
        .select("uuid", F.expr(f"(time - ({start})) div {hour_ns}").alias("slot"))
        .groupBy("uuid", "slot")
        .agg(F.count("*").alias("k"))
    )
    scored = (
        slot_spine.join(obs, ["uuid", "slot"], "left")
        .select(
            "uuid",
            "slot",
            F.coalesce(F.col("k"), F.lit(0)).alias("k"),
            (F.col("slot") % period).alias("hod"),
        )
        .join(F.broadcast(lam), ["uuid", "hod"])
    )
    z = F.lit(2.0) * (
        F.sqrt(F.col("k").cast("double") + F.lit(0.375))
        - F.sqrt(F.col("lam") + F.lit(0.375))
    )
    return (
        scored.select(
            "uuid",
            (F.lit(start) + F.col("slot") * F.lit(hour_ns)).alias("time"),
            "hod",
            "k",
            "lam",
            z.alias("z"),
        )
        .where(F.abs(F.col("z")) >= F.lit(z_cut))
        .orderBy("uuid", "time")
    )


def mad_anomaly(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    pw: int,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-bucket anomalies: points whose deviation from their
    aligned 2**pw bucket's MEDIAN exceeds k x MAD (median absolute
    deviation) — the outlier detector that, unlike anomaly_zscore, is not
    itself dragged by the outliers it hunts (a stuck spike inflates a
    stddev but barely moves a median). Exact interpolated medians via
    percentile(), deviations and the k*mad threshold are plain IEEE
    arithmetic: engine-deterministic.

    Scale shape: two bucket-keyed groupBy medians, each BROADCAST back
    onto the point scan (bucket-scale tables — no point-scale shuffle,
    no window); the median aggregate's exchange is computed once and
    reused (ReusedExchange at runtime under AQE). The pruned two-column
    scan runs three times — the classic two-pass-MAD tradeoff, chosen
    over materializing a point-scale intermediate. Columns:
    bucket, time, value, med, mad, dev; ordered by (time, value).
    Complements the rollup-servable closed aggregate set
    (qtree.go:802-808) on the documented raw-scan path."""
    if not 0 <= pw <= MAX_PW:
        raise ValueError(f"pointwidth {pw} out of range [0, {MAX_PW}]")
    fstart = align_floor(start, pw)
    fend = align_floor(end, pw)
    base = points.where(
        (F.col("uuid") == F.lit(uuid)) & time_range_pred(fstart, fend)
    ).select(
        F.shiftleft(F.shiftright("time", pw), pw).alias("bucket"), "time", "value"
    )
    med = base.groupBy("bucket").agg(F.expr("percentile(value, 0.5)").alias("med"))
    dev = base.join(med, "bucket").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("bucket").agg(F.expr("percentile(dev, 0.5)").alias("mad"))
    return (
        dev.join(mad, "bucket")
        .where(F.col("dev") > F.lit(k) * F.col("mad"))
        .select("bucket", "time", "value", "med", "mad", "dev")
        .orderBy("time", "value")
    )


def benford_digits(
    points: DataFrame,
    start: int,
    end: int,
    value_quantum: float = 0.01,
) -> DataFrame:
    """First-significant-digit distribution per stream — the Benford's-law
    fraud/DQ probe (natural measurements lean on small leading digits; a
    fabricated or clipped feed does not). The digit comes from the
    QUANTIZED integer value's decimal string — integer-to-string is
    exact and identical in every engine, where floor(log10(double))
    risks a 1-ulp flip at powers of ten. Zero-quantum points carry no
    leading digit and are excluded.

    Scale shape: one map-side-combined groupBy on the (stream x 9-digit)
    domain; the per-stream totals join is stream-scale (AQE broadcasts
    it). Columns: uuid, digit, cnt, freq (cnt/total, one double
    division); ordered by (uuid, digit)."""
    q = F.round(F.col("value") / F.lit(value_quantum)).cast("long")
    digit = F.substring(F.abs(q).cast("string"), 1, 1).cast("long")
    base = (
        points.where(time_range_pred(start, end))
        .select("uuid", q.alias("q"), digit.alias("digit"))
        .where(F.col("q") != 0)
    )
    counts = base.groupBy("uuid", "digit").agg(F.count("*").alias("cnt"))
    totals = counts.groupBy("uuid").agg(F.sum("cnt").alias("total"))
    return (
        counts.join(totals, "uuid")
        .select(
            "uuid",
            "digit",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total").cast("double")).alias(
                "freq"
            ),
        )
        .orderBy("uuid", "digit")
    )


def coverage_report(
    points: DataFrame,
    start: int,
    end: int,
    cadence: int,
) -> DataFrame:
    """Per-stream availability/SLA report against a declared cadence: of
    the (end-start)/cadence expected slots in [start, end), how many
    hold at least one point, the longest outage run (consecutive empty
    slots), and the coverage ratio — the uptime table an operations
    review reads. All-integer except the one coverage division.

    Scale shape: one map-side-combined groupBy(uuid, slot) collapse to
    DISTINCT occupied slots (slot-scale, far below point scale), then a
    bucketed neighbor-lag per stream on that slot table for the longest
    run — the window rides the already-tiny distinct-slot frame.
    Columns: uuid, n_expected, n_present, n_points, longest_gap_slots,
    coverage; ordered by uuid."""
    from pyspark.sql import Window

    if cadence <= 0 or end <= start:
        raise ValueError("coverage_report needs cadence > 0 and end > start")
    n_expected = (end - start + cadence - 1) // cadence
    slots = (
        points.where(time_range_pred(start, end))
        # int64 div, never float: a double (time - start) rounds whole ns
        # beyond 2**52 and misassigns boundary points (see windows()).
        .select("uuid", F.expr(f"(time - ({start})) div {cadence}").alias("slot"))
        .groupBy("uuid", "slot")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("uuid").orderBy("slot")
    runs = slots.select(
        "uuid",
        "slot",
        "c",
        (F.col("slot") - F.lag("slot").over(w)).alias("jump"),
    )
    # longest run of empty slots: max(jump) - 1 over interior gaps, plus
    # the leading gap (first slot) and trailing gap (after last slot).
    per = runs.groupBy("uuid").agg(
        F.count("*").alias("n_present"),
        F.sum("c").alias("n_points"),
        F.coalesce(F.max(F.col("jump") - 1), F.lit(0)).alias("interior"),
        F.min("slot").alias("first_slot"),
        F.max("slot").alias("last_slot"),
    )
    longest = F.greatest(
        F.col("interior"),
        F.col("first_slot"),
        F.lit(n_expected) - 1 - F.col("last_slot"),
    )
    return per.select(
        "uuid",
        F.lit(n_expected).alias("n_expected"),
        "n_present",
        "n_points",
        longest.alias("longest_gap_slots"),
        (F.col("n_present").cast("double") / F.lit(float(n_expected))).alias(
            "coverage"
        ),
    ).orderBy("uuid")


def winsorized_stats(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Robust location summary of one stream: exact type-1 percentile cut
    points at lo_q/hi_q and the WINSORIZED mean (values clamped into
    [p_lo, p_hi] before averaging) next to the raw mean — the outlier-
    resistant number an SLO dashboard shows when a telemetry feed throws
    occasional 1000x spikes. One row: n, p_lo, p_hi, win_mean, mean.

    Exactness: the quantized-value histogram makes every piece integer —
    cut points are histogram values, the clamped sum is Σ clamp(vq)*cnt in
    int64 — and each emitted double is one fixed op sequence over exact
    integers (mirrored by the oracle).

    Scale shape: identical to exact_percentiles (operators/derive.py) —
    the groupBy collapses to the distinct-value histogram with map-side
    combine, the single cumulative window runs at value-domain scale, and
    the clamp pass re-scans the HISTOGRAM (not the points) against the
    broadcast 1-row cut-point table."""
    if not 0.0 < lo_q < hi_q < 1.0:
        raise ValueError("need 0 < lo_q < hi_q < 1")
    h = (
        points.where(
            (F.col("uuid") == F.lit(uuid))
            & (F.col("time") >= F.lit(start))
            & (F.col("time") < F.lit(end))
        )
        .select(F.round(F.col("value") / F.lit(value_quantum)).cast("long").alias("vq"))
        .groupBy("vq")
        .agg(F.count("*").alias("c"))
    )
    w = Window.orderBy("vq").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = h.select("vq", "c", F.sum("c").over(w).alias("cum"))
    total = h.agg(F.sum("c").alias("n"), F.sum(F.col("vq") * F.col("c")).alias("s"))

    def pick(q: float):
        return F.min(
            F.when(
                F.col("cum") >= F.ceil(F.col("n").cast("double") * F.lit(q)),
                F.col("vq"),
            )
        )

    cuts = (
        cum.crossJoin(F.broadcast(total))
        .groupBy("n", "s")
        .agg(pick(lo_q).alias("lo"), pick(hi_q).alias("hi"))
    )
    qd = float(round(1.0 / value_quantum))
    wsum = (
        h.crossJoin(F.broadcast(cuts))
        .groupBy("n", "s", "lo", "hi")
        .agg(
            F.sum(
                F.least(F.greatest(F.col("vq"), F.col("lo")), F.col("hi")) * F.col("c")
            ).alias("ws")
        )
    )
    return wsum.select(
        F.col("n"),
        (F.col("lo").cast("double") / F.lit(qd)).alias("p_lo"),
        (F.col("hi").cast("double") / F.lit(qd)).alias("p_hi"),
        (F.col("ws").cast("double") / F.col("n") / F.lit(qd)).alias("win_mean"),
        (F.col("s").cast("double") / F.col("n") / F.lit(qd)).alias("mean"),
    )


def twa_hold(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    width: int,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Time-weighted average with step-hold interpolation, the classic
    historian aggregate (PI-style "timeweighted"): each point's value is
    held until the next point; a window's TWA is Σ value·held_ns over the
    window divided by the covered nanoseconds. Irregular sampling stops
    biasing the mean toward chatty periods — the reason historians default
    to TWA, and a semantic the reference's count-weighted stat nodes
    (qtree operators.go mean = sum/count) cannot express. Columns: time,
    covered_ns, twa; windows with no coverage are omitted (hole
    semantics). The range's last point holds to `end`.

    Exactness: numerator Σ vq·overlap_ns runs in decimal(38,0) integer
    units, coverage in int64; the TWA is one double division of exact
    integers. A held segment spanning k windows is exploded to its k
    (window, overlap) fragments — the same bounded-fan-out trick as
    interval_join's exploded-bucket path, so no window ever needs its
    neighbors. The lead() pairing is a flat per-stream window (bounded
    interactive ranges; the carry-chain pattern of operators/nearest.py
    is the scale path, as for gaps/rate)."""
    from pyspark.sql import Window as W

    if width <= 0:
        raise ValueError("window width must be positive")
    src = points.where(
        (F.col("uuid") == F.lit(uuid)) & time_range_pred(start, end)
    ).select(
        "time",
        F.round(F.col("value") / F.lit(value_quantum)).cast("long").alias("vq"),
        F.col("value").alias("v"),
    )
    w = W.orderBy("time", "v")
    seg = src.select(
        F.col("time").alias("s"),
        F.coalesce(F.lead("time").over(w), F.lit(end)).alias("e"),
        "vq",
    ).where(F.col("e") > F.col("s"))
    frag = seg.select(
        "s",
        "e",
        "vq",
        F.explode(
            F.sequence(
                F.expr(f"(s - ({start})) div {width}"),
                F.expr(f"(e - 1 - ({start})) div {width}"),
            )
        ).alias("widx"),
    ).select(
        "widx",
        "vq",
        (
            F.least(F.col("e"), F.lit(start) + (F.col("widx") + 1) * F.lit(width))
            - F.greatest(F.col("s"), F.lit(start) + F.col("widx") * F.lit(width))
        ).alias("ov"),
    )
    q = float(round(1.0 / value_quantum))
    agg = frag.groupBy("widx").agg(
        F.sum(F.col("vq").cast("decimal(38,0)") * F.col("ov")).alias("num"),
        F.sum("ov").alias("cov"),
    )
    return agg.select(
        (F.lit(start) + F.col("widx") * F.lit(width)).alias("time"),
        F.col("cov").alias("covered_ns"),
        (
            F.col("num").cast("double") / F.col("cov").cast("double") / F.lit(q)
        ).alias("twa"),
    ).orderBy("time")


def variance_decompose(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    period_ns: int = 3_600_000_000_000,
    n_groups: int = 24,
    value_quantum: float = 0.01,
) -> DataFrame:
    """One-way variance decomposition of a stream by cyclic phase group
    (default hour-of-day): SS_total = SS_between + SS_within, and the
    seasonal strength SS_between/SS_total — "how much of this feed's
    variance is just the daily cycle", the quantitative companion to the
    diurnal_profile eyeball. One row: n, ss_total, ss_group, ss_resid,
    strength (value² units).

    Exactness: Σv and Σv² run on integer quantum units (decimal(38,0) —
    order-free); the only float accumulation, Σ_g T_g²/n_g over the
    n_groups group terms, is a SORTED fold over a fixed-size array (the
    markov_entropy discipline), so every double op has a fixed order and
    the result is engine-exact.

    Scale shape: one map-side-combined groupBy(phase) — group count is the
    period resolution, not data size; everything after is a 1-row fold."""
    grp = F.expr(f"(time div {period_ns}) % {n_groups}")
    src = points.where(
        (F.col("uuid") == F.lit(uuid)) & time_range_pred(start, end)
    ).select(
        grp.alias("g"),
        F.round(F.col("value") / F.lit(value_quantum)).cast("long").alias("vq"),
    )
    per_g = src.groupBy("g").agg(
        F.count("*").alias("n_g"),
        F.sum("vq").alias("t_g"),
        F.sum(F.col("vq").cast("decimal(38,0)") * F.col("vq")).alias("ssq_g"),
    )
    # per-group between-term T_g^2/n_g as a double, folded in g order
    term = (
        F.col("t_g").cast("double") * F.col("t_g").cast("double")
        / F.col("n_g").cast("double")
    )
    folded = per_g.select(
        F.struct("g", term.alias("bt")).alias("s"),
        "n_g",
        "t_g",
        "ssq_g",
    ).agg(
        F.array_sort(F.collect_list("s")).alias("arr"),
        F.sum("n_g").alias("n"),
        F.sum("t_g").alias("t"),
        F.sum("ssq_g").alias("ssq"),
    )
    between_raw = F.aggregate(
        F.col("arr"), F.lit(0.0), lambda acc, x: acc + x["bt"]
    )
    q2 = float(round(1.0 / value_quantum)) ** 2
    grand = (
        F.col("t").cast("double") * F.col("t").cast("double")
        / F.col("n").cast("double")
    )
    ss_total = F.col("ssq").cast("double") - grand
    ss_between = between_raw - grand
    return folded.select(
        F.col("n"),
        (ss_total / F.lit(q2)).alias("ss_total"),
        (ss_between / F.lit(q2)).alias("ss_group"),
        ((ss_total - ss_between) / F.lit(q2)).alias("ss_resid"),
        (ss_between / ss_total).alias("strength"),
    )


# Poisson(1) cumulative thresholds on the integer 2^32 grid: k(u) = #{m :
# u >= T[m]} for a 32-bit hash u. Python-computed once, shared verbatim
# with the SQL oracle — resampling decisions are pure integer compares.
def _poisson1_thresholds(kmax: int = 8) -> list[int]:
    import math as _m

    cum, out, p = 0.0, [], _m.exp(-1.0)
    for k in range(kmax):
        cum += p
        out.append(round(cum * 2**32))
        p /= k + 1
    return out


def bootstrap_ci(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    replicates: int = 200,
    lo_q: float = 0.025,
    hi_q: float = 0.975,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the stream mean: each of
    `replicates` resamples includes every point k~Poisson(1) times, where
    k comes from a salted 32-bit md5 hash against PRECOMPUTED integer
    thresholds — resampling is deterministic, engine-portable, and needs
    no shared-state RNG (the property that makes the bootstrap
    distributable at all; Poisson bootstrap is the standard trick for
    exactly this reason). One row: n, b, mean, ci_lo, ci_hi (type-1
    percentile picks of the replicate means at lo_q/hi_q).

    Exactness: every replicate's mean is Σk·vq / Σk over exact integers —
    one double division — and the CI bounds are order-statistic PICKS,
    not accumulations. Scale shape: one explode (×replicates) feeding a
    map-side-combined groupBy(replicate) — the shuffle carries `replicates`
    rows; the pick windows run on the B-row table."""
    if replicates < 2:
        raise ValueError("need >= 2 replicates")
    thresholds = _poisson1_thresholds()
    from btrdb_server_spark.utils import ensure_parallelism

    # The x`replicates` explode below fans every point out 200x; a
    # single-file scan otherwise runs that whole stage on ONE task
    # (measured: 1 scan partition at sf0.1 -> the explode+threshold stage
    # serialized on one core). Replicate sums are exact int64s, so the
    # repartition cannot move a bit; a well-partitioned corpus makes the
    # guard a no-op (guide §2.5 input skew).
    src = ensure_parallelism(
        points.where(
            (F.col("uuid") == F.lit(uuid)) & time_range_pred(start, end)
        ).select(
            "time",
            F.round(F.col("value") / F.lit(value_quantum)).cast("long").alias("vq"),
            F.col("value").alias("v"),
        )
    )
    # ONE md5 per point, then a per-replicate 32-bit LCG mix: 200x fewer
    # digest evaluations than hashing (replicate, point) pairs, same
    # engine-portable determinism (integer multiply/add/mod only).
    h = F.conv(
        F.substring(
            F.md5(
                # vq not v: integer decimal strings render identically in
                # every engine; double-to-string formatting does not.
                F.concat_ws(":", F.lit("boot"), F.col("time"), F.col("vq"))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    rep = src.select(
        "time",
        "vq",
        h.alias("h"),
        F.explode(F.sequence(F.lit(0), F.lit(replicates - 1))).alias("r"),
    )
    u = (F.col("h") * F.lit(69069) + F.col("r") * F.lit(362437)) % F.lit(
        4294967296
    )
    k = None
    for t in thresholds:
        term = F.when(u >= F.lit(t), F.lit(1)).otherwise(F.lit(0))
        k = term if k is None else k + term
    # n and tv ride the SAME replicate aggregation: every replicate group
    # holds exactly one row per source point, so count(*) = n and
    # sum(vq) = tv in EVERY group — a separate src.agg(count, sum) branch
    # was a second full corpus scan (the broadcast boundary blocks
    # exchange reuse, same defect as the replicate-count branch fixed
    # earlier). Exact integers either way.
    means = (
        rep.select("r", "vq", k.alias("k"))
        .groupBy("r")
        .agg(
            F.sum(F.col("k") * F.col("vq")).alias("skv"),
            F.sum("k").alias("sk"),
            F.count("*").alias("n"),
            F.sum("vq").alias("tv"),
        )
        .where(F.col("sk") > 0)
        .select(
            "r",
            (
                F.col("skv").cast("double")
                / F.col("sk").cast("double")
                / F.lit(float(round(1.0 / value_quantum)))
            ).alias("m"),
            "n",
            "tv",
        )
    )
    # The replicate count b rides the SAME window pass as the running
    # count (identical partition/order spec -> one Window operator): a
    # separate means.agg(count) branch re-executed the whole explode x B
    # + groupBy pipeline a second time (the plan carried the Generate
    # subtree twice; ReusedExchange could not fire across the broadcast).
    w = Window.orderBy("m", "r")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = means.select(
        "m",
        F.count("*").over(w_run).alias("cum"),
        F.count("*").over(w_all).alias("b"),
        # n/tv are identical on every means row; max over the same
        # whole-table window frame carries them through the picks without
        # the old base branch's second corpus scan + crossJoin.
        F.max("n").over(w_all).alias("n"),
        F.max("tv").over(w_all).alias("tv"),
    )
    picks = (
        cum.groupBy("b")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.col("b").cast("double") * F.lit(lo_q)),
                    F.col("m"),
                )
            ).alias("ci_lo"),
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.col("b").cast("double") * F.lit(hi_q)),
                    F.col("m"),
                )
            ).alias("ci_hi"),
            F.max("n").alias("n"),
            F.max("tv").alias("tv"),
        )
    )
    q = float(round(1.0 / value_quantum))
    return picks.select(
        "n",
        "b",
        (F.col("tv").cast("double") / F.col("n").cast("double") / F.lit(q)).alias(
            "mean"
        ),
        "ci_lo",
        "ci_hi",
    )


def psi_drift(
    points: DataFrame,
    uuid: str,
    ref_start: int,
    ref_end: int,
    cur_start: int,
    cur_end: int,
    bins: int = 10,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Population-stability-index drift report between a reference and a
    current period of one stream: bin edges are the REFERENCE deciles
    (exact type-1 picks on the quantized-value histogram), both periods
    are counted into those fixed bins, and
    PSI = Σ_b (p_cur − p_ref)·ln(p_cur/p_ref) with Laplace-smoothed
    probabilities (k+1)/(n+bins) so empty current bins stay finite —
    the ML-monitoring staple for "did this feature's distribution move
    between training and serving". One row per bin: (bin, n_ref, n_cur,
    psi_term, psi); psi is the total, repeated.

    Exactness: edges and counts are integers; probabilities are fixed
    divisions; the only float accumulation (Σ psi_term over `bins` terms)
    is a SORTED fold. Scale shape: two histogram groupBys (value-domain
    scale), one cut-point window, broadcast edge table everywhere."""
    if bins < 2:
        raise ValueError("need >= 2 bins")

    def hist(lo: int, hi: int) -> DataFrame:
        return (
            points.where(
                (F.col("uuid") == F.lit(uuid)) & time_range_pred(lo, hi)
            )
            .select(
                F.round(F.col("value") / F.lit(value_quantum))
                .cast("long")
                .alias("vq")
            )
            .groupBy("vq")
            .agg(F.count("*").alias("c"))
        )

    # ONE eager checkpoint of the reference histogram (value-domain
    # scale): its pipeline had two consumers — the cut-point broadcast
    # build and binned(href) — and the broadcast boundary blocks exchange
    # reuse, so the reference period was scanned twice. The checkpoint
    # replaces both replays with one scan (same fix as
    # chi2_independence's cells table).
    href = hist(ref_start, ref_end).localCheckpoint(eager=True)
    hcur = hist(cur_start, cur_end)
    # nr rides the SAME window pass as the running sum (identical
    # partition/order spec -> one Window operator): a separate
    # href.agg(sum) branch re-executed the reference histogram pipeline
    # a second time (same defect and fix as bootstrap_ci's replicate
    # count — the broadcast boundary blocks exchange reuse).
    wspec = Window.orderBy("vq")
    w_run = wspec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = wspec.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = href.select(
        "vq", F.sum("c").over(w_run).alias("cum"), F.sum("c").over(w_all).alias("nr")
    )
    picks = [
        F.min(
            F.when(
                F.col("cum")
                >= F.ceil(F.col("nr").cast("double") * F.lit(k / bins)),
                F.col("vq"),
            )
        ).alias(f"c{k}")
        for k in range(1, bins)
    ]
    cuts = cum.groupBy("nr").agg(*picks)

    def binned(h: DataFrame, label: str) -> DataFrame:
        b = None
        for k in range(1, bins):
            term = F.when(F.col("vq") >= F.col(f"c{k}"), F.lit(1)).otherwise(
                F.lit(0)
            )
            b = term if b is None else b + term
        return (
            h.crossJoin(F.broadcast(cuts))
            .select(b.cast("long").alias("bin"), "c")
            .groupBy("bin")
            .agg(F.sum("c").alias(label))
        )

    spark = points.sparkSession
    spine = spark.range(0, bins).select(F.col("id").alias("bin"))
    both = (
        spine.join(binned(href, "n_ref"), "bin", "left")
        .join(binned(hcur, "n_cur"), "bin", "left")
        .select(
            "bin",
            F.coalesce(F.col("n_ref"), F.lit(0)).alias("n_ref"),
            F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
        )
    )
    # Totals and the sorted psi fold ride whole-table window passes over
    # the SAME ordered spec instead of two broadcast branches: the old
    # totals.agg + folded.agg each re-executed `both` — and with it the
    # current-period histogram scan — so the raw points were read three
    # extra times. Window sums over the 10-row bin table are the same
    # exact integer totals; the psi fold is the identical bin-sorted
    # array fold. Single-partition window is by design: the table is
    # bins-scale.
    w_bins = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    with_tot = both.select(
        "bin",
        "n_ref",
        "n_cur",
        F.sum("n_ref").over(w_bins).alias("tr"),
        F.sum("n_cur").over(w_bins).alias("tc"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pr = (d("n_ref") + F.lit(1.0)) / (d("tr") + F.lit(float(bins)))
    pc = (d("n_cur") + F.lit(1.0)) / (d("tc") + F.lit(float(bins)))
    terms = with_tot.select(
        "bin", "n_ref", "n_cur", ((pc - pr) * F.log(pc / pr)).alias("psi_term")
    )
    psi = F.aggregate(
        F.array_sort(
            F.collect_list(F.struct("bin", "psi_term")).over(w_bins)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x["psi_term"],
    )
    return terms.select(
        "bin", "n_ref", "n_cur", "psi_term", psi.alias("psi")
    ).orderBy("bin")


def psi_timeline(
    points: DataFrame,
    uuid: str,
    ref_start: int,
    ref_end: int,
    cur_start: int,
    cur_end: int,
    day_ns: int,
    bins: int = 10,
    value_quantum: float = 0.01,
) -> DataFrame:
    """PSI drift monitor over TIME: reference deciles are frozen once
    (exact type-1 picks on the reference histogram, like psi_drift), then
    every day of the current period is scored against them — the
    production dashboard that turns psi_drift's one-shot comparison into
    the "when did the feature start moving" curve. One row per day:
    (day, n_cur, psi), day indexed from ref_start in day_ns units.

    Exactness: edges/counts integer; probabilities fixed divisions;
    ln is the libm pandas UDF (engine parity on every term, not just at
    benign values); each day's Σ over bins is a bin-SORTED fold. Scale
    shape: one reference histogram + cut-point window (value-domain
    scale), one (day, vq) histogram for the whole current period, a
    broadcast cut table, and a (days x bins)-row fold — the raw points
    are read exactly twice."""
    import math as _math

    from btrdb_server_spark.utils import libm_ln

    _ln = libm_ln(strict=True)  # libm shim; raises on nonpositive — matches DuckDB bit-exactly

    if bins < 2:
        raise ValueError("need >= 2 bins")
    vq = F.round(F.col("value") / F.lit(value_quantum)).cast("long")
    # ONE eager checkpoint of the reference histogram (value-domain
    # scale): its pipeline had two consumers — the cut-point broadcast
    # build and ref_bins — and the broadcast boundary blocks exchange
    # reuse, so the reference period was scanned twice (same fix as
    # psi_drift / chi2_independence).
    href = (
        points.where(
            (F.col("uuid") == F.lit(uuid)) & time_range_pred(ref_start, ref_end)
        )
        .select(vq.alias("vq"))
        .groupBy("vq")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    # nr rides the SAME window pass as the running sum (identical
    # partition/order spec -> one Window operator): a separate
    # href.agg(sum) branch re-executed the reference histogram pipeline
    # a second time (same defect and fix as bootstrap_ci's replicate
    # count — the broadcast boundary blocks exchange reuse).
    wspec = Window.orderBy("vq")
    w_run = wspec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = wspec.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = href.select(
        "vq", F.sum("c").over(w_run).alias("cum"), F.sum("c").over(w_all).alias("nr")
    )
    picks = [
        F.min(
            F.when(
                F.col("cum")
                >= F.ceil(F.col("nr").cast("double") * F.lit(k / bins)),
                F.col("vq"),
            )
        ).alias(f"c{k}")
        for k in range(1, bins)
    ]
    cuts = cum.groupBy("nr").agg(*picks)

    def bin_of():
        b = None
        for k in range(1, bins):
            term = F.when(F.col("vq") >= F.col(f"c{k}"), F.lit(1)).otherwise(F.lit(0))
            b = term if b is None else b + term
        return b.cast("long")

    ref_bins = (
        href.crossJoin(F.broadcast(cuts))
        .select(bin_of().alias("bin"), "c")
        .groupBy("bin")
        .agg(F.sum("c").alias("n_ref"))
    )
    # int64 div, never float: a double (time - ref_start) rounds whole ns
    # beyond 2**52 and misassigns boundary points (see windows()).
    day = F.expr(f"(time - ({ref_start})) div {day_ns}")
    cur = (
        points.where(
            (F.col("uuid") == F.lit(uuid)) & time_range_pred(cur_start, cur_end)
        )
        .select(day.alias("day"), vq.alias("vq"))
        .groupBy("day", "vq")
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(cuts))
        .select("day", bin_of().alias("bin"), "c")
        .groupBy("day", "bin")
        .agg(F.sum("c").alias("n_cur"))
    )
    spark = points.sparkSession
    d0 = (cur_start - ref_start) // day_ns
    d1 = (cur_end - ref_start + day_ns - 1) // day_ns
    spine = (
        spark.range(d0, d1)
        .select(F.col("id").alias("day"))
        .crossJoin(spark.range(0, bins).select(F.col("id").alias("bin")))
    )
    both = (
        spine.join(F.broadcast(ref_bins), "bin", "left")
        .join(cur, ["day", "bin"], "left")
        .select(
            "day",
            "bin",
            F.coalesce(F.col("n_ref"), F.lit(0)).alias("n_ref"),
            F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
        )
    )
    # Per-day totals ride a window over the SAME day partitioning instead
    # of a groupBy branch broadcast-joined back: the old tr build
    # re-executed `both` — and with it the whole current-period histogram
    # — a second time (broadcast boundary blocks exchange reuse). Window
    # sums over the (days x bins) table are the same exact integer
    # totals, and the final groupBy("day") reuses the window's
    # partitioning (guide §2.4).
    w_day = Window.partitionBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    with_tot = both.select(
        "day",
        "bin",
        "n_ref",
        "n_cur",
        F.sum("n_ref").over(w_day).alias("tr"),
        F.sum("n_cur").over(w_day).alias("tc"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pr = (d("n_ref") + F.lit(1.0)) / (d("tr") + F.lit(float(bins)))
    pc = (d("n_cur") + F.lit(1.0)) / (d("tc") + F.lit(float(bins)))
    terms = with_tot.select(
        "day",
        "bin",
        "n_cur",
        ((pc - pr) * _ln(pc / pr)).alias("psi_term"),
    )
    return (
        terms.groupBy("day")
        .agg(
            F.sum("n_cur").alias("n_cur"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("bin", "psi_term"))),
                F.lit(0.0),
                lambda acc, x: acc + x["psi_term"],
            ).alias("psi"),
        )
        .orderBy("day")
    )


def ks_test(
    points: DataFrame,
    uuid: str,
    a_start: int,
    a_end: int,
    b_start: int,
    b_end: int,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between two periods of one
    stream: D = max over the merged value domain of |ECDF_a − ECDF_b| —
    the bin-free drift test next to psi_drift's binned report. One row:
    n_a, n_b, d_stat, at_value (the value where the gap peaks; largest
    such value on ties).

    Exactness: ECDFs never materialize as floats — the maximized quantity
    is the INTEGER |n_b·cum_a(v) − n_a·cum_b(v)| on the distinct-value
    histogram, the argmax is a struct-max (deterministic tie-break), and
    D is one double division at the end. Scale shape: two value-domain
    histograms, one merged cumulative window, a single struct-max
    aggregate — nothing point-scale past the groupBys."""

    def hist(lo: int, hi: int, label: str) -> DataFrame:
        return (
            points.where(
                (F.col("uuid") == F.lit(uuid)) & time_range_pred(lo, hi)
            )
            .select(
                F.round(F.col("value") / F.lit(value_quantum))
                .cast("long")
                .alias("vq")
            )
            .groupBy("vq")
            .agg(F.count("*").alias(label))
        )

    ha, hb = hist(a_start, a_end, "ca"), hist(b_start, b_end, "cb")
    merged = ha.join(hb, "vq", "full").select(
        "vq",
        F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
    )
    # Totals ride the SAME window pass as the running sums (identical
    # partition/order spec -> one Window operator): the separate
    # merged.agg branch re-executed both histogram scans a second time
    # (broadcast boundaries block exchange reuse — the bootstrap_ci fix).
    wspec = Window.orderBy("vq")
    w_run = wspec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = wspec.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = merged.select(
        "vq",
        F.sum("ca").over(w_run).alias("cum_a"),
        F.sum("cb").over(w_run).alias("cum_b"),
        F.sum("ca").over(w_all).alias("n_a"),
        F.sum("cb").over(w_all).alias("n_b"),
    )
    gap = (
        F.col("n_b") * F.col("cum_a") - F.col("n_a") * F.col("cum_b")
    )
    best = (
        cum
        .select(
            "n_a",
            "n_b",
            F.struct(F.abs(gap).alias("g"), F.col("vq").alias("vq")).alias("cand"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.max("cand").alias("m"))
    )
    q = float(round(1.0 / value_quantum))
    return best.select(
        "n_a",
        "n_b",
        (
            F.col("m.g").cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double")
        ).alias("d_stat"),
        (F.col("m.vq").cast("double") / F.lit(q)).alias("at_value"),
    )


def moments_profile(
    points: DataFrame,
    start: int,
    end: int,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Per-stream shape profile over [start, end): mean, std, skewness
    and EXCESS kurtosis from exact integer raw moments of the quantized
    values — skew/kurtosis are scale-free, so the quantum-unit moments
    need no rescaling and every statistic is a fixed double expression
    over five exact integers (bit-identical in any engine, any
    aggregation order). The distribution-shape companion to
    stream_profile's DQ counts: a feed whose skew drifts is aging
    (tail growth) even while min/max/mean stay put.

    Integer sizing: q <= ~6e4 at the lake's value range, so q^2 and q^3
    fit int64 per element, but q^4 (~1e19) does NOT — the 4th power is
    assembled as decimal(38,0) * int64 BEFORE summing, and the 3rd/4th
    moment SUMS run in decimal(38,0) (q^3 partials overflow int64 at
    ~1e5 rows). One map-side-combined groupBy; no window, no second
    scan. Columns: uuid, n_points, mean, std, skewness, kurtosis_x
    (null when variance is zero)."""
    q = F.round(F.col("value") / F.lit(value_quantum)).cast("long")
    src = points.where(time_range_pred(start, end)).select(
        "uuid",
        q.alias("q"),
        (q * q).alias("q2"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = src.groupBy("uuid").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s1"),
        F.sum("q2").alias("s2"),
        F.sum(dec("q2") * F.col("q")).alias("s3"),
        F.sum(dec("q2") * F.col("q2")).alias("s4"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dn = d("n")
    mu = d("s1") / dn
    r2 = d("s2") / dn
    # s3/s4 live in decimal(38,0) (DuckDB: HUGEINT) — and HUGEINT->DOUBLE
    # is NOT correctly rounded in DuckDB (observed 2-ulp truncation),
    # while decimal->double is in Spark. Route both engines through a
    # base-2^31 limb split instead: hi = s div 2^31 and lo = s mod 2^31
    # are both int64-ranged (hi fits while s < ~2e28 — n up to ~2e9
    # points/stream at the worst-case value magnitude), int64->double is
    # correctly rounded everywhere, and hi*2^31 + lo re-rounds
    # IDENTICALLY in any IEEE engine because the operation sequence is
    # mirrored verbatim in the oracle.
    limb = lambda c: (  # noqa: E731
        F.expr(f"CAST({c} div 2147483648 AS DOUBLE)") * F.lit(2147483648.0)
        + F.expr(f"CAST({c} % 2147483648 AS DOUBLE)")
    )
    r3 = limb("s3") / dn
    r4 = limb("s4") / dn
    m2 = r2 - mu * mu
    m3 = r3 - F.lit(3.0) * mu * r2 + F.lit(2.0) * mu * mu * mu
    m4 = (
        r4
        - F.lit(4.0) * mu * r3
        + F.lit(6.0) * mu * mu * r2
        - F.lit(3.0) * mu * mu * mu * mu
    )
    return agg.select(
        "uuid",
        F.col("n").alias("n_points"),
        (mu * F.lit(value_quantum)).alias("mean"),
        (F.sqrt(m2) * F.lit(value_quantum)).alias("std"),
        F.when(m2 > 0, m3 / (F.sqrt(m2) * m2)).alias("skewness"),
        F.when(m2 > 0, m4 / (m2 * m2) - F.lit(3.0)).alias("kurtosis_x"),
    ).orderBy("uuid")


def chi2_independence(
    points: DataFrame,
    start: int,
    end: int,
    day_ns: int = 86_400_000_000_000,
) -> DataFrame:
    """Chi-square test of independence between stream id and day-of-week
    over [start, end): is traffic mix stable across weekdays? The
    contingency table is (uuid x dow) point counts; the statistic is the
    exact-integer form sum over ALL cells (including empty ones) of
    (n*O - R*C)^2 / (n*R*C) — every diff is an exact int64, each cell
    term one double expression, and the cross-cell sum runs as a
    FIXED-ORDER fold over the (uuid, dow)-sorted cell list so the float
    accumulation is engine- and plan-independent. Day-of-week comes from
    pure integer time arithmetic ((time div day) + 4) mod 7, Monday=0 —
    no calendar functions to disagree on. Cramer's V normalizes for a
    readable effect size.

    Scale shape: ONE point-scale groupBy (uuid, dow) — everything after
    is label-scale: marginals, the full row x col spine (so zero cells
    contribute their R*C/n term), broadcast joins, and a fold over
    rows*cols structs. Columns: n_total, n_rows, n_cols, dof, chi2,
    cramers_v."""
    # integer div — a float division of epoch-ns (> 2^53) would round
    dow = (F.expr(f"time div {day_ns}") + 4) % 7
    # cells is label-scale (streams x 7 rows) but its pipeline is the
    # point-scale scan+groupBy; with FOUR consumers (rows, cols, tot,
    # spine) on DIFFERENT keys, exchange reuse covers none of them and
    # the corpus scan replayed four times. One eager materialization of
    # the tiny table replaces all four.
    cells = (
        points.where(time_range_pred(start, end))
        .select("uuid", dow.alias("dow"))
        .groupBy("uuid", "dow")
        .agg(F.count("*").alias("o"))
        .localCheckpoint(eager=True)
    )
    rows = cells.groupBy("uuid").agg(F.sum("o").alias("r"))
    cols = cells.groupBy("dow").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("n"))
    spine = (
        rows.crossJoin(F.broadcast(cols))
        .join(cells, ["uuid", "dow"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "uuid",
            "dow",
            "r",
            "c",
            "n",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    diff = (F.col("n") * F.col("o") - F.col("r") * F.col("c")).alias("diff")
    term = (
        F.col("diff").cast("double") * F.col("diff").cast("double")
        / (d("n") * d("r") * d("c"))
    )
    terms = spine.select("uuid", "dow", "n", "r", "c", diff).select(
        "uuid", "dow", "n", term.alias("term")
    )
    agg = terms.agg(
        F.max("n").alias("n_total"),
        F.countDistinct("uuid").alias("n_rows"),
        F.countDistinct("dow").alias("n_cols"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("uuid", "dow", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("chi2"),
    )
    dof = (F.col("n_rows") - 1) * (F.col("n_cols") - 1)
    mindim = F.least(F.col("n_rows"), F.col("n_cols")) - 1
    return agg.select(
        "n_total",
        "n_rows",
        "n_cols",
        dof.alias("dof"),
        "chi2",
        F.sqrt(
            F.col("chi2") / (F.col("n_total").cast("double") * mindim.cast("double"))
        ).alias("cramers_v"),
    )


def anova_dow(
    points: DataFrame,
    uuid: str,
    start: int,
    end: int,
    day_ns: int = 86_400_000_000_000,
    value_quantum: float = 0.01,
) -> DataFrame:
    """One-way ANOVA of one stream's values across day-of-week groups
    over [start, end): does the level genuinely differ by weekday, or is
    the diurnal_profile spread just noise? Per-group exact integer
    moments (n_g, s1_g, s2_g); the between/within sums of squares are
    per-group double terms folded in FIXED dow ORDER, and the F statistic
    is one final expression — engine- and plan-independent like
    chi2_independence. Day-of-week from pure integer time arithmetic
    (Monday=0). Columns: n_total, n_groups, df_between, df_within, ssb,
    ssw, f_stat (null when ssw is 0 or dof degenerate).

    Scale shape: ONE point-scale groupBy(dow) — 7 groups; everything
    after is constant-size: a 1-row grand total broadcast back and a
    7-element fold."""
    dow = (F.expr(f"time div {day_ns}") + 4) % 7
    q = F.round(F.col("value") / F.lit(value_quantum)).cast("long")
    groups = (
        points.where(
            (F.col("uuid") == F.lit(uuid)) & time_range_pred(start, end)
        )
        .select(dow.alias("dow"), q.alias("q"))
        .groupBy("dow")
        .agg(
            F.count("*").alias("ng"),
            F.sum("q").alias("s1"),
            F.sum(F.col("q") * F.col("q")).alias("s2"),
        )
    )
    # Grand totals ride one whole-frame window over the (<= 7-row) group
    # table instead of a separate agg branch that re-executed the
    # point-scale scan+groupBy (broadcast boundaries block exchange
    # reuse — the bootstrap_ci fix).
    w_all = Window.orderBy("dow").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    gm = d("t1") / d("n")
    mean_g = d("s1") / d("ng")
    ssb_term = d("ng") * (mean_g - gm) * (mean_g - gm)
    ssw_term = d("s2") - d("s1") * d("s1") / d("ng")
    terms = groups.select(
        "dow",
        "ng",
        "s1",
        "s2",
        F.sum("ng").over(w_all).alias("n"),
        F.sum("s1").over(w_all).alias("t1"),
        F.count("*").over(w_all).alias("k"),
    ).select(
        "dow",
        "n",
        "k",
        ssb_term.alias("bt"),
        ssw_term.alias("wt"),
    )
    fold = lambda field: F.aggregate(  # noqa: E731
        F.col("arr"), F.lit(0.0), lambda acc, e: acc + e[field]
    )
    agg = terms.agg(
        F.max("n").alias("n_total"),
        F.count("*").alias("n_groups"),
        F.array_sort(F.collect_list(F.struct("dow", "bt", "wt"))).alias("arr"),
    ).select(
        "n_total",
        "n_groups",
        fold("bt").alias("ssb"),
        fold("wt").alias("ssw"),
    )
    dfb = F.col("n_groups") - 1
    dfw = F.col("n_total") - F.col("n_groups")
    return agg.select(
        "n_total",
        "n_groups",
        dfb.alias("df_between"),
        dfw.alias("df_within"),
        "ssb",
        "ssw",
        F.when(
            (F.col("ssw") > 0) & (dfb > 0) & (dfw > 0),
            (F.col("ssb") / dfb.cast("double"))
            / (F.col("ssw") / dfw.cast("double")),
        ).alias("f_stat"),
    )
