"""Streaming twins: keyed-state folds over micro-batches.

The reference folds points into per-window state as tree fragments stream
through a query (WindowContext, qtree/qtree.go:810-818, update/emit
qtree.go:1033-1068) and accepts arbitrarily late data (ST2: no watermark,
nothing dropped). Spark's built-in windowed aggregation only offers keyed
state with watermark-bound eviction, so every operator here is a
FoldSpec run by operators/fold.fold_stream on applyInPandasWithState.
The runner's contract, per group per micro-batch:

- state: the group's state row (the spec's state schema), or the spec's
  initial state for a new group. It never expires (NoTimeout) — a bucket
  from years ago is still updatable, as in the reference.
- sort keys: all Arrow chunks of the group are concatenated and sorted
  ONCE (stable) by the spec's keys, so out-of-order points within a
  micro-batch are folded in order however Spark chunked the group.
- frontier: an order-defined fold (ewma, deadband, SDT, crossings, Holt,
  TWA, quantile, coverage) checks the first sorted row against the
  state's frontier and raises rather than silently reordering an
  already-emitted recurrence. SDT rejects a point AT the frontier too;
  quantile and coverage compare window starts.
- step: step(state, numpy columns) -> (state, output columns). The
  runner updates the state and emits the columns, filling group-key
  output columns from the key; a group with no rows emits nothing.

The associative folds (stat, heavy hitters, LSH, sessions, attribution,
KMV, HLL) have no frontier: late data folds in exactly. The ewma,
deadband, SDT and Holt steps are the ones their batch operators in
operators/derive.py fold, so on an in-order source a twin's emission is
bit-equal to the batch fold by construction.

At 100 TB the state store (RocksDB on executors) shards by the group key,
so state size scales with DISTINCT touched keys, not points.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btrdb_server_spark.operators.fold import (
    FoldSpec,
    deadband_fold,
    ewma_fold,
    fold_stream,
    holt_fold,
    sdt_fold,
)


def _stat_fold(quantum: float | None) -> FoldSpec:
    """Running StatPoint per (uuid, bucket): the associative combine of
    merger.go:132-214 (min/min, max/max, sum+=, count+=; mean at emit).
    With `quantum` the sum is an EXACT int64 of quantum units (the `vq`
    column the caller quantized JVM-side), so the mean is bit-identical
    in any arrival order; float(int64) * quantum / cnt is the SQL's
    (sum(vq) * quantum) / count(*). Without it the float sum is in
    arrival order and the mean is vsum * 1.0 / cnt (x * 1.0 is exact)."""
    col, scale = ("value", 1.0) if quantum is None else ("vq", float(quantum))

    def step(state: tuple, c: dict) -> tuple:
        vmin, vsum, vmax, cnt = state
        v = c["value"]
        vmin = min(vmin, float(np.nanmin(v)))
        vmax = max(vmax, float(np.nanmax(v)))
        vsum += np.nansum(c[col]).item()
        cnt += len(v)
        return (vmin, vsum, vmax, cnt), {
            "vmin": [vmin],
            "vmean": [float(vsum) * scale / cnt],
            "vmax": [vmax],
            "cnt": [cnt],
        }

    zero, sum_type = (0.0, "double") if quantum is None else (0, "long")
    return FoldSpec(
        "uuid string, bucket long, vmin double, vmean double, vmax double, cnt long",
        f"vmin double, vsum {sum_type}, vmax double, cnt long",
        (float("inf"), zero, float("-inf"), 0),
        step,
    )


def streaming_stat_windows(
    points_stream: DataFrame, pw: int, value_quantum: float | None = None
) -> DataFrame:
    """Running AlignedWindows over a stream: one updated StatPoint per
    (uuid, 2**pw bucket) per micro-batch that touches it. Late points
    reopen their bucket exactly (no watermark drop).

    `value_quantum` (e.g. 0.01): accumulate the mean's sum as an EXACT
    int64 of quantum units instead of a float — the mean is then
    bit-identical regardless of arrival order or micro-batch boundaries
    (and to a batch recomputation in any engine). The raw-float default
    sums in arrival order, which is fine for dashboards but not for
    bit-parity: the first full sf0.1 oracle sweep surfaced a 32-point
    bucket whose pairwise numpy sum straddled a 6-digit rounding boundary
    against the scan-order SQL sum."""
    src = points_stream.withColumn(
        "bucket", F.shiftleft(F.shiftright("time", pw), pw)
    )
    if value_quantum is not None:
        src = src.withColumn(
            "vq", F.round(F.col("value") / F.lit(float(value_quantum))).cast("long")
        )
    return fold_stream(src, ["uuid", "bucket"], _stat_fold(value_quantum))


def _heavy_hitters_fold(capacity: int) -> FoldSpec:
    """Space-saving (Metwally et al.) counters for one shard: at most
    `capacity` of them. A new token beyond capacity evicts the minimum
    counter and inherits its count as `overcount` (cnt is then an upper
    bound, cnt - overcount a lower bound). Emits only the counters this
    micro-batch touched. Under capacity the sketch is exact and
    arrival-order independent; at capacity, which counter is evicted
    depends on arrival order (inherent to space-saving), the bounds hold
    under any order."""

    def step(state: tuple, c: dict) -> tuple:
        d = json.loads(state[0])
        touched = set()
        for tok, n in pd.Series(c["token"]).value_counts().items():
            n = int(n)
            if tok in d:
                d[tok][0] += n
            elif len(d) < capacity:
                d[tok] = [n, 0]
            else:
                evict = min(d, key=lambda t: (d[t][0], t))
                m = d.pop(evict)[0]
                d[tok] = [m + n, m]
            touched.add(tok)
        rows = sorted((t, d[t][0], d[t][1]) for t in touched if t in d)
        return (json.dumps(d),), {
            "token": [r[0] for r in rows],
            "cnt": [r[1] for r in rows],
            "overcount": [r[2] for r in rows],
        }

    return FoldSpec(
        "shard int, token string, cnt long, overcount long",
        "js string",
        ("{}",),
        step,
    )


def streaming_heavy_hitters(
    token_stream: DataFrame, num_shards: int = 8, capacity: int = 4096
) -> DataFrame:
    """Streaming heavy hitters with BOUNDED state: tokens are hash-sharded
    and each shard keeps a space-saving sketch of at most `capacity`
    counters in keyed state — total state is num_shards * capacity rows
    regardless of vocabulary size, unlike an exact update-mode
    groupBy(token).count() whose state grows with distinct tokens forever.
    While no shard overflows, every count is exact and overcount is 0 —
    the corpus-monitoring query (running vocabulary / top-k tokens over an
    ingest stream) a training pipeline runs continuously.

    `token_stream` needs one `token string` column. At 100 TB: shard count
    spreads the sketches across executors; capacity bounds each executor's
    state; back the store with RocksDB for large capacity."""
    sharded = token_stream.withColumn(
        "shard", F.pmod(F.xxhash64("token"), F.lit(num_shards)).cast("int")
    )
    return fold_stream(sharded, ["shard"], _heavy_hitters_fold(capacity))


def _lsh_step(state: tuple, c: dict) -> tuple:
    """Incremental LSH buckets for one SHARD of the band-key space: state
    maps band-bucket -> resident doc ids; each arriving doc emits a
    candidate pair against every resident of its bucket — the pair stream
    grows exactly as the batch self-join would, but per batch only
    new x (old + earlier-new) work is done, never a full bucket re-join."""
    d = json.loads(state[0])
    resident: dict = {}
    pairs = []
    for bkey, doc in sorted(set(zip(c["bkey"].tolist(), c["doc_id"].tolist()))):
        if bkey not in resident:
            resident[bkey] = set(d.setdefault(bkey, []))
        r = resident[bkey]
        if doc in r:
            continue
        pairs.extend((min(doc, o), max(doc, o)) for o in r)
        r.add(doc)
        d[bkey].append(doc)
    pairs.sort()
    return (json.dumps(d),), {"a": [p[0] for p in pairs], "b": [p[1] for p in pairs]}


def streaming_lsh_candidates(
    docs_stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    num_shards: int = 32,
) -> DataFrame:
    """Dedup-at-ingest: maintain the MinHash LSH index INCREMENTALLY as
    documents stream in. Signatures and band keys are stateless per-doc
    column expressions (identical to the batch functions/dedup.py path —
    same 2-universal md5 family, same banding), so the stateful part is
    only the bucket membership: each (band, band_key) group accumulates
    its doc ids and emits candidate pairs new-vs-resident. The distinct
    union of all emissions equals batch lsh_candidate_pairs over the same
    corpus — the index is ALWAYS as fresh as the last micro-batch, with
    per-batch work proportional to new collisions, not corpus².

    At 100 TB: state groups are hash SHARDS of the band-key space, each
    holding its buckets' id lists — per-batch Python round-trips are
    bounded by num_shards (a per-bucket grouping would pay one per
    distinct bucket = corpus-scale; measured 50x slower at sf0.1). A
    shard's state serializes once per touched batch, so size num_shards
    to keep shards at MBs and back the store with RocksDB; the emitted
    pair stream feeds the verify/cluster stages downstream."""
    from btrdb_server_spark.functions.dedup import with_rowwise_signatures

    # Repartition BEFORE the signature stage: a micro-batch's parallelism
    # is otherwise its file count, and the md5 signature family is the CPU
    # hog (5M digests per 5k docs) — shuffling the raw text first is cheap
    # and lets every core work. The state shuffle after banding re-keys by
    # shard anyway, so this adds no extra exchange to the stateful stage.
    sigs = with_rowwise_signatures(
        docs_stream.repartition(num_shards), text_col, id_col,
        num_hashes=num_hashes, k=k,
    )
    r = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"mh{b * r + i}") for i in range(r)]
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    banded = (
        sigs.select(F.col(id_col).alias("doc_id"), F.explode(band_structs).alias("bk"))
        .select(
            "doc_id",
            F.concat_ws("#", F.col("bk.band").cast("string"), F.col("bk.band_key")).alias(
                "bkey"
            ),
        )
        .withColumn(
            "shard", F.pmod(F.xxhash64("bkey"), F.lit(num_shards)).cast("int")
        )
    )
    return fold_stream(
        banded, ["shard"], FoldSpec("a long, b long", "js string", ("{}",), _lsh_step)
    )


def _sessions_fold(gap: int) -> FoldSpec:
    """Gap-based sessionization for one stream: state is the list of
    session intervals [start, end, n_points], which by invariant contains
    no interior point-to-point spacing >= gap. The micro-batch is itself
    sessionized (vectorized numpy diff over the sorted times — the
    Python-side work is O(sessions), never O(points)), then the two
    interval systems are fused by a sorted sweep: a batch interval lands
    in an existing session, bridges two, or swallows any number of them
    when a late slice of history arrives. Every boundary is an actual
    point, so boundary distance IS an adjacent-point spacing; sessions are
    a function of the point SET, whatever the arrival order. Each batch
    emits the stream's full session list under a new `seq`."""

    def step(state: tuple, c: dict) -> tuple:
        js, seq = state
        ts = c["time"]
        bounds = [0] + (np.flatnonzero(np.diff(ts) >= gap) + 1).tolist() + [len(ts)]
        batch_ivs = [
            [int(ts[s]), int(ts[e - 1]), e - s] for s, e in zip(bounds, bounds[1:])
        ]
        ivs = []
        for iv in sorted(json.loads(js) + batch_ivs):
            if ivs and iv[0] - ivs[-1][1] < gap:
                ivs[-1][1] = max(ivs[-1][1], iv[1])
                ivs[-1][2] += iv[2]
            else:
                ivs.append(list(iv))
        seq += 1
        return (json.dumps(ivs), seq), {
            "seq": [seq] * len(ivs),
            "session_start": [iv[0] for iv in ivs],
            "session_end": [iv[1] for iv in ivs],
            "n_points": [iv[2] for iv in ivs],
        }

    return FoldSpec(
        "uuid string, seq long, session_start long, session_end long, n_points long",
        "js string, seq long",
        ("[]", 0),
        step,
        sort=("time",),
    )


def streaming_sessionize(points_stream: DataFrame, gap: int) -> DataFrame:
    """Streaming gap-based sessionization with EXACT late-data semantics:
    a point arriving micro-batches later still lands in — or fuses —
    its sessions, because session state is the interval list itself, not
    a watermark-evicted window. The streaming dual of
    operators/derive.sessions; with in-order arrival it degenerates to the
    classic last-time + counter sessionizer, with out-of-order arrival it
    performs interval insertion with bridge merges.

    State and per-batch emission are one row per session of the touched
    stream — fine for telemetry (sessions per stream bounded by
    span/gap); back the store with RocksDB for long histories. Output
    carries `seq`; take each stream's max-seq rows as the current
    snapshot (a merged-away session cannot be expressed by per-session
    emissions alone)."""
    return fold_stream(points_stream, ["uuid"], _sessions_fold(gap))


def streaming_ewma(points_stream: DataFrame, alpha: float = 0.25) -> DataFrame:
    """EWMA as a continuous query: keyed state per stream carries
    (frontier, running ewma), so the recurrence continues seamlessly
    across micro-batches — on an in-order source the emission equals the
    batch operator bit-for-bit (both fold operators/fold.ewma_fold). State
    is two scalars per stream: O(streams), the smallest state of any
    operator here. The order contract is enforced, not assumed: a point
    behind the frontier raises rather than silently corrupting the
    recurrence (resample first if the source is not in order)."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    return fold_stream(points_stream, ["uuid"], ewma_fold(alpha))


def streaming_deadband(
    points_stream: DataFrame,
    deadband: float,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Historian deadband compression as a continuous query: the ingest
    path emits ONLY exception points (value moved more than `deadband`
    from the last kept reading), cutting the stored volume at the
    source — the write-side dual of the batch deadband_compress scan.
    State is two scalars per stream (frontier, last kept quantum); on an
    in-order source the kept set is bit-equal to the batch fold (the
    driver oracle). A point behind the frontier raises."""
    if deadband <= 0:
        raise ValueError("deadband must be positive")
    dq = round(deadband / value_quantum)
    with_q = points_stream.withColumn(
        "q", F.round(F.col("value") / F.lit(value_quantum)).cast("long")
    )
    return fold_stream(with_q, ["uuid"], deadband_fold(dq))


def streaming_sdt(
    points_stream: DataFrame,
    tolerance: float,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Swinging-door trending as a continuous query: the ingest path
    emits a stored point each time the slope doors cross — the write-side
    dual of the batch sdt_compress scan, cutting stored volume at the
    source the way a PI-style historian does. State is seven scalars per
    stream; on an in-order source the emitted set is bit-equal to the
    batch fold minus its trailing final-point append (a stream has no
    end; the oracle drops it). Duplicate timestamps collapse to their max
    value within a micro-batch; a point at or behind the frontier
    raises."""
    if tolerance <= 0:
        raise ValueError("tolerance must be positive")
    eq = round(tolerance / value_quantum)
    with_q = points_stream.withColumn(
        "q", F.round(F.col("value") / F.lit(value_quantum)).cast("long")
    )
    return fold_stream(with_q, ["uuid"], sdt_fold(eq))


def _crossings_fold(threshold: float) -> FoldSpec:
    """Emit a row whenever the value crosses `threshold` relative to its
    predecessor — the decision sequence of derive.threshold_crossings.
    State: the last seen (time, value)."""

    def step(state: tuple, c: dict) -> tuple:
        last_t, last_v = state
        out = {k: [] for k in ("time", "value", "prev_time", "prev_value", "direction")}
        for t, v in zip(c["time"].tolist(), c["value"].tolist()):
            if last_t is not None and (v >= threshold) != (last_v >= threshold):
                out["time"].append(t)
                out["value"].append(v)
                out["prev_time"].append(last_t)
                out["prev_value"].append(last_v)
                out["direction"].append("up" if v >= threshold else "down")
            last_t, last_v = t, v
        return (last_t, last_v), out

    return FoldSpec(
        "uuid string, time long, value double, prev_time long, "
        "prev_value double, direction string",
        "last_time long, last_value double",
        (None, None),
        step,
        sort=("time", "value"),
        frontier=0,
        late="behind the crossings frontier",
    )


def streaming_crossings(
    points_stream: DataFrame,
    threshold: float,
) -> DataFrame:
    """Threshold-edge alarm detection as a continuous query: the ingest
    path emits an alert row the moment a stream crosses the limit —
    the at-ingest twin of the batch threshold_crossings scan (SCADA
    alarms fire on arrival, not on the next batch scan). State is two
    scalars per stream; on an in-order source the alert set is bit-equal
    to the batch operator (the oracle). A point behind the frontier
    raises."""
    return fold_stream(points_stream, ["uuid"], _crossings_fold(threshold))


ATTR_COLUMNS = (
    "event_id", "conv_time", "touch_event_id", "touch_type", "touch_time", "latency"
)


def _attribution_fold(within) -> FoldSpec:
    """Last-touch attribution for one SHARD of the user space: state maps
    user -> most recent touch [time, event_id, event_type]. Rows arrive in
    (time, touch, event_id) order — conversions BEFORE equal-time
    touches, the exact total order of the batch operator's carry window;
    users never interact, so the global time order replays every user's
    own sequence. A conversion emits immediately with the state touch (or
    NULLs when none / outside the lookback window)."""

    def step(state: tuple, c: dict) -> tuple:
        st = json.loads(state[0])
        out = {k: [] for k in ATTR_COLUMNS}
        for t, eid, user, et, touch in zip(
            c["time"].tolist(),
            c["event_id"].tolist(),
            c["user_id"].tolist(),
            c["event_type"].tolist(),
            c["touch"].tolist(),
        ):
            u = str(user)
            if touch:
                st[u] = [t, eid, str(et)]
                continue
            lt = st.get(u)
            ok = lt is not None and (within is None or t - lt[0] <= within)
            out["event_id"].append(eid)
            out["conv_time"].append(t)
            out["touch_event_id"].append(lt[1] if ok else None)
            out["touch_type"].append(lt[2] if ok else None)
            out["touch_time"].append(lt[0] if ok else None)
            out["latency"].append(t - lt[0] if ok else None)
        # Nullable Int64 arrays: a plain DataFrame would infer float64 for
        # [int, None] columns and shred ns-scale int64s (ulp 256 at 2^60).
        dtypes = ("int64", "int64", "Int64", object, "Int64", "Int64")
        return (json.dumps(st, sort_keys=True, separators=(",", ":")),), {
            k: pd.array(out[k], dtype=d) for k, d in zip(ATTR_COLUMNS, dtypes)
        }

    return FoldSpec(
        "event_id long, conv_time long, touch_event_id long, touch_type string, "
        "touch_time long, latency long",
        "js string",
        ("{}",),
        step,
        sort=("time", "touch", "event_id"),
    )


def streaming_attribution(
    events_stream: DataFrame,
    conversion: str = "purchase",
    within=None,
    num_shards: int = 32,
) -> DataFrame:
    """Last-touch attribution as a continuous query: the moment a
    conversion arrives, it is credited to the user's most recent touch
    already ingested — the at-ingest twin of the batch
    attribution_last_touch carry (online marketing attribution fires on
    arrival, not on the nightly scan). State is one (time, id, type)
    triple per user, held in hash SHARDS of the user space so per-batch
    Python round-trips are bounded by num_shards, not by active users
    (the streaming_lsh_candidates design; a per-user grouping measured
    3.5x slower at sf0.1's 1500 users: 18.4 s vs 5.2 s). On an in-order
    source the attribution set is bit-equal to the batch operator (the
    oracle). The stream must be pre-filtered to the conversion + touch
    types of interest. At 100 TB: size num_shards to keep a shard's user
    map at MBs and back the store with RocksDB — state scales with
    DISTINCT users, the shuffle with batch rows."""
    sharded = events_stream.withColumn(
        "shard", F.pmod(F.xxhash64("user_id"), F.lit(num_shards)).cast("int")
    ).withColumn("touch", ~F.col("event_type").eqNullSafe(F.lit(conversion)))
    return fold_stream(sharded, ["shard"], _attribution_fold(within))


def streaming_holt(
    points_stream: DataFrame, alpha: float = 0.25, beta: float = 0.125
) -> DataFrame:
    """Holt double exponential smoothing as a continuous query: per-stream
    keyed state carries (frontier, level, trend) so the 2-state recurrence
    continues across micro-batches; on an in-order source the emission is
    bit-equal to the batch holt_smooth fold (both fold
    operators/fold.holt_fold). State is three scalars per stream —
    O(streams), same class as streaming_ewma. A point behind the frontier
    raises."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if not 0.0 <= beta <= 1.0:
        raise ValueError("beta must be in [0, 1]")
    return fold_stream(points_stream, ["uuid"], holt_fold(alpha, beta))


def _twa_fold(start: int, width: int, quantum: float) -> FoldSpec:
    """Step-hold TWA: state is the held frontier point (last_t, last_vq)
    plus the open window's partial (num = Σ vq·held_ns, cov = Σ held_ns).
    Each point extends the held segment; every window boundary the
    segment crosses CLOSES that window and emits its (covered_ns, twa) —
    the batch twa_hold over [start, frontier) minus the still-open
    frontier window. num stays within int64 for vq·width < 2^63 (e.g.
    2-decimal values up to ~10^5 with day windows); wider configs belong
    on the batch path's decimal(38,0)."""
    q = float(round(1.0 / quantum))

    def step(state: tuple, c: dict) -> tuple:
        last_t, last_vq, num, cov = state
        out_w, out_cov, out_twa = [], [], []
        for t, vq in zip(c["time"].tolist(), c["vq"].tolist()):
            if last_t is not None:
                s = last_t
                while True:
                    w = (s - start) // width
                    wend = start + (w + 1) * width
                    if t <= wend:
                        num += last_vq * (t - s)
                        cov += t - s
                        break
                    num += last_vq * (wend - s)
                    cov += wend - s
                    out_w.append(w)
                    out_cov.append(cov)
                    out_twa.append(float(num) / float(cov) / q)
                    num, cov = 0, 0
                    s = wend
                if (t - start) // width > w:
                    # segment ended exactly on the boundary: window w is
                    # complete, the new point opens the next one
                    if cov > 0:
                        out_w.append(w)
                        out_cov.append(cov)
                        out_twa.append(float(num) / float(cov) / q)
                    num, cov = 0, 0
            last_t, last_vq = t, vq
        return (last_t, last_vq, num, cov), {
            "time": [start + w * width for w in out_w],
            "covered_ns": out_cov,
            "twa": out_twa,
        }

    return FoldSpec(
        "uuid string, time long, covered_ns long, twa double",
        "last_t long, last_vq long, num long, cov long",
        (None, None, 0, 0),
        step,
        sort=("time", "value"),
        frontier=0,
        late="behind the TWA frontier",
    )


def streaming_twa(
    points_stream: DataFrame,
    start: int,
    width: int,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Step-hold time-weighted average as a continuous query: per-stream
    keyed state carries the held frontier point and the open window's
    integer partials; windows emit exactly once, when the held segment
    crosses their end — the at-ingest dual of the batch twa_hold scan,
    bit-equal to it over the closed windows (the driver oracle). A point
    behind the frontier raises."""
    if width <= 0:
        raise ValueError("window width must be positive")
    with_q = points_stream.withColumn(
        "vq", F.round(F.col("value") / F.lit(value_quantum)).cast("long")
    )
    return fold_stream(with_q, ["uuid"], _twa_fold(start, width, value_quantum))


def _kmv_fold(k: int) -> FoldSpec:
    """KMV merge: state is the sorted list of the k smallest distinct
    hashes seen so far (at most k int64s, json-encoded). Merge =
    set-union the batch's hashes, sort, trim to k: associative and
    order-independent, so the final state is IDENTICAL to the batch
    sketch no matter how arrivals were split into micro-batches."""
    est_num = float((k - 1) * (1 << 52))

    def step(state: tuple, c: dict) -> tuple:
        merged = sorted(set(json.loads(state[0])).union(c["h"].tolist()))[:k]
        kth = merged[-1] if merged else 0
        est = est_num / float(kth) if len(merged) == k else float(len(merged))
        return (json.dumps(merged),), {
            "n_kept": [len(merged)],
            "kth_hash": [kth],
            "kmv_est": [est],
        }

    return FoldSpec(
        "uuid string, n_kept long, kth_hash long, kmv_est double",
        "hashes string",
        ("[]",),
        step,
    )


def streaming_kmv(events_stream: DataFrame, k: int = 256) -> DataFrame:
    """Streaming distinct-count sketch: per event type, a KMV sketch of
    the user-id stream maintained in keyed state — bounded at k hashes
    per group forever (no watermark; a late arrival still folds in, ST2
    semantics), versus an exact streaming count-distinct whose state
    grows with the id universe. Hashing runs JVM-side BEFORE the
    stateful op (same 52-bit md5 prefix as the batch kmv_distinct, so
    the converged state equals the batch sketch bit-for-bit); the python
    state fn only set-merges bounded int lists.

    `events_stream` needs (event_type, user_id). At 100 TB: state is
    groups x k longs under RocksDB; the update is associative, so
    shard/batch boundaries never change the converged sketch."""
    hashed = events_stream.select(
        F.col("event_type").alias("uuid"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long").alias("h"),
    )
    return fold_stream(hashed, ["uuid"], _kmv_fold(k))


def _hll_fold(p: int) -> FoldSpec:
    """HLL registers: state is the m=2^p register array (max rank per
    register) plus a seen-rows counter. Register max is associative AND
    idempotent, so the converged state is IDENTICAL to the batch
    registers no matter how arrivals were split or duplicated across
    retries. The estimate repeats the batch hll_distinct arithmetic in
    libm floats (python == DuckDB ln bit-exactly; the integer harmonic
    sum has one division)."""
    m = 1 << p
    alpha_m2 = (0.7213 / (1.0 + 1.079 / m)) * m * m * float(1 << 41)

    def step(state: tuple, c: dict) -> tuple:
        regs = np.array(json.loads(state[0]), dtype=np.int64)
        np.maximum.at(regs, c["reg"], c["rank"])
        regs = regs.tolist()
        n_seen = state[1] + len(c["reg"])
        used = [r for r in regs if r > 0]
        s_used = sum(1 << (41 - r) for r in used)
        n_used = len(used)
        raw = alpha_m2 / float(s_used + (m - n_used) * (1 << 41))
        v = m - n_used
        est = m * math.log(m / v) if (raw <= 2.5 * m and v > 0) else raw
        return (json.dumps(regs), n_seen), {
            "n_seen": [n_seen],
            "n_registers_used": [n_used],
            "hll_est": [est],
        }

    return FoldSpec(
        "uuid string, n_seen long, n_registers_used long, hll_est double",
        "regs string, n_seen long",
        (json.dumps([0] * m), 0),
        step,
    )


def streaming_hll(ids_stream: DataFrame, p: int = 8) -> DataFrame:
    """Streaming HyperLogLog per group: fixed 2^p-register keyed state
    forever (no watermark — a late id still folds in, ST2 semantics).
    Hash/register/rank arithmetic runs JVM-side BEFORE the stateful op,
    identical to the batch functions/sketch.py hll_distinct, and
    register max is associative + idempotent, so the converged
    emission bit-equals the batch estimate — the entry's oracle IS the
    batch SQL. `ids_stream` needs (uuid, id) string columns. At 100 TB:
    state is groups x 2^p small ints; retries and replays cannot skew
    the sketch (idempotent max), unlike counter-based state."""
    m = 1 << p
    hexh = F.md5(F.concat(F.lit("hll:"), F.col("id").cast("string")))
    h60 = F.conv(F.substring(hexh, 1, 15), 16, 10).cast("long")
    suffix = F.shiftright(h60, p) % F.lit(1 << 40)
    blen = F.when(F.col("suf") == 0, F.lit(0)).otherwise(
        (F.floor(F.log2(F.col("suf").cast("double"))) + 1).cast("long")
    )
    hashed = (
        ids_stream.select(
            F.col("uuid"),
            (h60 % F.lit(m)).alias("reg"),
            suffix.alias("suf"),
        )
        .withColumn("rank", F.lit(41) - blen)
        .select("uuid", "reg", "rank")
    )
    return fold_stream(hashed, ["uuid"], _hll_fold(p))


# Exact rational ranks: k = ceil(p*n) computed in INTEGER arithmetic
# ((num*n + den - 1) // den) so the engine and the SQL oracle pick the
# same order statistic for every n — float ceil(0.9*n) ties would not.
QUANTILE_PROBS = ((1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99"))


def _quantile_fold(start: int, width: int, quantum: float) -> FoldSpec:
    """Exact per-window quantiles: state is the open window's start and
    its value histogram (vq -> count, json) — bounded by the DISTINCT
    quantized values in one window, not the point count, which is what
    makes an exact (not sketched) quantile affordable at ingest. A window
    emits once, when the first point beyond its end arrives."""
    q = float(round(1.0 / quantum))

    def step(state: tuple, c: dict) -> tuple:
        wstart, hist_js = state
        hist = {int(k_): int(v) for k_, v in json.loads(hist_js).items()}
        out = {"time": [], "n": [], **{name: [] for _, _, name in QUANTILE_PROBS}}

        def close(ws: int, h: dict) -> None:
            n = sum(h.values())
            if n == 0:
                return
            out["time"].append(ws)
            out["n"].append(n)
            items = sorted(h.items())
            for num, den, name in QUANTILE_PROBS:
                k = (num * n + den - 1) // den
                seen = 0
                for vq, cnt in items:
                    seen += cnt
                    if seen >= k:
                        out[name].append(float(vq) / q)
                        break

        for t, vq in zip(c["time"].tolist(), c["vq"].tolist()):
            ws = start + ((t - start) // width) * width
            if wstart is None:
                wstart = ws
            elif ws > wstart:
                close(wstart, hist)
                hist = {}
                wstart = ws
            hist[vq] = hist.get(vq, 0) + 1
        return (wstart, json.dumps(hist)), out

    return FoldSpec(
        "uuid string, time long, n long, p50 double, p90 double, p99 double",
        "wstart long, hist string",
        (None, "{}"),
        step,
        sort=("time", "vq"),
        frontier=0,
        late="behind the open window",
        window=(start, width),
    )


def streaming_quantile(
    points_stream: DataFrame,
    start: int,
    width: int,
    value_quantum: float = 0.01,
) -> DataFrame:
    """Per-(stream, window) EXACT p50/p90/p99 at ingest — the latency-SLA
    dashboard primitive. The reference serves quantiles only by scanning
    raw points (qtree has min/mean/max/count aggregates, qtree.go:925-947,
    no quantile plane); here the keyed state carries one value-histogram
    per open window and closed windows emit exactly once, bit-equal to
    the batch order-statistic scan. A point behind the open window
    raises.

    Scale shape: quantization bounds per-window state by the value domain
    (not the arrival count); the histogram union is associative, so
    micro-batch boundaries never change a closed window's result. At
    100 TB the state store shards by stream uuid under RocksDB like every
    other keyed op here."""
    if width <= 0:
        raise ValueError("window width must be positive")
    with_q = points_stream.withColumn(
        "vq", F.round(F.col("value") / F.lit(value_quantum)).cast("long")
    )
    return fold_stream(with_q, ["uuid"], _quantile_fold(start, width, value_quantum))


COVERAGE_COLUMNS = (
    "time", "n_expected", "n_present", "n_points", "longest_gap_slots", "coverage"
)


def _coverage_fold(start: int, width: int, cadence: int) -> FoldSpec:
    """Availability vs cadence: state is the open window's start and its
    occupied-slot histogram (slot -> points, json) — bounded at
    width/cadence entries by construction, the property that keeps the
    SLA monitor O(slots) regardless of point rate. A window emits once,
    when the first point beyond its end arrives."""
    n_exp = width // cadence

    def step(state: tuple, c: dict) -> tuple:
        wstart, occ_js = state
        occ = {int(k_): int(v) for k_, v in json.loads(occ_js).items()}
        rows = []

        def close(ws: int, o: dict) -> None:
            if not o:
                return
            slots = sorted(o)
            interior = max((b - a - 1 for a, b in zip(slots, slots[1:])), default=0)
            longest = max(interior, slots[0], n_exp - 1 - slots[-1])
            rows.append(
                (
                    ws,
                    n_exp,
                    len(slots),
                    sum(o.values()),
                    longest,
                    float(len(slots)) / float(n_exp),
                )
            )

        for t in c["time"].tolist():
            ws = start + ((t - start) // width) * width
            if wstart is None:
                wstart = ws
            elif ws > wstart:
                close(wstart, occ)
                occ = {}
                wstart = ws
            slot = (t - ws) // cadence
            occ[slot] = occ.get(slot, 0) + 1
        return (wstart, json.dumps(occ)), {
            name: [r[i] for r in rows] for i, name in enumerate(COVERAGE_COLUMNS)
        }

    return FoldSpec(
        "uuid string, time long, n_expected long, n_present long,"
        " n_points long, longest_gap_slots long, coverage double",
        "wstart long, occ string",
        (None, "{}"),
        step,
        sort=("time",),
        frontier=0,
        late="behind the open window",
        window=(start, width),
    )


def streaming_coverage(
    points_stream: DataFrame, start: int, width: int, cadence: int
) -> DataFrame:
    """Per-(stream, window) availability/SLA at ingest — the streaming
    twin of the batch coverage_report: of the width/cadence expected
    slots per window, how many hold a point, the longest outage run, and
    the coverage ratio, emitted exactly once per closed window. The
    reference has no availability plane at all (uptime there means
    scanning raw points). Keyed state is the open window's occupied-slot
    histogram — bounded by slots-per-window, not point rate. A point
    behind the open window raises."""
    if width <= 0 or cadence <= 0 or width % cadence != 0:
        raise ValueError("need width > 0, cadence > 0, cadence | width")
    return fold_stream(points_stream, ["uuid"], _coverage_fold(start, width, cadence))
