"""Transparent aggregate-pushdown rewrite onto the rollup ladder.

The reference answers statistical queries from stored internal-node
aggregates without the CALLER choosing a tree depth (qtree/qtree.go:925-947
— the engine descends to the deepest node whose pointwidth fits). The
explicit Spark equivalent is RollupLadder.serve_aligned; this module adds
the implicit one: a user who hand-writes the canonical aligned-stat
DataFrame aggregation

    points.where((uuid == u) & (time >= s) & (time < e))
          .groupBy(shiftleft(shiftright("time", pw), pw))
          .agg(min/avg/max/count of value)

— or the arbitrary-width tumbling-window variant (the reference's Windows
query, depth=0 exact semantics)

    points.where(...).groupBy(((col('time') - s) / w integer 'div',
                               or floor((time - s) / w)))
          .agg(min/avg/max/count of value)

gets the same logical answer served from the ladder's best materialized
level. `rewrite_aligned_stat` inspects the ANALYZED logical plan (the
stable, resolved form Catalyst itself pattern-matches on) and rewrites only
when the plan provably has that exact shape AND the rewrite is exact:

- the grouping key is shiftleft(shiftright(time, pw), pw) for a single pw
  (single-stream shape), or (uuid, that key) for the fleet shape —
  per-stream stats for every stream or a uuid IN-list, the serve_aligned_all
  dashboard query; tumbling-window keys ((time - s) div w, or
  FLOOR((time - s) / w) under a 2**52 ns range guard — see the inline
  comment) are accepted in both shapes too, provided window width and
  origin are aligned to a materialized level so every rollup bucket lies
  wholly inside one window;
- every aggregate is min/avg/max/count over the value column;
- the filter is uuid-equality (or IN-list / absent for fleet) plus a
  [start, end) time range whose bounds are 2**pw-aligned (an unaligned
  bound would make boundary buckets differ between raw and rollup
  aggregation — those queries stay on raw points);
- the ladder has a materialized level <= pw (power-of-two buckets nest).

Anything else returns the input DataFrame untouched — the rewrite is an
optimization, never a semantics change. avg(value) is served as
sum(vsum)/sum(cnt), the reference's weighted-mean merge (merger.go:203).

A production deployment would register this as a Catalyst extension rule
(SparkSessionExtensions.injectOptimizerRule) so spark.sql() text hits it
too; the plan-shape matching below is exactly what that Scala rule would
do, expressed over the same analyzed tree.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING, Optional

from pyspark.sql import DataFrame

if TYPE_CHECKING:  # pragma: no cover
    from btrdb_server_spark.plans.rollup import RollupLadder

# shiftleft(shiftright(time#7L, 38), 38)
_GROUP_RE = re.compile(
    r"^shiftleft\(shiftright\(time#\d+L?, (\d+)\), (\d+)\)(?: AS (\w+)#\d+L?)?$"
)
# Arbitrary-width tumbling-window group keys (the reference's Windows shape,
# depth=0): integer-division form ((time#7L - 0) div 86400000000000) — SQL
# `DIV` — and float-floor form FLOOR((cast((time#7L - 0) as double) /
# cast(86400000000000 as double))) — DataFrame F.floor((time - s) / w).
# Analyzer-inserted literal widening casts tolerated on both operands.
_GROUP_WDIV_RE = re.compile(
    r"^\(\(time#\d+L? - (?:cast\()?(-?\d+)(?: as bigint\))?\)"
    r" div (?:cast\()?(\d+)(?: as bigint\))?\)(?: AS (\w+)#\d+L?)?$"
)
_GROUP_WFLOOR_RE = re.compile(
    r"^FLOOR\(\(cast\(\(time#\d+L? - (?:cast\()?(-?\d+)(?: as bigint\))?\) as double\)"
    r" / (?:cast\((\d+) as double\)|(\d+)\.0)\)\)(?: AS (\w+)#\d+L?)?$"
)
# the uuid grouping attribute (fleet shape), bare or pass-through in the output
_UUID_ATTR_RE = re.compile(r"^uuid#\d+$")
# min(value#8) AS min#11. count(*) analyzes to count(1) — accepted as
# count: equal to count(value) on the points plane, whose value column is
# validated non-null on insert (store.py invalid_cond). min/avg/max over
# anything but the value column do NOT match.
_AGG_RE = re.compile(
    r"^(?:(min|avg|max|count)\(value#\d+\)|(count)\(1\)) AS (\w+)#\d+L?$"
)
# Filter conjuncts, matched individually in ANY order (the condition tree
# is flattened through its And nodes first). SQL-text int literals carry an
# analyzer-inserted widening cast — (time#7L >= cast(123 as bigint)) —
# tolerated, same constant.
_C_TGE = re.compile(r"^\(time#\d+L? >= (?:cast\()?(-?\d+)(?: as bigint\))?\)$")
_C_TLT = re.compile(r"^\(time#\d+L? < (?:cast\()?(-?\d+)(?: as bigint\))?\)$")
# Inclusive upper bounds: `time <= C` means end C+1. SQL BETWEEN survives
# analysis as a single between(col, lo, hi) node (both bounds inclusive).
_C_TLE = re.compile(r"^\(time#\d+L? <= (?:cast\()?(-?\d+)(?: as bigint\))?\)$")
_C_BETWEEN = re.compile(
    r"^between\(time#\d+L?, (?:cast\()?(-?\d+)(?: as bigint\))?,"
    r" (?:cast\()?(-?\d+)(?: as bigint\))?\)$"
)
_C_UUID_EQ = re.compile(r"^\(uuid#\d+ = ([^)]+)\)$")
_C_UUID_IN = re.compile(r"^uuid#\d+ IN \(([^)]+)\)$")


def _conjuncts(cond) -> list:
    """Flatten a JVM Catalyst condition through its And nodes."""
    if cond.getClass().getSimpleName() == "And":
        return _conjuncts(cond.left()) + _conjuncts(cond.right())
    return [cond.toString()]


def _match_filter(cond) -> Optional[dict]:
    """Match the filter as an unordered set of conjuncts: exactly one
    [start, end) time range, plus at most one uuid predicate (equality or
    IN-list; absent = every stream). Returns None on any extra conjunct."""
    start = end = uuids = None
    has_uuid = False
    for s in _conjuncts(cond):
        if (m := _C_TGE.match(s)) is not None and start is None:
            start = int(m.group(1))
        elif (m := _C_TLT.match(s)) is not None and end is None:
            end = int(m.group(1))
        elif (m := _C_TLE.match(s)) is not None and end is None:
            end = int(m.group(1)) + 1
        elif (m := _C_BETWEEN.match(s)) is not None and start is None and end is None:
            start, end = int(m.group(1)), int(m.group(2)) + 1
        elif (m := _C_UUID_EQ.match(s)) is not None and not has_uuid:
            uuids, has_uuid = [m.group(1)], True
        elif (m := _C_UUID_IN.match(s)) is not None and not has_uuid:
            uuids, has_uuid = [u.strip() for u in m.group(1).split(",")], True
        else:
            return None  # unknown or duplicate conjunct: not canonical
    if start is None or end is None:
        return None
    return dict(start=start, end=end, uuids=uuids)

_AGG_SOURCE = {"min": "vmin", "max": "vmax", "count": "cnt"}


def _match_group(s: str) -> Optional[tuple]:
    """Match a grouping expression string. Returns (kind, params, alias):
    kind 'aligned' with params {'pw'} for the power-of-two bucket key, or
    kind 'windows' with params {'wstart', 'width'} for either tumbling-
    window key form. Both window forms reduce to the same integer window
    index under the exactness guards in rewrite_aligned_stat."""
    m = _GROUP_RE.match(s)
    if m is not None:
        if m.group(1) != m.group(2):
            return None
        return "aligned", {"pw": int(m.group(1))}, m.group(3)
    m = _GROUP_WDIV_RE.match(s)
    if m is not None:
        return (
            "windows",
            {"wstart": int(m.group(1)), "width": int(m.group(2)), "wshape": "div"},
            m.group(3),
        )
    m = _GROUP_WFLOOR_RE.match(s)
    if m is not None:
        return (
            "windows",
            {
                "wstart": int(m.group(1)),
                "width": int(m.group(2) or m.group(3)),
                "wshape": "floor",
            },
            m.group(4),
        )
    return None


def _match_shape(df: DataFrame) -> Optional[dict]:
    """Parse the analyzed plan; return the query parameters when it is the
    canonical aligned-stat aggregate, else None. Two shapes match:

    - single-stream: groupBy(bucket) with a uuid-equality filter
      (``uuids`` is a one-element list, ``fleet`` False);
    - fleet: groupBy(uuid, bucket) with a uuid IN-list filter or no uuid
      predicate at all (``uuids`` None = every stream, ``fleet`` True) —
      the 100 TB dashboard shape served by serve_aligned_all."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        # tolerate a trailing orderBy (Sort node) above the aggregate
        if plan.getClass().getSimpleName() == "Sort":
            plan = plan.child()
        if plan.getClass().getSimpleName() != "Aggregate":
            return None
        ge = plan.groupingExpressions()
        fleet = ge.size() == 2
        if ge.size() not in (1, 2):
            return None
        gstrs = [ge.apply(i).toString() for i in range(ge.size())]
        if fleet:
            uuid_keys = [s for s in gstrs if _UUID_ATTR_RE.match(s)]
            bucket_keys = [s for s in gstrs if not _UUID_ATTR_RE.match(s)]
            if len(uuid_keys) != 1 or len(bucket_keys) != 1:
                return None
            gstr = bucket_keys[0]
        else:
            gstr = gstrs[0]
        gk = _match_group(gstr)
        if gk is None:
            return None
        kind, params, _ = gk
        aggs = []  # (source fn, output name) in projection order
        group_alias = None
        saw_uuid_out = False
        ae = plan.aggregateExpressions()
        for i in range(ae.size()):
            s = ae.apply(i).toString()
            if fleet and _UUID_ATTR_RE.match(s):
                if saw_uuid_out:
                    return None
                saw_uuid_out = True
                continue
            g2 = _match_group(s)
            if g2 is not None and g2[2] is not None:
                if group_alias is not None or g2[0] != kind or g2[1] != params:
                    return None
                group_alias = g2[2]
                continue
            am = _AGG_RE.match(s)
            if am is None:
                return None
            aggs.append((am.group(1) or am.group(2), am.group(3)))
        if group_alias is None or not aggs or (fleet and not saw_uuid_out):
            return None
        child = plan.child()
        if child.getClass().getSimpleName() != "Filter":
            return None
        fm = _match_filter(child.condition())
        if fm is None:
            return None
        if not fleet and (fm["uuids"] is None or len(fm["uuids"]) != 1):
            return None  # single-stream shape needs exactly one uuid
        return dict(
            kind=kind,
            group_alias=group_alias,
            aggs=aggs,
            fleet=fleet,
            uuids=fm["uuids"],
            start=fm["start"],
            end=fm["end"],
            **params,
        )
    except Exception:  # noqa: BLE001 — any plan-introspection drift: no rewrite
        return None


def rewrite_aligned_stat(df: DataFrame, ladder: "RollupLadder") -> DataFrame:
    """Return `df` served from the ladder's best materialized level when its
    plan is the canonical aligned-stat aggregate and the rewrite is exact
    (see module docstring); otherwise return `df` unchanged. Output column
    names and order match the input plan's projection."""
    from pyspark.sql import functions as F

    m = _match_shape(df)
    if m is None:
        return df
    start, end = m["start"], m["end"]
    if m["kind"] == "aligned":
        pw = m["pw"]
        mask = (1 << pw) - 1
        if (start & mask) or (end & mask):
            return df  # unaligned bounds: boundary buckets would differ
        best = ladder.best_level(lambda l: l <= pw)
    else:  # arbitrary-width tumbling windows
        wstart, width = m["wstart"], m["width"]
        if m["wshape"] == "floor" and max(end - wstart, wstart - start) > (1 << 52):
            # Beyond 2**52 ns of offset the float-floor form's own
            # arithmetic stops being provably exact: cast-to-double of
            # (time - wstart) rounds by up to a few ns, misassigning points
            # that close to a window boundary. The served plan (same FLOOR
            # over the bucket column) could then disagree with the input
            # plan — serve nothing rather than "fix" the user's query.
            # The div form is integer arithmetic: exact at any range.
            return df
        # Exactness: every 2**l rollup bucket must lie wholly inside one
        # window (width and window origin both 2**l-aligned) and the scan
        # bounds must be bucket boundaries (start/end 2**l-aligned), so the
        # level's rows tile the filtered points with no straddlers.
        best = ladder.best_level(
            lambda l: width % (1 << l) == 0
            and start % (1 << l) == 0
            and end % (1 << l) == 0
            and wstart % (1 << l) == 0
        )
    if best is None:
        return df
    if m["fleet"]:
        # Fleet shape: chunk-range-pruned scan of the whole level (the
        # serve_aligned_all path), optionally narrowed to the IN-list.
        shift = ladder._chunk_shift(best)
        lvl = ladder._level_raw(best).where(
            (F.col("chunk") >= F.lit(start >> shift))
            & (F.col("chunk") <= F.lit((end - 1) >> shift))
            & (F.col("bucket") >= F.lit(start))
            & (F.col("bucket") < F.lit(end))
        )
        if m["uuids"] is not None:
            lvl = lvl.where(F.col("uuid").isin(m["uuids"]))
    else:
        u = m["uuids"][0]
        lvl = ladder._level_for_stream(best, u, start, end).where(
            (F.col("uuid") == F.lit(u))
            & (F.col("bucket") >= F.lit(start))
            & (F.col("bucket") < F.lit(end))
        )
    out_aggs = []
    for fn, name in m["aggs"]:
        if fn == "avg":
            # Quantized ladders serve the mean from the int64 vq sum —
            # exactly associative, bit-identical under any aggregation
            # order (see RollupLadder.value_quantum / plans.rollup._rollup_mean).
            from btrdb_server_spark.plans.rollup import _rollup_mean

            out_aggs.append(_rollup_mean(ladder.value_quantum).alias(name))
        else:
            src = _AGG_SOURCE[fn]
            agg = {"vmin": F.min, "vmax": F.max, "cnt": F.sum}[src]
            out_aggs.append(agg(src).alias(name))
    if m["kind"] == "aligned":
        bucket_key = F.shiftleft(F.shiftright("bucket", m["pw"]), m["pw"])
    elif m["wshape"] == "div":
        # The user's own operator applied to the bucket start: every point
        # of a 2**best bucket shares its window index (alignment guard), so
        # semantics — including div's truncation toward zero on negative
        # offsets — carry over exactly.
        bucket_key = F.expr(
            f"(bucket - CAST({wstart} AS BIGINT)) div CAST({width} AS BIGINT)"
        )
    else:
        bucket_key = F.floor((F.col("bucket") - F.lit(wstart)) / F.lit(width))
    bucket_key = bucket_key.alias(m["group_alias"])
    if m["fleet"]:
        served = lvl.groupBy("uuid", bucket_key).agg(*out_aggs)
        order = ["uuid", m["group_alias"]]
    else:
        served = lvl.groupBy(bucket_key).agg(*out_aggs)
        order = [m["group_alias"]]
    return served.select(*df.columns).orderBy(*order)
