"""One sequential-fold mechanism for batch operators and their streaming
twins.

BTrDB folds points into per-stream state as they arrive (WindowContext
update/emit, qtree/qtree.go:1033-1068) and never drops late data (ST2).
Here every such fold is a FoldSpec: a state schema, the state before the
first row, sort keys, an optional frontier, and ONE step function

    step(state, cols) -> (state, out)

over the group's rows as numpy arrays (`cols`, sorted by the spec's keys),
returning the new state and the emitted columns. Two runners drive a spec:

- fold_stream: the streaming twin. groupBy(keys).applyInPandasWithState in
  update mode with no timeout (state never expires, as in the reference).
  Per group per micro-batch it concatenates ALL Arrow chunks of the group
  (a group may arrive as any number of them), sorts once, checks the
  frontier against the first sorted row, steps, updates the state and
  emits the rows — nothing for a group that got no rows.
- fold_batch: the batch operator. groupBy(keys).applyInPandas, the same
  sort and the same step from the spec's initial state.

A batch operator and its twin that share a spec share their IEEE op
sequence by construction, so on an in-order source the twin's emission is
bit-equal to the batch fold. This module also holds the four recurrences
both paths fold: ewma, deadband, swinging door and Holt.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

@dataclass(frozen=True)
class FoldSpec:
    """A per-group sequential fold.

    `frontier` is the index of the state field an order-defined fold must
    not fall behind: the first sorted row of a micro-batch raises
    "stream <key>: point at <t> <late> <frontier> — order-defined operator"
    when it lies before it (or AT it, with `strict`). With `window`
    = (start, width) the row's window start is compared, not its time."""

    output_schema: str
    state_schema: str
    init: tuple
    step: Callable[[tuple, dict], tuple]
    sort: tuple = ()
    frontier: int | None = None
    late: str = ""
    strict: bool = False
    window: tuple | None = None


def _names(schema: str) -> list:
    return [field.split()[0] for field in schema.split(",")]


def _frame(names: list, keys: dict, out: dict) -> pd.DataFrame | None:
    """The emitted rows in schema order; output columns the step did not
    return are group-key columns, filled from the key."""
    n = len(next(iter(out.values()))) if out else 0
    if n == 0:
        return None
    return pd.DataFrame({c: out[c] if c in out else [keys[c]] * n for c in names})


def _sorted_cols(pdf: pd.DataFrame, spec: FoldSpec) -> dict:
    if spec.sort:
        pdf = pdf.sort_values(list(spec.sort), kind="stable")
    return {c: pdf[c].to_numpy() for c in pdf.columns}


def _check_frontier(spec: FoldSpec, key: Any, state: tuple, t: int) -> None:
    f = state[spec.frontier]
    if f is None:
        return
    pos = t
    if spec.window is not None:
        start, width = spec.window
        pos = start + ((t - start) // width) * width
    if pos < f or (spec.strict and pos == f):
        raise ValueError(
            f"stream {key}: point at {t} {spec.late} {f} — order-defined operator"
        )


def fold_stream(df: DataFrame, keys: list, spec: FoldSpec) -> DataFrame:
    """The streaming twin of `spec`: keyed state per group of `keys`."""
    names = _names(spec.output_schema)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        cols = _sorted_cols(pdf, spec)
        st = state.get if state.exists else spec.init
        if spec.frontier is not None:
            _check_frontier(spec, key[0], st, int(cols["time"][0]))
        st, out = spec.step(st, cols)
        state.update(st)
        frame = _frame(names, dict(zip(keys, key)), out)
        if frame is not None:
            yield frame

    return df.groupBy(*keys).applyInPandasWithState(
        update,
        spec.output_schema,
        spec.state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def fold_batch(
    df: DataFrame,
    keys: list,
    spec: FoldSpec,
    schema: str,
    final: Callable[[tuple, dict], dict] | None = None,
) -> DataFrame:
    """The batch operator of `spec`: one fold per group of `keys` from the
    initial state, emitting the `schema` columns. `final(state, out)` may
    append what only a finite input has (SDT's trailing point)."""
    names = _names(schema)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        st, out = spec.step(spec.init, _sorted_cols(pdf, spec))
        if final is not None:
            out = final(st, out)
        return pd.DataFrame({c: out[c] for c in names})

    return df.groupBy(*keys).applyInPandas(fold, schema)


def ewma_fold(alpha: float) -> FoldSpec:
    """s_i = a*x_i + (1-a)*s_{i-1}, s_0 = x_0 over (time, value) order —
    each op rounded once, the chain the DuckDB oracle replays. State:
    (frontier time, running ewma)."""
    a, b = float(alpha), 1.0 - float(alpha)

    def step(state: tuple, c: dict) -> tuple:
        s = state[1]
        ts, vs = c["time"].tolist(), c["value"].tolist()
        out = []
        for v in vs:
            s = v if s is None else a * v + b * s
            out.append(s)
        return (ts[-1], s), {"time": ts, "value": vs, "ewma": out}

    return FoldSpec(
        "uuid string, time long, value double, ewma double",
        "last_time long, last_ewma double",
        (None, None),
        step,
        sort=("time", "value"),
        frontier=0,
        late="arrived after the EWMA frontier",
    )


def deadband_fold(deadband_q: int) -> FoldSpec:
    """Keep a point when |q - q_kept| > deadband_q (integer quantum
    units, so the kept set is engine-exact); the first point is kept.
    State: (frontier time, last kept q)."""

    def step(state: tuple, c: dict) -> tuple:
        kq = state[1]
        ts = c["time"].tolist()
        out_t, out_v = [], []
        for t, v, q in zip(ts, c["value"].tolist(), c["q"].tolist()):
            if kq is None or abs(q - kq) > deadband_q:
                kq = q
                out_t.append(t)
                out_v.append(v)
        return (ts[-1], kq), {"time": out_t, "value": out_v}

    return FoldSpec(
        "uuid string, time long, value double",
        "last_time long, kept_q long",
        (None, None),
        step,
        sort=("time", "value"),
        frontier=0,
        late="behind the deadband frontier",
    )


def sdt_fold(eq: int) -> FoldSpec:
    """Swinging-door trending with tolerance `eq` quantum units: store the
    PREVIOUS point when the slope doors through (q ± eq) cross. Each slope
    is one IEEE division of two exact int64s. Duplicate times collapse to
    their max value first (rows arrive sorted by (time, value)). State:
    pivot (tp, qp), last point (tl, ql, vl) and the doors (slo, shi); the
    first point is stored and opens the fold."""

    def step(state: tuple, c: dict) -> tuple:
        t_all = c["time"]
        last = np.append(t_all[1:] != t_all[:-1], True)
        tp, qp, tl, ql, vl, slo, shi = state
        out_t, out_v = [], []
        for t, q, v in zip(
            t_all[last].tolist(), c["q"][last].tolist(), c["value"][last].tolist()
        ):
            if tp is None:
                out_t.append(t)
                out_v.append(v)
                tp, qp, tl, ql, vl = t, q, t, q, v
                slo, shi = float("-inf"), float("inf")
                continue
            dt = float(t - tp)
            nshi = min(shi, float(q + eq - qp) / dt)
            nslo = max(slo, float(q - eq - qp) / dt)
            if nslo > nshi:  # doors crossed: store the previous point
                out_t.append(tl)
                out_v.append(vl)
                tp, qp = tl, ql
                dt2 = float(t - tl)
                shi = float(q + eq - ql) / dt2
                slo = float(q - eq - ql) / dt2
            else:
                shi, slo = nshi, nslo
            tl, ql, vl = t, q, v
        return (tp, qp, tl, ql, vl, slo, shi), {"time": out_t, "value": out_v}

    return FoldSpec(
        "uuid string, time long, value double",
        "tp long, qp long, tl long, ql long, vl double, slo double, shi double",
        (None,) * 7,
        step,
        sort=("time", "value"),
        frontier=2,
        late="at/behind the SDT frontier",
        strict=True,
    )


def holt_fold(alpha: float, beta: float) -> FoldSpec:
    """Holt (level, trend) per point, seeded level = x_0, trend = 0:
    level' = a*x + (1-a)*(level + trend), computed once and reused in
    trend' = b*(level' - level) + (1-b)*trend — the oracle's op order.
    State: (frontier time, level, trend)."""
    a, b = float(alpha), 1.0 - float(alpha)
    g, h = float(beta), 1.0 - float(beta)

    def step(state: tuple, c: dict) -> tuple:
        _, lvl, tr = state
        ts, vs = c["time"].tolist(), c["value"].tolist()
        out_l, out_tr = [], []
        for v in vs:
            if lvl is None:
                lvl, tr = v, 0.0
            else:
                lp = a * v + b * (lvl + tr)
                tr = g * (lp - lvl) + h * tr
                lvl = lp
            out_l.append(lvl)
            out_tr.append(tr)
        return (ts[-1], lvl, tr), {
            "time": ts,
            "value": vs,
            "level": out_l,
            "trend": out_tr,
        }

    return FoldSpec(
        "uuid string, time long, value double, level double, trend double",
        "last_time long, level double, trend double",
        (None, None, None),
        step,
        sort=("time", "value"),
        frontier=0,
        late="behind the Holt frontier",
    )
