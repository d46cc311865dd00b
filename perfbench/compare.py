"""Compare two sets of benchmark result files (.bench_out/results/*.json).

    python3 perfbench/compare.py --a A1.json [A2.json ...] --b B1.json [...]

Prints, per workload:
1. exact counter deltas first (Spark jobs, stages, tasks, shuffle, spill
   and input bytes, store files and versions), from the traced results;
2. then every end-to-end and per-layer metric as median [q1, q3] for each
   side and the change of the medians.

Comparing untraced results (--a) with traced results (--b) of the same code
gives the tracing overhead: the end-to-end rows show what the spans cost.
"""

from __future__ import annotations

import argparse
import json
import statistics
from collections import defaultdict

COUNTERS = (
    "spark.jobs_per_op",
    "spark.stages_per_op",
    "spark.tasks_per_op",
    "spark.shuffle_bytes_per_op",
    "spark.spill_bytes",
    "spark.input_bytes_per_op",
    "store.files",
    "store.fresh_versions",
    "store.compact_count",
)


def quartiles(values: list) -> dict:
    if len(values) < 2:
        return {"q1": values[0], "median": values[0], "q3": values[0]}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"q1": q1, "median": med, "q3": q3}


def load(paths: list) -> dict:
    """workload -> metric -> [values across files]."""
    out: dict = defaultdict(lambda: defaultdict(list))
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        for section in ("end_to_end", "per_layer"):
            for k, v in r.get(section, {}).items():
                out[r["workload"]][k].append(float(v))
        out[r["workload"]]["anchor_s"].append(float(r["host"]["anchor_s"]))
        out[r["workload"]]["steal_pct"].append(float(r["host"]["steal_pct"]))
    return out


def _fmt(q: dict) -> str:
    return f"{q['median']:.6g} [{q['q1']:.6g}, {q['q3']:.6g}]"


def compare(a: dict, b: dict) -> list:
    lines = []
    for w in sorted(set(a) | set(b)):
        ma, mb = a.get(w, {}), b.get(w, {})
        lines.append(f"== {w}: {len(ma.get('anchor_s', []))} runs (a) vs "
                     f"{len(mb.get('anchor_s', []))} runs (b)")
        lines.append("-- counters (median of each side; exact when they repeat)")
        both = set(ma) & set(mb)
        for k in COUNTERS:
            if k in both:
                va, vb = quartiles(ma[k])["median"], quartiles(mb[k])["median"]
                same = "" if len(set(ma[k])) == 1 and len(set(mb[k])) == 1 else "  (varies)"
                lines.append(f"{k:34s} {va:14.6g} -> {vb:14.6g}  delta {vb - va:+.6g}{same}")
        lines.append("-- medians [q1, q3]")
        for k in sorted(both - set(COUNTERS)):
            qa, qb = quartiles(ma[k]), quartiles(mb[k])
            ch = (qb["median"] / qa["median"] - 1) * 100 if qa["median"] else float("nan")
            lines.append(f"{k:34s} {_fmt(qa):>36s} -> {_fmt(qb):>36s}  {ch:+7.1f}%")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="compare two sets of result files")
    ap.add_argument("--a", nargs="+", required=True)
    ap.add_argument("--b", nargs="+", required=True)
    args = ap.parse_args(argv)
    print("\n".join(compare(load(args.a), load(args.b))))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
