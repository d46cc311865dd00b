"""Three-point scaling trend for the heaviest registry entries.

Times selected driver entries at sf0.001 / sf0.1 (driver testdata) and
.scale/sf1 (the 10x corpus from make_scale_data.py) — the measured
evidence behind the README scale-contract table's claim that these
plans' wall time grows sublinearly in corpus size (directory-pruned
index probes ~flat; shuffle-bounded pipelines ~linear in emitted work).

Same timing discipline as bench.py: full toPandas materialization, two
reps, keep the warm minimum. Memoized index entries therefore report
the PROBE cost (rep 2 rides the per-process memo build), which is the
number the 100 TB claim is about; the cold build+fold cycles are the
*_incremental / incremental_dedup entries, measured here too.

Usage: python scripts/scale_trend.py [entry ...]   (default: the 12 below)
Prints one JSON line per (entry, sf_dir).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DEFAULT_ENTRIES = [
    "incremental_dedup",
    "incremental_dedup_retire",
    "bm25_index_incremental",
    "bm25_index_retire",
    "ann_index_incremental",
    "ann_index_retire",
    "bm25_index_topk",
    "ann_index_topk",
    "minhash_lsh_pairs",
    "copurchase_pagerank",
    "streaming_attribution",
    "ngram_coverage",
]

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.1", ".scale/sf1"]


def main() -> int:
    names = sys.argv[1:] or DEFAULT_ENTRIES
    from btrdb_server_spark.session import get_spark

    spark = get_spark("btrdb-scale-trend", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long").count()
    for sf_dir in SF_DIRS:
        if not os.path.isdir(sf_dir):
            print(json.dumps({"sf_dir": sf_dir, "skipped": "missing"}))
            continue
        spark.read.parquet(f"{sf_dir}/events.parquet").count()  # warm footers
        for name in names:
            best, rows = None, 0
            for _ in range(2):
                t0 = time.perf_counter()
                rows = len(qs[name](spark, sf_dir).toPandas())
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            print(
                json.dumps(
                    {
                        "entry": name,
                        "sf_dir": sf_dir,
                        "sec": round(best, 2),
                        "rows": rows,
                    }
                ),
                flush=True,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
