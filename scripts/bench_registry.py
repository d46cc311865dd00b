"""Registry mutation-path micro-bench: O(1) per-op cost at 100k streams.

Bulk-registers 100k streams (one snapshot write), then times single
mutations (annotation CAS / create / obliterate) — each must cost one
fsync'd log append, independent of registry size. Compare the per-op time
against the same ops on a 1k-stream registry: the ratio should be ~1, where
the old rewrite-the-snapshot design scaled it with N.

Usage: python scripts/bench_registry.py
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def mutate_ops(reg, n_ops: int, tag: str) -> float:
    t0 = time.perf_counter()
    for i in range(n_ops):
        reg.create(f"mb-{tag}-{i}", f"mb/{tag}", {"name": f"m{i}"})
        reg.set_annotations(f"mb-{tag}-{i}", 1, {"k": "v"})
        reg.obliterate(f"mb-{tag}-{i}")
    return (time.perf_counter() - t0) / (3 * n_ops)


def main() -> int:
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from btrdb_server_spark.metadata import StreamRegistry
    from btrdb_server_spark.session import get_spark

    spark = get_spark("bench-registry")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for n in (1_000, 100_000):
        d = tempfile.mkdtemp(prefix="regbench-")
        reg = StreamRegistry(spark, d)
        streams = spark.range(n).select(
            F.concat(F.lit("s-"), F.col("id")).alias("uuid"),
            F.concat(F.lit("c/"), F.col("id") % 64).alias("collection"),
            F.create_map(F.lit("name"), F.concat(F.lit("n"), F.col("id"))).alias(
                "tags"
            ),
        )
        t0 = time.perf_counter()
        reg.create_many(streams)
        bulk_s = time.perf_counter() - t0
        per_op = mutate_ops(reg, 200, f"n{n}")
        out[n] = (bulk_s, per_op)
        print(
            f"streams={n:>7}: bulk={bulk_s:6.2f}s  "
            f"single-mutation={per_op * 1e3:7.3f} ms/op"
        )
        shutil.rmtree(d, ignore_errors=True)
    ratio = out[100_000][1] / out[1_000][1]
    print(f"100k/1k per-op ratio: {ratio:.2f} (O(1) target ~1, O(N) would be ~100)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
