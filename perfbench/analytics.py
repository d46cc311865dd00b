"""`analytics` workload: 21 entries of the query registry
(`__spark_entry__.queries()`) in seeded order, each materialised with
toPandas(), over seeded tables in the testdata layout.

Set-up generates the tables and runs one untimed warm pass (it builds the
cached ladder and store the rollup entries read, and the index memo).
Timed passes then repeat until the run's seconds are spent, at least one.
After timing, each entry's last result is compared with its oracle_sql()
DuckDB answer; a mismatch counts as a failed op.

The engine caches its events ladder and store under /tmp keyed by the
data directory; the data directory name is unique per run and both cache
directories are removed when the run ends.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import tempfile
import time

import numpy as np

from perfbench.common import (
    OUT,
    SparkCounters,
    TreeSampler,
    anchor_s,
    dir_bytes,
    latency_summary,
    log,
    nproc,
    prepare_env,
    spark_layer_metrics,
    spark_session,
    stop_spark,
)
from perfbench.gen import write_analytics_tables

# entry -> the package family that implements it
ENTRIES = {
    "aligned_windows_rollup": "store_rollup",
    "aligned_windows_all_rollup": "store_rollup",
    "windows_rollup": "store_rollup",
    "rollup_rewrite": "store_rollup",
    "windows_rewrite": "store_rollup",
    "sql_rollup_serve": "store_rollup",
    "late_data_rollup": "store_rollup",
    "store_delete_range": "store_rollup",
    "store_changes": "store_rollup",
    "buffer_read_your_writes": "store_rollup",
    "changed_ranges": "stat",
    "nearest_asof": "stat",
    "decimate_envelope": "stat",
    "ewma": "derive",
    "sdt_compress": "derive",
    "streaming_stat_state": "streaming",
    "streaming_ewma": "streaming",
    "streaming_sdt": "streaming",
    "streaming_rollup_serve": "streaming",
    "bm25_index_incremental": "functions",
    "pq_index_compact": "functions",
}
FAMILIES = ("store_rollup", "derive", "streaming", "stat", "functions")


def _norm(v):
    """One cell, made comparable across Spark (pandas) and DuckDB: numbers
    as exact ints or floats rounded to 9 significant digits, timestamps as
    epoch ns, arrays as tuples, nulls and NaN as None."""
    if v is None:
        return None
    if hasattr(v, "value") and hasattr(v, "tz_localize"):  # pandas Timestamp
        return int(v.value)
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)) or hasattr(v, "as_tuple"):  # Decimal too
        f = float(v)
        if math.isnan(f):
            return None
        if f.is_integer() and abs(f) < 2**53:
            return int(f)
        return float(f"{f:.9g}")
    return v


def canon(pdf) -> tuple:
    cols = sorted(pdf.columns)
    rows = [tuple(_norm(r[c]) for c in cols) for r in pdf.to_dict("records")]
    rows.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return cols, rows


def check_oracles(results: dict, sf_dir: str, oracles: dict) -> list:
    """Names of entries whose result differs from the DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    bad = []
    for name, pdf in results.items():
        try:
            want = con.execute(oracles[name]).df()
            ok = canon(pdf) == canon(want)
        except Exception as e:  # noqa: BLE001 — an oracle error is a failed check
            log(f"oracle {name}: {e!r}")
            ok = False
        if not ok:
            bad.append(name)
    con.close()
    return bad


def _engine_caches(sf_dir: str) -> list:
    from btrdb_server_spark.sources.testdata import CACHE_TAG

    tag = re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    return [f"/tmp/btrdb_spark_{kind}/{CACHE_TAG}/{tag}" for kind in ("ladder", "store")]


N_EVENTS = 10_000  # sf0.01-sized: the registry's per-query fixed cost dominates


def run(seed: int, seconds: float, trace: bool) -> dict:
    os.makedirs(OUT, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"analytics-{seed}-", dir=OUT)
    prepare_env(workdir)
    sf_dir = os.path.join(workdir, "sf")
    t_setup = time.perf_counter()
    write_analytics_tables(sf_dir, seed, N_EVENTS)
    spark = spark_session("bench-analytics")
    sampler = TreeSampler(os.getpid()).start()
    from perfbench.trace import StreamingPhases, mean_ms

    phases = StreamingPhases(spark) if trace else None
    import __spark_entry__ as registry

    queries, oracles = registry.queries(), registry.oracle_sql()
    order = list(np.random.default_rng(seed).permutation(sorted(ENTRIES)))
    try:
        for name in order:  # warm pass
            queries[name](spark, sf_dir).toPandas()
        setup_s = time.perf_counter() - t_setup

        counters = SparkCounters(spark)
        ops: list = []  # (pass, name, build s, collect s, epoch t0, epoch t1, rows)
        passes: list = []
        results: dict = {}
        cpu0, w0, e0 = sampler.cpu_seconds(), time.perf_counter(), time.time()
        while not passes or time.perf_counter() < w0 + seconds:
            p0 = time.perf_counter()
            for name in order:
                a, t0 = time.time(), time.perf_counter()
                df = queries[name](spark, sf_dir)
                t1 = time.perf_counter()
                results[name] = df.toPandas()
                t2 = time.perf_counter()
                ops.append((len(passes), name, t1 - t0, t2 - t1, a, time.time(), len(results[name])))
            passes.append(time.perf_counter() - p0)
        wall = time.perf_counter() - w0
        cpu_s = sampler.cpu_seconds() - cpu0
        bad = check_oracles(results, sf_dir, oracles)
        cache_bytes = sum(dir_bytes(d) for d in _engine_caches(sf_dir))
        layers = {"proc.cpu_util": cpu_s / (wall * nproc()),
                  "peak_rss_mb": sampler.peak_kb / 1024.0}
        if trace:
            time.sleep(0.5)  # listener events arrive asynchronously
            for fam in FAMILIES:
                layers[f"family.{fam}_s"] = sum(
                    b + c for _p, n, b, c, *_ in ops if ENTRIES[n] == fam) / len(passes)
            layers.update({
                "analytics.build_ms": mean_ms([1000.0 * o[2] for o in ops]),
                "analytics.collect_ms": mean_ms([1000.0 * o[3] for o in ops]),
                **phases.metrics(since=e0),
            })
            per_op = []
            submits = counters.submit_times()
            for *_x, a, b, _rows in ops:
                c = counters.collect(counters.in_window(submits, a, b))
                c["t0"], c["t1"] = a, b
                per_op.append(c)
            layers.update(spark_layer_metrics(per_op, sum(o[6] for o in ops)))
        anchor = anchor_s(spark)
    finally:
        sampler.stop()
        if phases is not None:
            phases.close()
        for d in _engine_caches(sf_dir):
            shutil.rmtree(d, ignore_errors=True)
        stop_spark(spark)

    lat = latency_summary([1000.0 * (o[2] + o[3]) for o in ops])
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(ops) / wall,
        "points_per_s": N_EVENTS * len(ops) / wall,
        "op_p50_ms": lat["p50_ms"],
        "op_tail_ms": lat["tail_ms"],
        "bytes_per_user_byte": cache_bytes / (16.0 * N_EVENTS),
        "pass_s": float(np.median(passes)),
    }
    log(f"analytics: {len(passes)} passes in {wall:.1f}s, setup {setup_s:.1f}s, mismatches {bad}")
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": len(ops),
        "failed": len(bad),
        "errors": [f"oracle mismatch: {n}" for n in bad],
        "latency": lat,
        "anchor_s": anchor,
        "detail": {"passes_s": passes, "per_entry_ms": {
            n: 1000.0 * float(np.median([b + c for _p, m, b, c, *_ in ops if m == n])) for n in order}},
        "workdir": workdir,
    }
