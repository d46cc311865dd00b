"""The oracle gate: every `queries()` entry against its `oracle_sql()` twin.

Each entry runs on a PLAIN SparkSession (none of this repo's SQL config;
see `plain_session`) and is compared with its DuckDB oracle at the same
sf through `compare`, which `tests/test_oracle_parity.py` also uses, so
tier-1 and this CLI apply one canonicalizer and one comparison.

Usage: python scripts/check_driver.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import struct
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def plain_session(spark):
    """A new session of `spark`'s context with every modifiable spark.sql.*
    key from the context conf unset, then shuffle.partitions=8. A harness
    must not inherit the repo's session config (nanosAsLong, timeZone,
    Arrow): the driver's own session carries none of it. Keys PySpark sets
    in every context stay: unsetting spark.sql.artifact.isolation.enabled
    moves Python UDF workers into a directory the package cannot be
    imported from."""
    from pyspark.core.context import DEFAULT_CONFIGS

    plain = spark.newSession()
    for key, _ in spark.sparkContext.getConf().getAll():
        if (key.startswith("spark.sql.") and key not in DEFAULT_CONFIGS
                and plain.conf.isModifiable(key)):
            plain.conf.unset(key)
    plain.conf.set("spark.sql.shuffle.partitions", "8")
    return plain


def canon(rows, cols):
    """Canonicalize a result set: columns sorted by name, rows sorted.

    Floats compare by bit pattern (struct.pack of the double), like the
    driver's value hash, with two exceptions: every NaN equals every NaN,
    and -0.0 equals 0.0. Integers stay Python ints, so int64 values that
    differ below float precision stay distinct."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return None
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            if v == 0:
                return 0.0
            return struct.pack("<d", v).hex()
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, norm(x)) for k, x in v.items()))
        if isinstance(v, bytes):
            return v.hex()
        return v

    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def compare(cols, rows, con, sql) -> str | None:
    """Compare a Spark result (column names, row tuples) with the oracle
    `sql` run on DuckDB connection `con`. Returns None when they match,
    else a one-line reason.

    Type audit first: DuckDB types sum(BIGINT) as HUGEINT, which the
    driver's Arrow/pandas fetch coerces to float64 — the value hash then
    mismatches Spark's int64 even when every value is identical (root cause
    of the r02-r04 windows_depth / windows_rollup / repetition_stats reds).
    fetchall() returns Python ints either way, so without this check the
    mismatch is invisible. Fix in the oracle: CAST(... AS BIGINT)."""
    rel = con.sql(sql)
    huge = [c for c, t in zip(rel.columns, rel.types) if str(t) in ("HUGEINT", "UHUGEINT")]
    if huge:
        return (f"HUGEINT output column(s) {huge} — driver coerces to float64; "
                f"CAST to BIGINT in oracle")
    scols, srows = canon(rows, cols)
    ocols, orows = canon(rel.fetchall(), rel.columns)
    if scols != ocols:
        return f"schema {scols} != {ocols}"
    if len(srows) != len(orows):
        return f"rows {len(srows)} != {len(orows)}"
    if srows != orows:
        bad = next(i for i, (a, b) in enumerate(zip(srows, orows)) if a != b)
        return f"values differ at sorted row {bad}: spark {srows[bad]} oracle {orows[bad]}"
    return None


def oracle_connection(sf_dir):
    import duckdb

    from btrdb_server_spark.sources.testdata import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    # Python UDF workers import the package too: point them at this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = plain_session(
        SparkSession.builder.master("local[8]")
        .appName("check-driver")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_connection(sf_dir)

    if not only:
        # t1 smoke: entry() must run on sf0.001 with a stable schema.
        smoke = entry.entry(spark)
        print(f"entry(): rows={smoke.count()} cols={smoke.columns}")

    oracles = entry.oracle_sql()
    n_pass = n_fail = n_err = 0
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {str(e).splitlines()[0][:160]}")
            n_err += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok?  {name}: rows={len(rows)} (no oracle — rows-only check)")
            n_pass += 1
            continue
        try:
            reason = compare(cols, rows, con, sql)
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name} (oracle): {str(e).splitlines()[0][:160]}")
            n_err += 1
            continue
        if reason:
            print(f"FAIL {name}: {reason}")
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(rows)}")
            n_pass += 1
    print(f"\n== pass={n_pass} fail={n_fail} err={n_err}")
    return 1 if (n_fail or n_err) else 0


if __name__ == "__main__":
    raise SystemExit(main())
