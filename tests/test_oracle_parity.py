"""The oracle gate: every queries() entry against its oracle_sql() twin at
sf0.01, on a plain session, through the same `compare` that
scripts/check_driver.py uses — bit-exact floats, the HUGEINT audit,
columns and rows sorted."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from scripts.check_driver import compare, oracle_connection, plain_session

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def plain_spark(spark):
    return plain_session(spark)


@pytest.fixture(scope="module")
def ddb():
    return oracle_connection(SF_DIR)


def _result(df):
    return df.columns, [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(plain_spark, ddb, name):
    oracles = entry_mod.oracle_sql()
    if name not in oracles:
        pytest.skip("rows-only query (no SQL oracle declared)")
    cols, rows = _result(entry_mod.queries()[name](plain_spark, SF_DIR))
    reason = compare(cols, rows, ddb, oracles[name])
    assert reason is None, f"{name}: {reason}"


def test_entry_smoke(plain_spark):
    df = entry_mod.entry(plain_spark)
    assert df.count() > 0
    assert len(df.schema) >= 2


def test_plain_session_carries_no_repo_sql_conf(spark, plain_spark):
    """The gate's session inherits none of get_spark's SQL config: a
    harness that inherits e.g. nanosAsLong hides a loader that fails on
    the driver's own session."""
    for key in ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone"):
        assert spark.conf.get(key, None) is not None
        assert plain_spark.conf.get(key, None) is None, key
    assert plain_spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_compare_rejects_hugeint_oracle_column():
    """DuckDB types sum(BIGINT) as HUGEINT; the driver reads it as float64,
    so the oracle must CAST it even when the values match."""
    con = duckdb.connect()
    huge = "SELECT sum(x) AS s FROM (VALUES (1::BIGINT)) t(x)"
    assert "HUGEINT" in compare(["s"], [(1,)], con, huge)
    cast = "SELECT CAST(sum(x) AS BIGINT) AS s FROM (VALUES (1::BIGINT)) t(x)"
    assert compare(["s"], [(1,)], con, cast) is None


def test_compare_keeps_int64_exact_next_to_null():
    """A BIGINT column holding a NULL must not pass through float64, where
    2^53+1 reads as 2^53."""
    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (9007199254740993::BIGINT), (NULL)) t(x)"
    assert compare(["x"], [(2**53,), (None,)], con, sql) is not None
    assert compare(["x"], [(2**53 + 1,), (None,)], con, sql) is None


def test_compare_floats_bit_exact_with_nan_and_signed_zero():
    """Floats compare by bit pattern, except NaN == NaN and -0.0 == 0.0."""
    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES ('NaN'::DOUBLE), (0.0::DOUBLE)) t(x)"
    assert compare(["x"], [(float("nan"),), (-0.0,)], con, sql) is None
    assert compare(["x"], [(0.1 + 0.2,)], con, "SELECT 0.3::DOUBLE AS x") is not None


def test_media_features_oracle_is_byte_based_on_non_ascii(plain_spark):
    """The media_features oracle must agree with the Spark UTF-8 byte path
    on MULTIBYTE text, not just the ASCII fixture corpus — the r7 oracle
    iterated characters (ord over split(text,'')) and only agreed because
    the documents fixture is pure ASCII."""
    from btrdb_server_spark.functions.multimodal import (
        media_features,
        media_from_documents,
    )

    rows = [
        (0, "héllo wörld"),          # 2-byte UTF-8 sequences
        (1, "日本語テキスト"),          # 3-byte sequences
        (2, "emoji 🎉 and ascii"),    # 4-byte sequence
        (3, ""),                      # empty payload
        (4, "plain ascii"),
    ]
    docs = plain_spark.createDataFrame(rows, "doc_id long, text string")
    cols, got = _result(media_features(media_from_documents(docs)))
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    assert len(got) == 5
    reason = compare(cols, got, con, entry_mod.oracle_sql()["media_features"])
    assert reason is None, reason
