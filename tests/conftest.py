"""Shared fixtures: one SparkSession per test run + a DuckDB oracle comparator
that mimics the driver's t2 check (row count, schema shape, order-insensitive
value hash over name-sorted columns)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from pyspark_text_classification_spark.session import get_session
from pyspark_text_classification_spark.sources.parquet import TESTDATA_TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="engine-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    # bounded: an oracle that blows up fails fast, naming its query,
    # instead of exhausting the host's memory
    con.execute("SET memory_limit='2GB'")
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(v):
    """Canonicalize a cell so Spark and DuckDB results hash identically."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    return str(v)


def rows_signature(columns, rows):
    """Order-insensitive multiset signature over name-sorted columns."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon_rows = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    return hash(tuple(canon_rows)), canon_rows


def assert_no_decimal_outputs(spark_df, name=""):
    """Hasher-portability gate: no query may RETURN a DecimalType column.

    decimal.Decimal cells repr differently across hashers (Decimal('5') vs 5
    vs 5.0 under pandas conversion) — DECIMAL(38,0) belongs INSIDE sums, cast
    back to BIGINT in the final select.  The DuckDB-side twin of this gate is
    tests/test_correctness_queries.py::test_oracle_output_types_are_hasher_portable.
    """
    from pyspark.sql.types import DecimalType

    bad = [f.name for f in spark_df.schema.fields if isinstance(f.dataType, DecimalType)]
    assert not bad, (
        f"{name}: DecimalType output columns {bad} — cast to BIGINT in the final select"
    )


def assert_matches_oracle(spark_df, oracle_con, sql, name=""):
    assert_no_decimal_outputs(spark_df, name=name)
    sdf = spark_df.toPandas()
    odf = oracle_con.execute(sql).fetchdf()
    assert len(sdf) == len(odf), (
        f"{name}: row count spark={len(sdf)} oracle={len(odf)}"
    )
    assert sorted(c.lower() for c in sdf.columns) == sorted(
        c.lower() for c in odf.columns
    ), f"{name}: columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    s_sig, s_rows = rows_signature(
        [c.lower() for c in sdf.columns], sdf.itertuples(index=False, name=None)
    )
    o_sig, o_rows = rows_signature(
        [c.lower() for c in odf.columns], odf.itertuples(index=False, name=None)
    )
    if s_sig != o_sig:
        diff_s = [r for r in s_rows if r not in set(o_rows)][:5]
        diff_o = [r for r in o_rows if r not in set(s_rows)][:5]
        raise AssertionError(
            f"{name}: value hash mismatch.\n spark-only: {diff_s}\n oracle-only: {diff_o}"
        )
