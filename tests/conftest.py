"""Shared fixtures: local SparkSession + DuckDB oracle comparator.

The comparator mimics the driver's t2 check: run the Spark DataFrame and
the oracle SQL (DuckDB over the same parquet), sort columns by name,
sort rows, compare values (exact for non-floats, tolerant for floats).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("sidemantic-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize_rows(cols, rows):
    """Sort columns by name, then rows; round floats, lift dates to
    datetimes (Spark date_trunc returns TIMESTAMP, DuckDB returns DATE
    for day-and-coarser grains)."""
    import datetime
    import decimal

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, decimal.Decimal):
                v = float(v)
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6)
            elif isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
                v = datetime.datetime(v.year, v.month, v.day)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return [cols[i] for i in order], out


def _canon_strict(v):
    """Driver-grade canonical form: exact floats (full repr), Decimal as
    string, dates lifted to naive datetimes. Mirrors the ordered check
    of scripts/strict_compare.py."""
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    return repr(v)


def assert_df_matches_oracle_strict(df, duck_con, oracle_sql):
    """Strictest form of the driver's t2 hash check: columns sorted by
    name, rows compared IN RETURNED ORDER, full float precision. Every
    oracle-checked contract query must pass this — the contract's
    _canon wrapper imposes a total row order on both engines and the
    DECIMAL-sum design makes monetary aggregates bit-identical, so any
    failure here is a real regression, not noise."""
    sdf_cols = sorted(df.columns)
    s_rows = [tuple(_canon_strict(r[c]) for c in sdf_cols) for r in df.collect()]
    res = duck_con.execute(oracle_sql)
    o_cols_raw = [d[0] for d in res.description]
    idx = sorted(range(len(o_cols_raw)), key=lambda i: o_cols_raw[i])
    o_cols = [o_cols_raw[i] for i in idx]
    o_rows = [tuple(_canon_strict(r[i]) for i in idx) for r in res.fetchall()]
    assert sdf_cols == o_cols, f"schema: {sdf_cols} vs {o_cols}"
    assert len(s_rows) == len(o_rows), f"rows: {len(s_rows)} vs {len(o_rows)}"
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        assert sr == orow, f"row {i} (in returned order):\nspark: {sr}\nduck:  {orow}"


def assert_df_matches_oracle(df, duck_con, oracle_sql, check_columns=True, rel_tol=1e-6):
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]
    res = duck_con.execute(oracle_sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]

    if check_columns:
        assert sorted(spark_cols) == sorted(duck_cols), (
            f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
        )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    _, s_rows = normalize_rows(spark_cols, spark_rows)
    _, d_rows = normalize_rows(duck_cols, duck_rows)
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        assert len(sr) == len(dr)
        for sv, dv in zip(sr, dr):
            if isinstance(sv, float) and isinstance(dv, float):
                assert math.isclose(sv, dv, rel_tol=rel_tol, abs_tol=1e-9), (
                    f"row {i}: {sv} != {dv}\nspark: {sr}\nduck:  {dr}"
                )
            else:
                if hasattr(sv, "timestamp") and hasattr(dv, "timestamp"):
                    assert sv.replace(tzinfo=None) == dv.replace(tzinfo=None), (
                        f"row {i}: {sv!r} != {dv!r}"
                    )
                else:
                    assert sv == dv, f"row {i}: {sv!r} != {dv!r}\nspark: {sr}\nduck:  {dr}"
