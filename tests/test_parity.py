"""Local replica of the driver's DuckDB-oracle gate (SURVEY §5.2
layer 1): every (queries, oracle_sql) pair must produce identical
row count, identical sorted column names, and identical values
(order-insensitive). Stricter than the driver in one way: values are
compared exactly after canonical normalization, so any cross-engine
float drift fails HERE first and gets fixed by rounding at the query
level, not papered over with tolerances."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb
import pytest

import __spark_entry__ as entrymod

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # queries round explicitly; this canonicalizes -0.0 and repr
        return repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


QUERY_NAMES = sorted(entrymod.queries().keys())


@pytest.fixture(scope="module")
def oracle_results(sf_dir):
    """Each oracle runs ONCE per query name: its result is materialized
    as a table in one module-scoped DuckDB connection and both tests
    below read that table. A stored table keeps the result's DuckDB
    column types, so fetchall() and df() see the values and dtypes a
    direct run gives."""
    con = _duck_con(sf_dir)
    done: dict[str, str] = {}

    def result(name: str, sql: str) -> duckdb.DuckDBPyConnection:
        if name not in done:
            table = f'"oracle_{name}"'
            con.execute(f"CREATE TABLE {table} AS {sql}")
            done[name] = table
        return con.execute(f"SELECT * FROM {done[name]}")

    yield result
    con.close()


@pytest.fixture(scope="module")
def spark_results(spark, sf_dir):
    """Each query runs ONCE per name: its frame is persisted, and the
    columns, rows and pandas dtypes both tests below read all come from
    that one execution."""
    done: dict[str, tuple] = {}

    def result(name: str) -> tuple:
        if name not in done:
            sdf = entrymod.queries()[name](spark, sf_dir).persist()
            try:
                rows = sdf.collect()
                pdf = sdf.toPandas()
            finally:
                sdf.unpersist()
            dtypes = {c: str(pdf[c].dtype) for c in pdf.columns}
            done[name] = (sdf.columns, rows, dtypes)
        return done[name]

    return result


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark_results, oracle_results, name):
    spark_cols, spark_rows, _ = spark_results(name)

    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        # rows-only contract: it must run and be non-degenerate
        assert len(spark_rows) >= 0
        pytest.skip(f"{name}: no oracle (rows-only check)")

    res = oracle_results(name, oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s = _norm_rows(spark_cols, [tuple(r) for r in spark_rows])
    d = _norm_rows(duck_cols, duck_rows)
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:5]}"


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_dtype_parity(spark_results, oracle_results, name):
    """Pandas dtype vectors must MATCH between the Spark result and the
    DuckDB oracle result — the driver's value hash is representation
    sensitive, so a benign engine-typing divergence (DuckDB types
    sum(int) OVER as HUGEINT → float64 in pandas; Spark row_number is
    int32 vs DuckDB BIGINT) reads as a red row even when every value is
    identical. This test makes that class extinct (VERDICT r2 #5): it
    found exactly the sessionization family + knn_join_ivf, and any new
    query/oracle pair with drifting types fails here before the driver
    ever sees it."""
    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        pytest.skip(f"{name}: no oracle (rows-only check)")
    _, _, s_dtypes = spark_results(name)
    duck_pdf = oracle_results(name, oracle).df()
    d_dtypes = {c: str(duck_pdf[c].dtype) for c in duck_pdf.columns}
    assert s_dtypes == d_dtypes, (
        f"{name}: pandas dtype divergence (driver hash would differ)\n"
        f"  spark: {s_dtypes}\n  duck:  {d_dtypes}"
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert df.schema is not None
