"""Known-answer + cross-engine tests for the two-pass
histogram-refined exact median."""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark

_T0 = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-median-leakage", master="local[4]",
                  shuffle_partitions=8)
    yield s


def _write(spark, path, table, schema, rows):
    (spark.createDataFrame(rows, schema)
     .write.mode("overwrite").parquet(f"{path}/{table}.parquet"))


def _cross_check(spark, path, name, tables):
    fn, sql = O.OPS[name]
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{path}/{t}.parquet/*.parquet'")
    a = fn(spark, str(path)).toPandas()
    b = con.sql(sql).df()
    a = a.reindex(sorted(a.columns), axis=1).astype(str)
    b = b.reindex(sorted(b.columns), axis=1).astype(str)
    a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
    b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
    assert a.equals(b), f"{name}: Spark vs DuckDB mismatch\n{a}\n{b}"
    return a


# ------------------------------------------------ lineitem_median_histogram

def test_median_histogram_crosses_buckets(spark, tmp_path):
    """Group AF: cents 5000,15000,25000,95000 (four DIV-10000 buckets,
    even n) -> k=2, lower-middle = 15000, found in bucket 1 with
    cum_before=1. Group NO: 7 rows all inside ONE bucket (values
    30..36 cents around 9970-10030 span two buckets: 9970,9980,9990
    in bucket 0 and 10010,10020,10030,10040 in bucket 1 -> n=7, k=4,
    the target bucket is 1 and k_in_bucket=1 -> 10010."""
    def li(flag, status, cents):
        return (1, flag, status, cents / 100.0, _T0)
    rows = ([li("A", "F", c) for c in (5000, 15000, 25000, 95000)]
            + [li("N", "O", c) for c in (9970, 9980, 9990, 10010,
                                         10020, 10030, 10040)])
    _write(spark, tmp_path, "lineitem",
           "l_orderkey long, l_returnflag string, l_linestatus string, "
           "l_extendedprice double, l_shipdate timestamp", rows)
    out = _cross_check(spark, tmp_path, "lineitem_median_histogram",
                       ["lineitem"])
    got = {(r["l_returnflag"], r["l_linestatus"]): r["median_cents"]
           for _, r in out.iterrows()}
    assert got == {("A", "F"): "15000", ("N", "O"): "10010"}


def test_median_histogram_duplicate_values_at_boundary(spark, tmp_path):
    """Five copies of the same value filling the target bucket: the
    rank arithmetic must land inside the duplicates, not skip them."""
    rows = [(1, "R", "F", 100.00, _T0)] * 5 + [(1, "R", "F", 999.00, _T0)]
    _write(spark, tmp_path, "lineitem",
           "l_orderkey long, l_returnflag string, l_linestatus string, "
           "l_extendedprice double, l_shipdate timestamp", rows)
    out = _cross_check(spark, tmp_path, "lineitem_median_histogram",
                       ["lineitem"])
    assert out.iloc[0]["median_cents"] == "10000"
