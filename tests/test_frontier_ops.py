"""Known-answer + cross-engine test for the width_bucket balance
histogram."""

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-frontier", master="local[4]",
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


def test_width_bucket_boundaries(spark, tmp_path):
    """Below-range → bucket 0; exactly lo → 1; an interior edge value
    ((hi-lo)/20 above lo → bucket 2's lower edge) → 2; exactly hi →
    21 (the overflow bucket is AT-or-above)."""
    vals = [-2000.00,            # bal_c -200000 < lo → 0
            -1000.00,            # exactly lo → 1
            -450.00,             # lo + 55000 (one bucket = 55000) → 2
            10000.00,            # exactly hi → 21
            0.00]                # interior → 1 + 100000*20//1100000 = 2
    rows = [(i, 1, float(v)) for i, v in enumerate(vals)]
    _write(spark, tmp_path, "customer",
           "c_custkey long, c_nationkey long, c_acctbal double", rows)
    out = _cross_check(spark, tmp_path, "customer_balance_buckets",
                       ["customer"])
    got = {int(r["bucket"]): int(r["n_customers"])
           for _, r in out.iterrows()}
    assert got == {0: 1, 1: 1, 2: 2, 21: 1}
