"""Known-answer + cross-engine tests for the warehouse-analytics batch:
seasonal-naive backtest alignment and the hint-invariance of the
shuffle-hash join op."""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-wh", master="local[4]", shuffle_partitions=8)
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


_LI = ("l_orderkey long, l_partkey long, l_suppkey long, "
       "l_quantity double, l_extendedprice double, l_discount double, "
       "l_returnflag string, l_shipdate timestamp")


def test_seasonal_naive_calendar_alignment(spark, tmp_path):
    """Counts: Jan-01→3, Jan-08→5, Jan-09→2, Jan-16→2. Pairs exactly 7
    days apart: (08,01) err 2 and (16,09) err 0 — Jan-09 has no
    Jan-02 prior and must NOT pair with Jan-01 (a row-based lag-1
    would misalign exactly there)."""
    rows = []
    eid = 0
    for day, n in ((1, 3), (8, 5), (9, 2), (16, 2)):
        for _ in range(n):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, day), 1, "click", 1.0))
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double", rows)
    out = _cross_check(spark, tmp_path, "events_seasonal_naive_error",
                       ["events"])
    r = out.iloc[0]
    assert (int(r["n_days_compared"]), int(r["total_abs_err"]),
            int(r["total_actual"])) == (2, 2, 7)


def test_shuffle_hash_join_hint_invariance(spark, tmp_path):
    """The hint changes the physical strategy, never the result — the
    op's output equals the same aggregate without any hint."""
    li_rows = [(1, 1, 1, 1.0, 100.0, 0.10, "N", dt.datetime(1996, 1, 1)),
               (1, 2, 1, 1.0, 200.0, 0.00, "N", dt.datetime(1996, 1, 2)),
               (2, 1, 1, 1.0, 400.0, 0.25, "N", dt.datetime(1996, 2, 1))]
    _write(spark, tmp_path, "lineitem", _LI, li_rows)
    _write(spark, tmp_path, "orders",
           "o_orderkey long, o_orderpriority string",
           [(1, "HIGH"), (2, "LOW")])
    out = _cross_check(spark, tmp_path, "orders_shuffle_hash_join",
                       ["lineitem", "orders"])
    got = {r["o_orderpriority"]: (int(r["n_lines"]), int(r["revenue_e4"]))
           for _, r in out.iterrows()}
    assert got == {"HIGH": (2, 10000 * 90 + 20000 * 100),
                   "LOW": (1, 40000 * 75)}
