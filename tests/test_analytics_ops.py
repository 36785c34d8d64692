"""Known-answer + cross-engine tests for the analytics ops: CUSUM
changepoint and market-basket co-occurrence."""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark

_T0 = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-analytics", master="local[4]",
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


# ------------------------------------------------- events_changepoint_cusum

def test_cusum_finds_level_shift(spark, tmp_path):
    """User 7 (passes %7): 10,10,10 then 50,50 — the CUSUM statistic
    n*prefix_k - k*total peaks at k=3, the last point of the old
    regime: |5*3000 - 3*13000| = 24000."""
    vals = [10.0, 10.0, 10.0, 50.0, 50.0]
    rows = [(i, _T0 + dt.timedelta(seconds=i), 7, "click", vals[i],
             None) for i in range(5)]
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double, props string", rows)
    out = _cross_check(spark, tmp_path, "events_changepoint_cusum",
                       ["events"])
    assert len(out) == 1
    r = out.iloc[0]
    assert (r["change_pos"], r["n"], r["cusum_stat"]) == ("3", "5",
                                                          "24000")


def test_cusum_constant_stream_is_flat(spark, tmp_path):
    """A constant stream has stat 0 everywhere — the earliest-k
    tiebreak must pin change_pos to 1, not drift with partitioning."""
    rows = [(i, _T0 + dt.timedelta(seconds=i), 14, "click", 5.0, None)
            for i in range(4)]
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double, props string", rows)
    out = _cross_check(spark, tmp_path, "events_changepoint_cusum",
                       ["events"])
    r = out.iloc[0]
    assert (r["change_pos"], r["cusum_stat"]) == ("1", "0")


# -------------------------------------------------------- basket_part_pairs

def test_basket_pairs_support_and_lift(spark, tmp_path):
    """Baskets {1,2,3}, {1,2}, {2,3}, {9}: pairs (1,2) and (2,3) hit
    support 2, (1,3) is pruned at support 1. With N=4 orders and
    counts p1=2, p2=3, p3=2: lift_e4 = 10000*4*2 // 6 = 13333 for
    both. A duplicated lineitem row (o1 lists part 2 twice) must NOT
    inflate support — the basket is DISTINCT parts."""
    rows = [(1, 1), (1, 2), (1, 2), (1, 3),
            (2, 1), (2, 2),
            (3, 2), (3, 3),
            (4, 9)]
    _write(spark, tmp_path, "lineitem",
           "l_orderkey long, l_partkey long", rows)
    out = _cross_check(spark, tmp_path, "basket_part_pairs",
                       ["lineitem"])
    got = {(r["pa"], r["pb"]): (r["support"], r["lift_e4"])
           for _, r in out.iterrows()}
    assert got == {("1", "2"): ("2", "13333"),
                   ("2", "3"): ("2", "13333")}


def test_basket_cap_drops_giant_order(spark, tmp_path):
    """An order with 201 distinct parts exceeds the 200-part cap and
    contributes NO pairs; a small order alongside it still does."""
    rows = [(1, p) for p in range(201)] + [(2, 500), (2, 501),
                                           (3, 500), (3, 501)]
    _write(spark, tmp_path, "lineitem",
           "l_orderkey long, l_partkey long", rows)
    out = _cross_check(spark, tmp_path, "basket_part_pairs",
                       ["lineitem"])
    assert len(out) == 1
    assert (out.iloc[0]["pa"], out.iloc[0]["pb"],
            out.iloc[0]["support"]) == ("500", "501", "2")
