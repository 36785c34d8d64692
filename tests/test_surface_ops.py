"""Known-answer + cross-engine tests for the Spark-4 surface batch
(pipe syntax, UTF8_LCASE collation) and the exact-integer statistical
ops (two-sample KS, Benford audit)."""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-surface", master="local[4]", shuffle_partitions=8)
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


# ---------------------------------------------------- orders_pipe_syntax

def test_pipe_syntax_having_boundary(spark, tmp_path):
    """A priority with exactly 5 qualifying orders is kept (>= 5);
    one with 4 is dropped; pre-1997 orders don't count toward either."""
    rows = ([(i, 1, dt.datetime(1997, 3, 1), 100.0, "HIGH")
             for i in range(5)]
            + [(10 + i, 1, dt.datetime(1997, 4, 1), 50.0, "LOW")
               for i in range(4)]
            + [(20, 1, dt.datetime(1996, 1, 1), 999.0, "LOW")])
    _write(spark, tmp_path, "orders",
           "o_orderkey long, o_custkey long, o_orderdate timestamp, "
           "o_totalprice double, o_orderpriority string", rows)
    out = _cross_check(spark, tmp_path, "orders_pipe_syntax", ["orders"])
    got = {r["o_orderpriority"]: (int(r["n_orders"]), int(r["revenue_c"]))
           for _, r in out.iterrows()}
    assert got == {"HIGH": (5, 5 * 10000)}


# -------------------------------------------------- part_collated_brands

def test_collated_grouping_merges_case_variants(spark, tmp_path):
    """Many partkeys over two brands: the md5 tick scatters upper/lower
    variants, but the collated group-by must land exactly one output
    row per brand with the full count — identical to lower()."""
    rows = [(k, f"Brand#{k % 2}", 10.0) for k in range(40)]
    _write(spark, tmp_path, "part",
           "p_partkey long, p_brand string, p_retailprice double", rows)
    out = _cross_check(spark, tmp_path, "part_collated_brands", ["part"])
    got = {r["brand_lc"]: int(r["n_parts"]) for _, r in out.iterrows()}
    assert got == {"brand#0": 20, "brand#1": 20}


# ------------------------------------------------------- events_ks_drift

def test_ks_exact_statistic_and_argmin_tie(spark, tmp_path):
    """click values {1, 2}, view values {3, 4} (cents ×100): the CDFs
    separate completely, so the max gap is n1·n2 = 4 and it is
    attained at BOTH 2.00 and (vacuously) nowhere else before 3.00 —
    the reported location is the smallest value where the max gap
    holds (200 cents). Known answer: n1=2, n2=2, ks_num=4."""
    rows = [(1, dt.datetime(2024, 1, 1), 1, "click", 1.0),
            (2, dt.datetime(2024, 1, 1), 1, "click", 2.0),
            (3, dt.datetime(2024, 1, 1), 1, "view", 3.0),
            (4, dt.datetime(2024, 1, 1), 1, "view", 4.0),
            (5, dt.datetime(2024, 1, 1), 1, "error", 99.0)]
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double", rows)
    out = _cross_check(spark, tmp_path, "events_ks_drift", ["events"])
    r = out.iloc[0]
    assert (int(r["n1"]), int(r["n2"]), int(r["ks_num"]),
            int(r["ks_at_value_c"])) == (2, 2, 4, 200)


def test_ks_identical_distributions_zero(spark, tmp_path):
    """Identical click/view samples → ks_num 0 at the smallest value."""
    rows = []
    eid = 0
    for v in (1.5, 2.5, 9.0):
        for t in ("click", "view"):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1), 1, t, v))
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double", rows)
    out = _cross_check(spark, tmp_path, "events_ks_drift", ["events"])
    r = out.iloc[0]
    assert (int(r["ks_num"]), int(r["ks_at_value_c"])) == (0, 150)


# ------------------------------------------------------ lineitem_benford

def test_benford_digits_and_expected_constant(spark, tmp_path):
    """Prices 19.99, 150.0, 1999.0 all start with 1; 920.5 with 9.
    expected_e6 for d=1 is floor(log10(2)·10⁶) = 301029."""
    rows = [(1, 1, 1, 1.0, p, 0.0, "N", dt.datetime(1996, 1, 1))
            for p in (19.99, 150.0, 1999.0, 920.5)]
    _write(spark, tmp_path, "lineitem",
           "l_orderkey long, l_partkey long, l_suppkey long, "
           "l_quantity double, l_extendedprice double, l_discount double, "
           "l_returnflag string, l_shipdate timestamp", rows)
    out = _cross_check(spark, tmp_path, "lineitem_benford", ["lineitem"])
    got = {int(r["digit"]): (int(r["n"]), int(r["expected_e6"]))
           for _, r in out.iterrows()}
    assert got == {1: (3, 301029), 9: (1, 45757)}
