"""Known-answer + cross-engine tests for the adapted canonical TPC-H
shapes. Each test plants the semantic corner the op exists to get
right: strict thresholds, tie handling, semi-join counting and
double-correlation exclusion rules."""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-tpch", master="local[4]", shuffle_partitions=8)
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


_LI_SCHEMA = ("l_orderkey long, l_partkey long, l_suppkey long, "
              "l_quantity double, l_extendedprice double, "
              "l_discount double, l_returnflag string, "
              "l_shipdate timestamp")


def _li(ok, pk, sk, qty, price, disc=0.0, rf="N", ship=dt.datetime(1996, 6, 1)):
    return (ok, pk, sk, float(qty), float(price), float(disc), rf, ship)


# --------------------------------------------------- tpch_top_supplier (Q15)

def test_top_supplier_tie_returns_both(spark, tmp_path):
    """Two suppliers tied at max revenue both appear (Q15's 'the'
    top supplier is really an arg-max SET); the cheaper one doesn't."""
    _write(spark, tmp_path, "lineitem", _LI_SCHEMA, [
        _li(1, 1, 10, 1, 500.0, ship=dt.datetime(1997, 2, 1)),
        _li(2, 1, 20, 1, 500.0, ship=dt.datetime(1997, 3, 1)),
        _li(3, 1, 30, 1, 400.0, ship=dt.datetime(1997, 2, 15)),
        _li(4, 1, 10, 1, 900.0, ship=dt.datetime(1997, 6, 1)),  # window
    ])
    _write(spark, tmp_path, "supplier",
           "s_suppkey long, s_name string",
           [(10, "Supplier#A"), (20, "Supplier#B"), (30, "Supplier#C")])
    out = _cross_check(spark, tmp_path, "tpch_top_supplier",
                       ["lineitem", "supplier"])
    assert sorted(out["s_name"]) == ["Supplier#A", "Supplier#B"]


# ------------------------------------------------- tpch_large_orders (Q18)

def test_large_orders_boundary(spark, tmp_path):
    """Order with sum_qty exactly 250 is excluded (strict >); 251
    included with its customer attached."""
    _write(spark, tmp_path, "lineitem", _LI_SCHEMA, [
        _li(1, 1, 9, 125, 10.0), _li(1, 2, 9, 125, 10.0),   # 250: out
        _li(2, 1, 9, 126, 10.0), _li(2, 2, 9, 125, 10.0),   # 251: in
    ])
    _write(spark, tmp_path, "orders",
           "o_orderkey long, o_custkey long, o_orderdate timestamp, "
           "o_totalprice double",
           [(1, 7, dt.datetime(1996, 1, 1), 2500.0),
            (2, 7, dt.datetime(1996, 2, 1), 2510.5)])
    _write(spark, tmp_path, "customer",
           "c_custkey long, c_name string", [(7, "Customer#7")])
    out = _cross_check(spark, tmp_path, "tpch_large_orders",
                       ["lineitem", "orders", "customer"])
    assert len(out) == 1
    r = out.iloc[0]
    assert (int(r["o_orderkey"]), int(r["sum_qty"]),
            int(r["o_totalprice_c"])) == (2, 251, 251050)


# --------------------------------------------- tpch_disjunctive_join (Q19)

def test_disjunctive_clauses_do_not_cross(spark, tmp_path):
    """A line matching clause-1's brand but clause-2's quantity range
    matches NO clause (the AND inside each disjunct must bind); a
    clean clause-2 match is counted."""
    _write(spark, tmp_path, "lineitem", _LI_SCHEMA, [
        _li(1, 1, 9, 15, 100.0),    # Brand#12 but qty 15 ∉ [1,11]: out
        _li(2, 2, 9, 15, 200.0),    # Brand#23, size 20, qty 15: clause 2
    ])
    _write(spark, tmp_path, "part",
           "p_partkey long, p_brand string, p_size integer",
           [(1, "Brand#12", 5), (2, "Brand#23", 20)])
    out = _cross_check(spark, tmp_path, "tpch_disjunctive_join",
                       ["lineitem", "part"])
    r = out.iloc[0]
    assert int(r["n_lines"]) == 1
    assert int(r["revenue_e4"]) == 200 * 100 * 100


# ------------------------------------- tpch_sole_failure_suppliers (Q21)

def test_sole_failure_double_correlation(spark, tmp_path):
    """Order 1: supplier 10 returned, supplier 20 didn't → 10 counted.
    Order 2: both returned → NOT-EXISTS kills both. Order 3: only
    supplier 10 on the order → EXISTS kills it (no co-supplier).
    Multi-line returns on one order count once (DISTINCT grain)."""
    _write(spark, tmp_path, "lineitem", _LI_SCHEMA, [
        _li(1, 1, 10, 1, 10.0, rf="R"),
        _li(1, 2, 10, 1, 10.0, rf="R"),      # second returned line, same pair
        _li(1, 3, 20, 1, 10.0, rf="N"),
        _li(2, 1, 10, 1, 10.0, rf="R"),
        _li(2, 2, 20, 1, 10.0, rf="R"),
        _li(3, 1, 10, 1, 10.0, rf="R"),
    ])
    _write(spark, tmp_path, "supplier",
           "s_suppkey long, s_name string",
           [(10, "Supplier#X"), (20, "Supplier#Y")])
    out = _cross_check(spark, tmp_path, "tpch_sole_failure_suppliers",
                       ["lineitem", "supplier"])
    got = {r["s_name"]: int(r["numwait"]) for _, r in out.iterrows()}
    assert got == {"Supplier#X": 1}


# ------------------------------------------- tpch_customer_distribution (Q13)

def test_customer_distribution_zero_bucket(spark, tmp_path):
    """Q13's point is the LEFT join: a customer with no orders lands in
    the k=0 bucket instead of vanishing (an inner join drops them)."""
    _write(spark, tmp_path, "customer",
           "c_custkey long, c_name string",
           [(1, "a"), (2, "b"), (3, "c")])
    _write(spark, tmp_path, "orders",
           "o_orderkey long, o_custkey long",
           [(10, 1), (11, 1), (12, 2)])
    out = _cross_check(spark, tmp_path, "tpch_customer_distribution",
                       ["customer", "orders"])
    got = {int(r["c_count"]): int(r["custdist"])
           for _, r in out.iterrows()}
    assert got == {2: 1, 1: 1, 0: 1}


# ------------------------------------------------ tpch_forecast_revenue (Q6)

def test_forecast_revenue_boundaries(spark, tmp_path):
    """Discount endpoints 0.05/0.07 are INCLUSIVE, quantity 24 is
    EXCLUSIVE (strict <), and revenue multiplies BY the discount."""
    _write(spark, tmp_path, "lineitem", _LI_SCHEMA, [
        _li(1, 1, 9, 10, 100.0, disc=0.05, ship=dt.datetime(1997, 2, 1)),
        _li(2, 1, 9, 23, 200.0, disc=0.07, ship=dt.datetime(1997, 3, 1)),
        _li(3, 1, 9, 24, 300.0, disc=0.06, ship=dt.datetime(1997, 4, 1)),
        _li(4, 1, 9, 10, 400.0, disc=0.04, ship=dt.datetime(1997, 5, 1)),
        _li(5, 1, 9, 10, 500.0, disc=0.06, ship=dt.datetime(1998, 2, 1)),
    ])
    out = _cross_check(spark, tmp_path, "tpch_forecast_revenue",
                       ["lineitem"])
    r = out.iloc[0]
    assert int(r["n_lines"]) == 2
    assert int(r["revenue_e4"]) == 10000 * 5 + 20000 * 7


# --------------------------------------------- tpch_order_priority_check (Q4)

def test_order_priority_semi_join_no_double_count(spark, tmp_path):
    """An order with THREE returned lines counts once (semi-join, not
    inner); an order with none doesn't count; out-of-quarter orders
    are excluded before the join."""
    _write(spark, tmp_path, "orders",
           "o_orderkey long, o_orderdate timestamp, o_orderpriority string",
           [(1, dt.datetime(1997, 2, 1), "HIGH"),
            (2, dt.datetime(1997, 2, 2), "HIGH"),
            (3, dt.datetime(1996, 2, 1), "HIGH")])
    _write(spark, tmp_path, "lineitem", _LI_SCHEMA, [
        _li(1, 1, 9, 1, 10.0, rf="R"), _li(1, 2, 9, 1, 10.0, rf="R"),
        _li(1, 3, 9, 1, 10.0, rf="R"),
        _li(2, 1, 9, 1, 10.0, rf="N"),
        _li(3, 1, 9, 1, 10.0, rf="R"),
    ])
    out = _cross_check(spark, tmp_path, "tpch_order_priority_check",
                       ["orders", "lineitem"])
    got = {r["o_orderpriority"]: int(r["order_count"])
           for _, r in out.iterrows()}
    assert got == {"HIGH": 1}
