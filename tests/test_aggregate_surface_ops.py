"""Known-answer + cross-engine tests for the aggregate-surface batch:
built-in median (doubled), ordered string agg, and try_* arithmetic
under ANSI mode."""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-aggsurf", master="local[4]",
                  shuffle_partitions=8)
    yield s


def _write(spark, path, rows):
    (spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
     .write.mode("overwrite").parquet(f"{path}/events.parquet"))


def _cross_check(spark, path, name):
    fn, sql = O.OPS[name]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM "
            f"'{path}/events.parquet/*.parquet'")
    a = fn(spark, str(path)).toPandas()
    b = con.sql(sql).df()
    a = a.reindex(sorted(a.columns), axis=1).astype(str)
    b = b.reindex(sorted(b.columns), axis=1).astype(str)
    a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
    b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
    assert a.equals(b), f"{name}: Spark vs DuckDB mismatch\n{a}\n{b}"
    return a


_T = dt.datetime(2024, 1, 1)


def test_median_even_count_midpoint(spark, tmp_path):
    """click values 1,2,3,4 (cents 100..400): even count → median is
    (200+300)/2 = 250, doubled to the exact integer 500. view has an
    odd count → plain middle element doubled."""
    rows = [(i, _T, 1, "click", float(v)) for i, v in
            enumerate((1.0, 2.0, 3.0, 4.0))]
    rows += [(10 + i, _T, 1, "view", float(v)) for i, v in
             enumerate((5.0, 7.0, 9.0))]
    _write(spark, tmp_path, rows)
    out = _cross_check(spark, tmp_path, "events_median_by_type")
    got = {r["event_type"]: (int(r["median2_c"]), int(r["n"]))
           for _, r in out.iterrows()}
    assert got == {"click": (500, 4), "view": (1400, 3)}


def test_string_agg_caps_at_five_sorted(spark, tmp_path):
    """8 distinct users → the 5 smallest, comma-joined ascending;
    duplicates collapse first."""
    rows = [(i, _T, uid, "click", 1.0)
            for i, uid in enumerate([7, 3, 9, 1, 5, 11, 2, 8, 3, 1])]
    _write(spark, tmp_path, rows)
    out = _cross_check(spark, tmp_path, "events_string_agg")
    r = out.iloc[0]
    assert r["first_users"] == "1,2,3,5,7"
    assert int(r["n_distinct_users"]) == 8


def test_try_arithmetic_null_slice(spark, tmp_path):
    """cents 300 → divisor 300 % 3 = 0 → try_divide/try_mod NULL (not
    a throw under ANSI); cents 100 → divisor 1 contributes 10000."""
    rows = [(1, _T, 1, "click", 3.0),    # v=300, v%3=0 → poison
            (2, _T, 1, "click", 1.0),    # v=100, v%3=1 → q=10000, m=0
            (3, _T, 1, "click", 1.01)]   # v=101, v%3=2 → q=5000,  m=1
    _write(spark, tmp_path, rows)
    out = _cross_check(spark, tmp_path, "events_try_arithmetic")
    r = out.iloc[0]
    assert (int(r["n_all"]), int(r["n_divisible"]),
            int(float(r["sum_q_floor"])), int(float(r["sum_m"]))) == (
        3, 2, 15000, 1)
