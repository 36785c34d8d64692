"""Known-answer + cross-engine tests for the exact-integer two-sample
Kolmogorov–Smirnov op."""

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
