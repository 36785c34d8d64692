"""Known-answer + cross-engine tests for batch 26: the recursive
double-clamped walk (with the case separating it from any windowed
closed form), burstiness, and the both-sides-null full outer join."""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-seq", master="local[4]", shuffle_partitions=8)
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


def test_points_walk_beats_clamped_cumsum(spark, tmp_path):
    """Steps +300, +300, −400, +100 (via totalprice = (step+25)·100
    dollars): true walk 300 → 500(clamp, hit) → 100 → 200; naive
    clamp-of-cumsum would end at min(300, 500) = 300 — the sequential
    dependency is visible in the OUTPUT, not just intermediates."""
    steps = [300, 300, -400, 100]
    rows = [(i + 1, 7, dt.datetime(1996, 1, 1 + i),
             float((s + 25) * 100)) for i, s in enumerate(steps)]
    _write(spark, tmp_path, "orders",
           "o_orderkey long, o_custkey long, o_orderdate timestamp, "
           "o_totalprice double", rows)
    out = _cross_check(spark, tmp_path, "customer_points_capped",
                       ["orders"])
    r = out.iloc[0]
    assert (int(r["n_orders"]), int(r["final_balance"]),
            int(r["n_saturated"])) == (4, 200, 1)
    # the windowed impostor really does disagree
    naive = min(sum(steps), 500)
    assert naive == 300 != int(r["final_balance"])


def test_points_walk_floor_clamp(spark, tmp_path):
    """A deep negative step clamps at ZERO (not negative), and the
    walk resumes from 0: +100, −300, +50 → 100, 0, 50."""
    steps = [100, -300, 50]
    rows = [(i + 1, 7, dt.datetime(1996, 1, 1 + i),
             float((s + 25) * 100)) for i, s in enumerate(steps)]
    _write(spark, tmp_path, "orders",
           "o_orderkey long, o_custkey long, o_orderdate timestamp, "
           "o_totalprice double", rows)
    out = _cross_check(spark, tmp_path, "customer_points_capped",
                       ["orders"])
    r = out.iloc[0]
    assert (int(r["final_balance"]), int(r["n_saturated"])) == (50, 0)


def test_burstiness_constant_vs_bursty(spark, tmp_path):
    """Constant daily counts → Fano numerator 0; a bursty type (counts
    1 and 9 over two days) → num = 2·82 − 100 = 64, den = 2·10."""
    rows = []
    eid = 0
    for day in (1, 2):
        for _ in range(3):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, day), 1, "flat", 1.0))
    for day, n in ((1, 1), (2, 9)):
        for _ in range(n):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, day), 1, "bursty", 1.0))
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double", rows)
    out = _cross_check(spark, tmp_path, "events_burstiness", ["events"])
    got = {r["event_type"]: (int(r["n_days"]), int(r["fano_num"]),
                             int(r["fano_den"]))
           for _, r in out.iterrows()}
    assert got == {"flat": (2, 0, 12), "bursty": (2, 64, 20)}


def test_full_outer_both_null_sides(spark, tmp_path):
    """Region 0 kept with no kept nations → region-only row; nations
    of dropped regions 2,3 → nation-only rows; region 1 matches."""
    _write(spark, tmp_path, "region",
           "r_regionkey long, r_name string",
           [(0, "R0"), (1, "R1"), (2, "R2"), (3, "R3"), (4, "R4")])
    _write(spark, tmp_path, "nation",
           "n_nationkey long, n_name string, n_regionkey long",
           [(1, "N1", 1), (2, "N2", 2), (3, "N3", 3), (4, "N4", 4)])
    out = _cross_check(spark, tmp_path, "nation_region_full_outer",
                       ["region", "nation"])
    rows = {(r["nation"], r["region"]): (int(r["region_only"]),
                                         int(r["nation_only"]))
            for _, r in out.iterrows()}
    nulls = ("None", "nan")
    assert any(n in nulls and reg == "R0" and f == (1, 0)
               for (n, reg), f in rows.items())          # region-only
    assert any(n == "N2" and reg in nulls and f == (0, 1)
               for (n, reg), f in rows.items())          # nation-only
    assert rows[("N1", "R1")] == (0, 0)
    assert rows[("N4", "R4")] == (0, 0)
    assert len(rows) == 5
