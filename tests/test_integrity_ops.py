"""Known-answer + cross-engine test for Markov matrix squaring."""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-integrity", master="local[4]",
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


def test_two_step_matrix_square(spark, tmp_path):
    """User sequence a,b,a,b → C = {(a,b):2, (b,a):1} → C² =
    {(a,a): 2·1, (b,b): 1·2} and nothing else."""
    rows = [(i, dt.datetime(2024, 1, 1, 0, i), 1, t, 1.0)
            for i, t in enumerate(["a", "b", "a", "b"])]
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double", rows)
    out = _cross_check(spark, tmp_path, "events_two_step_transitions",
                       ["events"])
    got = {(r["a"], r["c"]): int(r["paths2"]) for _, r in out.iterrows()}
    assert got == {("a", "a"): 2, ("b", "b"): 2}
