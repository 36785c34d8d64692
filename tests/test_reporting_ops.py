"""Known-answer + cross-engine tests for the reporting /
LM-statistics ops: Pareto cumulative share and Kneser-Ney
continuation counts."""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-reporting", master="local[4]",
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


# -------------------------------------------------------- orders_pareto_cume

def test_pareto_head_boundary_inclusive(spark, tmp_path):
    """Revenues 50/40/10: customer 2 crosses the 80% line (mass
    strictly before it is 50% < 80%) and must be IN the head and in
    the output via the boundary clause (rank 2, not a %7==1 rank);
    customer 3 (before-mass 90%) is out of both."""
    rows = [(1, 1, dt.datetime(2024, 1, 1), 50.0),
            (2, 2, dt.datetime(2024, 1, 2), 40.0),
            (3, 3, dt.datetime(2024, 1, 3), 10.0)]
    _write(spark, tmp_path, "orders",
           "o_orderkey long, o_custkey long, o_orderdate timestamp, "
           "o_totalprice double", rows)
    out = _cross_check(spark, tmp_path, "orders_pareto_cume",
                       ["orders"])
    got = {r["rank"]: (r["o_custkey"], r["share_e4"],
                       r["cume_share_e4"], r["in_head"])
           for _, r in out.iterrows()}
    assert got == {"1": ("1", "5000", "5000", "1"),
                   "2": ("2", "4000", "9000", "1")}


def test_pareto_exact_80_excludes_next(spark, tmp_path):
    """Revenues 80/10/6/4: customer 1 lands EXACTLY on 80% — the next
    customer's strictly-before mass equals the threshold and must be
    excluded (strict <, the standard cut)."""
    rows = [(i + 1, i + 1, dt.datetime(2024, 1, i + 1), v)
            for i, v in enumerate([80.0, 10.0, 6.0, 4.0])]
    _write(spark, tmp_path, "orders",
           "o_orderkey long, o_custkey long, o_orderdate timestamp, "
           "o_totalprice double", rows)
    out = _cross_check(spark, tmp_path, "orders_pareto_cume",
                       ["orders"])
    got = {r["rank"]: r["in_head"] for _, r in out.iterrows()}
    assert got == {"1": "1"}  # ranks 2-4 fail both output clauses


# ------------------------------------------------- terms_continuation_counts

def test_continuation_vs_raw_frequency(spark, tmp_path):
    """The francisco effect: 'b' and 'd' both occur 5 times as a
    bigram tail, but 'b' always follows 'a' (1 context) while 'd'
    follows 5 different words — continuation counts separate them,
    raw counts can't. Words under the freq-5 gate are absent."""
    rows = [(0, "a b a b a b a b a b", "en", "web", 19),
            (1, "c d e d f d g d h d", "en", "web", 19)]
    _write(spark, tmp_path, "documents",
           "doc_id long, text string, lang string, source string, "
           "n_chars long", rows)
    out = _cross_check(spark, tmp_path, "terms_continuation_counts",
                       ["documents"])
    got = {r["word"]: (r["raw_freq"], r["n_contexts"])
           for _, r in out.iterrows()}
    assert got == {"b": ("5", "1"), "d": ("5", "5")}


def test_continuation_short_docs_guarded(spark, tmp_path):
    """Zero- and one-word docs must not reach the sequence() fan-out
    (Spark's sequence(1, n) DESCENDS for n < 1) — they contribute
    nothing and must not crash."""
    rows = [(0, "", "en", "web", 0), (1, "word", "en", "web", 4),
            (2, "!!!", "en", "web", 3),
            (3, "x y x y x y x y x y", "en", "web", 19)]
    _write(spark, tmp_path, "documents",
           "doc_id long, text string, lang string, source string, "
           "n_chars long", rows)
    out = _cross_check(spark, tmp_path, "terms_continuation_counts",
                       ["documents"])
    assert set(out["word"]) == {"y"}
