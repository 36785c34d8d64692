"""Hand-computed known-answer + cross-engine tests for the exact-
rational interpolated Kneser-Ney bigram probabilities (D = 3/4)."""

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-lm", master="local[4]", shuffle_partitions=8)
    yield s


def _write_docs(spark, path, texts):
    rows = [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)]
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars int")
     .write.mode("overwrite").parquet(f"{path}/documents.parquet"))


def _cross_check(spark, path, name):
    fn, sql = O.OPS[name]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{path}/documents.parquet/*.parquet'")
    a = fn(spark, str(path)).toPandas()
    b = con.sql(sql).df()
    a = a.reindex(sorted(a.columns), axis=1).astype(str)
    b = b.reindex(sorted(b.columns), axis=1).astype(str)
    a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
    b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
    assert a.equals(b), f"{name}: Spark vs DuckDB mismatch\n{a}\n{b}"
    return a


def test_kn_bigram_hand_computed(spark, tmp_path):
    """Corpus 'a b a b a b': bigram (a,b)×3 and (b,a)×2; only (a,b)
    clears the c12 >= 3 gate. c1(a)=3, fanout(a)=1, cont(b)=1, B=2 →
    num = (4·3−3)·2 + 3·1·1 = 21, den = 4·3·2 = 24, i.e. P_KN =
    0.875 = 0.75 (discounted ML) + 0.125 (continuation mass)."""
    _write_docs(spark, tmp_path, ["a b a b a b"])
    out = _cross_check(spark, tmp_path, "terms_kn_bigram_probs")
    assert len(out) == 1
    r = out.iloc[0]
    assert (r["w1"], r["w2"], int(r["c12"]),
            int(r["p_num"]), int(r["p_den"])) == ("a", "b", 3, 21, 24)


def test_kn_probabilities_sum_below_one(spark, tmp_path):
    """On a denser corpus every emitted P_KN is a valid probability
    (0 < num <= den) — the rational form can't silently overflow past
    1 the way a float accumulation could hide."""
    _write_docs(spark, tmp_path,
                ["the cat sat on the mat the cat ran",
                 "the dog sat on the log the dog ran",
                 "the cat sat on the log again and again"])
    fn, _ = O.OPS["terms_kn_bigram_probs"]
    for row in fn(spark, str(tmp_path)).collect():
        assert 0 < row.p_num <= row.p_den, row
