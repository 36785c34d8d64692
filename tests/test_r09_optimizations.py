"""Focused pins for the r9 optimization-round internal restructurings.

Each optimization changed HOW an operator computes, never WHAT — the
oracle sweep certifies output equality; these tests pin the specific
internal properties the restructurings rely on, so a later refactor
cannot silently void them.
"""

import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-r09", master="local[4]", shuffle_partitions=8)
    yield s


def _write_documents(spark, path: str, texts: list[str]) -> str:
    rows = [(f"d{i:05d}", t) for i, t in enumerate(texts)]
    # coalesce(1): ONE file/row group, reproducing the monolithic layout
    # of the driver's testdata that _t_wide exists for
    (spark.createDataFrame(rows, "doc_id string, text string")
     .coalesce(1)
     .write.mode("overwrite").parquet(f"{path}/documents.parquet"))
    return path


def test_t_wide_widens_monolithic_scan_and_preserves_rows(spark, tmp_path):
    """A single-file (single-row-group) scan yields 1 partition; _t_wide
    must widen it to defaultParallelism and keep the exact row multiset
    (round-robin repartition permutes order only)."""
    sf = _write_documents(spark, str(tmp_path),
                          [f"doc {i} words here" for i in range(40)])
    narrow = O._t(spark, sf, "documents")
    wide = O._t_wide(spark, sf, "documents")
    assert narrow.rdd.getNumPartitions() == 1
    assert wide.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism
    assert sorted((r.doc_id, r.text) for r in wide.collect()) == \
        sorted((r.doc_id, r.text) for r in narrow.collect())


def test_t_wide_noop_when_scan_already_wide(monkeypatch, spark, tmp_path):
    """When the scan already yields >= parallelism/2 partitions (the real
    multi-file 100 TB layout), _t_wide must return the scan UNCHANGED —
    no repartition exchange is inserted."""
    sf = _write_documents(spark, str(tmp_path),
                          [f"doc {i} words here" for i in range(40)])
    pre_split = O._t(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    monkeypatch.setattr(O, "_t", lambda *_a, **_k: pre_split)
    wide = O._t_wide(spark, sf, "documents")
    assert wide is pre_split  # identity: no extra shuffle inserted


def test_minhash_agg_form_matches_reference_min(spark, tmp_path):
    """The r9 grouped-min minhash must equal the definitional
    min-over-shingles of substr(md5(seed:shingle), 1, 16)."""
    import hashlib

    texts = ["one two three four five", "aa bb cc dd"]
    sf = _write_documents(spark, str(tmp_path), texts)
    got = {r.doc_id: [getattr(r, f"mh{i}") for i in range(O._MINHASH_SEEDS)]
           for r in O._minhash_sigs(spark, sf).collect()}
    for i, text in enumerate(texts):
        ws = text.strip().split()
        shingles = sorted({" ".join(ws[j:j + 3])
                           for j in range(len(ws) - 2)})
        exp = [min(hashlib.md5(f"{s_}:{sh}".encode()).hexdigest()[:16]
                   for sh in shingles)
               for s_ in range(O._MINHASH_SEEDS)]
        assert got[f"d{i:05d}"] == exp, text


def test_jaccard_carried_sizes_match_set_sizes(spark, tmp_path):
    """The r9 pair stage carries each doc's shingle-set size through the
    explode instead of joining a sizes table; the emitted union/jaccard
    must still reflect the FULL (pre-cap) distinct-shingle counts."""
    a = "the quick brown fox jumps over the lazy dog"
    b = "the quick brown fox jumps over the lazy cat"
    sf = _write_documents(spark, str(tmp_path), [a, b])
    rows = O.q_dedup_ngram_jaccard(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    sa = {" ".join(a.split()[i:i + 3]) for i in range(len(a.split()) - 2)}
    sb = {" ".join(b.split()[i:i + 3]) for i in range(len(b.split()) - 2)}
    inter, union = len(sa & sb), len(sa | sb)
    assert r.shared == inter
    assert r.jaccard_e4 == (2 * inter * 10000 + union) // (2 * union)


def test_cc_observation_fixpoint_counts_rounds_and_labels(spark):
    """The fixpoint check now rides the per-round checkpoint as a
    CollectMetrics observation (no driver-side count job). Semantics
    pinned: an empty edge set converges immediately; a 2-cycle needs
    round 1 to relabel and round 2 to confirm; labels are the min
    reachable id."""
    empty = spark.createDataFrame([], "id_a string, id_b string")
    labels, rounds, converged = O._min_label_cc(empty)
    assert converged and rounds == 1 and labels.count() == 0

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], ["id_a", "id_b"])
    labels, rounds, converged = O._min_label_cc(edges)
    assert converged and rounds == 2
    assert {(r.doc_id, r.cluster_id) for r in labels.collect()} == \
        {("a", "a"), ("b", "a")}


def test_quality_classifier_output_is_materialized(spark, tmp_path):
    """q_quality_classifier must return a checkpointed frame (r8 verdict
    advisory #1): threshold + output share one corpus materialization —
    the returned plan reads an RDD scan, not a fresh parquet scan."""
    rows = [(i, f"src{i % 8}", " ".join(
        ["quality", "text"] * 3 + [f"w{i}"])) for i in range(40)]
    (spark.createDataFrame(rows, "doc_id long, source string, text string")
     .write.mode("overwrite")
     .parquet(f"{tmp_path}/documents.parquet"))
    out = O.q_quality_classifier(spark, str(tmp_path))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    assert "parquet" not in plan.lower()
