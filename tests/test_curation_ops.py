"""Known-answer + cross-engine tests for the corpus-curation operator
batch added late in round 7 (parked for the r8 record window): PII
redaction, boilerplate-line removal, token-budget packing, DSIR
importance weights, PageRank over the near-dup graph.

Each op already has a DuckDB oracle wired in OPS; these tests pin the
SEMANTICS on crafted corpora with hand-computed answers (the oracle can
only prove the two engines agree — not that both are right).
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from trek_spark.spark.session import get_spark
from trek_spark.spark import ops as O


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-curation", master="local[4]", shuffle_partitions=8)
    yield s


def _write_documents(spark, path, rows):
    """rows: (doc_id, text, lang, source, n_chars) matching TESTDATA."""
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
     .write.mode("overwrite").parquet(f"{path}/documents.parquet"))


def _duck(path):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{path}/documents.parquet/*.parquet'")
    return con


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _cross_check(spark, con, path, name):
    fn, sql = O.OPS[name]
    a = _canon(fn(spark, str(path)).toPandas())
    b = _canon(con.sql(sql).df())
    assert a.equals(b), f"{name}: Spark vs DuckDB mismatch\n{a}\n{b}"
    return a


# ---------------------------------------------------------------- pii_redact

def test_pii_redact_known_answers(spark, tmp_path):
    """doc 0 (doc_id % 25 == 0) gets the deterministic injection —
    exactly one email, one IPv4, one phone; doc 1 carries its own PII in
    the raw text and is NOT injected; doc 2 is clean; doc 3 is null."""
    rows = [(0, "plain words here", "en", "web", 16),
            (1, "mail a@b.co and c@d.org ip 1.2.3.4 tel +12345678",
             "en", "web", 48),
            (2, "nothing sensitive", "en", "web", 17),
            (3, None, "en", "web", 0)]
    _write_documents(spark, tmp_path, rows)
    out = {r["doc_id"]: r for _, r in
           O.OPS["pii_redact"][0](spark, str(tmp_path))
           .toPandas().iterrows()}
    assert (out[0]["n_emails"], out[0]["n_ipv4"], out[0]["n_phones"]) \
        == (1, 1, 1)
    assert (out[1]["n_emails"], out[1]["n_ipv4"], out[1]["n_phones"]) \
        == (2, 1, 1)
    assert (out[2]["n_emails"], out[2]["n_ipv4"], out[2]["n_phones"]) \
        == (0, 0, 0)
    assert (out[3]["n_emails"], out[3]["n_ipv4"], out[3]["n_phones"]) \
        == (0, 0, 0)
    # the redaction itself: doc 1's scrubbed text contains no raw PII
    red = (spark.read.parquet(f"{tmp_path}/documents.parquet")
           .filter(F.col("doc_id") == 1)
           .select(F.regexp_replace(F.regexp_replace(F.regexp_replace(
               "text", O._PII_EMAIL, "<EMAIL>"), O._PII_IPV4, "<IP>"),
               O._PII_PHONE, "<PHONE>").alias("r"))
           .first()["r"])
    assert red == "mail <EMAIL> and <EMAIL> ip <IP> tel <PHONE>"
    _cross_check(spark, _duck(tmp_path), tmp_path, "pii_redact")


# ------------------------------------------------- dedup_boilerplate_lines

def test_boilerplate_lines_threshold_boundary(spark, tmp_path):
    """60 docs, each 'unique words N' + a shared line (df=60, removed).
    The op's own injection adds a header on doc_id%3 (df=20 — exactly AT
    the >= 20 threshold, removed) and a footer on doc_id%4 (df=15 —
    UNDER it, kept): both sides of the boundary are pinned."""
    import hashlib
    rows = [(i, f"unique words {i}\ncommon shared line", "en", "web",
             20) for i in range(60)]
    _write_documents(spark, tmp_path, rows)
    out = {r["doc_id"]: r for _, r in
           O.OPS["dedup_boilerplate_lines"][0](spark, str(tmp_path))
           .toPandas().iterrows()}

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    # doc 1: no injection — 2 lines, shared line removed
    assert (out[1]["n_lines"], out[1]["n_removed"]) == (2, 1)
    assert out[1]["cleaned_hash"] == h("unique words 1")
    # doc 0: header (removed, df=20) + footer (kept, df=15)
    assert (out[0]["n_lines"], out[0]["n_removed"]) == (4, 2)
    assert out[0]["cleaned_hash"] == h(
        "unique words 0\ncopyright footer all rights reserved")
    # doc 3: header only — removed
    assert (out[3]["n_lines"], out[3]["n_removed"]) == (3, 2)
    assert out[3]["cleaned_hash"] == h("unique words 3")
    _cross_check(spark, _duck(tmp_path), tmp_path,
                 "dedup_boilerplate_lines")


# --------------------------------------------------- pack_token_budget

def test_pack_token_budget_known_answers(spark, tmp_path):
    """5 docs × 1000 tokens, capacity 2048: docs start at offsets
    0/1000/2000/3000/4000 → sequences {0,0,0,1,1} (a doc belongs to the
    sequence where it STARTS; seq 0 overflows to 3000 tokens — the
    GPT-style concatenate-then-chunk boundary semantics)."""
    body = ("tok " * 1000).strip()
    rows = [(i, body, "en", "web", len(body)) for i in range(5)]
    _write_documents(spark, tmp_path, rows)
    out = (O.OPS["pack_token_budget"][0](spark, str(tmp_path))
           .toPandas().sort_values("seq_id").reset_index(drop=True))
    assert list(out["seq_id"]) == [0, 1]
    assert list(out["n_docs"]) == [3, 2]
    assert list(out["seq_tokens"]) == [3000, 2000]
    assert list(out["first_doc"]) == [0, 3]
    assert list(out["last_doc"]) == [2, 4]
    _cross_check(spark, _duck(tmp_path), tmp_path, "pack_token_budget")


# ----------------------------------------------------- dsir_importance

def test_dsir_scores_target_like_docs_higher(spark, tmp_path):
    """Target slice (en) is full of 'alpha beta'; the raw-only slice of
    'gamma delta'. Two probe docs of EQUAL length in the non-target
    lang: the one whose bigrams look like the target must outscore the
    other — the DSIR selection property the op exists for."""
    rows = []
    for i in range(30):
        rows.append((i, "alpha beta " * 10, "en", "web", 110))
    for i in range(30, 60):
        rows.append((i, "gamma delta " * 10, "de", "web", 120))
    rows.append((100, "alpha beta " * 10, "de", "web", 110))   # target-like
    rows.append((101, "gamma delta " * 10, "de", "web", 120))  # raw-like
    _write_documents(spark, tmp_path, rows)
    out = {r["doc_id"]: r for _, r in
           O.OPS["dsir_importance"][0](spark, str(tmp_path))
           .toPandas().iterrows()}
    assert out[100]["n_bigrams"] == out[101]["n_bigrams"] == 19
    assert out[100]["dsir_score"] > out[101]["dsir_score"]
    _cross_check(spark, _duck(tmp_path), tmp_path, "dsir_importance")


# ------------------------------------------------------ graph_pagerank

def test_pagerank_star_graph_exact_ticks(spark):
    """4-leaf star, hand-unrolled 3 integer-tick iterations:
    r1(h)=150000+4·(1e6·17)//20 = 3,550,000 … r3(h)=3,224,872,
    r3(leaf)=443,781. Pins the exact arithmetic the oracle mirrors."""
    pairs = [("h", f"l{i}") for i in range(4)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "id_a string, id_b string")
    out = {r["doc_id"]: r for _, r in
           O._pagerank(edges).toPandas().iterrows()}
    assert (out["h"]["deg"], out["h"]["pr_tick"]) == (4, 3_224_872)
    for i in range(4):
        assert (out[f"l{i}"]["deg"], out[f"l{i}"]["pr_tick"]) \
            == (1, 443_781)


# ------------------------------------------------- within_doc_dedup_lines

def test_within_doc_dedup_keeps_first_occurrence(spark, tmp_path):
    """'a\\nb\\na\\nc' → 4 lines, 1 dupe removed, cleaned text 'a\\nb\\nc'
    (keep-first is ORDINAL — 'a' stays at position 1, not re-sorted).
    Empty text splits to [''] → 1 line, 0 dupes."""
    import hashlib
    rows = [(0, "a\nb\na\nc", "en", "web", 7),
            (1, "x\nx\nx\nx", "en", "web", 7),
            (2, "", "en", "web", 0)]
    _write_documents(spark, tmp_path, rows)
    out = {r["doc_id"]: r for _, r in
           O.OPS["within_doc_dedup_lines"][0](spark, str(tmp_path))
           .toPandas().iterrows()}
    h = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (out[0]["n_lines"], out[0]["n_dupes"]) == (4, 1)
    assert out[0]["cleaned_hash"] == h("a\nb\nc")
    assert (out[1]["n_lines"], out[1]["n_dupes"]) == (4, 3)
    assert out[1]["cleaned_hash"] == h("x")
    assert (out[2]["n_lines"], out[2]["n_dupes"]) == (1, 0)
    assert out[2]["cleaned_hash"] == h("")
    _cross_check(spark, _duck(tmp_path), tmp_path,
                 "within_doc_dedup_lines")


# ------------------------------------------------ lang_consistency_chunks

def test_lang_consistency_flags_code_switching(spark, tmp_path):
    """doc 0 flips en→de exactly at the 256-char chunk boundary → two
    chunks voting differently, is_mixed, top_lang en (1-1 tie breaks by
    the en>de cascade). doc 1 is uniform English → not mixed. doc 2 is
    CJK → zh chunk vote."""
    en_chunk = ("the and of a to in " * 15)[:256]          # pure en votes
    de_chunk = ("der die und das ist ein " * 11)[:256]     # pure de votes
    assert len(en_chunk) == len(de_chunk) == 256
    rows = [(0, en_chunk + de_chunk, "en", "web", 512),
            (1, en_chunk * 3, "en", "web", 768),
            (2, "这是一个中文文档的内容测试", "zh", "web", 13)]
    _write_documents(spark, tmp_path, rows)
    out = {r["doc_id"]: r for _, r in
           O.OPS["lang_consistency_chunks"][0](spark, str(tmp_path))
           .toPandas().iterrows()}
    assert (out[0]["n_chunks"], out[0]["c_en"], out[0]["c_de"]) == (2, 1, 1)
    assert bool(out[0]["is_mixed"]) and out[0]["top_lang"] == "en"
    assert (out[1]["n_chunks"], out[1]["c_en"]) == (3, 3)
    assert not bool(out[1]["is_mixed"]) and out[1]["top_lang"] == "en"
    assert (out[2]["c_zh"], out[2]["top_lang"]) == (1, "zh")
    _cross_check(spark, _duck(tmp_path), tmp_path,
                 "lang_consistency_chunks")


# ----------------------------------------------- char_trigram_perplexity

def test_perplexity_ranks_gibberish_above_common_text(spark, tmp_path):
    """30 docs of the same common phrase + 1 gibberish doc of rare
    characters: the gibberish doc's trigrams hit low-count buckets, so
    its avg surprisal tick must be strictly higher. Trigram counts are
    exact: a doc of length L <= 2048 has L-2 trigrams."""
    common = "the cat sat on the mat and the dog ran off " * 10
    gibberish = "zqxjkvwpyg bfhmzqxjkvw pygbfhmzqx jkvwpygbfh"
    rows = [(i, common, "en", "web", len(common)) for i in range(30)]
    rows.append((100, gibberish, "en", "web", len(gibberish)))
    _write_documents(spark, tmp_path, rows)
    out = {r["doc_id"]: r for _, r in
           O.OPS["char_trigram_perplexity"][0](spark, str(tmp_path))
           .toPandas().iterrows()}
    assert out[0]["n_trigrams"] == len(common) - 2
    assert out[100]["n_trigrams"] == len(gibberish) - 2
    assert out[100]["ppl_tick"] > out[0]["ppl_tick"]
    _cross_check(spark, _duck(tmp_path), tmp_path,
                 "char_trigram_perplexity")


# --------------------------------------------------- gopher_quality_rules

def test_gopher_rules_each_gate_fires(spark, tmp_path):
    """One doc per failure mode: doc 0 passes every rule (60×4-char
    words → mean_wlen_e2 exactly 400); doc 1 too short (r_wc); doc 2
    symbol-heavy '#' words (r_sym AND r_alpha — '#' has no alpha);
    doc 3 all-bullet lines (r_bullet: 10 of 11 split lines); doc 4
    empty (r_wc and r_mwl fail, ratio rules pass vacuously)."""
    rows = [(0, ("word " * 60).strip(), "en", "web", 299),
            (1, "tiny doc here", "en", "web", 13),
            (2, ("# " * 20 + "good " * 40).strip(), "en", "web", 239),
            (3, "- item\n" * 10, "en", "web", 70),
            (4, "", "en", "web", 0)]
    _write_documents(spark, tmp_path, rows)
    out = {r["doc_id"]: r for _, r in
           O.OPS["gopher_quality_rules"][0](spark, str(tmp_path))
           .toPandas().iterrows()}
    assert (out[0]["n_words"], out[0]["mean_wlen_e2"]) == (60, 400)
    assert bool(out[0]["pass_all"])
    assert not bool(out[1]["r_wc"]) and not bool(out[1]["pass_all"])
    assert not bool(out[2]["r_sym"]) and not bool(out[2]["r_alpha"])
    assert bool(out[2]["r_wc"])
    assert not bool(out[3]["r_bullet"])
    assert (out[4]["n_words"], out[4]["mean_wlen_e2"]) == (0, 0)
    assert not bool(out[4]["r_wc"]) and not bool(out[4]["r_mwl"])
    assert bool(out[4]["r_sym"]) and bool(out[4]["r_bullet"]) \
        and bool(out[4]["r_alpha"])
    _cross_check(spark, _duck(tmp_path), tmp_path, "gopher_quality_rules")


# -------------------------------------------------- dedup_passage_windows

def test_passage_windows_cross_doc_only(spark, tmp_path):
    """docs 0/1 share an aligned 128-char leading passage then diverge
    → exactly the 3 windows fully inside the shared prefix match
    (starts 1/33/65; the start-97 window spans into the divergent
    tail). doc 2 is unique → 0. doc 3 repeats its own 128-char half
    (window start-129 hashes equal start-1) but stays n_docs=1 —
    WITHIN-doc repetition must NOT count as cross-doc."""
    p = "".join(f"p{i:03d}" for i in range(32))        # 128 shared chars
    a = "".join(f"a{i:03d}" for i in range(32))
    b = "".join(f"b{i:03d}" for i in range(32))
    c = "".join(f"c{i:03d}" for i in range(64))        # 256 unique chars
    q = "".join(f"q{i:03d}" for i in range(32))
    rows = [(0, p + a, "en", "web", 256),
            (1, p + b, "en", "web", 256),
            (2, c, "en", "web", 256),
            (3, q + q, "en", "web", 256)]
    _write_documents(spark, tmp_path, rows)
    out = {r["doc_id"]: r for _, r in
           O.OPS["dedup_passage_windows"][0](spark, str(tmp_path))
           .toPandas().iterrows()}
    for d in range(4):
        assert out[d]["n_windows"] == 7          # (256-64)//32 + 1
    assert out[0]["n_xdoc"] == out[1]["n_xdoc"] == 3
    assert out[0]["xdoc_permille"] == 429        # (2*3000+7)//14
    assert out[2]["n_xdoc"] == 0 and out[2]["xdoc_permille"] == 0
    assert out[3]["n_xdoc"] == 0
    _cross_check(spark, _duck(tmp_path), tmp_path, "dedup_passage_windows")


# --------------------------------------------------------- orders_unpivot

def _write_orders(spark, path, rows):
    (spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate date")
     .write.mode("overwrite").parquet(f"{path}/orders.parquet"))


def test_unpivot_dense_grid_with_zero_cells(spark, tmp_path):
    """2024-01 has 2×O + 1×F, 2024-02 has 1×P: the long table must be
    the DENSE 2-month × 3-status grid — zero-count cells (P in Jan,
    O/F in Feb) survive the pivot→unpivot round-trip."""
    import datetime as dt
    d = dt.date
    rows = [(1, 1, "O", 1.0, d(2024, 1, 5)),
            (2, 1, "O", 1.0, d(2024, 1, 9)),
            (3, 2, "F", 1.0, d(2024, 1, 20)),
            (4, 2, "P", 1.0, d(2024, 2, 2))]
    _write_orders(spark, tmp_path, rows)
    out = {(r["month"], r["status"]): r["cnt"] for _, r in
           O.OPS["orders_unpivot"][0](spark, str(tmp_path))
           .toPandas().iterrows()}
    assert out == {("2024-01", "O"): 2, ("2024-01", "F"): 1,
                   ("2024-01", "P"): 0, ("2024-02", "O"): 0,
                   ("2024-02", "F"): 0, ("2024-02", "P"): 1}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW orders AS SELECT * FROM "
            f"'{tmp_path}/orders.parquet/*.parquet'")
    _cross_check(spark, con, tmp_path, "orders_unpivot")


# ---------------------------------------------- events_interval_self_join

def _write_events(spark, path, rows):
    (spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
     .write.mode("overwrite").parquet(f"{path}/events.parquet"))


def test_interval_join_bucket_boundary_and_exactly_once(spark, tmp_path):
    """user 1: events at +0s/+1800s/+3650s/+7300s → pair (0,1800) sits
    in ONE bucket (must appear exactly once despite the 2× probe
    explode), pair (1800,3650) CROSSES the hour-bucket boundary, and
    (0,3650) at gap 3650 > 3600 is excluded even though the buckets are
    adjacent. user 2: two events at the SAME timestamp → one pair,
    ordered by event_id, gap 0."""
    import datetime as dt
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    s = lambda off: base + dt.timedelta(seconds=off)
    rows = [(0, s(0), 1, "click", 1.0, "{}"),
            (1, s(1800), 1, "click", 1.0, "{}"),
            (2, s(3650), 1, "click", 1.0, "{}"),
            (3, s(7300), 1, "click", 1.0, "{}"),
            (10, s(500), 2, "view", 1.0, "{}"),
            (11, s(500), 2, "view", 1.0, "{}")]
    _write_events(spark, tmp_path, rows)
    got = {(r["user_id"], r["id_a"], r["id_b"]): r["gap_sec"]
           for _, r in
           O.OPS["events_interval_self_join"][0](spark, str(tmp_path))
           .toPandas().iterrows()}
    assert got == {(1, 0, 1): 1800, (1, 1, 2): 1850, (2, 10, 11): 0}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM "
            f"'{tmp_path}/events.parquet/*.parquet'")
    _cross_check(spark, con, tmp_path, "events_interval_self_join")


# ---------------------------------------------------- orders_grouping_sets

def test_grouping_sets_dimension_totals_only(spark, tmp_path):
    """((status), (priority)) must yield ONLY the two dimension-total
    slices — no combined rows, no grand total (the subset neither
    ROLLUP nor CUBE gives). GROUPING() flags tell subtotal NULLs
    apart."""
    import datetime as dt
    d = dt.date
    rows = [(1, 1, "O", 10.0, d(2024, 1, 1)),
            (2, 1, "O", 20.0, d(2024, 1, 2)),
            (3, 2, "F", 40.0, d(2024, 1, 3))]
    (spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate date")
     .withColumn("o_orderpriority",
                 F.when(F.col("o_orderkey") < 3, "1-URGENT")
                 .otherwise("2-HIGH"))
     .write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet"))
    out = O.OPS["orders_grouping_sets"][0](spark, str(tmp_path)).toPandas()
    assert len(out) == 4
    rows_ = {(r["o_orderstatus"], r["o_orderpriority"],
              r["g_status"], r["g_priority"]):
             (r["order_cnt"], r["revenue_c"]) for _, r in out.iterrows()}
    assert rows_[("O", None, 0, 1)] == (2, 3000)
    assert rows_[("F", None, 0, 1)] == (1, 4000)
    assert rows_[(None, "1-URGENT", 1, 0)] == (2, 3000)
    assert rows_[(None, "2-HIGH", 1, 0)] == (1, 4000)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW orders AS SELECT * FROM "
            f"'{tmp_path}/orders.parquet/*.parquet'")
    _cross_check(spark, con, tmp_path, "orders_grouping_sets")


# -------------------------------------------------------------- events_funnel

def test_funnel_ordering_constraint(spark, tmp_path):
    """user 1 does view→click→purchase in order → stage 3. user 2
    CLICKS BEFORE its only view and never clicks again → the click
    must not count (stage 1) — the ordering constraint a naive
    per-type min() gets wrong. user 3 purchases before clicking →
    stage 2. user 4 has only errors → stage 0."""
    import datetime as dt
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    s = lambda off: base + dt.timedelta(seconds=off)
    rows = [(0, s(0), 1, "view", 1.0, "{}"),
            (1, s(10), 1, "click", 1.0, "{}"),
            (2, s(20), 1, "purchase", 1.0, "{}"),
            (10, s(0), 2, "click", 1.0, "{}"),
            (11, s(10), 2, "view", 1.0, "{}"),
            (20, s(0), 3, "view", 1.0, "{}"),
            (21, s(5), 3, "purchase", 1.0, "{}"),
            (22, s(10), 3, "click", 1.0, "{}"),
            (30, s(0), 4, "error", 1.0, "{}")]
    _write_events(spark, tmp_path, rows)
    out = {r["user_id"]: r for _, r in
           O.OPS["events_funnel"][0](spark, str(tmp_path))
           .toPandas().iterrows()}
    assert out[1]["stage"] == 3
    import pandas as pd
    assert out[2]["stage"] == 1 and pd.isna(out[2]["t_click"])
    assert out[3]["stage"] == 2          # purchase at t=5 precedes click
    assert out[4]["stage"] == 0
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM "
            f"'{tmp_path}/events.parquet/*.parquet'")
    _cross_check(spark, con, tmp_path, "events_funnel")


# ------------------------------------------- embedding_random_projection

def test_random_projection_matches_python_replica(spark, tmp_path):
    """The md5-sign rule replicated in pure Python must give the same
    8 projections Spark computes — pins the sign derivation, the tick
    freeze (floor(x·1e4) on the float→double widening), and 1-based
    element_at indexing. Zeros project to zeros; identical vectors to
    identical projections."""
    import hashlib
    import math
    v = [0.5, -0.25, 1.0] + [0.0] * 61
    rows = [(0, v, 1), (1, v, 1), (2, [0.0] * 64, 2)]
    (spark.createDataFrame(rows,
                           "vec_id long, embedding array<float>, label int")
     .write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet"))

    def sign(i, j):
        h = hashlib.md5(f"{i}_{j}".encode()).hexdigest()
        return 1 if h[0] < "8" else -1

    ticks = [math.floor(float(x) * 10000) for x in v]
    exp = [sum(sign(i, j) * t for i, t in enumerate(ticks))
           for j in range(8)]
    out = {r["vec_id"]: r for _, r in
           O.OPS["embedding_random_projection"][0](spark, str(tmp_path))
           .toPandas().iterrows()}
    assert [out[0][f"p{j}"] for j in range(8)] == exp
    assert all(out[1][f"p{j}"] == out[0][f"p{j}"] for j in range(8))
    assert all(out[2][f"p{j}"] == 0 for j in range(8))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM "
            f"'{tmp_path}/embeddings.parquet/*.parquet'")
    _cross_check(spark, con, tmp_path, "embedding_random_projection")


# --------------------------------------------------- events_retention_cohorts

def test_retention_cohorts_triangle(spark, tmp_path):
    """users 1/2 first seen in week W (user 2 returns in W+1, user 1 in
    W+2), user 3 first seen in W+1: the cohort triangle must be
    (W,0)=2, (W,1)=1, (W,2)=1, (W+1,0)=1 — first-seen assignment, not
    per-week re-cohorting."""
    import datetime as dt
    wk = 604800
    t0 = dt.datetime(2024, 1, 4)     # inside some epoch week W
    s = lambda w: t0 + dt.timedelta(seconds=w * wk)
    rows = [(0, s(0), 1, "view", 1.0, "{}"),
            (1, s(2), 1, "view", 1.0, "{}"),
            (2, s(0), 2, "view", 1.0, "{}"),
            (3, s(1), 2, "view", 1.0, "{}"),
            (4, s(1), 3, "view", 1.0, "{}")]
    _write_events(spark, tmp_path, rows)
    out = O.OPS["events_retention_cohorts"][0](spark, str(tmp_path)) \
        .toPandas()
    w0 = out["cohort_week"].min()
    got = {(r["cohort_week"] - w0, r["week_offset"]): r["active_users"]
           for _, r in out.iterrows()}
    assert got == {(0, 0): 2, (0, 1): 1, (0, 2): 1, (1, 0): 1}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM "
            f"'{tmp_path}/events.parquet/*.parquet'")
    _cross_check(spark, con, tmp_path, "events_retention_cohorts")


# ----------------------------------------------------------- docs_bm25_search

def test_bm25_hand_computed_scores(spark, tmp_path):
    """3-doc corpus, query term 'spark': doc 0 (tf=2, dl=3) must
    outrank doc 1 (tf=1, dl=2); doc 2 has no hit. Hand-unrolled
    integer arithmetic: avgdl=2, df=2, N=3 → idf_e4=4700 (ln 1.6);
    frac_e4 = 12055 for doc 0 (176/146) and exactly 10000 for doc 1
    (saturation fraction is 1 at tf=1, dl=avgdl) → scores 5665/4700."""
    rows = [(0, "spark spark banana", "en", "web", 18),
            (1, "spark cherry", "en", "web", 12),
            (2, "banana cherry", "en", "web", 13)]
    _write_documents(spark, tmp_path, rows)
    out = O.OPS["docs_bm25_search"][0](spark, str(tmp_path)).toPandas()
    q1 = out[out["query_id"] == "q1"].sort_values("rank")
    assert list(q1["doc_id"]) == [0, 1]
    assert list(q1["bm25_e4"]) == [5665, 4700]
    assert list(q1["n_terms_hit"]) == [1, 1]
    assert len(out[out["query_id"] == "q2"]) == 0
    _cross_check(spark, _duck(tmp_path), tmp_path, "docs_bm25_search")


# ----------------------------------------------------- events_hopping_counts

def test_hopping_counts_two_hops_per_event(spark, tmp_path):
    """An event at +400 s of an epoch-aligned 10-minute boundary lands
    in EXACTLY the hops starting at +0 and +300; one at +100 s lands in
    -300 and +0. Counts per (window, type) pin the 2× fan-out and the
    epoch alignment."""
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)            # epoch-multiple of 600 s
    assert int(t0.timestamp()) % 600 == 0
    s = lambda off: t0 + dt.timedelta(seconds=off)
    rows = [(0, s(400), 1, "click", 1.0, "{}"),
            (1, s(100), 1, "click", 1.0, "{}")]
    _write_events(spark, tmp_path, rows)
    out = O.OPS["events_hopping_counts"][0](spark, str(tmp_path)) \
        .toPandas()
    base = int(t0.timestamp())
    got = {(r["w_start_s"] - base, r["n_events"]) for _, r in
           out.iterrows()}
    assert all(r["w_end_s"] - r["w_start_s"] == 600
               for _, r in out.iterrows())
    # +400 → hops {0, 300}; +100 → hops {-300, 0}; hop 0 holds both
    assert got == {(-300, 1), (0, 2), (300, 1)}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM "
            f"'{tmp_path}/events.parquet/*.parquet'")
    _cross_check(spark, con, tmp_path, "events_hopping_counts")


# ------------------------------------------- docs_duplicate_ngram_fraction

def test_duplicate_ngram_fraction_known_answers(spark, tmp_path):
    """docs 1/2 share exactly one of their two 5-grams (permille 500);
    doc 3's single gram is unique (0); doc 4 has <5 words (absent);
    doc 5 repeats one gram 6× WITHIN itself — within-doc repetition is
    NOT cross-doc duplication (distinct-per-doc semantics), so 0."""
    rows = [
        (1, "a b c d e f", "en", "web", 11),
        (2, "a b c d e x", "en", "web", 11),
        (3, "p q r s t", "en", "web", 9),
        (4, "too short", "en", "web", 9),
        (5, "z z z z z z z z z z", "en", "web", 19),
    ]
    _write_documents(spark, tmp_path, rows)
    out = (O.OPS["docs_duplicate_ngram_fraction"][0](spark, str(tmp_path))
           .toPandas().set_index("doc_id"))
    assert sorted(out.index) == [1, 2, 3, 5]          # doc 4 absent
    assert (int(out.loc[1, "n_grams"]), int(out.loc[1, "dup_grams"]),
            int(out.loc[1, "dup_permille"])) == (2, 1, 500)
    assert (int(out.loc[2, "n_grams"]), int(out.loc[2, "dup_grams"]),
            int(out.loc[2, "dup_permille"])) == (2, 1, 500)
    assert (int(out.loc[3, "dup_grams"]),
            int(out.loc[3, "dup_permille"])) == (0, 0)
    assert (int(out.loc[5, "n_grams"]),
            int(out.loc[5, "dup_grams"])) == (1, 0)
    _cross_check(spark, _duck(tmp_path), tmp_path,
                 "docs_duplicate_ngram_fraction")


# ------------------------------------------------ ccnet_perplexity_buckets

def test_ccnet_buckets_respect_tercile_rule(spark, tmp_path):
    """Value-based terciles on the tick directory: every head tick ≤
    every middle tick ≤ every tail tick; head holds ≥ N/3 docs and
    head∪middle ≥ 2N/3 (the min-score-with-3·cum≥N cut rule); docs
    with the SAME millitick score always share a bucket."""
    import random
    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "qqq", "xxx", "zzz"]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(30)),
             "en", "web", 120) for i in range(40)]
    _write_documents(spark, tmp_path, rows)
    out = (O.OPS["ccnet_perplexity_buckets"][0](spark, str(tmp_path))
           .toPandas())
    n = len(out)
    assert n == 40
    by = {b: g["ppl_milli"] for b, g in out.groupby("ppl_bucket")}
    assert len(by["head"]) * 3 >= n
    assert (len(by["head"]) + len(by.get("middle", []))) * 3 >= 2 * n
    if "middle" in by:
        assert by["head"].max() < by["middle"].min()
        if "tail" in by:
            assert by["middle"].max() < by["tail"].min()
    # same tick -> same bucket (value-based, never mid-tie split)
    assert (out.groupby("ppl_milli")["ppl_bucket"].nunique() == 1).all()
    _cross_check(spark, _duck(tmp_path), tmp_path,
                 "ccnet_perplexity_buckets")


# ------------------------------------------------- dedup_keep_best_quality

def test_keep_best_quality_beats_min_id(spark, tmp_path):
    """Docs 20/21 are near-dups (19 of 20 words shared → shingle
    Jaccard 15/21 ≥ 0.5) differing in ONE word: doc 20 carries the
    junk-vocabulary token, doc 21 the reference-vocabulary token. The
    min-id rule would keep 20; quality-priority keeps 21."""
    ref = ("theorem proof lemma corollary axiom derivation "
           "integral manifold topology algebra")
    junk = ("casino jackpot winner prize bonus spins "
            "free click offer deal")
    base = ("the quick brown fox jumps over one lazy dog while "
            "rain falls on green hills near {} old stone bridges")
    rows = (
        # classifier training slices: 4 curated (src0), 4 junk (src9) —
        # mutually non-dup (distinct suffixes break shingle overlap)
        [(i, f"{ref} unique{i} marker{i} tail{i} pad{i} end{i}",
          "en", "src0", 80) for i in range(1, 5)]
        + [(i, f"{junk} unique{i} marker{i} tail{i} pad{i} end{i}",
            "en", "src9", 80) for i in range(10, 14)]
        + [(20, base.format("casino"), "en", "src9", 100),
           (21, base.format("theorem"), "en", "src9", 100)])
    _write_documents(spark, tmp_path, rows)
    out = (O.OPS["dedup_keep_best_quality"][0](spark, str(tmp_path))
           .toPandas())
    assert len(out) == 1                      # the only near-dup cluster
    r = out.iloc[0]
    assert int(r["cluster_id"]) == 20         # min reachable id labels it
    assert int(r["kept_doc"]) == 21           # quality wins over min-id
    assert int(r["n_members"]) == 2
    _cross_check(spark, _duck(tmp_path), tmp_path,
                 "dedup_keep_best_quality")


# ----------------------------------------------- transcript_cross_conv_echo

def test_cross_conv_echo_projects_pairs_excludes_same_conv(spark, tmp_path):
    """Docs 20/21 are near-dups in conversations 20 and 21 → echo pair
    (20, 21); docs 40/90 are near-dups in the SAME conversation 40
    (90 % 50 = 40) → excluded. No other near-dup pairs exist."""
    base = ("the quick brown fox jumps over one lazy dog while "
            "rain falls on green hills near {} old stone bridges")
    other = ("completely different sentence about numerical methods "
             "for solving {} differential equations with boundary "
             "conditions on compact manifolds today")
    rows = [
        (20, base.format("casino"), "en", "web", 100),
        (21, base.format("theorem"), "en", "web", 100),
        (40, other.format("elliptic"), "en", "web", 100),
        (90, other.format("parabolic"), "en", "web", 100),
        (7, "unrelated filler text about gardening tips and soil "
            "acidity for tomato plants in raised beds", "en", "web", 90),
    ]
    _write_documents(spark, tmp_path, rows)
    out = (O.OPS["transcript_cross_conv_echo"][0](spark, str(tmp_path))
           .toPandas())
    assert len(out) == 1
    r = out.iloc[0]
    assert (int(r["conv_a"]), int(r["conv_b"])) == (20, 21)
    assert int(r["n_echo_pairs"]) == 1
    assert int(r["max_jaccard_e4"]) >= 5000
    # the same-conv near-dup pair really exists at doc level
    pairs = O.OPS["dedup_ngram_jaccard"][0](spark, str(tmp_path)).toPandas()
    assert {(int(a), int(b)) for a, b in
            zip(pairs["id_a"], pairs["id_b"])} == {(20, 21), (40, 90)}
    _cross_check(spark, _duck(tmp_path), tmp_path,
                 "transcript_cross_conv_echo")
