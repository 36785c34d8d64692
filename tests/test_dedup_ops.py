"""Scale-safety tests for the dedup operator family.

The hazard these guard against (VERDICT r3 items 1–2): a hot key — a
boilerplate shingle in 10^7 documents, or a spam page duplicated 10^7×
landing every copy in one LSH band bucket — must be dropped by a
spill-safe window count BEFORE any ``collect_list`` or bucket self-join,
so no aggregation buffer ever materializes an unbounded doc list and no
join group goes quadratic. These tests inject exactly those degenerate
corpora at a size above the cap and assert the ops stay bounded and
correct.
"""

import pytest
from pyspark.sql import functions as F

from trek_spark.spark.session import get_spark
from trek_spark.spark import ops as O


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-dedup", master="local[4]", shuffle_partitions=8)
    yield s


def _write_documents(spark, path: str, texts: list[str]) -> str:
    rows = [(f"d{i:05d}", t) for i, t in enumerate(texts)]
    (spark.createDataFrame(rows, "doc_id string, text string")
     .write.mode("overwrite").parquet(f"{path}/documents.parquet"))
    return path


def test_drop_hot_keys_removes_over_cap_key(spark):
    """A key appearing 10^4 times is gone; keys at/below cap survive."""
    df = spark.range(10_000).select(F.lit("hot").alias("k"), "id").unionAll(
        spark.range(5).select(F.lit("cold").alias("k"), "id"))
    out = O._drop_hot_keys(df, ["k"], 1000)
    counts = {r["k"]: r["count"] for r in out.groupBy("k").count().collect()}
    assert counts == {"cold": 5}


def test_drop_hot_keys_keeps_key_exactly_at_cap(spark):
    df = spark.range(1000).select(F.lit("edge").alias("k"), "id")
    assert O._drop_hot_keys(df, ["k"], 1000).count() == 1000


def test_explode_pairs_matches_combinations(spark):
    ids = ["a", "b", "c", "d"]
    grouped = spark.createDataFrame([(ids,)], "ids array<string>")
    got = {(r.id_a, r.id_b) for r in O._explode_pairs(grouped).collect()}
    want = {(ids[i], ids[j]) for i in range(4) for j in range(i + 1, 4)}
    assert got == want


def test_jaccard_hot_shingle_is_dropped_before_collect(spark, tmp_path):
    """1,200 docs (> cap=1000) share one boilerplate shingle but are
    otherwise unique — the hot shingle must yield NO pairs (it is dropped
    pre-collect; a collect-then-filter shape would buffer a 1,200-id list
    first and, at 10^8 frequency, OOM). Two genuine near-dups sharing many
    below-cap shingles must still pair."""
    boiler = "click here to"  # one 3-gram shared by every doc
    near_a = "the quick brown fox jumps over the lazy dog tonight"
    near_b = "the quick brown fox jumps over the lazy dog today"
    texts = [f"{boiler} unique{i} filler{i} token{i}" for i in range(1200)]
    texts += [near_a, near_b]
    sf = _write_documents(spark, str(tmp_path), texts)

    pairs = O.q_dedup_ngram_jaccard(spark, sf).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert ("d01200", "d01201") in ids  # the real near-dup survives
    # no pair exists between the boilerplate-only docs: their only shared
    # shingle crossed the frequency cap and was anti-joined away
    boiler_ids = {f"d{i:05d}" for i in range(1200)}
    assert not any(a in boiler_ids and b in boiler_ids for a, b in ids)


def test_jaccard_grouped_lists_bounded_by_cap(spark, tmp_path):
    """The collect stage itself never sees a group above the cap: rebuild
    the op's internal shape on a 10^4-frequency shingle corpus and assert
    max collected size ≤ cap."""
    texts = [f"always the same unique{i}" for i in range(1500)]
    sf = _write_documents(spark, str(tmp_path), texts)
    d = O._t(spark, sf, "documents").select(
        "doc_id", O._shingles().alias("sh"))
    ex = d.select("doc_id", F.explode("sh").alias("shingle"))
    safe = O._drop_hot_keys(ex, ["shingle"], O._SHINGLE_DF_CAP)
    max_size = (safe.groupBy("shingle")
                .agg(F.count("*").alias("n"))
                .agg(F.max("n")).collect()[0][0])
    assert max_size is not None and max_size <= O._SHINGLE_DF_CAP


def test_lsh_degenerate_corpus_bounded(spark, tmp_path):
    """500 identical docs (below cap): every band bucket holds exactly 500
    ids, the op completes, and — identical docs being true duplicates —
    emits all C(500,2) pairs."""
    texts = ["spam spam spam wonderful spam lovely spam"] * 500
    texts += [f"normal document number {i} words {i}" for i in range(20)]
    sf = _write_documents(spark, str(tmp_path), texts)
    n = O.q_dedup_minhash_lsh(spark, sf).count()
    assert n == 500 * 499 // 2
    assert O.q_dedup_lsh_dropped_buckets(spark, sf).count() == 0


def test_lsh_over_cap_bucket_dropped_and_audited(spark, tmp_path):
    """1,050 identical docs (> cap): the bucket is excluded from the pair
    stage (0 pairs — not 550k) and the audit op reports it with its
    population, so the drop is observable, never silent."""
    texts = ["copy pasta duplicated everywhere on the web"] * 1050
    sf = _write_documents(spark, str(tmp_path), texts)
    assert O.q_dedup_minhash_lsh(spark, sf).count() == 0
    audit = O.q_dedup_lsh_dropped_buckets(spark, sf).collect()
    assert len(audit) == O._MINHASH_SEEDS // O._BAND_ROWS  # all 4 bands hot
    assert all(r.bucket_docs == 1050 for r in audit)


def _write_embeddings(spark, path: str, vecs: list[list[float]]) -> str:
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .write.mode("overwrite").parquet(f"{path}/embeddings.parquet"))
    return path


def test_embedding_near_dup_identical_vectors(spark, tmp_path):
    """Identical vectors share a bucket and pair with cos=1; a dissimilar
    vector pairs with nobody."""
    base = [1.0] * 8 + [0.5] * 24
    other = [-1.0] * 16 + [1.0] * 16
    sf = _write_embeddings(spark, str(tmp_path), [base, base, base, other])
    pairs = {(r.id_a, r.id_b)
             for r in O.q_embedding_near_dup(spark, sf).collect()}
    assert pairs == {(0, 1), (0, 2), (1, 2)}


def test_embedding_near_dup_hot_bucket_capped(spark, tmp_path):
    """1,050 copies of one vector (> cap): the bucket is excluded — the
    self-join never materializes the 550k-pair group (at 10^7 copies that
    group is 10^14 rows)."""
    base = [0.25] * 32
    sf = _write_embeddings(spark, str(tmp_path), [base] * 1050)
    assert O.q_embedding_near_dup(spark, sf).count() == 0


def test_dedup_clusters_transitive_chain(spark, tmp_path):
    """A~B and B~C above the Jaccard threshold but A~C below it: cluster
    resolution must still unite all three (connected components, not just
    pair groups), labeled by the minimum doc id."""
    words = [f"w{i:03d}" for i in range(60)]
    texts = [
        " ".join(words[0:40]),    # A: w0..w39
        " ".join(words[10:50]),   # B: w10..w49  (J(A,B)=28/48≈0.58)
        " ".join(words[20:60]),   # C: w20..w59  (J(B,C)≈0.58, J(A,C)≈0.31)
        "completely unrelated text about gardens and weather patterns",
    ]
    sf = _write_documents(spark, str(tmp_path), texts)
    # precondition: the A~C edge really is absent
    pairs = {(r.id_a, r.id_b)
             for r in O.q_dedup_ngram_jaccard(spark, sf).collect()}
    assert ("d00000", "d00001") in pairs and ("d00001", "d00002") in pairs
    assert ("d00000", "d00002") not in pairs
    clusters = {r.doc_id: r.cluster_id
                for r in O.q_dedup_clusters(spark, sf).collect()}
    assert clusters == {"d00000": "d00000", "d00001": "d00000",
                        "d00002": "d00000"}  # united through B; D absent


def test_min_label_cc_long_chain_converges_fast(spark):
    """Round-4 verdict hazard: a >20-hop chain (gradual-drift near-dups)
    must either converge or fail loudly — never return silently-partial
    labels. With pointer jumping a 30-node path converges in O(log d)
    rounds, well under the old 20-round diameter-bound cliff."""
    n = 30
    undirected = [(f"d{i:03d}", f"d{i + 1:03d}") for i in range(n - 1)]
    edges = spark.createDataFrame(
        undirected + [(b, a) for a, b in undirected], ["id_a", "id_b"])
    labels, rounds, converged = O._min_label_cc(edges)
    assert converged
    assert rounds <= 8  # log2(29) ≈ 4.9 + constant, not 29
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert got == {f"d{i:03d}": "d000" for i in range(n)}


def test_min_label_cc_nonconvergence_is_loud(spark):
    """At an artificially tiny round cap the helper reports
    converged=False and the public audit shape would mismatch its oracle;
    q_dedup_clusters raises on the same signal (no silent partial
    propagation)."""
    n = 30
    undirected = [(f"d{i:03d}", f"d{i + 1:03d}") for i in range(n - 1)]
    edges = spark.createDataFrame(
        undirected + [(b, a) for a, b in undirected], ["id_a", "id_b"])
    labels, rounds, converged = O._min_label_cc(edges, max_rounds=1)
    assert not converged and rounds == 1
    assert O.LAST_CC_AUDIT == {"rounds": 1, "converged": False}
    # the partial labels exist (for the audit path) but are not the fixpoint
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert any(v != "d000" for v in got.values())


def test_kmeans_ivf_trainer_and_recall_on_clustered(spark):
    """Round-5 (r4 verdict #8): the DataFrame-native Lloyd trainer is
    deterministic, and on clustered data its cells give full nprobe=1
    recall where the data-blind sign quantizer loses neighbors."""
    import random

    rng = random.Random(7)
    dim, n_clusters, per = 8, 5, 24
    centers = [[rng.uniform(-1.0, 1.0) for _ in range(dim)]
               for _ in range(n_clusters)]
    rows = [(ci + n_clusters * j,
             [c[k] + rng.gauss(0.0, 0.06) for k in range(dim)])
            for j in range(per) for ci, c in enumerate(centers)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    c1 = O.train_ivf_centroids(emb, k=n_clusters, iters=4)
    c2 = O.train_ivf_centroids(emb, k=n_clusters, iters=4)
    assert c1 == c2  # deterministic init + ties -> identical model

    assigned = O.assign_ivf_cells(emb, c1)
    # every cluster collapses to one cell and cells separate the clusters
    cells = {r.vec_id: r.cell for r in assigned.collect()}
    by_cluster = {}
    for vid, cell in cells.items():
        by_cluster.setdefault(vid % n_clusters, set()).add(cell)
    assert all(len(s) == 1 for s in by_cluster.values())
    assert len({next(iter(s)) for s in by_cluster.values()}) == n_clusters

    def neighbor_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    truth = neighbor_sets(O.ivf_topk_from_cells(
        emb.withColumn("cell", F.lit(0)), n_queries=10))
    got = neighbor_sets(O.ivf_topk_from_cells(assigned, n_queries=10))
    assert got == truth  # nprobe=1 with trained cells: full recall here


def test_benchmark_contamination_flags_planted_leak(spark, tmp_path):
    """A corpus doc embedding a benchmark passage (≥3 shared 5-gram
    shingles) is flagged; clean docs are not; benchmark docs themselves
    are never in the output."""
    bench_text = ("the quick brown fox jumps over the lazy dog while "
                  "seventeen astronauts compare navigation checklists")
    clean = "entirely different material about pottery glazes and kilns"
    texts = [bench_text] + [f"benchmark filler row {i} unique" for i in
                            range(24)]  # doc_id 0..24 = benchmark set
    texts += [f"leaky document prefix {bench_text} trailing words",  # 25
              clean, "more clean text about orchards and irrigation"]
    rows = [(i, t) for i, t in enumerate(texts)]
    (spark.createDataFrame(rows, "doc_id long, text string")
     .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet"))
    got = {r.doc_id: r.n_shared_shingles
           for r in O.q_benchmark_contamination(spark,
                                                str(tmp_path)).collect()}
    assert set(got) == {25}
    assert got[25] >= 3


def test_stratified_sample_is_deterministic_pure_function(spark, tmp_path):
    """The sample is a pure function of doc_id: identical across runs and
    partitionings, and each kept doc's md5 tick is below its language's
    ceiling."""
    import hashlib

    rows = [(i, f"text {i}", ["en", "zh", "es"][i % 3], f"s{i % 4}", 10)
            for i in range(300)]
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
     .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet"))
    a = {r.doc_id for r in O.q_stratified_sample(spark,
                                                 str(tmp_path)).collect()}
    b = {r.doc_id
         for r in O.q_stratified_sample(spark, str(tmp_path))
         .repartition(13).collect()}
    assert a == b and a  # same set under any partitioning, non-empty
    for i in sorted(a):
        lang = ["en", "zh", "es"][i % 3]
        tick = hashlib.md5(f"sample:{i}".encode()).hexdigest()[:4]
        assert tick < O._SAMPLE_RATES[lang]


def test_shingle_family_survives_short_documents(spark, tmp_path):
    """Docs with < k words must yield ZERO shingles, not crash: Spark's
    sequence(1, 0) is a descending [1, 0] whose 0 reaches slice(arr, 0, k)
    and throws — real corpora are full of empty/1-word docs even though
    the driver testdata isn't."""
    texts = ["", "one", "one two", "   ",
             "three word doc here repeated three word doc here repeated",
             "three word doc here repeated three word doc here repeated!"]
    sf = _write_documents(spark, str(tmp_path), texts)
    # every shingle-family op runs to completion
    pairs = O.q_dedup_ngram_jaccard(spark, sf).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {("d00004", "d00005")}
    assert O.q_dedup_minhash_lsh(spark, sf).count() >= 0
    clusters = {r.doc_id: r.cluster_id
                for r in O.q_dedup_clusters(spark, sf).collect()}
    assert clusters == {"d00004": "d00004", "d00005": "d00004"}


def test_minhash_estimate_known_answers(spark, tmp_path):
    """Identical documents agree on every minhash position (estimate
    1.0); the estimate only exists for LSH candidates."""
    words = [f"w{i:03d}" for i in range(40)]
    same = " ".join(words)
    other = "entirely different content about lighthouse maintenance logs"
    sf = _write_documents(spark, str(tmp_path), [same, same, other])
    got = {(r.id_a, r.id_b): r.est_jaccard_e4
           for r in O.q_dedup_minhash_estimate(spark, sf).collect()}
    assert got[("d00000", "d00001")] == 10000
    assert all(k == ("d00000", "d00001") for k in got)


def test_hot_shingle_audit_engages_on_skewed_view(spark):
    """The skew-injected audit op must be NONZERO by construction: the
    boilerplate doc is repeated past _SHINGLE_DF_CAP, so every one of
    its shingles crosses the document-frequency cap (cap semantics are
    oracle-checked cross-engine by the driver; this pins engagement)."""
    rows = O.q_dedup_hot_shingle_audit(
        spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 10  # 13 shingles of the 15-word boilerplate
    assert all(r.df >= O._SKEW_COPIES for r in rows)


def _write_events_orders(spark, path, events, orders):
    """events: (event_id, user_id, ts_epoch_s); orders: (o_orderkey,
    o_custkey, o_orderdate_epoch_s-in-event-window)."""
    import datetime as dt
    tz = dt.timezone.utc
    (spark.createDataFrame(
        [(e, dt.datetime.fromtimestamp(t, tz).replace(tzinfo=None), u,
          "click", 1.0, "{}")
         for e, u, t in events],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
     .write.mode("overwrite").parquet(f"{path}/events.parquet"))
    # invert the as-of remap so the op's squeezed order time lands on
    # the chosen epoch second exactly
    (spark.createDataFrame(
        [(k, c, dt.datetime.fromtimestamp(
            O._ASOF_ORDERS_EPOCH0
            + (t - O._ASOF_EVENTS_EPOCH0) * O._ASOF_SQUEEZE,
            tz).replace(tzinfo=None), "O", 1.0, "1-URGENT")
         for k, c, t in orders],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_orderstatus string, o_totalprice double, o_orderpriority string")
     .write.mode("overwrite").parquet(f"{path}/orders.parquet"))
    return str(path)


    # event 3 predates user 7's orders; user 9 has none: both dropped


def test_sessionize_gap_boundaries(spark, tmp_path):
    """Events ≤30 min apart share a session; a gap >30 min opens the
    next; users never share sessions."""
    T0 = O._ASOF_EVENTS_EPOCH0
    sf = _write_events_orders(
        spark, tmp_path,
        events=[(1, 7, T0), (2, 7, T0 + O._SESSION_GAP_S),      # same
                (3, 7, T0 + 2 * O._SESSION_GAP_S + 1),          # new
                (4, 9, T0)],
        orders=[(11, 7, T0)])
    rows = {(r.user_id, r.session_seq): (r.n_events, r.session_start_s,
                                         r.session_end_s)
            for r in O.q_events_sessionize(spark, sf).collect()}
    assert rows == {
        (7, 1): (2, T0, T0 + O._SESSION_GAP_S),
        (7, 2): (1, T0 + 2 * O._SESSION_GAP_S + 1,
                 T0 + 2 * O._SESSION_GAP_S + 1),
        (9, 1): (1, T0, T0)}


def test_repetition_ratio_known_answers(spark, tmp_path):
    """A doc of one repeated word is pure repetition (1 distinct shingle
    of many); a doc of all-unique words has zero; short docs (<3 words)
    are excluded rather than divided by zero."""
    texts = ["spam " * 12,                                # 10 shingles, 1 distinct
             "alpha beta gamma delta epsilon",            # 3 shingles, all distinct
             "tiny doc"]                                  # no shingles
    sf = _write_documents(spark, str(tmp_path), texts)
    got = {r.doc_id: (r.n_shingles, r.n_distinct, r.repetition_e4)
           for r in O.q_docs_repetition_ratio(spark, sf).collect()}
    assert got == {"d00000": (10, 1, 9000), "d00001": (3, 3, 0)}


def test_text_ops_null_text_cross_engine(spark, tmp_path):
    """The input contract allows null turn text; Spark's
    size(split(NULL)) is -1 while DuckDB's len(NULL) is NULL, so a
    text op must coalesce(text, '') in BOTH engines. Pin the
    repetition-ratio gate against DuckDB on a corpus WITH a null row."""
    import duckdb

    rows = [(0, "the quick brown fox jumps over the lazy dog",
             "en", "web", 43),
            (1, None, "en", "web", 0),
            (2, "der hund und die katze ist ein tier", "de", "web", 35)]
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
     .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet"))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'")

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    fn, sql = O.OPS["docs_repetition_ratio"]
    a = canon(fn(spark, str(tmp_path)).toPandas())
    b = canon(con.sql(sql).df())
    assert a.equals(b)


def test_deciles_approx_matches_exact_within_tolerance(spark):
    """The percentile_approx banding twin agrees with the exact ntile op:
    same customer total, same revenue total, per-band counts within the
    tie/boundary drift bound (±2 at sf0.001 where bands hold 15
    customers). The band ids are mirrored (exact is DESC — decile 1 =
    highest value; approx is ASC — decile 1 = lowest)."""
    sf = "/root/testdata/sf0.001"
    exact = {r["decile"]: r for r in
             O.q_customer_value_deciles(spark, sf).collect()}
    approx = {r["decile"]: r for r in
              O.q_customer_value_deciles_approx(spark, sf).collect()}
    assert sum(r["n_customers"] for r in exact.values()) == \
        sum(r["n_customers"] for r in approx.values())
    assert sum(r["decile_revenue_c"] for r in exact.values()) == \
        sum(r["decile_revenue_c"] for r in approx.values())
    for d in range(1, 11):
        e, a = exact[d], approx[11 - d]
        assert abs(e["n_customers"] - a["n_customers"]) <= 2, \
            (d, e["n_customers"], a["n_customers"])


def test_deciles_approx_plan_has_no_sort(spark):
    """The 10⁹-customer shape: the approx twin's physical plan must
    contain no Sort at all (the exact op's global-window sort is the
    scale-killer it replaces) and must broadcast the 1-row cutoffs."""
    df = O.q_customer_value_deciles_approx(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Sort" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan
    exact_plan = (O.q_customer_value_deciles(spark, "/root/testdata/sf0.001")
                  ._jdf.queryExecution().executedPlan().toString())
    assert "Sort" in exact_plan  # the contrast the docstring claims


def test_contamination_fuzzy_known_answers_cross_engine(spark, tmp_path):
    """Edit-distance decontamination on a crafted corpus: a
    near-verbatim leak (one word changed) IS flagged, an unrelated doc
    sharing one 5-gram but textually distant is NOT, an exact duplicate
    has lev=0, and a CJK near-dup pins that BOTH engines measure
    levenshtein in UTF-8 BYTES (one hanzi edit = 3): Spark's builtin is
    char-based while DuckDB's is byte-based, so the op routes the Spark
    side through a lossless utf-8 -> latin-1 byte mapping - this test
    is what caught the divergence."""
    import duckdb

    bench_en = ("what is the capital city of france the answer is paris "
                "located on the seine river in western europe " * 3)
    leak = bench_en.replace("paris", "lyon", 1)      # 1 word of ~60
    bench_zh = "这 是 一 个 很 长 的 中 文 基 准 测 试 句 子 " * 8
    zh_leak = bench_zh.replace("长", "短", 1)         # 1 hanzi edit
    shared5 = "located on the seine river"
    distant = (shared5 + " lives a completely different story about "
               + " ".join(f"tok{i}" for i in range(60)))
    rows = [(0, bench_en, "en", "bench", len(bench_en)),
            (1, bench_zh, "zh", "bench", len(bench_zh)),
            (100, leak, "en", "web", len(leak)),
            (101, bench_en, "en", "web", len(bench_en)),   # exact dup
            (102, zh_leak, "zh", "web", len(zh_leak)),
            (103, distant, "en", "web", len(distant))]
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
     .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet"))

    got = {(r["doc_id"], r["bench_id"]): r["lev"] for r in
           O.q_benchmark_contamination_fuzzy(spark, str(tmp_path))
           .collect()}
    assert (100, 0) in got and got[(100, 0)] > 0     # near-verbatim leak
    assert got[(101, 0)] == 0                        # exact duplicate
    assert (102, 1) in got and got[(102, 1)] == 3    # CJK: 1 hanzi = 3 B
    assert (103, 0) not in got                       # candidate, distant

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'")
    odf = con.sql(O.SQL_BENCHMARK_CONTAMINATION_FUZZY).df()
    want = {(int(r.doc_id), int(r.bench_id)): int(r.lev)
            for r in odf.itertuples()}
    assert got == want


def test_triangle_counts_on_crafted_graph(spark):
    """Degree-ordered triangle counting against a Python brute force on
    a graph built to stress the orientation: a K5 (10 triangles, each
    node in 6), a star hub of degree 12 (many wedges, ZERO triangles -
    the shape the orientation exists to keep cheap), a 4-cycle (no
    triangles), and one extra triangle hanging off the hub."""
    import itertools

    k5 = list(itertools.combinations(range(5), 2))
    star = [(10, s) for s in range(11, 23)]
    cycle = [(30, 31), (31, 32), (32, 33), (30, 33)]
    hang = [(10, 11), (11, 23), (10, 23)]  # triangle through the hub
    raw = set()
    for a, b in k5 + star + cycle + hang:
        raw.add((min(a, b), max(a, b)))
    edges = sorted(raw)

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for v in (a, b, c):
                want[v] = want.get(v, 0) + 1

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["doc_id"]: r["n_triangles"]
           for r in O._triangle_counts(df).collect()}
    assert got == want
    assert sum(want.values()) == 3 * 11  # 10 K5 triangles + 1 hub one
