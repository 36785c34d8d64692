"""Relational surface + training-data pipeline operators.

Each operator is a (Spark builder, DuckDB oracle SQL) pair registered in
``OPS``. The Spark side is declarative DataFrame API (Catalyst handles
pushdown/pruning/join strategy); the oracle is ANSI-ish SQL DuckDB runs over
the same parquet for the driver's value-equality gate.

Scale notes (per-op details in docstrings):
* joins against small dims are explicitly ``broadcast()``;
* aggregates rely on partial (map-side) aggregation — no extra shuffles;
* pairwise dedup ops avoid O(n²): they bucket by shingle/minhash-band and
  join within buckets only, which is the strategy that survives 100 TB;
* oracle-compared numeric outputs are emitted as EXACT INTEGERS, never
  ``round(double)``: monetary/2-decimal inputs are quantized per row to
  integer cents (``CAST(floor(x * 100 + 0.5) AS BIGINT)`` — a single
  deterministic IEEE multiply + floor, identical in both engines), all
  aggregation then happens in exact bigint arithmetic (order-independent),
  and ratios use rounded integer division ``(2*a*scale + b) DIV (2*b)``.
  Column suffixes: ``_c`` = value×100 (cents), ``_e3``/``_e4``/``_e6`` =
  value×10³/10⁴/10⁶, ``_bp`` = basis points. Rationale: Spark's
  ``round(double, n)`` (BigDecimal HALF_UP) and DuckDB's ``round`` can
  disagree on representation ties, and double-sum ordering differs between
  engines — both flipped real CORRECTNESS hashes in earlier rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan with scale-adaptive map parallelism (guide §2.2/§2.5, §6.1).

    A monolithic low-split input (e.g. a single-row-group parquet file,
    which is what the test SFs ship) gives the scan ONE partition, so
    every expensive per-row map stage built on it — shingling, seeded
    minhash md5s, simhash votes, feature hashing — runs on one core no
    matter how wide the cluster is, and no AQE rule ever widens it (AQE
    only coalesces). When the scan yields fewer than half
    ``defaultParallelism`` partitions, round-robin repartition to full
    width BEFORE the heavy expressions; on a real multi-file /
    multi-row-group layout (the 100 TB case) the scan is already wide
    and this is a NO-OP — the knob derives from the input layout, not a
    constant tuned to local mode. Only used by ops whose downstream is
    order-insensitive (agg / min / sum / join / distinct): round-robin
    repartition permutes row order, nothing else."""
    df = _t(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    try:
        n_parts = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive (exotic sources)
        return df
    return df.repartition(par) if 2 * n_parts <= par else df


# --------------------------------------------------------------------------
# TPC-H-ish relational surface (SURVEY.md §2.0)
# --------------------------------------------------------------------------

#: epoch seconds of 1995-01-01 / 2024-01-01 UTC, hardcoded so neither
#: engine parses a date literal through its session time zone
_ASOF_ORDERS_EPOCH0 = 788_918_400
_ASOF_EVENTS_EPOCH0 = 1_704_067_200
_ASOF_SQUEEZE = 80  # maps the ~2,400-day order span into the 30-day event window


_SESSION_GAP_S = 1800  # classic 30-minute inactivity boundary


def q_events_sessionize(spark, sf_dir):
    """Sessionization — split each user's event stream on >30-minute
    inactivity gaps and aggregate per session (the canonical
    clickstream/transcript operator). One shuffle on user_id: lag
    detects boundaries, a running sum numbers sessions, and the session
    rollup reuses the same partitioning.
    All-integer epoch arithmetic, so the oracle hashes exactly."""
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    cum = (Window.partitionBy("user_id").orderBy("t", "event_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ev = (_t(spark, sf_dir, "events")
          .select("user_id", "event_id",
                  F.unix_timestamp("ts").alias("t")))
    flagged = (ev
               .withColumn("prev_t", F.lag("t").over(w))
               .withColumn("new_sess", F.when(
                   F.col("prev_t").isNull()
                   | (F.col("t") - F.col("prev_t") > _SESSION_GAP_S),
                   1).otherwise(0))
               .withColumn("session_seq", F.sum("new_sess").over(cum)))
    return (flagged.groupBy("user_id", "session_seq")
            .agg(F.count("*").alias("n_events"),
                 F.min("t").alias("session_start_s"),
                 F.max("t").alias("session_end_s")))


SQL_EVENTS_SESSIONIZE = f"""
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
), flagged AS (
  SELECT user_id, t,
         CASE WHEN lag(t) OVER (PARTITION BY user_id
                                ORDER BY t, event_id) IS NULL
                   OR t - lag(t) OVER (PARTITION BY user_id
                                       ORDER BY t, event_id)
                      > {_SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess,
         event_id
  FROM ev
), numbered AS (
  SELECT user_id, t,
         CAST(sum(new_sess) OVER (PARTITION BY user_id
              ORDER BY t, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(t) AS session_start_s, max(t) AS session_end_s
FROM numbered GROUP BY user_id, session_seq
"""


# --------------------------------------------------------------------------
# Text-analysis ops over documents (training-data pipeline)
# --------------------------------------------------------------------------


def q_docs_repetition_ratio(spark, sf_dir):
    """Intra-document repetition — duplicate 3-gram fraction per doc
    (1 − distinct/total), the Gopher/RefinedWeb-style quality gate that
    catches template spam and decode loops before training. Pure per-row
    JVM column expressions over one scan (the shingle let-binding from
    the dedup family, counted instead of exploded) — no Python,
    trivially 100 TB-safe; the only exchange is the scale-adaptive map
    widening of ``_t_wide`` (a no-op on a properly split input). Ratio
    emitted ×10⁴ by exact rounded integer division."""
    words = r"split(trim(text), '\\s+')"
    total = F.expr(f"greatest(size({words}) - 2, 0)")
    d = (_t_wide(spark, sf_dir, "documents")
         .select("doc_id",
                 total.alias("n_shingles"),
                 F.size(_shingles()).alias("n_distinct"))
         .filter(F.col("n_shingles") > 0))
    return d.select(
        "doc_id", "n_shingles", "n_distinct",
        F.expr("(2 * (n_shingles - n_distinct) * 10000 + n_shingles)"
               " DIV (2 * n_shingles)").alias("repetition_e4"))


SQL_DOCS_REPETITION_RATIO = """
WITH t AS (
  SELECT doc_id,
         greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 2, 0)
             AS n_shingles,
         len(list_distinct(list_transform(
           range(1, greatest(len(regexp_split_to_array(trim(text),
                 '\\s+')) - 2, 0) + 1),
           i -> array_to_string(list_slice(
                  regexp_split_to_array(trim(text), '\\s+'),
                  i, i + 2), ' ')))) AS n_distinct
  FROM documents
)
SELECT doc_id, n_shingles, n_distinct,
       (2 * (n_shingles - n_distinct) * 10000 + n_shingles)
           // (2 * n_shingles) AS repetition_e4
FROM t WHERE n_shingles > 0
"""


# --------------------------------------------------------------------------
# Deduplication ops
# --------------------------------------------------------------------------


def _shingles(col="text", k=3):
    """k-word shingles as a column expression (JVM-side, no Python UDF):
    transform over token index → concat_ws of the k-token slice.

    The short-document guard is a CASE, not greatest(..., 0): Spark's
    ``sequence(1, 0)`` is a DESCENDING [1, 0] — its 0 then reaches
    ``slice(arr, 0, k)``, which throws (array starts are 1-based). Any
    document with < k words would crash the whole dedup family; real
    corpora are full of such docs even though the testdata isn't
    (regression-tested with empty/1/2-word docs).

    The ``transform(array(split(...)), ws -> …)[1]`` wrapper is a LET
    BINDING: Catalyst does not hoist the split() out of the per-element
    lambda, so the naive form re-tokenizes the document once per
    shingle — O(doc²). Binding the token array to a lambda variable
    evaluates split() exactly once per row; measured 7× faster on the
    sf0.1 shingle explode (4.2 s → 0.6 s)."""
    words = rf"split(trim({col}), '\\s+')"
    return F.expr(
        rf"""
        element_at(transform(array({words}), ws ->
          CASE WHEN size(ws) >= {k}
          THEN array_distinct(transform(
            sequence(1, size(ws) - {k - 1}),
            i -> concat_ws(' ', slice(ws, i, {k}))))
          ELSE CAST(array() AS ARRAY<STRING>) END), 1)
        """
    )


_SHINGLE_DF_CAP = 1000  # max docs a shingle may appear in before it's dropped
_LSH_BUCKET_CAP = 1000  # max docs an LSH band bucket may hold before drop


def _drop_hot_keys(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Remove rows whose key appears more than ``cap`` times — BEFORE any
    collect_list, so no aggregation buffer ever holds an unbounded list.

    Implemented as a window count over ``partitionBy(keys)`` + filter, NOT
    a second aggregation branch: the (expensive: shingling/md5) upstream is
    evaluated ONCE and shuffled ONCE, and the caller's follow-up
    ``groupBy(keys)`` aggregation reuses the window's hashpartitioning —
    no extra exchange (a separate count branch re-evaluates the scan:
    measured, and Catalyst refuses ReusedExchange because the anti-join
    sits between the two exchanges). Memory safety at the skew point:
    WindowExec buffers each key group in a spill-to-disk row array
    (ExternalAppendOnlyUnsafeRowArray), so a 10^7-row boilerplate shingle
    or spam LSH bucket costs disk bytes, never an in-memory aggregation
    buffer — unlike a plain ``collect_list → size filter``, which
    materializes the whole multi-GB array in ONE buffer before dropping it
    (executor OOM on a skewed key). Hot rows are filtered out before any
    collect_list sees them.
    """
    w = Window.partitionBy(*keys)
    return (df.withColumn("_key_count", F.count(F.lit(1)).over(w))
            .filter(F.col("_key_count") <= cap).drop("_key_count"))


def _explode_pairs(grouped: DataFrame) -> DataFrame:
    """All (a < b) pairs from a sorted distinct-doc ``ids`` column, as
    ``id_a``/``id_b`` rows.

    Two-stage explode: posexplode picks each left element, then a second
    explode over the tail slice emits its partners — per-row intermediate
    state is O(|ids|) (≤ the group cap), never the O(|ids|²) full pair set
    a single flatten would buffer in one array value. Both explodes run
    inside one codegen stage (no shuffle between them), so rows stream
    through one at a time. slice() start is 1-based and posexplode's index
    is 0-based, hence ``i + 2``.
    """
    return (
        grouped.select("ids", F.posexplode("ids").alias("i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.expr("slice(ids, i + 2, size(ids) - i - 1)")).alias("id_b"))
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    """3-gram shingle Jaccard near-dup pairs.

    Scale path: explode shingles → frequency-cap → self-join ON shingle
    (co-occurrence count) → Jaccard from |A∩B| and set sizes. The join key
    is the shingle, so work is proportional to shared-shingle pairs, not
    n². The cap is what makes that hold at 100 TB: a boilerplate shingle
    ("click here to") appearing in 10^6 docs would otherwise make a
    10^12-row join group. Shingles above the document-frequency cap are
    anti-joined away (the hot set is tiny and broadcast); they carry no
    near-dup signal precisely because they are ubiquitous. The cap is far
    above any test-corpus frequency, so the oracle sees identical results.
    """
    d = _t_wide(spark, sf_dir, "documents").select(
        "doc_id", _shingles().alias("sh"))
    # The per-doc set size rides ALONG the exploded stream (r9 guide
    # §2.3/§2.4: the former sizes-table formulation joined two extra
    # legs that each re-ran the full shingle expression — 3 scans + 2
    # joins; carrying the one int through the existing shuffles makes
    # the shingle computation run ONCE and drops both joins).
    ex = d.select("doc_id", F.size("sh").alias("n"),
                  F.explode("sh").alias("shingle"))
    # Hot-shingle document-frequency cap runs BEFORE collect_list (window
    # count over the one shingle shuffle, spill-safe — see _drop_hot_keys):
    # no aggregation buffer ever holds more than CAP doc ids, so a
    # 10^8-frequency boilerplate shingle costs spilled disk bytes instead
    # of a multi-GB single-group list.
    # The groupBy then reuses the window's partitioning (no second
    # exchange) and collects each surviving shingle's (doc, size) list
    # and pairs are generated JVM-side; per-group work ≤ CAP²/2 rows with
    # O(CAP) per-row state (see _explode_pairs).
    safe = _drop_hot_keys(ex, ["shingle"], _SHINGLE_DF_CAP)
    grouped = (
        safe.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n")))
             .alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # ids structs sort by (doc_id, n) = by doc_id (unique per group), so
    # _explode_pairs emits the same ordered pairs as the bare-id form
    pairs = (
        _explode_pairs(grouped)
        .groupBy(F.col("id_a.doc_id").alias("id_a"),
                 F.col("id_a.n").alias("na"),
                 F.col("id_b.doc_id").alias("id_b"),
                 F.col("id_b.n").alias("nb"))
        .agg(F.count("*").alias("shared"))
    )
    return (
        pairs
        # exact-integer emission: jaccard in 10⁻⁴ units via rounded
        # integer division; the ≥0.5 gate is the exact integer
        # predicate 2·shared ≥ union (no float boundary)
        .withColumn("union_n",
                    F.col("na") + F.col("nb") - F.col("shared"))
        .filter(F.expr("2 * shared >= union_n"))
        .withColumn("jaccard_e4", F.expr(
            "(2 * shared * 10000 + union_n) DIV (2 * union_n)"))
        .select("id_a", "id_b", "shared", "jaccard_e4")
    )


SQL_DEDUP_NGRAM = """
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(length(regexp_split_to_array(trim(text), '\\s+')) - 2, 0) + 1),
           i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), i, i + 2), ' ')
         )) AS shingles
  FROM documents
), sizes AS (
  SELECT doc_id, length(shingles) AS n FROM sh
), ex_all AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), hot AS (
  SELECT shingle FROM ex_all GROUP BY 1 HAVING count(*) > 1000
), ex AS (
  SELECT * FROM ex_all WHERE shingle NOT IN (SELECT shingle FROM hot)
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, shared,
       (2 * shared * 10000 + (sa.n + sb.n - shared))
           // (2 * (sa.n + sb.n - shared)) AS jaccard_e4
FROM pairs
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE 2 * shared >= sa.n + sb.n - shared
"""


#: deterministic skew injection for the cap-engagement audit: one
#: boilerplate document repeated past the document-frequency cap, so the
#: hot-shingle guard MUST fire (the natural testdata never triggers it —
#: without this op, cap correctness would be pytest-only, never
#: oracle-checked)
_SKEW_COPIES = 1200
_SKEW_BOILERPLATE = (
    "subscribe to our newsletter unsubscribe anytime all rights reserved"
    " privacy policy terms of service apply")


def q_dedup_hot_shingle_audit(spark, sf_dir):
    """Cap engagement on a deterministically SKEWED corpus: union the
    documents table with ``_SKEW_COPIES`` copies of a boilerplate doc
    (distinct doc_ids, identical text — the 10^8-frequency chrome/footer
    shape real crawls are full of), shingle it, and emit every shingle
    whose document frequency exceeds ``_SHINGLE_DF_CAP`` — exactly the
    set ``_drop_hot_keys`` removes before any collect_list in the dedup
    family. With 1,200 > 1,000 copies the audit is NONZERO by
    construction: the oracle reproduces the cap semantics (count > cap ⇒
    dropped) on data where it must engage, not just on healthy draws.
    Scale shape: the injection is a metadata-only union; the audit is
    the same one explode + groupBy(shingle) every capped op already
    pays."""
    docs = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    injected = (spark.range(_SKEW_COPIES)
                .select((F.col("id") + 10000000).alias("doc_id"),
                        F.lit(_SKEW_BOILERPLATE).alias("text")))
    corpus = docs.unionByName(injected)
    ex = corpus.select("doc_id", F.explode(_shingles()).alias("shingle"))
    return (ex.groupBy("shingle").agg(F.count("*").alias("df"))
            .filter(F.col("df") > _SHINGLE_DF_CAP))


SQL_DEDUP_HOT_SHINGLE_AUDIT = f"""
WITH injected AS (
  SELECT 10000000 + range AS doc_id,
         '{_SKEW_BOILERPLATE}' AS text
  FROM range({_SKEW_COPIES})
), corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id, text FROM injected
), sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len(regexp_split_to_array(trim(text),
                 '\\s+')) - 2, 0) + 1),
           i -> array_to_string(list_slice(
                  regexp_split_to_array(trim(text), '\\s+'),
                  i, i + 2), ' '))) AS shingles
  FROM corpus
), ex AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
)
SELECT shingle, count(*) AS df
FROM ex GROUP BY shingle HAVING count(*) > {_SHINGLE_DF_CAP}
"""


def _triangle_counts(edges: DataFrame) -> DataFrame:
    """Degree-ordered triangle counting over an undirected edge list
    (columns id_a < id_b, unique)."""
    deg = (edges.select(F.col("id_a").alias("v"))
           .unionAll(edges.select(F.col("id_b").alias("v")))
           .groupBy("v").agg(F.count("*").alias("deg")))
    da = deg.select(F.col("v").alias("id_a"), F.col("deg").alias("da"))
    db = deg.select(F.col("v").alias("id_b"), F.col("deg").alias("db"))
    # total order = (degree, id); orient each edge low → high
    keyed = (edges.join(da, "id_a").join(db, "id_b")
             .withColumn("ka", F.struct(F.col("da").alias("d"),
                                        F.col("id_a").alias("i")))
             .withColumn("kb", F.struct(F.col("db").alias("d"),
                                        F.col("id_b").alias("i"))))
    oriented = keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("id_a"))
         .otherwise(F.col("id_b")).alias("src"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb"))
         .otherwise(F.col("ka")).alias("dstk"),
        F.when(F.col("ka") < F.col("kb"), F.col("id_b"))
         .otherwise(F.col("id_a")).alias("dst"))
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = (e1.join(e2, (F.col("e1.src") == F.col("e2.src"))
                      & (F.col("e1.dstk") < F.col("e2.dstk")))
              .select(F.col("e1.src").alias("u"),
                      F.col("e1.dst").alias("v"),
                      F.col("e2.dst").alias("w")))
    e3 = oriented.alias("e3")
    tri = wedges.join(e3, (F.col("v") == F.col("e3.src"))
                      & (F.col("w") == F.col("e3.dst")))
    return (tri.select(F.col("u").alias("doc_id"))
            .unionAll(tri.select(F.col("v").alias("doc_id")))
            .unionAll(tri.select(F.col("w").alias("doc_id")))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_triangles")))


#: Audit record of the most recent ``_min_label_cc`` run in this process
#: ({"rounds": int, "converged": bool}), for callers that report the
#: round count.
LAST_CC_AUDIT: dict = {}


def _min_label_cc(edges: DataFrame, max_rounds: int = 50,
                  reliable_checkpoint: bool = False):
    """Connected components by min-label propagation with pointer jumping.

    ``edges`` is a directed edge list (id_a, id_b) that must already contain
    both orientations of every undirected edge. Returns
    ``(labels_df, rounds_used, converged)`` where labels is
    (doc_id, cluster_id = min doc_id reachable).

    Each round is (1) a min-over-neighbors step (one join + min-agg on the
    edge list) and (2) a pointer-jumping step (adopt the label of the node
    the current label points at — the large-star/small-star family's
    shortcut). Step (2) squares the distance a label has propagated per
    round, so convergence is O(log diameter) rounds instead of O(diameter):
    a 50-round cap covers diameters up to ~2^50, i.e. any graph that fits
    in storage. The per-round fixpoint check is a driver-side count;
    non-convergence at the cap is NEVER silent — callers get
    ``converged=False`` and the public op raises (round-4 verdict: silent
    partial propagation was the one wrong-at-scale hazard).

    ``localCheckpoint`` truncates per-round lineage so the plan stays flat.
    It is NOT fault-tolerant (blocks live on executors; an executor loss
    kills the job rather than recomputing) — fine single-node, but on a
    real cluster pass ``reliable_checkpoint=True`` to use HDFS-backed
    ``checkpoint()`` instead (requires ``spark.sparkContext.
    setCheckpointDir`` to a cluster-visible path).
    """
    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable_checkpoint \
            else df.localCheckpoint(eager=True)

    labels = (edges.select(F.col("id_a").alias("doc_id")).distinct()
              .withColumn("cluster_id", F.col("doc_id")))
    rounds_used, converged = 0, False
    for _round in range(max_rounds):
        rounds_used += 1
        neighbor_min = (
            edges.join(labels, edges.id_a == labels.doc_id)
            .groupBy(F.col("id_b").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min")))
        stepped = (
            labels.join(neighbor_min, "doc_id", "left")
            .select("doc_id",
                    F.col("cluster_id").alias("old_id"),
                    F.least("cluster_id", F.coalesce("nbr_min",
                                                     F.col("cluster_id")))
                    .alias("cluster_id")))
        # pointer jumping: cluster_id is always some node's doc_id (labels
        # start as own-id and only ever adopt another node's label), so
        # label-of-label is total; taking it halves remaining path length.
        parent = stepped.select(F.col("doc_id").alias("p_id"),
                                F.col("cluster_id").alias("p_cluster"))
        # Fixpoint detection rides the checkpoint action itself (r8
        # verdict advisory #3, strengthened in r9): the pre-round label
        # travels as old_id and a CollectMetrics Observation sums the
        # label flips DURING the eager localCheckpoint — the former
        # per-round driver-side count() job pair (join of two
        # checkpointed frames + aggregate) is gone entirely, every round
        # is still checked, and the loud 50-round cap is unchanged.
        ob = Observation()
        new_labels = _ckpt(
            stepped.join(parent, stepped.cluster_id == parent.p_id, "left")
            .select("doc_id", "old_id",
                    F.least("cluster_id", F.coalesce("p_cluster",
                                                     F.col("cluster_id")))
                    .alias("cluster_id"))
            .observe(ob, F.sum((F.col("cluster_id") != F.col("old_id"))
                               .cast("long")).alias("changed"))
            .select("doc_id", "cluster_id"))
        labels = new_labels
        if int(ob.get["changed"] or 0) == 0:
            converged = True
            break
    LAST_CC_AUDIT.clear()
    LAST_CC_AUDIT.update({"rounds": rounds_used, "converged": converged})
    return labels.select("doc_id", "cluster_id"), rounds_used, converged


def _cluster_edges(spark, sf_dir) -> DataFrame:
    """Symmetrized near-dup edge list feeding cluster resolution.

    No ``distinct()``: the jaccard pairs are unique with id_a < id_b
    strictly (groupBy output), so the two orientations are disjoint and
    their union is already duplicate-free — the distinct was a pure
    extra shuffle+agg before the checkpoint (r9; degree-counting
    consumers like graph_pagerank rely on this uniqueness argument, not
    on a dedup pass).

    The PAIR list is what gets materialized, BEFORE the symmetrizing
    union (r9, second pass): a union of two jaccard subtrees runs the
    pair-generation stage twice — exchange reuse deduplicates the
    shingle map side but not the grouped pair explode above it, which
    is exactly the stage that grows with the duplicate rate (measured
    at a 5×-tiled corpus: the doubled explode was most of the CC ops'
    residual). The swapped orientation is then a projection of the
    materialized rows — free."""
    pairs = (q_dedup_ngram_jaccard(spark, sf_dir)
             .select("id_a", "id_b").localCheckpoint(eager=True))
    return pairs.union(
        pairs.select(F.col("id_b").alias("id_a"),
                     F.col("id_a").alias("id_b")))


def q_dedup_clusters(spark, sf_dir):
    """Duplicate-cluster resolution: connected components over the Jaccard
    near-dup pair graph — (doc_id, cluster_id = min doc_id reachable).
    Pairs alone aren't the usable dedup product; a pipeline keeps one
    canonical doc per CLUSTER (A~B, B~C must collapse to one group even
    when A~C was never emitted).

    Strategy: min-label propagation with pointer jumping (see
    ``_min_label_cc``) — one join + min-agg per round, O(log diameter)
    rounds, loud failure (raise) if the 50-round cap is ever hit without a
    fixpoint, so a wrong-but-plausible clustering is impossible.
    Deterministic: the fixpoint (min reachable id) is unique, so the DuckDB
    recursive-CTE oracle hash-matches.
    """
    labels, rounds, converged = _min_label_cc(_cluster_edges(spark, sf_dir))
    if not converged:
        raise RuntimeError(
            f"dedup_clusters: min-label propagation did not converge in "
            f"{rounds} rounds — component diameter exceeds 2^{rounds}, "
            "which indicates corrupt input, not a real near-dup graph")
    return labels


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE dedup_pairs AS (
  SELECT id_a, id_b FROM ({SQL_DEDUP_NGRAM}) t
), edges AS (
  SELECT id_a AS a, id_b AS b FROM dedup_pairs
  UNION SELECT id_b, id_a FROM dedup_pairs
), reach(src, dst) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY 1
"""


def q_customer_value_deciles(spark, sf_dir):
    """NTILE decile segmentation of customers by lifetime revenue (the
    classic value-banding window op). Revenue aggregates to exact
    integer cents per customer FIRST (one keyed shuffle over |customers|
    rows), then a global ntile(10) with a total order (revenue desc,
    custkey) assigns bands deterministically in both engines.

    Scale note: a global ORDER BY window is a single-partition sort —
    fine over the pre-aggregated |customers| rows here, but at 10⁹+
    customers swap the exact ntile for percentile_approx cutoffs
    broadcast-joined back (tolerance oracle), as with the percentile
    family."""
    cents = F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    rev = (_t(spark, sf_dir, "orders")
           .groupBy("o_custkey").agg(F.sum(cents).alias("revenue_c")))
    w = Window.orderBy(F.desc("revenue_c"), F.asc("o_custkey"))
    return (rev.withColumn("decile", F.ntile(10).over(w))
            .groupBy("decile")
            .agg(F.count("*").alias("n_customers"),
                 F.sum("revenue_c").alias("decile_revenue_c"),
                 F.min("revenue_c").alias("floor_revenue_c")))


SQL_CUSTOMER_VALUE_DECILES = """
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS revenue_c
  FROM orders GROUP BY 1
), banded AS (
  SELECT o_custkey, revenue_c,
         ntile(10) OVER (ORDER BY revenue_c DESC, o_custkey) AS decile
  FROM rev
)
SELECT decile, count(*) AS n_customers,
       CAST(sum(revenue_c) AS BIGINT) AS decile_revenue_c,
       min(revenue_c) AS floor_revenue_c
FROM banded GROUP BY decile
"""


def q_customer_value_deciles_approx(spark, sf_dir):
    """Approx-percentile twin of customer_value_deciles — the shape you
    run at 10⁹+ customers, where the exact op's global ORDER BY window
    (single-partition sort) is the scale-killer.

    Structure: revenue per customer in exact integer cents (one keyed
    shuffle), then ``approx_percentile`` computes the 9 decile cutoffs
    as a partial-aggregable sketch (no sort, no extra shuffle beyond the
    tiny final merge), the 1-row cutoff array is broadcast back, and
    each customer's band is a pure codegen'd expression
    ``1 + count(cutoffs < revenue)``.  No global sort anywhere; no
    driver-side collect (the cutoffs travel as a broadcast 1-row cross
    join, same pattern as the ANN query tile).

    Oracle exactness: with accuracy=10⁶ ≫ |customers|, Spark's
    QuantileSummaries keeps every sample (targetError = n/accuracy < ½
    forbids any compression merge, g≥1) and query(p) returns the element
    at 1-based ascending rank ceil(p·n) — verified empirically for
    n ∈ {7,10,23,100}.  DuckDB mirrors that rank pick via row_number;
    k/10.0 parses/computes to bit-identical doubles in both engines, so
    the cutoffs — and hence the bands — match exactly.  Banding is
    integer-only (cents), so no float drift downstream.  Band counts
    differ from the exact ntile op only by tie/boundary placement; the
    tolerance pytest pins per-band count drift ≤ ε against the exact op.
    """
    cents = F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    # rev feeds both the cutoff sketch and the banding scan, but needs
    # neither a cache (which this op could never unpersist — it would
    # pin executor storage for the rest of the session) nor a second
    # scan: the two aggregate subtrees canonicalize identically, so AQE
    # reuses the shuffle stage (ReusedExchange in the executed plan —
    # verified at sf0.01)
    rev = (_t(spark, sf_dir, "orders")
           .groupBy("o_custkey").agg(F.sum(cents).alias("revenue_c")))
    cuts = rev.agg(F.expr(
        "approx_percentile(revenue_c, "
        "array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D), "
        "1000000)").alias("cuts"))
    return (rev.crossJoin(F.broadcast(cuts))
            .withColumn(
                "decile",
                (F.lit(1) + F.expr(
                    "size(filter(cuts, c -> revenue_c > c))")).cast("long"))
            .groupBy("decile")
            .agg(F.count("*").alias("n_customers"),
                 F.sum("revenue_c").alias("decile_revenue_c"),
                 F.min("revenue_c").alias("floor_revenue_c")))


SQL_CUSTOMER_VALUE_DECILES_APPROX = """
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS revenue_c
  FROM orders GROUP BY 1
), ranked AS (
  SELECT revenue_c,
         row_number() OVER (ORDER BY revenue_c) AS rk,
         count(*) OVER () AS n
  FROM rev
), cuts AS (
  SELECT r.revenue_c AS cut
  FROM generate_series(1, 9) AS g(k)
  JOIN ranked r ON r.rk = CAST(ceil((g.k / 10.0) * r.n) AS BIGINT)
), banded AS (
  SELECT o_custkey, revenue_c,
         CAST(1 + (SELECT count(*) FROM cuts WHERE revenue_c > cut)
              AS BIGINT) AS decile
  FROM rev
)
SELECT decile, count(*) AS n_customers,
       CAST(sum(revenue_c) AS BIGINT) AS decile_revenue_c,
       min(revenue_c) AS floor_revenue_c
FROM banded GROUP BY decile
"""


_MINHASH_SEEDS = 8
_BAND_ROWS = 2  # 4 bands × 2 rows


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidate pairs.

    shingle → k seeded minhashes (min over md5(seed:shingle) hex prefix —
    engine-portable) → band keys (r minhashes concatenated) → bucket
    self-join. Only documents sharing a full band collide, so the join is
    band-bucket-local: the 100 TB-scale strategy (no pairwise scan).

    Degenerate buckets (a spam page duplicated 10^7× puts 10^7 ids in one
    band bucket) are dropped by a count-gated cap BEFORE collect_list —
    the same spill-safe window pre-filter as the jaccard op, so no buffer
    ever holds an unbounded list. Dropped buckets are not silent: audit
    them with :func:`q_dedup_lsh_dropped_buckets`, which returns each
    over-cap (band, band_key) with its population so a job can count/log
    what the pair stage skipped.
    """
    return _pairs_from_bands(_lsh_bands(spark, sf_dir))


def _pairs_from_bands(bands: DataFrame) -> DataFrame:
    """The LSH pair stage (cap -> group -> explode-pairs -> distinct),
    shared by the pair op and the similarity-estimate op so their
    candidate semantics can never diverge."""
    safe = _drop_hot_keys(bands, ["band", "band_key"], _LSH_BUCKET_CAP)
    grouped = (safe.groupBy("band", "band_key")
               .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
               .filter(F.size("ids") >= 2))
    return _explode_pairs(grouped).select("id_a", "id_b").distinct()


def _minhash_sigs(spark, sf_dir) -> DataFrame:
    """(doc_id, mh0..mh{k-1}) minhash signature columns — shared by the
    LSH band stage and the similarity-estimate op.

    r9 shape: explode the shingle set once and take the k seeded minima
    as ONE grouped aggregation instead of k ``array_min(transform(...))``
    higher-order functions. Same values (min over exploded elements ==
    array_min over the array; both binary string comparison), but the md5
    runs inside whole-stage codegen with map-side partial aggregation —
    the k HOF lambdas were interpreted per element and allocated k
    intermediate arrays per doc (measured 2.8 s → see OPTIMIZATION_r09).
    The shuffle carries only the per-partition partial minima (≤ docs ×
    k strings), never the exploded stream."""
    d = _t_wide(spark, sf_dir, "documents").select(
        "doc_id", _shingles().alias("sh")).filter(F.size("sh") > 0)
    ex = d.select("doc_id", F.explode("sh").alias("s"))
    aggs = [
        F.min(F.expr(f"substr(md5(concat('{i}:', s)), 1, 16)"))
        .alias(f"mh{i}")
        for i in range(_MINHASH_SEEDS)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def _lsh_bands(spark, sf_dir) -> DataFrame:
    """(doc_id, band, band_key) rows for the LSH op — shared by the pair
    stage and the dropped-bucket audit."""
    return _bands_from_sigs(_minhash_sigs(spark, sf_dir))


def _bands_from_sigs(sigs: DataFrame) -> DataFrame:
    """Band keys from a signature DataFrame. One evaluation of the
    (md5-heavy) signature row, exploded into its band keys — a
    union-of-selects shape would recompute the full signature once per
    band."""
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[F.col(f"mh{b * _BAND_ROWS + r}")
                               for r in range(_BAND_ROWS)])
            .alias("band_key"))
        for b in range(_MINHASH_SEEDS // _BAND_ROWS)])
    return (
        sigs.select("doc_id", F.explode(band_structs).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"),
                F.col("bk.band_key").alias("band_key")))


def q_dedup_lsh_dropped_buckets(spark, sf_dir):
    """Audit surface for the LSH cap: every band bucket whose population
    exceeds ``_LSH_BUCKET_CAP`` (and was therefore excluded from the pair
    stage), with its size. Empty on healthy corpora; a job logs/metrics
    this count so cap drops are never silent truncation."""
    bands = _lsh_bands(spark, sf_dir)
    return (
        bands.groupBy("band", "band_key")
        .agg(F.count("*").alias("bucket_docs"))
        .filter(F.col("bucket_docs") > _LSH_BUCKET_CAP)
        .orderBy("band", "band_key")
    )


def _sql_minhash_prefix() -> tuple[str, str]:
    """(mh column list, band UNION selects) shared by the LSH pair oracle
    and the dropped-bucket audit oracle."""
    mh = ",\n    ".join(
        "list_min(list_transform(shingles, "
        f"s -> substr(md5(concat('{i}:', s)), 1, 16))) AS mh{i}"
        for i in range(_MINHASH_SEEDS))
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '|' || ".join(
            f"mh{b * _BAND_ROWS + r}" for r in range(_BAND_ROWS))
        + " AS band_key FROM sigs"
        for b in range(_MINHASH_SEEDS // _BAND_ROWS))
    return mh, band_selects


def _sql_minhash_bands() -> str:
    mh, band_selects = _sql_minhash_prefix()
    return f"""
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(length(regexp_split_to_array(trim(text), '\\s+')) - 2, 0) + 1),
           i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), i, i + 2), ' ')
         )) AS shingles
  FROM documents
), sigs AS (
  SELECT doc_id,
    {mh}
  FROM sh WHERE length(shingles) > 0
), bands_all AS (
{band_selects}
), hot AS (
  SELECT band, band_key FROM bands_all
  GROUP BY 1, 2 HAVING count(*) > {_LSH_BUCKET_CAP}
), bands AS (
  SELECT bands_all.* FROM bands_all
  ANTI JOIN hot USING (band, band_key)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


SQL_DEDUP_MINHASH = _sql_minhash_bands()


def _sql_lsh_dropped_buckets() -> str:
    mh, band_selects = _sql_minhash_prefix()
    return f"""
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(length(regexp_split_to_array(trim(text), '\\s+')) - 2, 0) + 1),
           i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), i, i + 2), ' ')
         )) AS shingles
  FROM documents
), sigs AS (
  SELECT doc_id,
    {mh}
  FROM sh WHERE length(shingles) > 0
), bands_all AS (
{band_selects}
)
SELECT band, band_key, count(*) AS bucket_docs
FROM bands_all
GROUP BY 1, 2 HAVING count(*) > {_LSH_BUCKET_CAP}
ORDER BY band, band_key
"""


SQL_LSH_DROPPED_BUCKETS = _sql_lsh_dropped_buckets()


def q_dedup_minhash_estimate(spark, sf_dir):
    """Estimated Jaccard for the LSH candidate pairs: the fraction of the
    k minhash positions two documents agree on is an unbiased estimator of
    their true Jaccard — the standard cheap refinement between candidate
    generation and (expensive) exact verification. Scale: candidates are
    the (tiny) LSH output, so the two signature joins shuffle the
    signature table on doc_id only; no pairwise work beyond candidates."""
    # cache (NOT an eager checkpoint — plan construction must stay
    # side-effect free for .explain()/audit tooling): the md5-heavy
    # signature table is still evaluated once per action, and candidates
    # AND both join sides reuse the cached rows
    sigs_cols = _minhash_sigs(spark, sf_dir).cache()
    pairs = _pairs_from_bands(_bands_from_sigs(sigs_cols))
    sig = F.array(*[F.col(f"mh{i}") for i in range(_MINHASH_SEEDS)])
    sigs = sigs_cols.select("doc_id", sig.alias("sig"))
    a = sigs.select(F.col("doc_id").alias("id_a"),
                    F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("doc_id").alias("id_b"),
                    F.col("sig").alias("sig_b"))
    agree = F.size(F.expr(
        "filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("agree", agree)
        # agreement fraction in 10⁻⁴ units, exact integer division
        .select("id_a", "id_b", F.expr(
            f"(2 * agree * 10000 + {_MINHASH_SEEDS})"
            f" DIV (2 * {_MINHASH_SEEDS})").alias("est_jaccard_e4"))
    )


def _sql_minhash_estimate() -> str:
    mh, _bands = _sql_minhash_prefix()
    agree = " + ".join(
        f"CAST(a.mh{i} = b.mh{i} AS INT)" for i in range(_MINHASH_SEEDS))
    return f"""
WITH candidates AS ({SQL_DEDUP_MINHASH}),
sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(length(regexp_split_to_array(trim(text), '\\s+')) - 2, 0) + 1),
           i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), i, i + 2), ' ')
         )) AS shingles
  FROM documents
), sigs AS (
  SELECT doc_id,
    {mh}
  FROM sh WHERE length(shingles) > 0
)
SELECT c.id_a, c.id_b,
       (2 * ({agree}) * 10000 + {_MINHASH_SEEDS})
           // (2 * {_MINHASH_SEEDS}) AS est_jaccard_e4
FROM candidates c
JOIN sigs a ON c.id_a = a.doc_id
JOIN sigs b ON c.id_b = b.doc_id
"""


SQL_DEDUP_MINHASH_ESTIMATE = _sql_minhash_estimate()


# --------------------------------------------------------------------------
# Embedding similarity ops
# --------------------------------------------------------------------------


def train_ivf_centroids(emb: DataFrame, k: int = 8,
                        iters: int = 8) -> list[list[float]]:
    """DataFrame-native Lloyd k-means for the IVF coarse quantizer
    (round-4 verdict #8: a TRAINED quantizer makes nprobe recall
    meaningful on clustered data, unlike the sign-bit stand-in).

    Deterministic end to end: init = the k vectors with the smallest
    vec_id; assignment ties break on the lowest centroid id; empty
    clusters keep their previous centroid. Each iteration: the argmin is
    ONE codegen'd projection per row — the centroids are frozen into the
    plan as a k×dim array literal (``assign_ivf_cells``, the same
    expression the serving path uses), so assignment needs NO crossJoin,
    NO window, and NO shuffle of the n×k expansion (the r5 shape
    shuffled n×k rows per Lloyd iteration to run a partitionBy(vec_id)
    argmin — the plan you would not want at 100×). The only exchange per
    iteration is the per-cluster mean groupBy: k groups × dim avg
    columns, partial-aggregated map-side, k rows of output. The
    per-iteration collect is the k×dim model parameters, not data.
    Scales: corpus passes are O(n·k·dim) map-side work; nothing
    driver-side grows with n."""
    dim = len(emb.select("embedding").first()[0])
    cents = [[float(x) for x in r.embedding]
             for r in emb.orderBy("vec_id").limit(k).collect()]
    emb = emb.select("vec_id", "embedding").localCheckpoint(eager=True)
    for _it in range(iters):
        # float repr round-trips exactly, so the literal-based distances
        # are bit-identical to a broadcast-DataFrame formulation; `cell`
        # is 1-based (array_position semantics, matching the oracle)
        assigned = assign_ivf_cells(emb, cents)
        means = (assigned.groupBy("cell")
                 .agg(*[F.avg(F.element_at("embedding", i + 1)).alias(f"m{i}")
                        for i in range(dim)])
                 .collect())
        new_cents = list(cents)
        for r in means:
            new_cents[r.cell - 1] = [float(r[f"m{i}"]) for i in range(dim)]
        if new_cents == cents:
            break
        cents = new_cents
    return cents


def assign_ivf_cells(df: DataFrame, centroids: list[list[float]],
                     vec_col: str = "embedding") -> DataFrame:
    """+ ``cell`` column: id of the nearest centroid (L2, first-minimum =
    lowest cid on exact ties — mirrors DuckDB ``list_position(d,
    list_min(d))``). Centroids are literals in the plan: the assignment is
    a pure map over the scan, codegen'd, zero shuffle."""
    dists = F.array(*[
        F.expr(
            "aggregate(zip_with({v}, array({cs}),"
            " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
            " CAST(0 AS DOUBLE), (s, x) -> s + x)".format(
                v=vec_col, cs=",".join(f"CAST({x!r} AS DOUBLE)"
                                       for x in c)))
        for c in centroids])
    return (df.withColumn("_dists", dists)
            .withColumn("cell", F.expr(
                "CAST(array_position(_dists, array_min(_dists)) AS INT)"))
            .drop("_dists"))


# Coarse quantizer for the IVF cell assignment: 8 centroids trained by
# tools/train_ivf.py (train_ivf_centroids over sf0.01 embeddings, Lloyd
# ×8, deterministic init, rounded to 4dp). FIXED LITERALS so the DuckDB
# oracle assigns with bit-identical arithmetic — the pretrained-quantizer
# deployment shape: train once, ship centroids to every engine.
try:
    from .ivf_centroids import IVF_KMEANS_CENTROIDS
except ImportError:  # pragma: no cover - regenerate with tools/train_ivf.py
    IVF_KMEANS_CENTROIDS = None


def ivf_topk_from_cells(d: DataFrame, n_queries: int = 5,
                        k: int = 3) -> DataFrame:
    """(vec_id, embedding, cell) → per-query cosine top-k WITHIN the
    query's cell: the shared probe stage of every IVF variant (equi-join
    on the cell key, broadcast queries, window rank — per-query work ∝
    cell population, never the corpus)."""
    queries = (d.filter(F.col("vec_id") < n_queries)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qv"),
                       F.col("cell").alias("qcell")))
    dot = F.expr(
        "aggregate(zip_with(embedding, qv,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0 AS DOUBLE), (s, x) -> s + x)")
    norm = (lambda c: F.sqrt(F.expr(
        f"aggregate({c}, CAST(0 AS DOUBLE),"
        f" (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("vec_id"))
    return (
        d.join(F.broadcast(queries), F.col("cell") == F.col("qcell"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", dot / (norm("embedding") * norm("qv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank")
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos > 0.95) via LSH-style bucketing:
    sign of the first 24 dims forms the bucket key; only same-bucket pairs
    are compared. 24 bits ≈ 16M buckets, so at 10^9 vectors the expected
    bucket population is ~60 and the in-bucket pair join stays tiny (an
    8-bit key capped out at 256 buckets — round-1 VERDICT). Recall
    tradeoff: a 0.95-cosine pair that flips one of the first 24 signs is
    missed; for recall-critical workloads use an exact cosine scan or
    add rotated probe keys.

    Degenerate buckets are capped like the text-dedup ops: a
    mass-duplicated embedding (zero vectors from a failed embedding job,
    boilerplate docs) would otherwise make one bucket's self-join group
    |bucket|²/2 rows — 10^14 at 10^7 copies. Buckets above the cap are
    excluded (window count, spill-safe) in BOTH engines.
    """
    emb = _t(spark, sf_dir, "embeddings")
    bucket = F.expr(
        "concat_ws('', transform(slice(embedding, 1, 24),"
        " x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END))")
    d = _drop_hot_keys(
        emb.select("vec_id", "embedding", bucket.alias("bucket")),
        ["bucket"], _LSH_BUCKET_CAP)
    a = d.alias("a")
    b = d.alias("b")
    dot = F.expr(
        "aggregate(zip_with(a.embedding, b.embedding,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0 AS DOUBLE), (s, x) -> s + x)")
    norm = (lambda side: F.sqrt(F.expr(
        f"aggregate({side}.embedding, CAST(0 AS DOUBLE),"
        f" (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .withColumn("cos", dot / (norm("a") * norm("b")))
        .filter(F.col("cos") > 0.95)
        .select(F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"))
    )


SQL_EMBEDDING_NEAR_DUP = f"""
WITH d_all AS (
  SELECT vec_id, embedding,
         array_to_string(list_transform(list_slice(embedding, 1, 24),
             x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
  FROM embeddings
), hot AS (
  SELECT bucket FROM d_all GROUP BY 1 HAVING count(*) > {_LSH_BUCKET_CAP}
), d AS (
  SELECT d_all.* FROM d_all ANTI JOIN hot USING (bucket)
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM d a JOIN d b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(a.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(b.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) > 0.95
"""


# --------------------------------------------------------------------------
# Corpus-curation ops (sampling / mixing / decontamination / term stats)
# --------------------------------------------------------------------------

# per-language keep thresholds as 4-hex-digit md5-prefix ceilings:
# lexicographic comparison of fixed-width hex == numeric comparison, and
# md5 is the one hash Spark and DuckDB share bit-for-bit (Spark's hash()
# is murmur3-with-seed, not portable). fraction ≈ value/65536.
_SAMPLE_RATES = {"en": "1999",  # ~10% — downsample the majority language
                 "zh": "8000",  # ~50%
                 "es": "8000",
                 "de": "8000",
                 "fr": "8000"}
_SAMPLE_DEFAULT = "4000"        # ~25% for unlisted languages


def sample_keep_cond() -> F.Column:
    """The stratified-sample keep condition as a reusable Column — a pure
    function of (doc_id, lang), so any stage (query or curation job) can
    apply it as a plain filter with no join and no RNG state."""
    rate = F.lit(_SAMPLE_DEFAULT)
    for lang, ceil in _SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(ceil)).otherwise(rate)
    tick = F.substring(
        F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
        1, 4)
    return tick < rate


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling — the training-mix curation
    staple (downsample dominant languages, keep the tail). The keep
    decision is a pure function of doc_id (md5-prefix < per-language
    ceiling), so the sample is reproducible across runs, engines, and
    cluster sizes — no RNG state, no seed-per-partition coupling, and
    resuming a job re-derives the identical sample. Scale: a codegen'd
    filter over the scan; no shuffle, no sampling pass."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(sample_keep_cond())
        .select("doc_id", "lang", "source")
    )


def _sql_stratified_sample() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN '{ceil}'"
        for lang, ceil in _SAMPLE_RATES.items())
    return f"""
SELECT doc_id, lang, source
FROM documents
WHERE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4)
      < (CASE lang {cases} ELSE '{_SAMPLE_DEFAULT}' END)
"""


SQL_STRATIFIED_SAMPLE = _sql_stratified_sample()


#: 16-bit md5 tick of doc_id (namespace 'mix:') vs the source quota —
#: the keep predicate of the temperature sampler; needs columns
#: doc_id, n_docs, quota in scope (join mix_plan() first)
_MIX_TICK = ("CAST(conv(substr(md5(concat('mix:', CAST(doc_id AS STRING"
             "))), 1, 4), 16, 10) AS BIGINT)")
MIX_KEEP_COND = f"{_MIX_TICK} * n_docs < quota * 65536"


def mix_plan(docs: DataFrame, budget_div: int = 2) -> DataFrame:
    """Per-source (n_docs, quota, alpha_share_bp) for the α=0.5
    temperature mix over ``docs`` (any DataFrame with a ``source``
    column — curate_job feeds it the post-dedup survivor set, the
    oracle the raw table). Budget = total docs DIV ``budget_div``."""
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"))
    sq = per_source.withColumn(
        "sq", F.expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 10000)"
                     " AS BIGINT)"))
    tot = sq.agg(F.sum("sq").alias("tot_sq"),
                 F.sum("n_docs").alias("tot_docs"))
    return (sq.crossJoin(F.broadcast(tot))
            .withColumn("quota",
                        F.expr(f"(tot_docs DIV {budget_div}) * sq"
                               " DIV tot_sq"))
            .withColumn("alpha_share_bp",
                        F.expr("(2 * sq * 10000 + tot_sq)"
                               " DIV (2 * tot_sq)"))
            .select("source", "n_docs", "quota", "alpha_share_bp"))


_CONTAM_SHINGLE_N = 5   # word n-gram width for decontamination
_CONTAM_MIN_HITS = 3    # distinct shared shingles to flag a doc
_CONTAM_BENCH_MAX = 25  # doc_id < this = the benchmark stand-in set


def q_benchmark_contamination(spark, sf_dir):
    """Benchmark decontamination — flag corpus documents sharing ≥ 3
    distinct 5-gram word shingles with a held-out benchmark set (here:
    doc_id < 25 stands in for the eval set — sized so the testdata's
    near-dup pairs actually straddle the boundary and the check is
    non-degenerate). The train-on-test hygiene
    pass every LLM data pipeline needs.

    Scale shape: benchmark shingles are DISTINCT'd and broadcast (eval
    sets are small by definition — MMLU-sized, not corpus-sized), so the
    corpus side is ONE scan + shingle explode + broadcast semi-ish join +
    groupBy(doc_id); no shuffle of the corpus shingles against each other
    and no pair blowup. The same window cap as the dedup family drops
    degenerate boilerplate shingles before they multiply."""
    docs = _t_wide(spark, sf_dir, "documents")
    n = _CONTAM_SHINGLE_N
    # short-doc CASE guard + split() let-binding: see _shingles for both
    # (sequence(1,0) descends into a slice(arr,0,n) crash; unbound split
    # re-tokenizes per shingle, measured 7x slower)
    shingle_expr = F.expr(f"""
      element_at(transform(array(split(trim(text), '\\\\s+')), ws ->
        CASE WHEN size(ws) >= {n}
        THEN transform(sequence(1, size(ws) - {n - 1}),
                       i -> array_join(slice(ws, i, {n}), ' '))
        ELSE CAST(array() AS ARRAY<STRING>) END), 1)
    """)
    bench = (docs.filter(F.col("doc_id") < _CONTAM_BENCH_MAX)
             .select(F.explode(shingle_expr).alias("shingle")).distinct())
    corpus = (docs.filter(F.col("doc_id") >= _CONTAM_BENCH_MAX)
              .select("doc_id", F.explode(shingle_expr).alias("shingle"))
              .distinct())
    corpus = _drop_hot_keys(corpus, ["shingle"], 1000)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= _CONTAM_MIN_HITS)
    )


SQL_BENCHMARK_CONTAMINATION = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(regexp_split_to_array(trim(text),
                 '\\s+')) - {_CONTAM_SHINGLE_N - 1}, 0) + 1),
           i -> array_to_string(list_slice(
                  regexp_split_to_array(trim(text), '\\s+'),
                  i, i + {_CONTAM_SHINGLE_N - 1}), ' '))) AS shingle
  FROM documents
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id < 25
), corpus_all AS (
  SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id >= 25
), hot AS (
  SELECT shingle FROM corpus_all GROUP BY 1 HAVING count(*) > 1000
), corpus AS (
  SELECT * FROM corpus_all ANTI JOIN hot USING (shingle)
)
SELECT doc_id, count(*) AS n_shared_shingles
FROM corpus JOIN bench USING (shingle)
GROUP BY doc_id
HAVING count(*) >= {_CONTAM_MIN_HITS}
"""


_CONTAM_PREFIX = 200  # chars of lev-verify window (O(1) per candidate)


def q_benchmark_contamination_fuzzy(spark, sf_dir):
    """EDIT-DISTANCE-tolerant benchmark decontamination: the exact
    shingle op misses near-verbatim leakage (a changed number, drifted
    punctuation, a re-wrapped line kills every overlapping 5-gram).
    This variant flags (corpus doc, benchmark doc) pairs whose texts
    are within 10% edit distance over a fixed prefix window.

    Scale shape — the standard two-stage filter-verify:

    1. CANDIDATES exactly like the exact op: benchmark shingles
       DISTINCT'd and broadcast, corpus side one scan + explode +
       hot-shingle cap; one shared 5-gram nominates a pair. Never a
       corpus self-join, never an all-pairs levenshtein.
    2. VERIFY: ``levenshtein`` (JVM built-in, both engines) over the
       first {_CONTAM_PREFIX} chars only — O(prefix²) = O(1) per
       candidate pair regardless of document length; the flag is the
       exact integer predicate 10·lev ≤ max(len_a, len_b). For deeper
       windows Spark's 3-arg ``levenshtein(l, r, threshold)``
       early-exits at the bound.

    Distance unit: UTF-8 BYTES, in both engines. Spark's levenshtein
    counts characters but DuckDB's counts bytes (one hanzi edit = 3
    there — found by the CJK known-answer pytest, not by reading
    docs); the portable formulation maps the prefix through
    ``decode(encode(p, 'utf-8'), 'iso-8859-1')`` on the Spark side
    (lossless byte→latin-1-char) so both engines edit the same byte
    sequence, and thresholds use octet lengths.

    The benchmark prefix table is broadcast (eval sets are MMLU-sized);
    the corpus prefix join is the only shuffle beyond the candidate
    distinct."""
    docs = _t_wide(spark, sf_dir, "documents")
    n = _CONTAM_SHINGLE_N
    shingle_expr = F.expr(f"""
      element_at(transform(array(split(trim(text), '\\\\s+')), ws ->
        CASE WHEN size(ws) >= {n}
        THEN transform(sequence(1, size(ws) - {n - 1}),
                       i -> array_join(slice(ws, i, {n}), ' '))
        ELSE CAST(array() AS ARRAY<STRING>) END), 1)
    """)
    prefix = F.expr(f"substring(trim(text), 1, {_CONTAM_PREFIX})")
    bench = (docs.filter(F.col("doc_id") < _CONTAM_BENCH_MAX)
             .select(F.col("doc_id").alias("bench_id"),
                     F.explode(shingle_expr).alias("shingle"))
             .distinct())
    corpus = (docs.filter(F.col("doc_id") >= _CONTAM_BENCH_MAX)
              .select("doc_id", F.explode(shingle_expr).alias("shingle"))
              .distinct())
    corpus = _drop_hot_keys(corpus, ["shingle"], 1000)
    cand = (corpus.join(F.broadcast(bench), "shingle")
            .select("doc_id", "bench_id").distinct())
    ctext = docs.filter(F.col("doc_id") >= _CONTAM_BENCH_MAX).select(
        "doc_id", prefix.alias("p_doc"))
    btext = docs.filter(F.col("doc_id") < _CONTAM_BENCH_MAX).select(
        F.col("doc_id").alias("bench_id"), prefix.alias("p_bench"))
    return (cand.join(ctext, "doc_id")
            .join(F.broadcast(btext), "bench_id")
            .withColumn("lev", F.expr(
                "CAST(levenshtein("
                "decode(encode(p_doc, 'utf-8'), 'iso-8859-1'), "
                "decode(encode(p_bench, 'utf-8'), 'iso-8859-1')"
                ") AS BIGINT)"))
            .filter(F.expr("10 * lev <= "
                           "greatest(octet_length(p_doc), "
                           "octet_length(p_bench))"))
            .select("doc_id", "bench_id", "lev"))


SQL_BENCHMARK_CONTAMINATION_FUZZY = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(regexp_split_to_array(trim(text),
                 '\\s+')) - {_CONTAM_SHINGLE_N - 1}, 0) + 1),
           i -> array_to_string(list_slice(
                  regexp_split_to_array(trim(text), '\\s+'),
                  i, i + {_CONTAM_SHINGLE_N - 1}), ' '))) AS shingle
  FROM documents
), bench_sh AS (
  SELECT DISTINCT doc_id AS bench_id, shingle FROM sh
  WHERE doc_id < {_CONTAM_BENCH_MAX}
), corpus_all AS (
  SELECT DISTINCT doc_id, shingle FROM sh
  WHERE doc_id >= {_CONTAM_BENCH_MAX}
), hot AS (
  SELECT shingle FROM corpus_all GROUP BY 1 HAVING count(*) > 1000
), corpus AS (
  SELECT * FROM corpus_all ANTI JOIN hot USING (shingle)
), cand AS (
  SELECT DISTINCT doc_id, bench_id
  FROM corpus JOIN bench_sh USING (shingle)
), pd AS (
  SELECT doc_id, substr(trim(text), 1, {_CONTAM_PREFIX}) AS p_doc
  FROM documents WHERE doc_id >= {_CONTAM_BENCH_MAX}
), pb AS (
  SELECT doc_id AS bench_id,
         substr(trim(text), 1, {_CONTAM_PREFIX}) AS p_bench
  FROM documents WHERE doc_id < {_CONTAM_BENCH_MAX}
)
SELECT c.doc_id, c.bench_id,
       -- DuckDB levenshtein is already byte-based (see op docstring)
       CAST(levenshtein(p_doc, p_bench) AS BIGINT) AS lev
FROM cand c JOIN pd USING (doc_id) JOIN pb USING (bench_id)
WHERE 10 * levenshtein(p_doc, p_bench)
      <= greatest(strlen(p_doc), strlen(p_bench))
"""


# --------------------------------------------------------------------------
# PII detection / redaction
# --------------------------------------------------------------------------

# Conservative cross-dialect regexes (Java regex on the Spark side, RE2 in
# DuckDB): character classes, bounded repetition, non-capturing groups and
# ASCII \b only — no lookaround, no backrefs, so both engines agree.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IPV4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII_PHONE = "\\+\\d{7,15}"
_PII_EVERY = 25  # every k-th doc gets deterministic planted PII


def _pii_injected_col() -> F.Column:
    """Deterministic PII injection: the corpus is synthetic word soup with
    zero '@'/digit tokens, so (like the skew injection feeding
    dedup_hot_shingle_audit) every ``_PII_EVERY``-th doc gets an email, an
    IPv4 and an E.164-style phone appended — the op must demonstrably
    ENGAGE, not vacuously count zeros."""
    return F.when(
        F.col("doc_id") % _PII_EVERY == 0,
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.2."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +49301234"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0")),
    ).otherwise(F.coalesce(F.col("text"), F.lit("")))


def pii_redact_col(col: F.Column) -> F.Column:
    """Redaction expression shared by the ``pii_redact`` op and the
    curate_job ``--pii-redact`` stage: placeholders substituted in a
    FIXED order (email → ip → phone) so overlapping matches resolve
    identically everywhere. Pure JVM regexp_replace chain — zero
    shuffle, codegen'd, the 100 TB shape."""
    red = F.coalesce(col, F.lit(""))
    for pat, tok in ((_PII_EMAIL, "<EMAIL>"), (_PII_IPV4, "<IP>"),
                     (_PII_PHONE, "<PHONE>")):
        red = F.regexp_replace(red, pat, tok)
    return red


def q_pii_redact(spark, sf_dir):
    """PII scrub — the pre-training compliance pass every web-scale corpus
    runs before anything else: detect emails / IPv4 addresses / phone
    numbers, count them per document, and emit the hash of the redacted
    text (placeholders substituted in a FIXED order, email → ip → phone,
    so overlapping matches resolve identically in both engines; counts
    are taken on the pre-redaction text).

    Scale: one scan, per-row JVM regexp expressions (regexp_extract_all /
    regexp_replace are codegen'd Java-regex calls, no Python), zero
    shuffle. The regex subset is
    deliberately RE2∩java.util.regex so the DuckDB oracle is exact."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", _pii_injected_col().alias("t"))
    red = pii_redact_col(F.col("t"))
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_IPV4), F.lit(0))).alias("n_ipv4"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_PHONE), F.lit(0))).alias("n_phones"),
        F.md5(red).alias("redacted_hash"))


SQL_PII_REDACT = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_PII_EVERY} = 0
              THEN coalesce(text, '') || ' contact user'
                   || CAST(doc_id AS VARCHAR) || '@example.com from 10.2.'
                   || CAST(doc_id % 256 AS VARCHAR) || '.7 call +49301234'
                   || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
              ELSE coalesce(text, '') END AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(t, '{_PII_IPV4}')) AS n_ipv4,
       len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_IPV4}', '<IP>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_hash
FROM base
"""


# --------------------------------------------------------------------------
# Line-level boilerplate removal (RefinedWeb / CCNet style)
# --------------------------------------------------------------------------

_LINE_MIN_DF = 20  # a line in >= this many distinct docs is boilerplate
_BP_HEADER = "subscribe to our newsletter"
_BP_FOOTER = "copyright footer all rights reserved"


def _boilerplate_injected_col() -> F.Column:
    """The synthetic corpus is single-line word soup, so (as with the PII
    and hot-shingle injections) deterministic multi-line structure is
    planted: every 3rd doc gets a shared header line, every 4th a shared
    footer line — cross-document repeated lines the op must find."""
    t = F.coalesce(F.col("text"), F.lit(""))
    t = F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(_BP_HEADER + "\n"), t)).otherwise(t)
    t = F.when(F.col("doc_id") % 4 == 0,
               F.concat(t, F.lit("\n" + _BP_FOOTER))).otherwise(t)
    return t


def q_dedup_boilerplate_lines(spark, sf_dir):
    """Cross-document repeated-line removal — the CCNet/RefinedWeb curation
    pass that strips nav bars, cookie banners and footers: a line whose
    normalized form (trim+lower) appears in ≥ ``_LINE_MIN_DF`` distinct
    documents is boilerplate and is deleted from every document. Emits per
    doc the line count, removed count, and the hash of the cleaned text
    (kept lines rejoined in original order).

    Scale: one explode → one (norm-line) aggregation with map-side partial
    count-distinct → the boilerplate set is by construction tiny (lines
    repeated across ≥20 docs) so it BROADCASTS back onto the line stream —
    no second wide shuffle on the hot line keys; the final regroup is on
    doc_id, which is uniform. Hot lines (the very boilerplate being
    removed) never pass through a collect_list: per-doc line lists are
    bounded by document length, not by line popularity."""
    d = _t_wide(spark, sf_dir, "documents").select(
        "doc_id", _boilerplate_injected_col().alias("t"))
    lines = (d.select("doc_id",
                      F.posexplode(F.split("t", "\n")).alias("pos", "line"))
             .withColumn("norm", F.trim(F.lower("line"))))
    bp = (lines.groupBy("norm")
          .agg(F.countDistinct("doc_id").alias("line_df"))
          .filter(F.col("line_df") >= _LINE_MIN_DF)
          .select("norm", F.lit(1).alias("is_bp")))
    flagged = (lines.join(F.broadcast(bp), "norm", "left")
               .withColumn("is_bp", F.coalesce("is_bp", F.lit(0))))
    kept = F.when(F.col("is_bp") == 0,
                  F.struct(F.col("pos"), F.col("line")))
    return (flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum("is_bp").alias("n_removed"),
        F.md5(F.array_join(
            F.transform(F.array_sort(F.collect_list(kept)),
                        lambda x: x["line"]),
            "\n")).alias("cleaned_hash")))


SQL_DEDUP_BOILERPLATE_LINES = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN CASE WHEN doc_id % 3 = 0
                        THEN '{_BP_HEADER}' || chr(10) || coalesce(text, '')
                        ELSE coalesce(text, '') END
                   || chr(10) || '{_BP_FOOTER}'
              WHEN doc_id % 3 = 0
              THEN '{_BP_HEADER}' || chr(10) || coalesce(text, '')
              ELSE coalesce(text, '') END AS t
  FROM documents
), ls AS (
  SELECT doc_id, string_split(t, chr(10)) AS arr FROM base
), idx AS (
  SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS pos FROM ls
), lines AS (
  SELECT doc_id, pos, arr[pos] AS line,
         trim(lower(arr[pos])) AS norm
  FROM idx
), bp AS (
  SELECT norm FROM lines GROUP BY norm
  HAVING count(DISTINCT doc_id) >= {_LINE_MIN_DF}
), flagged AS (
  SELECT l.doc_id, l.pos, l.line,
         CASE WHEN b.norm IS NULL THEN 0 ELSE 1 END AS is_bp
  FROM lines l LEFT JOIN bp b USING (norm)
)
SELECT doc_id, count(*) AS n_lines,
       CAST(sum(is_bp) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
                    FILTER (WHERE is_bp = 0), '')) AS cleaned_hash
FROM flagged GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Token-budget sequence packing
# --------------------------------------------------------------------------

_PACK_CAPACITY = 2048   # tokens per training sequence
_PACK_SHARD = 100_000   # docs per packing shard (purely positional key)


def q_pack_token_budget(spark, sf_dir):
    """Training-sequence packing — the final step of every pretraining
    pipeline: concatenate documents in a deterministic order and chunk
    the token stream into fixed-capacity sequences (GPT-style packing
    with boundary overflow: a doc is assigned to the sequence where it
    STARTS, ``(cum − n_tokens) DIV capacity``). Emits per (lang, shard,
    seq_id): docs packed, token sum, and the first/last doc ids — the
    manifest a dataloader needs.

    Scale: packing does NOT need a global order — only order within a
    shard — so the window partitions on (lang, shard = doc_id DIV 1e5):
    one bounded shuffle, every partition sorts ~1e5 rows locally, no
    global Sort, embarrassingly parallel across shards at 100 TB. The
    running sum is a frame-bounded window aggregate (rows unbounded
    preceding), all integer arithmetic — bit-portable to the oracle."""
    n_tokens = F.size(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))),
                              r"\s+"))
    d = (_t(spark, sf_dir, "documents")
         .select("doc_id", "lang", n_tokens.alias("n_tokens"),
                 F.expr(f"doc_id DIV {_PACK_SHARD}").alias("shard")))
    w = (Window.partitionBy("lang", "shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = (d.withColumn("cum", F.sum("n_tokens").over(w))
              .withColumn("seq_id",
                          F.expr(f"(cum - n_tokens) DIV {_PACK_CAPACITY}")))
    return (packed.groupBy("lang", "shard", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc")))


SQL_PACK_TOKEN_BUDGET = f"""
WITH toks AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'))
             AS n_tokens,
         doc_id // {_PACK_SHARD} AS shard
  FROM documents
), cums AS (
  SELECT doc_id, lang, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
  FROM toks
)
SELECT lang, shard,
       CAST((cum - n_tokens) // {_PACK_CAPACITY} AS BIGINT) AS seq_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM cums GROUP BY lang, shard, seq_id
"""


# --------------------------------------------------------------------------
# DSIR importance weights (hashed-ngram importance resampling)
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 1024
_DSIR_SCALE = 1 << 20  # fixed-point scale so flog2(ratio) centers at 20


def _bigram_occurrences(col="text") -> F.Column:
    """Word bigrams WITH multiplicity (unlike ``_shingles``, which
    array_distinct's for set-Jaccard) — DSIR features are occurrence
    counts. Same let-binding trick so split() runs once per row."""
    words = rf"split(trim(lower(coalesce({col}, ''))), '\\s+')"
    return F.expr(rf"""
        element_at(transform(array({words}), ws ->
          CASE WHEN size(ws) >= 2
          THEN transform(sequence(1, size(ws) - 1),
                         i -> concat_ws(' ', slice(ws, i, 2)))
          ELSE CAST(array() AS ARRAY<STRING>) END), 1)""")


def q_dsir_importance(spark, sf_dir):
    """DSIR-style data selection score (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): hashed word-bigram
    features, per-bucket target-vs-raw likelihood ratios, and a per-doc
    importance score = Σ over the doc's bigram occurrences of the bucket
    log-ratio. Target distribution stand-in: the lang='en' slice; raw:
    the whole corpus.

    Cross-engine determinism: no libm — the log-ratio is integer
    fixed-point log₂, ``flog2((cnt_t+1)·2²⁰ DIV (cnt_r+1))`` with
    flog2(x) = length(bin(x)) − 1, exact in both engines (the sqrt-freeze
    convention extended to log₂ via binary-string length). Count ratios
    omit the constant T/R normalizer — a constant shift in log space that
    cannot change the selection RANKING, which is what resampling uses.

    Scale: explode bigrams → ONE aggregation onto 1,024 hash buckets
    (map-side partials absorb any hot bigram), then the 1,024-row weight
    table broadcasts back onto the occurrence stream — no shuffle keyed
    on raw n-grams ever reaches a join. At 100 TB the 2²⁰ scale factor
    would overflow int64 on >2⁴³-occurrence buckets; production divides
    both counts by their totals first (same ranking, bounded operands)."""
    b = (_t_wide(spark, sf_dir, "documents")
         .select("doc_id", "lang",
                 F.explode(_bigram_occurrences()).alias("bg"))
         .select("doc_id", "lang",
                 F.expr(f"CAST(conv(substr(md5(bg), 1, 4), 16, 10) AS "
                        f"BIGINT) % {_DSIR_BUCKETS}").alias("bucket")))
    w = (b.groupBy("bucket").agg(
            F.count("*").alias("cnt_r"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
             .alias("cnt_t"))
         .select("bucket", F.expr(
             f"length(bin((cnt_t + 1) * {_DSIR_SCALE} DIV (cnt_r + 1)))"
             " - 1").alias("w")))
    return (b.join(F.broadcast(w), "bucket")
            .groupBy("doc_id").agg(
                F.count("*").alias("n_bigrams"),
                F.sum("w").alias("dsir_score")))


SQL_DSIR_IMPORTANCE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+')
             AS ws
  FROM documents
), bgs AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                               i -> ws[i] || ' ' || ws[i + 1])) AS bg
  FROM toks
), b AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(bg), 1, 4) AS BIGINT)
             % {_DSIR_BUCKETS} AS bucket
  FROM bgs
), agg AS (
  SELECT bucket, count(*) AS cnt_r,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS cnt_t
  FROM b GROUP BY bucket
), w AS (
  SELECT bucket,
         length(bin(CAST((cnt_t + 1) * {_DSIR_SCALE} // (cnt_r + 1)
                         AS BIGINT))) - 1 AS w
  FROM agg
)
SELECT doc_id, count(*) AS n_bigrams,
       CAST(sum(w.w) AS BIGINT) AS dsir_score
FROM b JOIN w USING (bucket) GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Learned quality classifier (fastText-style shallow linear scorer)
# --------------------------------------------------------------------------

_QC_BUCKETS = 4096
_QC_POS_SOURCES = ("src0", "src1", "src2", "src3")  # "curated" slice


def _qc_feat_sql(col: str) -> str:
    """fastText wordNgrams=2 feature stream (unigrams + word bigrams,
    WITH multiplicity) as raw SQL text — the ONE source of truth for
    both the training explode and the scoring expression (a hand-synced
    second copy would silently desynchronize them). Same let-binding
    trick as ``_bigram_occurrences`` so split() runs once per row."""
    words = rf"split(trim(lower(coalesce({col}, ''))), '\\s+')"
    return (f"element_at(transform(array({words}), ws -> "
            "concat(ws, CASE WHEN size(ws) >= 2 "
            "THEN transform(sequence(1, size(ws) - 1), "
            "i -> concat_ws(' ', slice(ws, i, 2))) "
            "ELSE CAST(array() AS ARRAY<STRING>) END)), 1)")


def _qc_features(col="text") -> F.Column:
    return F.expr(_qc_feat_sql(col))


def q_quality_classifier(spark, sf_dir):
    """Learned quality classifier — the fastText-style shallow linear
    scorer every curation stack runs (Joulin et al. 2016 architecture:
    hashed bag of unigram+bigram features → linear layer → sign; the
    weights here are the closed-form multinomial-NB log-odds that the
    linear limit of that model learns): score each doc against a
    REFERENCE-QUALITY slice (the designated curated sources
    ``_QC_POS_SOURCES``) vs the rest of the corpus. Per-bucket weight
    (in MILLIBITS — the ``source_lang_entropy`` freeze precedent,
    flog(x) = floor(log₂(x)·1000) on an exact integer, one IEEE log per
    term, bit-portable) is the Laplace-smoothed, class-total-normalized
    log-odds ``flog((cnt_pos+1)·(tot_neg+B)) −
    flog((cnt_neg+1)·(tot_pos+B))``; a doc's margin is Σw over its
    feature occurrences, and the DECISION THRESHOLD is learned too: the
    midpoint between the class-conditional mean per-feature margins (a
    1-D LDA-style cut — Laplace smoothing on a finite corpus shifts all
    margins toward the majority class, so a fixed 0 cut would be
    degenerate; the midpoint is where the two training slices actually
    separate). keep_flag tests ``margin/n_feats > (Mp/Fp + Mn/Fn)/2``
    as one exact-integer cross-multiplication — no float division
    crosses the oracle.

    Scale: training is ONE aggregation of the exploded feature stream
    onto 4,096 hash buckets (map-side partials absorb hot tokens; no
    shuffle keyed on raw n-grams). The per-bucket weights are computed
    IN SPARK (so the frozen literals never pass through Python float
    math) and collected — the k-row model-param convention, same as the
    IVF centroids — then inlined as a 4,096-int literal array. SCORING
    is then a pure per-row JVM expression (aggregate() over the feature
    array indexing the literal): zero corpus shuffle, zero Python,
    embarrassingly parallel at 100 TB. The count products would
    overflow int64 past ~2⁶² — production divides both counts by their
    totals first (same decision boundary, bounded operands)."""
    docs = _t_wide(spark, sf_dir, "documents")
    # NULL source counts as NEGATIVE class (when/otherwise, NOT
    # isin().cast(): isin on NULL yields NULL, which would silently
    # exclude the doc from BOTH threshold classes while DuckDB's
    # CASE WHEN counts it negative — a cross-engine threshold skew)
    pos = F.when(F.col("source").isin(*_QC_POS_SOURCES), 1).otherwise(0)
    bucket = F.expr(f"CAST(conv(substr(md5(f), 1, 4), 16, 10) AS BIGINT)"
                    f" % {_QC_BUCKETS}")
    stream = (docs.select(pos.alias("is_pos"),
                          F.explode(_qc_features()).alias("f"))
              .select("is_pos", bucket.alias("bucket")))
    flog = "CAST(floor(log2(CAST({x} AS DOUBLE)) * 1000) AS BIGINT)"
    counts = (stream.groupBy("bucket")
              .agg(F.count("*").alias("cnt"),
                   F.sum("is_pos").alias("cnt_p"))
              # <=4,096 rows; pins the explode+aggregate to ONE corpus
              # pass — wtab.collect() and totals.first() below are two
              # actions over this tiny table, not over the corpus
              .localCheckpoint(eager=True))
    totals = counts.agg(F.sum("cnt_p").alias("tot_p"),
                        (F.sum("cnt") - F.sum("cnt_p")).alias("tot_n"))
    num = f"(cnt_p + 1) * (tot_n + {_QC_BUCKETS})"
    den = f"(cnt - cnt_p + 1) * (tot_p + {_QC_BUCKETS})"
    wtab = (counts.crossJoin(F.broadcast(totals))
            .select("bucket",
                    F.expr(f"{flog.format(x=num)} - {flog.format(x=den)}")
                    .alias("w")))
    rows = wtab.collect()                  # <=4096 rows: model params
    # Padding for buckets ABSENT from training. The scoring stream is
    # the training stream, so every scored feature's bucket exists in
    # `rows` and this value is never read in a compared output — Python
    # float math is acceptable here only because of that.
    t = totals.first()                     # 1-row scalar: prior weight
    import math as _math
    w0 = (_math.floor(_math.log2(t["tot_n"] + _QC_BUCKETS) * 1000)
          - _math.floor(_math.log2(t["tot_p"] + _QC_BUCKETS) * 1000))
    arr = [w0] * _QC_BUCKETS
    for r in rows:
        arr[int(r["bucket"])] = int(r["w"])
    warr = "array(" + ",".join(str(v) for v in arr) + ")"
    margin = F.expr(f"""
        aggregate(fts, 0L, (acc, f) ->
          acc + element_at({warr},
            CAST(CAST(conv(substr(md5(f), 1, 4), 16, 10) AS BIGINT)
                 % {_QC_BUCKETS} AS INT) + 1))""")
    # feature array bound ONCE per row (a separate size(features) +
    # aggregate(features) pair re-tokenized the doc twice), and `scored`
    # is materialized with localCheckpoint so the threshold aggregation
    # AND the returned output share ONE corpus pass (r8 verdict advisory
    # #1: at 100 TB the un-persisted frame made scoring a 2-pass job —
    # swap for reliable checkpoint()/a table write on a real cluster).
    # Also planning cost: the 4,096-literal weight array makes this a
    # huge expression tree; checkpointing plans it once, not per action.
    scored = docs.select(
        "doc_id", pos.alias("is_pos"), _qc_features().alias("fts")
    ).select(
        "doc_id", "is_pos",
        F.size("fts").alias("n_feats"),
        margin.alias("quality_margin")
    ).localCheckpoint(eager=True)
    # learned threshold: 4 exact-integer sums (1-row scalar collect)
    # over the checkpointed rows — no further corpus pass
    th = scored.agg(
        F.sum(F.when(F.col("is_pos") == 1, F.col("quality_margin"))
              .otherwise(0)).alias("mp"),
        F.sum(F.when(F.col("is_pos") == 1, F.col("n_feats"))
              .otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("is_pos") == 0, F.col("quality_margin"))
              .otherwise(0)).alias("mn"),
        F.sum(F.when(F.col("is_pos") == 0, F.col("n_feats"))
              .otherwise(0)).alias("fn")).first()
    mp, fp, mn, fn = (int(th["mp"]), int(th["fp"]),
                      int(th["mn"]), int(th["fn"]))
    # Freeze the threshold to ONE integer in microbits/feature:
    # T = trunc((Mp·Fn + Mn·Fp)·1000 / (2·Fp·Fn)). The raw
    # cross-multiplication margin·2·Fp·Fn would overflow int64 once each
    # class holds ~3e9 features (Fp·Fn alone passes 2^63) — Spark wraps
    # silently with ANSI off. Computed in driver Python (arbitrary
    # precision), truncated TOWARD ZERO to match DuckDB's HUGEINT `//`;
    # the per-row test 1000·margin > n_feats·T stays within int64 at any
    # corpus size (margin ≤ n_feats·|w|max, |T| ≤ |w|max·1000).
    b = 2 * fp * fn
    if b == 0:
        keep = F.lit(0)                    # a one-class corpus: no cut
    else:
        a = (mp * fn + mn * fp) * 1000
        t_micro = -((-a) // b) if a < 0 else a // b   # trunc toward 0
        keep = F.expr(f"CAST(1000 * quality_margin > "
                      f"n_feats * {t_micro}L AS INT)")
    return scored.select("doc_id", "n_feats", "quality_margin",
                         keep.alias("keep_flag"))


_MASK_SHARD = 10_000  # conversations per packing shard (positional key)


def q_sft_export_manifest(spark, sf_dir):
    """The lineage manifest jobs/train_export_job.py --sft writes, as an
    oracle-checked op: per (split, shard) — sequence count,
    conversations, token sum, mask-token sum — for the conversation-
    granularity masked-packing composition (conv_id = doc_id % 50,
    assistant = doc_id % 4 == 1, split keyed on conv_id via
    ``split_expr_for`` so a session never straddles train/val,
    GPT start-window packing). Certifies the
    SFT job's derivation end-to-end against DuckDB — the job's written
    manifest equals this DataFrame by construction.

    Scale shape = the job's verified two-exchange chain: conv-level
    aggregate shares the conv_id exchange with nothing (no turn window
    needed for counts), the packing window and both downstream groupBys
    cluster on (split, shard) supersets — one corpus exchange plus one
    |convs|-row exchange."""
    tok = F.expr(r"size(split(trim(coalesce(text, '')), '\\s+'))")
    convs = (_t(spark, sf_dir, "documents")
             .select((F.col("doc_id") % 50).alias("conv_id"),
                     tok.alias("tok"),
                     F.expr("CAST(doc_id % 4 = 1 AS INT)").alias("ia"))
             .groupBy("conv_id")
             .agg(F.sum("tok").alias("conv_tokens"),
                  F.sum(F.expr("tok * ia")).alias("mask_tokens"))
             .withColumn("split", F.expr(split_expr_for("conv_id")))
             .withColumn("shard", F.expr(f"conv_id DIV {_MASK_SHARD}")))
    w = (Window.partitionBy("split", "shard").orderBy("conv_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = (convs.withColumn("cum", F.sum("conv_tokens").over(w))
              .withColumn("seq_id", F.expr(
                  f"(cum - conv_tokens) DIV {_PACK_CAPACITY}")))
    seqs = (packed.groupBy("split", "shard", "seq_id")
            .agg(F.count("*").alias("n_convs"),
                 F.sum("conv_tokens").alias("seq_tokens"),
                 F.sum("mask_tokens").alias("mask_tokens")))
    return (seqs.groupBy("split", "shard")
            .agg(F.count("*").alias("n_seqs"),
                 F.sum("n_convs").alias("n_convs"),
                 F.sum("seq_tokens").alias("n_tokens"),
                 F.sum("mask_tokens").alias("mask_tokens")))


_SQL_CONV_SPLIT = (
    "CASE WHEN CAST('0x' || substr(md5(CAST(conv_id AS VARCHAR)), 1, 8)"
    " AS BIGINT) % 100 < 80 THEN 'train'"
    " WHEN CAST('0x' || substr(md5(CAST(conv_id AS VARCHAR)), 1, 8)"
    " AS BIGINT) % 100 < 90 THEN 'val' ELSE 'test' END")

SQL_SFT_EXPORT_MANIFEST = f"""
WITH convs AS (
  SELECT doc_id % 50 AS conv_id,
         CAST(sum(len(regexp_split_to_array(
              trim(coalesce(text, '')), '\\s+'))) AS BIGINT)
             AS conv_tokens,
         CAST(sum(CASE WHEN doc_id % 4 = 1
                  THEN len(regexp_split_to_array(
                       trim(coalesce(text, '')), '\\s+'))
                  ELSE 0 END) AS BIGINT) AS mask_tokens
  FROM documents GROUP BY 1
), staged AS (
  SELECT conv_id, conv_tokens, mask_tokens,
         {_SQL_CONV_SPLIT} AS split,
         conv_id // {_MASK_SHARD} AS shard
  FROM convs
), packed AS (
  SELECT *, sum(conv_tokens) OVER (PARTITION BY split, shard
                                   ORDER BY conv_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum
  FROM staged
), seqs AS (
  SELECT split, shard,
         CAST((cum - conv_tokens) // {_PACK_CAPACITY} AS BIGINT)
             AS seq_id,
         count(*) AS n_convs,
         CAST(sum(conv_tokens) AS BIGINT) AS seq_tokens,
         CAST(sum(mask_tokens) AS BIGINT) AS mask_tokens
  FROM packed GROUP BY 1, 2, 3
)
SELECT split, shard, count(*) AS n_seqs,
       CAST(sum(n_convs) AS BIGINT) AS n_convs,
       CAST(sum(seq_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(mask_tokens) AS BIGINT) AS mask_tokens
FROM seqs GROUP BY 1, 2
"""


def q_train_export_manifest(spark, sf_dir):
    """The lineage manifest jobs/train_export_job.py writes, as an
    oracle-checked op: per (split, lang, shard) — sequence count, docs,
    token sum, first/last doc id — for the split+pack composition
    (``SPLIT_EXPR`` md5-tick 80/10/10 × ``q_pack_token_budget``
    GPT-style packing, doc assigned to the sequence where it starts).
    This certifies the JOB's derivation end-to-end against DuckDB: the
    job's written manifest equals this DataFrame by construction (same
    expressions, same constants).

    Scale shape = the job's: the packing window partitions on
    (split, lang, shard); BOTH groupBys cluster on supersets/subsets of
    those keys, so the whole plan runs on ONE corpus Exchange (the
    manifest groupBy reuses the window's partitioning)."""
    n_tok = F.size(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))),
                           r"\s+"))
    staged = (_t(spark, sf_dir, "documents")
              .select("doc_id", "lang",
                      F.expr(SPLIT_EXPR).alias("split"),
                      n_tok.alias("n_tokens"),
                      F.expr(f"doc_id DIV {_PACK_SHARD}").alias("shard")))
    w = (Window.partitionBy("split", "lang", "shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = (staged.withColumn("cum", F.sum("n_tokens").over(w))
              .withColumn("seq_id", F.expr(
                  f"(cum - n_tokens) DIV {_PACK_CAPACITY}")))
    seqs = (packed.groupBy("split", "lang", "shard", "seq_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("seq_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))
    return (seqs.groupBy("split", "lang", "shard")
            .agg(F.count("*").alias("n_seqs"),
                 F.sum("n_docs").alias("n_docs"),
                 F.sum("seq_tokens").alias("n_tokens"),
                 F.min("first_doc").alias("first_doc"),
                 F.max("last_doc").alias("last_doc")))


SQL_TRAIN_EXPORT_MANIFEST = f"""
WITH staged AS (
  SELECT doc_id, lang,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 100 < 80 THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split,
         len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'))
             AS n_tokens,
         doc_id // {_PACK_SHARD} AS shard
  FROM documents
), cums AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY split, lang, shard
                                ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
  FROM staged
), seqs AS (
  SELECT split, lang, shard,
         (cum - n_tokens) // {_PACK_CAPACITY} AS seq_id,
         count(*) AS n_docs, sum(n_tokens) AS seq_tokens,
         min(doc_id) AS first_doc, max(doc_id) AS last_doc
  FROM cums GROUP BY 1, 2, 3, 4
)
SELECT split, lang, shard, count(*) AS n_seqs,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(seq_tokens) AS BIGINT) AS n_tokens,
       min(first_doc) AS first_doc, max(last_doc) AS last_doc
FROM seqs GROUP BY 1, 2, 3
"""


_QC_POS_SQL = ", ".join(f"'{s}'" for s in _QC_POS_SOURCES)

SQL_QUALITY_CLASSIFIER = f"""
WITH docs AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+')
             AS ws
  FROM documents
), feats AS (
  SELECT doc_id, source,
         unnest(list_concat(ws,
           CASE WHEN len(ws) >= 2
           THEN list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i + 1])
           ELSE [] END)) AS f
  FROM docs
), b AS (
  SELECT doc_id, source,
         CAST('0x' || substr(md5(f), 1, 4) AS BIGINT)
             % {_QC_BUCKETS} AS bucket
  FROM feats
), agg AS (
  SELECT bucket, count(*) AS cnt,
         CAST(sum(CASE WHEN source IN ({_QC_POS_SQL})
                  THEN 1 ELSE 0 END) AS BIGINT) AS cnt_p
  FROM b GROUP BY bucket
), tots AS (
  SELECT sum(cnt_p) AS tot_p, sum(cnt) - sum(cnt_p) AS tot_n FROM agg
), w AS (
  SELECT bucket,
         CAST(floor(log2(CAST((cnt_p + 1) * (tot_n + {_QC_BUCKETS})
                              AS DOUBLE)) * 1000) AS BIGINT)
         - CAST(floor(log2(CAST((cnt - cnt_p + 1) * (tot_p + {_QC_BUCKETS})
                                AS DOUBLE)) * 1000) AS BIGINT) AS w
  FROM agg, tots
), scored AS (
  SELECT doc_id,
         CAST(max(CASE WHEN source IN ({_QC_POS_SQL})
                  THEN 1 ELSE 0 END) AS BIGINT) AS is_pos,
         count(*) AS n_feats,
         CAST(sum(w.w) AS BIGINT) AS quality_margin
  FROM b JOIN w USING (bucket)
  GROUP BY doc_id
), th AS (
  SELECT CAST(sum(CASE WHEN is_pos = 1 THEN quality_margin ELSE 0 END)
              AS BIGINT) AS mp,
         CAST(sum(CASE WHEN is_pos = 1 THEN n_feats ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(sum(CASE WHEN is_pos = 0 THEN quality_margin ELSE 0 END)
              AS BIGINT) AS mn,
         CAST(sum(CASE WHEN is_pos = 0 THEN n_feats ELSE 0 END)
              AS BIGINT) AS fn
  FROM scored
)
SELECT doc_id, n_feats, quality_margin,
       CASE WHEN fp = 0 OR fn = 0 THEN 0
            WHEN 1000 * quality_margin
                 > n_feats * ((mp * fn + mn * fp) * 1000 // (2 * fp * fn))
            THEN 1 ELSE 0 END AS keep_flag
FROM scored, th
"""


# --------------------------------------------------------------------------
# PageRank over the near-dup similarity graph
# --------------------------------------------------------------------------

_PR_ITERS = 3          # fixed, unrolled — no driver-side convergence loop
_PR_TICK = 1_000_000   # fixed-point rank scale (1.0 == 1e6 ticks)


def q_graph_pagerank(spark, sf_dir):
    """PageRank centrality over the near-dup similarity graph — the
    graph-analytics companion to connected components / triangle counts:
    which documents sit at the CENTER of a duplication neighborhood
    (template hubs worth one canonical keep) vs its periphery. Damping
    0.85, ``_PR_ITERS`` power iterations, restricted (like
    dedup_clusters) to edge-touched nodes; dangling mass is not
    redistributed (isolated docs have no edges here by construction).

    Cross-engine determinism: ranks are int64 ticks (1e6 = 1.0) and each
    iteration is ``150000 + Σ (r·17) DIV (20·deg)`` — pure integer
    multiply/divide/sum, bit-identical in both engines (the exact-integer
    convention; 17/20 = 0.85). The oracle unrolls the same three
    iterations as chained CTEs.

    Scale: per iteration ONE shuffle (group contributions by dst); the
    edge list and degree table are computed once and localCheckpoint'd
    upstream (``_cluster_edges``), so Catalyst doesn't replay the
    Jaccard join per iteration, and the lineage stays O(iters) not
    O(2^iters). Fixed iteration count bounds the job graph; hub skew is
    already capped by the shingle-df cap feeding the edge list."""
    return _pagerank(_cluster_edges(spark, sf_dir))


def _pagerank(edges: DataFrame, iters: int = _PR_ITERS) -> DataFrame:
    """``iters`` integer-tick power iterations over a symmetrized
    (id_a, id_b) edge list; see q_graph_pagerank for the contract."""
    deg = edges.groupBy("id_a").agg(F.count("*").alias("deg"))
    src = (edges.join(deg, "id_a")
           .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"),
                   "deg"))
    ranks = deg.select(F.col("id_a").alias("u"),
                       F.lit(_PR_TICK).cast("long").alias("r"))
    for _ in range(iters):
        ranks = (src.join(ranks, "u")
                 .select(F.col("v").alias("u"),
                         F.expr("(r * 17) DIV (20 * deg)").alias("c"))
                 .groupBy("u")
                 .agg((F.lit(150_000) + F.sum("c")).alias("r")))
    return (deg.join(ranks, deg.id_a == ranks.u)
            .select(F.col("id_a").alias("doc_id"), "deg",
                    F.col("r").alias("pr_tick")))


def _sql_pagerank_iter(prev: str) -> str:
    return (f"SELECT e.b AS id, 150000 + CAST(sum((r.r * 17)"
            f" // (20 * d.deg)) AS BIGINT) AS r "
            f"FROM edges e JOIN {prev} r ON e.a = r.id "
            f"JOIN deg d ON e.a = d.a GROUP BY e.b")


SQL_GRAPH_PAGERANK = f"""
WITH dedup_pairs AS (
  SELECT id_a, id_b FROM ({SQL_DEDUP_NGRAM}) t
), edges AS (
  SELECT id_a AS a, id_b AS b FROM dedup_pairs
  UNION SELECT id_b, id_a FROM dedup_pairs
), deg AS (
  SELECT a, count(*) AS deg FROM edges GROUP BY a
), r0 AS (
  SELECT a AS id, CAST({_PR_TICK} AS BIGINT) AS r FROM deg
), r1 AS ({_sql_pagerank_iter('r0')}
), r2 AS ({_sql_pagerank_iter('r1')}
), r3 AS ({_sql_pagerank_iter('r2')}
)
SELECT d.a AS doc_id, d.deg, r3.r AS pr_tick
FROM deg d JOIN r3 ON d.a = r3.id
"""


# --------------------------------------------------------------------------
# Char-trigram self-perplexity (LM-quality-filter proxy)
# --------------------------------------------------------------------------

_PPL_BUCKETS = 4096
_PPL_PREFIX = 2048   # chars of text scored per doc
_PPL_SCALE = 1024    # fixed-point: tick ≈ (log2(total/cnt) + 10) bits


def _char_trigrams(col="pref_") -> F.Column:
    """Character trigrams WITH multiplicity over an already-bound prefix
    column. sequence(1, 0) in Spark is the DESCENDING [1, 0] — the
    length guard is load-bearing."""
    return F.expr(
        f"CASE WHEN char_length({col}) >= 3 THEN "
        f"transform(sequence(1, char_length({col}) - 2), "
        f"i -> substring({col}, i, 3)) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END")


def q_char_trigram_perplexity(spark, sf_dir):
    """Self-perplexity quality filter (the CCNet/FineWeb LM-filter
    shape): score each doc by the average surprisal of its character
    trigrams under the CORPUS's own trigram distribution — gibberish,
    binary spill, and off-distribution boilerplate sit in the high tail;
    no external model needed. Trigrams hash onto 4,096 buckets; bucket
    surprisal = flog2(total·1024 DIV cnt) (integer fixed-point log₂ via
    binary-string length — the DSIR convention, exact in both engines);
    doc score = Σ surprisal DIV n_trigrams (integer avg, ticks ≈ bits
    ·1, offset +10 from the scale).

    Scale: ONE aggregation onto 4,096 buckets (map-side partials absorb
    hot trigrams), the global total as a window-sum over the 4,096-row
    model table (not the corpus), then the model BROADCASTS back onto
    the trigram stream — no shuffle keyed on raw trigrams. Scoring is
    capped at a 2,048-char prefix per doc, so cost is O(docs), not
    O(bytes). At 100 TB the ·1024 scale overflows int64 only past 2⁵³
    total trigram occurrences; production normalizes counts first (same
    ranking, bounded operands — see q_dsir_importance)."""
    return (_ppl_scored_stream(spark, sf_dir)
            .groupBy("doc_id").agg(
                F.count("*").alias("n_trigrams"),
                F.expr("sum(tick) DIV count(*)").alias("ppl_tick")))


def _ppl_scored_stream(spark, sf_dir) -> DataFrame:
    """(doc_id, tick) — one row per scored trigram occurrence, each
    carrying its bucket's corpus surprisal tick. Shared by the per-doc
    perplexity op (whole-tick average) and the CCNet buckets op
    (millitick average): one bounded 4,096-bucket aggregation builds
    the model, then it broadcasts back onto the trigram stream."""
    tg = (_t_wide(spark, sf_dir, "documents")
          .withColumn("pref_", F.expr(
              f"substring(lower(coalesce(text, '')), 1, {_PPL_PREFIX})"))
          .select("doc_id", F.explode(_char_trigrams()).alias("tg"))
          .select("doc_id", F.expr(
              f"CAST(conv(substr(md5(tg), 1, 4), 16, 10) AS BIGINT)"
              f" % {_PPL_BUCKETS}").alias("bucket")))
    model = (tg.groupBy("bucket").agg(F.count("*").alias("cnt"))
             .withColumn("total", F.sum("cnt").over(
                 Window.partitionBy(F.lit(1))))
             .select("bucket", F.expr(
                 f"length(bin(total * {_PPL_SCALE} DIV cnt)) - 1")
                 .alias("tick")))
    return tg.join(F.broadcast(model), "bucket").select("doc_id", "tick")


SQL_CHAR_TRIGRAM_PERPLEXITY = f"""
WITH prefs AS (
  SELECT doc_id,
         substr(lower(coalesce(text, '')), 1, {_PPL_PREFIX}) AS pref_
  FROM documents
), tg AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(t.tg), 1, 4) AS BIGINT)
             % {_PPL_BUCKETS} AS bucket
  FROM prefs, unnest(list_transform(
        range(1, greatest(length(pref_) - 2, 0) + 1),
        i -> substr(pref_, i, 3))) AS t(tg)
), model AS (
  SELECT bucket,
         length(bin(CAST(sum(count(*)) OVER () * {_PPL_SCALE}
                         // count(*) AS BIGINT))) - 1 AS tick
  FROM tg GROUP BY bucket
)
SELECT doc_id, count(*) AS n_trigrams,
       CAST(sum(tick) // count(*) AS BIGINT) AS ppl_tick
FROM tg JOIN model USING (bucket) GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Within-document repeated-line removal (Gopher/RefinedWeb in-doc dedup)
# --------------------------------------------------------------------------

def q_within_doc_dedup_lines(spark, sf_dir):
    """WITHIN-document duplicate-line removal — the in-doc complement to
    the cross-document `dedup_boilerplate_lines`: a line repeated inside
    the SAME document (scraper loops, chat echo, nav repeated per
    section) keeps its first occurrence only. Emits per doc: line
    count, dupes removed, and the cleaned-text hash.

    Scale: pure per-row higher-order array functions — ZERO Exchange,
    ZERO join; the keep-first predicate is
    ``array_position(lines, x) == i+1`` (first index wins), O(lines²)
    per doc but lines are bounded per document, not per corpus; the
    whole op pipelines inside one codegen stage at any corpus size.
    Keep-first is ordinal, not lexical, so cleaned text is
    order-preserving (the property the extraction fixtures care
    about)."""
    lines = r"split(coalesce(text, ''), '\n')"
    kept = (f"filter({lines}, (x, i) -> "
            f"array_position({lines}, x) = i + 1)")
    return (_t(spark, sf_dir, "documents")
            .select(
                "doc_id",
                F.expr(f"size({lines})").alias("n_lines"),
                F.expr(f"size({lines}) - size({kept})").alias("n_dupes"),
                F.md5(F.expr(f"concat_ws('\\n', {kept})"))
                 .alias("cleaned_hash")))


SQL_WITHIN_DOC_DEDUP_LINES = r"""
WITH split_ AS (
  SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS lines
  FROM documents
), kept AS (
  SELECT doc_id, lines,
         list_filter(lines,
                     (x, i) -> list_position(lines, x) = i) AS keep
  FROM split_
)
SELECT doc_id, length(lines) AS n_lines,
       length(lines) - length(keep) AS n_dupes,
       md5(array_to_string(keep, chr(10))) AS cleaned_hash
FROM kept
"""


# --------------------------------------------------------------------------
# Chunked language-consistency vote (code-switch / mixed-language audit)
# --------------------------------------------------------------------------

_LCC_CHUNK = 256     # chars per vote chunk
_LCC_PREFIX = 4096   # audited prefix per document


def q_lang_consistency_chunks(spark, sf_dir):
    """Code-switching / mixed-language audit: the doc-level
    language vote is blind to a document that flips language
    halfway (the doc-level winner just averages it out). This op votes
    per 256-char chunk of the 4,096-char prefix (stopword lists + a
    CJK rule, en>de>fr>es tie cascade), then
    aggregates: per-language chunk counts, the plurality language
    (ties broken by the same cascade order), and a mixed flag when
    more than one language wins chunks. Whitespace-only chunks are
    dropped before voting.

    Scale: explode to ≤16 chunks/doc → per-chunk codegen'd votes → ONE
    groupBy on doc_id (conditional-sum pivot, no second shuffle, no
    window). The plurality pick is a greatest()+CASE cascade over the
    five counts — still inside the same aggregate projection."""
    d = (_t_wide(spark, sf_dir, "documents")
         .withColumn("pref_", F.expr(
             f"substring(coalesce(text, ''), 1, {_LCC_PREFIX})"))
         .select("doc_id", F.explode(F.expr(
             f"filter(CASE WHEN char_length(pref_) >= 1 THEN "
             f"transform(sequence(1, ((char_length(pref_) - 1)"
             f" DIV {_LCC_CHUNK}) + 1), "
             f"i -> substring(pref_, (i - 1) * {_LCC_CHUNK} + 1,"
             f" {_LCC_CHUNK})) "
             f"ELSE CAST(array() AS ARRAY<STRING>) END, "
             f"c -> trim(c) != '')")).alias("chunk"))
         .withColumn("toks_", F.expr(r"split(lower(trim(chunk)), '\\s+')")))

    def votes(words):
        lst = ",".join(f"'{w}'" for w in words)
        return F.size(F.expr(rf"filter(toks_, w -> w IN ({lst}))"))

    en = votes(("the", "and", "of", "a", "to", "in"))
    de = votes(("der", "die", "und", "das", "ist", "ein"))
    fr = votes(("le", "la", "et", "les", "des", "un"))
    es = votes(("el", "que", "y", "en", "los", "una"))
    zh = F.length(F.regexp_replace(F.col("chunk"), "[^一-鿿]", ""))
    mx = F.greatest("v_en", "v_de", "v_fr", "v_es")
    pred = (F.when(F.col("cjk") > mx, F.lit("zh"))
            .when((F.col("v_en") >= F.col("v_de"))
                  & (F.col("v_en") >= F.col("v_fr"))
                  & (F.col("v_en") >= F.col("v_es")), F.lit("en"))
            .when((F.col("v_de") >= F.col("v_fr"))
                  & (F.col("v_de") >= F.col("v_es")), F.lit("de"))
            .when(F.col("v_fr") >= F.col("v_es"), F.lit("fr"))
            .otherwise(F.lit("es")))
    per_chunk = (d.select("doc_id", en.alias("v_en"), de.alias("v_de"),
                          fr.alias("v_fr"), es.alias("v_es"),
                          zh.alias("cjk"))
                 .withColumn("pred", pred))
    cnt = [F.sum(F.when(F.col("pred") == lg, 1).otherwise(0))
            .alias(f"c_{lg}") for lg in ("en", "de", "fr", "es", "zh")]
    top = F.greatest("c_en", "c_de", "c_fr", "c_es", "c_zh")
    return (per_chunk.groupBy("doc_id")
            .agg(F.count("*").alias("n_chunks"), *cnt)
            .withColumn(
                "top_lang",
                F.when(F.col("c_en") == top, F.lit("en"))
                .when(F.col("c_de") == top, F.lit("de"))
                .when(F.col("c_fr") == top, F.lit("fr"))
                .when(F.col("c_es") == top, F.lit("es"))
                .otherwise(F.lit("zh")))
            .withColumn(
                "is_mixed",
                (sum(F.when(F.col(f"c_{lg}") > 0, 1).otherwise(0)
                     for lg in ("en", "de", "fr", "es", "zh")) > 1)
                .cast("boolean")))


SQL_LANG_CONSISTENCY_CHUNKS = f"""
WITH prefs AS (
  SELECT doc_id, substr(coalesce(text, ''), 1, {_LCC_PREFIX}) AS pref_
  FROM documents
), chunks AS (
  SELECT doc_id, c.chunk
  FROM prefs, unnest(list_transform(
        range(1, CASE WHEN length(pref_) >= 1
                 THEN (length(pref_) - 1) // {_LCC_CHUNK} + 2
                 ELSE 1 END),
        i -> substr(pref_, (i - 1) * {_LCC_CHUNK} + 1, {_LCC_CHUNK})))
       AS c(chunk)
  WHERE trim(c.chunk) != ''
), voted AS (
  SELECT doc_id,
    length(list_filter(toks_,
           w -> w IN ('the','and','of','a','to','in'))) AS v_en,
    length(list_filter(toks_,
           w -> w IN ('der','die','und','das','ist','ein'))) AS v_de,
    length(list_filter(toks_,
           w -> w IN ('le','la','et','les','des','un'))) AS v_fr,
    length(list_filter(toks_,
           w -> w IN ('el','que','y','en','los','una'))) AS v_es,
    length(regexp_replace(chunk,
           '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) AS cjk
  FROM (SELECT doc_id, chunk,
               regexp_split_to_array(lower(trim(chunk)), '\\s+') AS toks_
        FROM chunks)
), preds AS (
  SELECT doc_id,
       CASE WHEN cjk > greatest(v_en, v_de, v_fr, v_es) THEN 'zh'
            WHEN v_en >= v_de AND v_en >= v_fr AND v_en >= v_es THEN 'en'
            WHEN v_de >= v_fr AND v_de >= v_es THEN 'de'
            WHEN v_fr >= v_es THEN 'fr' ELSE 'es' END AS pred
  FROM voted
), agg AS (
  SELECT doc_id, count(*) AS n_chunks,
         CAST(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS c_en,
         CAST(sum(CASE WHEN pred = 'de' THEN 1 ELSE 0 END) AS BIGINT)
             AS c_de,
         CAST(sum(CASE WHEN pred = 'fr' THEN 1 ELSE 0 END) AS BIGINT)
             AS c_fr,
         CAST(sum(CASE WHEN pred = 'es' THEN 1 ELSE 0 END) AS BIGINT)
             AS c_es,
         CAST(sum(CASE WHEN pred = 'zh' THEN 1 ELSE 0 END) AS BIGINT)
             AS c_zh
  FROM preds GROUP BY doc_id
)
SELECT doc_id, n_chunks, c_en, c_de, c_fr, c_es, c_zh,
       CASE WHEN c_en = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'en'
            WHEN c_de = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'de'
            WHEN c_fr = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'fr'
            WHEN c_es = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'es'
            ELSE 'zh' END AS top_lang,
       ((CASE WHEN c_en > 0 THEN 1 ELSE 0 END)
        + (CASE WHEN c_de > 0 THEN 1 ELSE 0 END)
        + (CASE WHEN c_fr > 0 THEN 1 ELSE 0 END)
        + (CASE WHEN c_es > 0 THEN 1 ELSE 0 END)
        + (CASE WHEN c_zh > 0 THEN 1 ELSE 0 END)) > 1 AS is_mixed
FROM agg
"""


# --------------------------------------------------------------------------
# Gopher-style composite quality rules
# --------------------------------------------------------------------------

def q_gopher_quality_rules(spark, sf_dir):
    """Composite Gopher quality gate (Rae et al. 2021 §A.1.1, the rule
    set Dolma/RefinedWeb reuse): per-doc boolean flags for the five
    cheaply-computable rules plus the overall pass —
      r_wc    : word count in [50, 100_000]
      r_mwl   : mean word length in [3, 10] chars
      r_sym   : '#' plus '...' occurrences <= 10% of words
      r_bullet: <= 90% of lines start with a bullet ('-' or '*')
      r_alpha : >= 80% of words contain an alphabetic character
    All ratios are exact integer per-mille (scaled rounded integer
    division, the repo convention) — no double crosses engines.

    Scale: pure per-row JVM column expressions over ONE scan — zero
    Exchange, zero join; pipelines inside a single codegen stage at any
    corpus size (same shape as docs_repetition_ratio)."""
    words = r"filter(split(trim(coalesce(text, '')), '\\s+'), w -> w != '')"
    lines = r"split(coalesce(text, ''), '\n')"
    alpha = (rf"size(filter({words}, w -> w rlike '[a-zA-Z]'))")
    bullets = (rf"size(filter({lines}, "
               rf"l -> trim(l) rlike '^[-*]'))")
    d = (_t(spark, sf_dir, "documents")
         .select(
             "doc_id",
             F.expr(f"size({words})").alias("n_words"),
             F.expr(f"aggregate({words}, 0L,"
                    f" (a, w) -> a + char_length(w))").alias("sum_wlen"),
             (F.expr(r"size(split(coalesce(text, ''), '#', -1))") - 1
              + F.expr(r"size(split(coalesce(text, ''), '\\.\\.\\.', -1))")
              - 1).alias("n_sym"),
             F.expr(f"size({lines})").alias("n_lines"),
             F.expr(bullets).alias("n_bullet_lines"),
             F.expr(alpha).alias("n_alpha_words")))
    mwl = "CASE WHEN n_words > 0 THEN (2 * 100 * sum_wlen + n_words) DIV (2 * n_words) ELSE 0 END"
    return (d
            .withColumn("mean_wlen_e2", F.expr(mwl))
            .select(
                "doc_id", "n_words", "mean_wlen_e2",
                F.col("n_words").between(50, 100000).alias("r_wc"),
                F.col("mean_wlen_e2").between(300, 1000).alias("r_mwl"),
                (F.col("n_sym") * 10 <= F.col("n_words")).alias("r_sym"),
                (F.col("n_bullet_lines") * 10
                 <= F.col("n_lines") * 9).alias("r_bullet"),
                (F.col("n_alpha_words") * 10
                 >= F.col("n_words") * 8).alias("r_alpha"))
            .withColumn("pass_all",
                        F.expr("r_wc AND r_mwl AND r_sym AND r_bullet"
                               " AND r_alpha")))


SQL_GOPHER_QUALITY_RULES = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(coalesce(text, '')),
                     '\s+'), w -> w != '') AS words,
         string_split(coalesce(text, ''), chr(10)) AS lines,
         length(coalesce(text, ''))
           - length(replace(coalesce(text, ''), '#', ''))
           + length(regexp_split_to_array(coalesce(text, ''),
                                          '\.\.\.')) - 1 AS n_sym
  FROM documents
), m AS (
  SELECT doc_id,
         length(words) AS n_words,
         list_sum(list_transform(words, w -> length(w))) AS sum_wlen,
         n_sym,
         length(lines) AS n_lines,
         length(list_filter(lines,
                l -> regexp_matches(trim(l), '^[-*]')))
             AS n_bullet_lines,
         length(list_filter(words,
                w -> regexp_matches(w, '[a-zA-Z]')))
             AS n_alpha_words
  FROM base
)
SELECT doc_id, n_words,
       CAST(CASE WHEN n_words > 0
            THEN (2 * 100 * sum_wlen + n_words) // (2 * n_words)
            ELSE 0 END AS BIGINT) AS mean_wlen_e2,
       n_words BETWEEN 50 AND 100000 AS r_wc,
       (CASE WHEN n_words > 0
             THEN (2 * 100 * sum_wlen + n_words) // (2 * n_words)
             ELSE 0 END) BETWEEN 300 AND 1000 AS r_mwl,
       n_sym * 10 <= n_words AS r_sym,
       n_bullet_lines * 10 <= n_lines * 9 AS r_bullet,
       n_alpha_words * 10 >= n_words * 8 AS r_alpha,
       (n_words BETWEEN 50 AND 100000)
         AND ((CASE WHEN n_words > 0
               THEN (2 * 100 * sum_wlen + n_words) // (2 * n_words)
               ELSE 0 END) BETWEEN 300 AND 1000)
         AND n_sym * 10 <= n_words
         AND n_bullet_lines * 10 <= n_lines * 9
         AND n_alpha_words * 10 >= n_words * 8 AS pass_all
FROM m
"""


# --------------------------------------------------------------------------
# Exact repeated-passage detection (Lee et al. 2022 substring dedup shape)
# --------------------------------------------------------------------------

_PW_WIN = 64      # chars per window
_PW_STRIDE = 32   # window stride
_PW_PREFIX = 8192  # chars scanned per doc


def q_dedup_passage_windows(spark, sf_dir):
    """Cross-document repeated-PASSAGE detection — the hashed
    sliding-window formulation of exact substring dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    64-char windows at stride 32 over the lowercased 8 KB prefix; a
    window repeated in ANOTHER document marks a shared passage
    (quotes, licence blocks, syndicated paragraphs — finer than
    line-exact boilerplate, coarser than doc-level MinHash). Emits per
    doc: window count, cross-doc repeated windows, and the repeated
    fraction in exact integer per-mille.

    Scale: windows hash to 48-bit ints (md5 prefix); ONE groupBy on
    (hash, doc_id) (map-side partials absorb hot windows) keys the
    stream, a window count over the hash gives each window its
    cross-doc frequency on the same shuffle, and the final per-doc
    aggregate is the second and last shuffle. Cost is O(prefix/stride)
    windows per doc — bytes scanned bounded per doc, not per corpus."""
    nwin = f"((char_length(pref_) - {_PW_WIN}) DIV {_PW_STRIDE}) + 1"
    wins = (f"CASE WHEN char_length(pref_) >= {_PW_WIN} THEN "
            f"transform(sequence(1, {nwin}), "
            f"i -> substring(pref_, (i - 1) * {_PW_STRIDE} + 1, {_PW_WIN}))"
            f" ELSE CAST(array() AS ARRAY<STRING>) END")
    tg = (_t_wide(spark, sf_dir, "documents")
          .withColumn("pref_", F.expr(
              f"substring(lower(coalesce(text, '')), 1, {_PW_PREFIX})"))
          .select("doc_id", F.explode(F.expr(wins)).alias("win"))
          .select("doc_id", F.expr(
              "CAST(conv(substr(md5(win), 1, 12), 16, 10) AS BIGINT)")
              .alias("h")))
    # r9 follow-up (§2.3/§2.4): pre-group to (h, doc_id) with a rep
    # count, then n_docs is a window count over h — group rows ARE
    # distinct docs, so this equals the old countDistinct model — and
    # the per-doc stats reweight by reps. The former model join-back
    # could not share an exchange with its probe side, so the window
    # transform + md5 subtree ran twice (measured 1.07 → 0.67 s at
    # sf0.1, 0.98 → 0.67 at 25k docs). Hot hashes colocate identically
    # under either shape; the (h, doc_id) pre-group partial-aggregates
    # map-side exactly like the old model build.
    per = (tg.groupBy("h", "doc_id").agg(F.count("*").alias("reps"))
           .withColumn("n_docs",
                       F.count(F.lit(1)).over(Window.partitionBy("h"))))
    return (per.groupBy("doc_id").agg(
                F.sum("reps").alias("n_windows"),
                F.sum(F.when(F.col("n_docs") > 1, F.col("reps"))
                      .otherwise(0)).alias("n_xdoc"))
            .select(
                "doc_id", "n_windows", "n_xdoc",
                F.expr("(2 * 1000 * n_xdoc + n_windows)"
                       " DIV (2 * n_windows)").alias("xdoc_permille")))


SQL_DEDUP_PASSAGE_WINDOWS = f"""
WITH prefs AS (
  SELECT doc_id,
         substr(lower(coalesce(text, '')), 1, {_PW_PREFIX}) AS pref_
  FROM documents
), tg AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(w.win), 1, 12) AS BIGINT) AS h
  FROM prefs, unnest(list_transform(
        range(1, CASE WHEN length(pref_) >= {_PW_WIN}
                 THEN (length(pref_) - {_PW_WIN}) // {_PW_STRIDE} + 2
                 ELSE 1 END),
        i -> substr(pref_, (i - 1) * {_PW_STRIDE} + 1, {_PW_WIN})))
       AS w(win)
), model AS (
  SELECT h, count(DISTINCT doc_id) AS n_docs FROM tg GROUP BY h
)
SELECT doc_id, count(*) AS n_windows,
       CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_xdoc,
       (2 * 1000 * CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) + count(*)) // (2 * count(*))
           AS xdoc_permille
FROM tg JOIN model USING (h) GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# UNPIVOT (wide→long)
# --------------------------------------------------------------------------

def q_orders_unpivot(spark, sf_dir):
    """UNPIVOT / melt — wide→long: build
    the per-month × status count matrix (statuses O/F/P as columns),
    then unpivot the three count columns back to (month, status, cnt)
    rows via DataFrame.unpivot (Spark's native melt, an Expand node —
    no join, no UDF). Zero-count cells survive the round-trip (pivot
    fills 0, unpivot keeps them) so the long table is the dense
    month × status grid.

    Scale: ONE groupBy on month (low cardinality), pivot over a FIXED
    3-value status list (never a discovery pass), then a constant
    3-way Expand — output is 3 rows per month, driver-safe at any SF."""
    d = (_t(spark, sf_dir, "orders")
         .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
         .pivot("o_orderstatus", ["O", "F", "P"])
         .agg(F.count(F.lit(1)))
         .na.fill(0, ["O", "F", "P"]))
    return (d.unpivot("month", ["O", "F", "P"], "status", "cnt")
            .select("month", "status", F.col("cnt").cast("long")
                    .alias("cnt")))


SQL_ORDERS_UNPIVOT = """
WITH wide AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
              AS BIGINT) AS "O",
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS "F",
         CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
              AS BIGINT) AS "P"
  FROM orders GROUP BY 1
)
SELECT month, status, cnt
FROM wide UNPIVOT INCLUDE NULLS (cnt FOR status IN ("O", "F", "P"))
"""


# --------------------------------------------------------------------------
# Bounded-interval self-join via time bucketing (range-join at scale)
# --------------------------------------------------------------------------

_IVJ_WIN_S = 3600   # pair window: events within one hour


def q_events_interval_self_join(spark, sf_dir):
    """Bounded-interval SELF-join: all pairs of events from the same
    user at most one hour apart — the range-join shape (burst/causality
    analysis, co-occurrence mining) that a naive theta-join turns into
    a per-user cartesian. Formulated as an EQUI-join via time
    bucketing: bucket = t DIV 3600; the earlier event explodes to
    buckets {b, b+1}; the later event joins at its own bucket. A pair
    at gap <= 3600 s always lands in the same or adjacent bucket, and
    the two probe copies cover exactly one of those cases each, so
    every qualifying pair is found EXACTLY once — no dedup pass. Ties
    are ordered by (t, event_id), so the pair set is deterministic.

    Scale: shuffle keyed on (user_id, bucket) — Catalyst sees a plain
    equi-join (SortMerge/Broadcast, AQE-skew-splittable), never
    BroadcastNestedLoop; probe-side fan-out is a constant 2×. The
    oracle is the BRUTE-FORCE theta self-join, so hash equality
    certifies the bucketing has zero false negatives. All-integer epoch
    arithmetic (floored seconds, the sessionize convention)."""
    ev = (_t(spark, sf_dir, "events")
          .select("user_id", "event_id",
                  F.unix_timestamp("ts").alias("t"))
          .withColumn("bkt", F.expr(f"t DIV {_IVJ_WIN_S}")))
    probe = (ev.select(
        "user_id", F.col("event_id").alias("id_a"),
        F.col("t").alias("t_a"),
        F.explode(F.expr("array(bkt, bkt + 1)")).alias("bkt")))
    build = ev.select("user_id", F.col("event_id").alias("id_b"),
                      F.col("t").alias("t_b"), "bkt")
    return (probe.join(build, ["user_id", "bkt"])
            .filter("(t_a < t_b OR (t_a = t_b AND id_a < id_b))"
                    f" AND t_b - t_a <= {_IVJ_WIN_S}")
            .select("user_id", "id_a", "id_b",
                    F.expr("t_b - t_a").alias("gap_sec")))


SQL_EVENTS_INTERVAL_SELF_JOIN = f"""
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
)
SELECT l.user_id, l.event_id AS id_a, r.event_id AS id_b,
       r.t - l.t AS gap_sec
FROM ev l JOIN ev r
  ON l.user_id = r.user_id
 AND (l.t < r.t OR (l.t = r.t AND l.event_id < r.event_id))
 AND r.t - l.t <= {_IVJ_WIN_S}
"""


# --------------------------------------------------------------------------
# Custom GROUPING SETS (non-lattice subset; completes rollup/cube family)
# --------------------------------------------------------------------------

def q_orders_grouping_sets(spark, sf_dir):
    """Custom GROUPING SETS — per-status totals and per-priority totals
    in ONE aggregation pass: the non-lattice subset ((status),
    (priority)) that neither ROLLUP nor CUBE expresses (no combined and
    no grand-total row). GROUPING() flags disambiguate subtotal NULLs
    from genuine NULL keys. Same engine shape as the cube op: one
    Expand node (2× fan-out) feeding a single shuffle — never one scan
    per grouping set. Exact-integer revenue emission (module
    docstring)."""
    return spark.sql(f"""
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_priority,
               count(*) AS order_cnt,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS revenue_c
        FROM parquet.`{{p}}`
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """.format(p=f"{sf_dir}/orders.parquet"))


SQL_ORDERS_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_priority,
       count(*) AS order_cnt,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS revenue_c
FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


# --------------------------------------------------------------------------
# Ordered funnel analysis (view -> click -> purchase)
# --------------------------------------------------------------------------

def q_events_funnel(spark, sf_dir):
    """Ordered funnel — per user, the strict view→click→purchase
    progression: t1 = first view, t2 = first click AT OR AFTER t1,
    t3 = first purchase AT OR AFTER t2; stage = how deep the user got
    (0–3). A click before any view does not count — the oracle-checked
    ordering constraint that a naive per-type min() gets wrong.

    Scale: three stacked UNORDERED window-mins over the SAME user_id
    partitioning, then the per-user rollup reuses that partitioning —
    ONE Exchange total for the whole funnel (plan-audited exact count),
    no join-back, no correlated pass per stage. All-integer epoch
    arithmetic (the sessionize convention)."""
    w = Window.partitionBy("user_id")
    ev = (_t(spark, sf_dir, "events")
          .select("user_id", "event_type",
                  F.unix_timestamp("ts").alias("t")))
    staged = (ev
              .withColumn("t1", F.min(F.when(
                  F.col("event_type") == "view", F.col("t"))).over(w))
              .withColumn("t2", F.min(F.when(
                  (F.col("event_type") == "click")
                  & (F.col("t") >= F.col("t1")), F.col("t"))).over(w))
              .withColumn("t3", F.min(F.when(
                  (F.col("event_type") == "purchase")
                  & (F.col("t") >= F.col("t2")), F.col("t"))).over(w)))
    return (staged.groupBy("user_id")
            .agg(F.min("t1").alias("t_view"),
                 F.min("t2").alias("t_click"),
                 F.min("t3").alias("t_purchase"))
            .withColumn("stage", F.expr(
                "CASE WHEN t_purchase IS NOT NULL THEN 3 "
                "WHEN t_click IS NOT NULL THEN 2 "
                "WHEN t_view IS NOT NULL THEN 1 ELSE 0 END")))


SQL_EVENTS_FUNNEL = """
WITH ev AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
), s1 AS (
  SELECT user_id, event_type, t,
         min(CASE WHEN event_type = 'view' THEN t END)
             OVER (PARTITION BY user_id) AS t1
  FROM ev
), s2 AS (
  SELECT user_id, event_type, t, t1,
         min(CASE WHEN event_type = 'click' AND t >= t1 THEN t END)
             OVER (PARTITION BY user_id) AS t2
  FROM s1
), s3 AS (
  SELECT user_id, t1, t2,
         min(CASE WHEN event_type = 'purchase' AND t >= t2 THEN t END)
             OVER (PARTITION BY user_id) AS t3
  FROM s2
)
SELECT user_id, min(t1) AS t_view, min(t2) AS t_click,
       min(t3) AS t_purchase,
       CASE WHEN min(t3) IS NOT NULL THEN 3
            WHEN min(t2) IS NOT NULL THEN 2
            WHEN min(t1) IS NOT NULL THEN 1 ELSE 0 END AS stage
FROM s3 GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Deterministic random projection (Achlioptas +/-1 dimension reduction)
# --------------------------------------------------------------------------

_RP_K = 8        # output dimensions
_RP_TICK = 10000  # per-component fixed-point scale


def _rp_sign(i_expr, j):
    """+1/-1 sign for (input dim i, output dim j), derived from the md5
    of "i_j" — the same deterministic coin in both engines (first hex
    digit < '8' => +1), so the projection matrix never has to be
    shipped or stored."""
    return (f"CASE WHEN substr(md5(concat(CAST({i_expr} AS STRING), "
            f"'_', '{j}')), 1, 1) < '8' THEN 1 ELSE -1 END")


def q_embedding_random_projection(spark, sf_dir):
    """Johnson–Lindenstrauss dimension reduction with the Achlioptas
    ±1 sign matrix: 64-dim float embeddings project to 8 integer
    coordinates, p_j = Σ_i sign(i,j)·tick_i. Components freeze to
    integer ticks FIRST (floor(x·10⁴) — float→double widening plus one
    IEEE multiply is bit-portable), so the cross-row sums are exact
    integers (the sqrt-freeze convention: never sum floats across
    engines). Signs derive from md5("i_j"), so the projection matrix is
    a pure function — nothing to broadcast, nothing to store, identical
    on every executor and in the oracle.

    Scale: per-row higher-order array expressions only — ZERO Exchange,
    ZERO join (plan-audited 0/1 exact counts); 8×64 multiply-adds per
    row inside one codegen stage. The JL use cases downstream (coarse
    ANN prefilter, sketch join keys) read these 8 ints instead of 64
    floats — a 32× width cut before any shuffle."""
    ticks = (f"transform(embedding, x -> "
             f"CAST(floor(CAST(x AS DOUBLE) * {_RP_TICK}) AS BIGINT))")
    cols = [F.expr(
        f"aggregate(transform(sequence(0, size(embedding) - 1), "
        f"i -> {_rp_sign('i', j)} * element_at({ticks}, i + 1)), "
        f"0L, (a, x) -> a + x)").alias(f"p{j}")
        for j in range(_RP_K)]
    return _t(spark, sf_dir, "embeddings").select("vec_id", *cols)


def _rp_sql_col(j):
    sign = (f"CASE WHEN substr(md5(CAST(i AS VARCHAR) || '_' || "
            f"'{j}'), 1, 1) < '8' THEN 1 ELSE -1 END")
    return (f"CAST(list_sum(list_transform(range(0, len(embedding)), "
            f"i -> {sign} * CAST(floor(CAST(embedding[i + 1] AS DOUBLE)"
            f" * {_RP_TICK}) AS BIGINT))) AS BIGINT) AS p{j}")


SQL_EMBEDDING_RANDOM_PROJECTION = (
    "SELECT vec_id, "
    + ", ".join(_rp_sql_col(j) for j in range(_RP_K))
    + " FROM embeddings"
)


# --------------------------------------------------------------------------
# Retention cohort analysis (first-seen week x week offset)
# --------------------------------------------------------------------------

def q_events_retention_cohorts(spark, sf_dir):
    """Retention cohorts — users grouped by FIRST-SEEN epoch-week, then
    distinct active users per (cohort_week, week_offset): the classic
    growth-analytics triangle (offset 0 is cohort size; retention
    curves read along a row). All-integer epoch-week arithmetic
    (floored seconds DIV 604800 — no calendar functions cross
    engines).

    Scale: first_week comes from an UNORDERED window-min over the
    user_id partitioning — no join-back of a per-user table, no second
    scan; the (cohort, offset) rollup is the only other shuffle, onto
    a key space bounded by weeks² (tiny). Two Exchanges total
    (plan-audited exact count), count(DISTINCT user) expands inside
    the aggregate (partial per-user dedup before the final combine —
    Spark's two-phase distinct, not a collect_set)."""
    w = Window.partitionBy("user_id")
    ev = (_t(spark, sf_dir, "events")
          .select("user_id", F.expr(
              "CAST(floor(unix_timestamp(ts)) AS BIGINT) DIV 604800")
              .alias("week")))
    cohorted = (ev.withColumn("cohort_week", F.min("week").over(w))
                .withColumn("week_offset",
                            F.col("week") - F.col("cohort_week")))
    return (cohorted.groupBy("cohort_week", "week_offset")
            .agg(F.countDistinct("user_id").alias("active_users")))


SQL_EVENTS_RETENTION_COHORTS = """
WITH ev AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
  FROM events
), cohorted AS (
  SELECT user_id, week,
         min(week) OVER (PARTITION BY user_id) AS cohort_week
  FROM ev
)
SELECT cohort_week, week - cohort_week AS week_offset,
       count(DISTINCT user_id) AS active_users
FROM cohorted GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# BM25 ranked retrieval over the documents table
# --------------------------------------------------------------------------

_BM25_QUERIES = (("q1", ("spark", "join", "window")),
                 ("q2", ("filter", "merge", "scan")))
_BM25_TOPK = 5


def q_docs_bm25_search(spark, sf_dir):
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed 2-query
    workload — the text-side counterpart of the ANN top-k family.
    Tokenization: lower, non-alnum→space,
    len≥3. The Robertson idf ln((N−df+½)/(df+½)+1) freezes to e4 via
    the shared floor(x·1e4+0.5) formula (the tfidf precedent: the
    argument is a rational of integers, so both engines feed ln the
    SAME double and only a 1-ulp libm divergence landing exactly on a
    .5 boundary could flip anything). The tf-saturation fraction
    tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) clears to integers by
    multiplying through by 20·avgdl — num = 44·tf·avgdl, den =
    20·tf·avgdl + 6·avgdl + 18·dl — then the exact rounded-division
    e4 freeze; per-term score = idf_e4·frac_e4 DIV 10⁴, summed per
    (query, doc), top-5 per query (ties on doc_id).

    Scale: ONE (doc,term) aggregation; dl is a window-sum over the
    SAME doc partitioning (no separate pass); df is an aggregation
    over the (doc,term) table (strictly smaller); N/avgdl broadcast
    as a 1-row scalar; the 6-row query table broadcasts onto the tf
    stream, so the only per-corpus shuffles are keyed on doc/term —
    never pairwise, never a cartesian against the corpus."""
    docs = _t(spark, sf_dir, "documents")
    terms = (docs.select(
        "doc_id",
        F.explode(F.split(F.regexp_replace(
            F.lower("text"), "[^a-z0-9]+", " "), " ")).alias("term"))
        .filter(F.length("term") >= 3))
    tf = (terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
          .withColumn("dl", F.sum("tf").over(
              Window.partitionBy("doc_id"))))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = tf.groupBy().agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.expr("sum(tf) DIV count(DISTINCT doc_id)").alias("avgdl"))
    qdf = spark.createDataFrame(
        [(q, t) for q, ts in _BM25_QUERIES for t in ts],
        "query_id string, term string")
    scored = (tf.join(F.broadcast(qdf), "term")
              .join(df_, "term")
              .crossJoin(F.broadcast(stats))
              .withColumn("idf_e4", F.expr(
                  "CAST(floor(ln(CAST(2 * n_docs - 2 * df + 1 AS DOUBLE)"
                  " / (2 * df + 1) + 1) * 10000 + 0.5) AS BIGINT)"))
              .withColumn("frac_e4", F.expr(
                  "(2 * (44 * tf * avgdl) * 10000"
                  " + (20 * tf * avgdl + 6 * avgdl + 18 * dl))"
                  " DIV (2 * (20 * tf * avgdl + 6 * avgdl + 18 * dl))"))
              .withColumn("s_e4", F.expr("idf_e4 * frac_e4 DIV 10000")))
    ranked = (scored.groupBy("query_id", "doc_id")
              .agg(F.sum("s_e4").alias("bm25_e4"),
                   F.count("*").alias("n_terms_hit"))
              .withColumn("rank", F.row_number().over(
                  Window.partitionBy("query_id")
                  .orderBy(F.desc("bm25_e4"), F.asc("doc_id")))))
    return (ranked.filter(F.col("rank") <= _BM25_TOPK)
            .select("query_id", "doc_id", "bm25_e4", "n_terms_hit",
                    "rank"))


def _bm25_values_sql():
    return ", ".join(f"('{q}', '{t}')"
                     for q, ts in _BM25_QUERIES for t in ts)


SQL_DOCS_BM25_SEARCH = f"""
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split(
        regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '))
       AS t(term)
  WHERE length(t.term) >= 3
), tf AS (
  SELECT doc_id, term, count(*) AS tf,
         sum(count(*)) OVER (PARTITION BY doc_id) AS dl
  FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT count(DISTINCT doc_id) AS n_docs,
         CAST(sum(tf) // count(DISTINCT doc_id) AS BIGINT) AS avgdl
  FROM tf
), queries(query_id, term) AS (VALUES {{values}}),
scored AS (
  SELECT q.query_id, tf.doc_id,
         CAST(floor(ln(CAST(2 * s.n_docs - 2 * df.df + 1 AS DOUBLE)
              / (2 * df.df + 1) + 1) * 10000 + 0.5) AS BIGINT)
           * ((2 * (44 * tf.tf * s.avgdl) * 10000
               + (20 * tf.tf * s.avgdl + 6 * s.avgdl + 18 * tf.dl))
              // (2 * (20 * tf.tf * s.avgdl + 6 * s.avgdl
                       + 18 * tf.dl))) // 10000 AS s_e4
  FROM tf JOIN queries q USING (term) JOIN df USING (term), stats s
), ranked AS (
  SELECT query_id, doc_id,
         CAST(sum(s_e4) AS BIGINT) AS bm25_e4,
         count(*) AS n_terms_hit,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sum(s_e4) DESC, doc_id)
             AS rank
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, bm25_e4, n_terms_hit, rank
FROM ranked WHERE rank <= {_BM25_TOPK}
""".replace("{{values}}", "{values}")

SQL_DOCS_BM25_SEARCH = SQL_DOCS_BM25_SEARCH.format(
    values=_bm25_values_sql())


# --------------------------------------------------------------------------
# Hopping-window aggregation (batch analogue of the streaming rate op)
# --------------------------------------------------------------------------

def q_events_hopping_counts(spark, sf_dir):
    """Hopping-window counts — 10-minute windows sliding every 5
    minutes per event_type: the BATCH analogue of the streaming
    stream_turn_rate aggregation (same F.window operator, no
    watermark), so the two surfaces share semantics. Every event lands
    in exactly TWO hops (600/300 s, epoch-aligned).

    Scale: F.window is a 2× Expand (constant fan-out, no join) feeding
    ONE aggregation keyed on (window, type) — plan-audited: never a
    range join, never a cartesian. All-integer epoch bounds cross the
    oracle."""
    return (_t(spark, sf_dir, "events")
            .groupBy(F.window("ts", "10 minutes", "5 minutes"),
                     "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(F.unix_timestamp("window.start").alias("w_start_s"),
                    F.unix_timestamp("window.end").alias("w_end_s"),
                    "event_type", "n_events"))


SQL_EVENTS_HOPPING_COUNTS = """
WITH ev AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
), hops AS (
  SELECT event_type, t, h.w_start_s
  FROM ev, unnest([ (t // 300) * 300 - 300, (t // 300) * 300 ])
       AS h(w_start_s)
  WHERE t >= h.w_start_s AND t < h.w_start_s + 600
)
SELECT w_start_s, w_start_s + 600 AS w_end_s, event_type,
       count(*) AS n_events
FROM hops GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Corpus, graph, event and transcript operators
# --------------------------------------------------------------------------

def q_bpe_pair_counts(spark, sf_dir):
    """First scan of BPE tokenizer training: adjacent symbol-pair
    frequencies over the corpus word-frequency table — the statistic the
    first merge rule is chosen from (reference scope: none; standard
    training-data tooling).

    Tokenization is deliberately ASCII-letter runs (``[A-Za-z]+`` then
    ``lower``) so both engines lowercase identically — full-Unicode
    ``lower()`` can diverge on locale-sensitive code points, and the
    pair alphabet is then closed over 26 letters (≤676 distinct pairs),
    which is why the final top-32 global window sort is safe at any
    corpus size: it sorts the pair VOCABULARY, not the corpus. Scale:
    explode words → word-frequency agg (the classic BPE optimization —
    pair counts are weighted by word frequency instead of rescanning
    text), explode length-1 pairs per DISTINCT word → one more agg.
    Both shuffles are on bounded-vocabulary keys with map-side partial
    aggregation; nothing pairwise."""
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.expr(
            "regexp_extract_all(text, '([A-Za-z]+)', 1)")).alias("w"))
        .select(F.lower("w").alias("w"))
        .filter(F.length("w") >= 2))
    wf = words.groupBy("w").agg(F.count("*").alias("n"))
    pairs = wf.select(
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1),"
            " i -> substr(w, i, 2))")).alias("pair"),
        "n")
    counts = pairs.groupBy("pair").agg(F.sum("n").alias("pair_count"))
    w_ord = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return (counts.withColumn("rank", F.row_number().over(w_ord))
            .filter(F.col("rank") <= 32)
            .select("pair", "pair_count", "rank"))


SQL_BPE_PAIR_COUNTS = """
WITH words AS (
  SELECT lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS w
  FROM documents
), wf AS (
  SELECT w, count(*) AS n FROM words WHERE length(w) >= 2 GROUP BY 1
), pairs AS (
  SELECT substr(wf.w, t.i, 2) AS pair, wf.n
  FROM wf, unnest(generate_series(1, length(wf.w) - 1)) AS t(i)
), counts AS (
  SELECT pair, CAST(sum(n) AS BIGINT) AS pair_count FROM pairs GROUP BY 1
)
SELECT pair, pair_count,
       row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS rank
FROM counts QUALIFY rank <= 32
"""


def q_events_value_percentiles(spark, sf_dir):
    """``percent_rank`` / ``cume_dist`` ranking windows (the two relative-
    position window functions not yet in the inventory — ntile and
    row_number are). Each event's value is placed within its event_type
    distribution; the window orders by (value, event_id) so rank is
    total and deterministic. Both functions are a single division of
    exact integer ranks — (rank−1)/(n−1), and peers≤x/n where the
    tiebreak key leaves every row its own peer group (cume_dist =
    rank/n; peer-group cume_dist over raw doubles would hang equality
    on float tie behavior) — computed
    identically in both engines, then frozen to basis points via the
    shared ``floor(x·10⁴ + 0.5)`` formula (single IEEE ops, bit-equal
    cross-engine). Output is decimated to every 97th event_id AFTER
    windowing so the record stays small while the window runs over the
    full partition. Scale: one shuffle on event_type; a skewed type
    needs the percentile_approx cutoff swap documented on
    customer_value_deciles."""
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    bp = "CAST(floor({} * 10000 + 0.5) AS BIGINT)"
    return (
        _t(spark, sf_dir, "events")
        .withColumn("pr", F.percent_rank().over(w))
        .withColumn("cd", F.cume_dist().over(w))
        .filter(F.col("event_id") % 97 == 0)
        .select("event_id", "event_type",
                F.expr(bp.format("pr")).alias("pr_bp"),
                F.expr(bp.format("cd")).alias("cd_bp")))


SQL_EVENTS_VALUE_PERCENTILES = """
SELECT event_id, event_type,
       CAST(floor(pr * 10000 + 0.5) AS BIGINT) AS pr_bp,
       CAST(floor(cd * 10000 + 0.5) AS BIGINT) AS cd_bp
FROM (
  SELECT event_id, event_type,
         percent_rank() OVER
           (PARTITION BY event_type ORDER BY value, event_id) AS pr,
         cume_dist() OVER
           (PARTITION BY event_type ORDER BY value, event_id) AS cd
  FROM events)
WHERE event_id % 97 = 0
"""


_DOMAIN_CAP = 60  # max docs kept per source (RefinedWeb-style cap)


def _domain_tick() -> F.Column:
    """The cap lottery's numeric tick — ONE definition shared by the
    audit op and the pipeline filter so their rankings can never
    diverge silently (conv(hex,16,10) / CAST('0x'||hex): the
    cross-engine numeric-tick pair)."""
    return F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10)"
        " AS BIGINT)")


def q_domain_doc_cap(spark, sf_dir):
    """Per-domain frequency cap — the standard crawl-curation guard
    against a single domain dominating the corpus (RefinedWeb / CCNet
    keep at most N pages per registered domain). Selection is a
    deterministic hash lottery: docs rank within their source by the
    md5 numeric tick (``conv(hex,16,10)`` / ``CAST('0x'||hex)`` — the
    cross-engine numeric-tick pair), ties broken by doc_id, and rank ≤
    cap survives. Emitted as the per-source audit (kept/dropped), the
    shape a curation report needs. Scale: ONE shuffle on source for the
    rank window; a mega-domain is exactly the hot key the cap exists
    for — salt the rank (two-level lottery: per-salt rank then take the
    cap's tick quantile) once a single domain exceeds executor memory."""
    w = Window.partitionBy("source").orderBy("tick", "doc_id")
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .withColumn("tick", _domain_tick())
        .withColumn("rk", F.row_number().over(w))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.when(F.col("rk") <= _DOMAIN_CAP, 1)
                   .otherwise(0)).alias("n_kept"),
             F.sum(F.when(F.col("rk") > _DOMAIN_CAP, 1)
                   .otherwise(0)).alias("n_dropped")))


SQL_DOMAIN_DOC_CAP = f"""
WITH ranked AS (
  SELECT source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                         AS BIGINT), doc_id) AS rk
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN rk <= {_DOMAIN_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rk > {_DOMAIN_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped
FROM ranked GROUP BY source
"""


def domain_cap_filter(docs: DataFrame, cap: int = _DOMAIN_CAP) -> DataFrame:
    """Pipeline form of the per-domain cap (see q_domain_doc_cap): keep at
    most ``cap`` docs per source by the deterministic md5-tick lottery.
    ONE shuffle on source — the only corpus shuffle in curate_job when
    enabled; a mega-domain is the hot key the cap targets, salt the rank
    as documented on the audit op if one source exceeds executor memory."""
    w = Window.partitionBy("source").orderBy("_tick", "doc_id")
    return (docs.withColumn("_tick", _domain_tick())
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= cap)
            .drop("_tick", "_rk"))


def q_lineitem_quantiles_approx(spark, sf_dir):
    """Sketch quantiles of lineitem: ``percentile_approx`` — the 100 TB
    quantile tool, a fixed-size mergeable KLL-style sketch vs the exact
    op's full sort. The sketch value itself is implementation-specific,
    so the recorded product is a VERIFIED RANK BOUND: Spark broadcasts
    its 9 approx values back over lineitem and checks each one's true
    rank against the target percentile ±0.5 % — pure integer arithmetic
    (lt·10³ ≤ (p‰+5)·n and le·10³ ≥ (p‰−5)·n) — and the oracle emits
    the literal truth plus the exact per-flag row count, which IS
    verified value-for-value. A sketch drifting past ±0.5 % rank error
    flips the flag and fails the hash (percentile_approx's guarantee at
    accuracy 10⁴ is 0.01 %, so the gate has 50× margin)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").alias("qty"))
    apx = (li.groupBy("l_returnflag")
           .agg(F.expr("percentile_approx(qty, array(0.25, 0.5, 0.75),"
                       " 10000)").alias("apx")))
    probes = apx.select(
        "l_returnflag",
        F.posexplode("apx").alias("qi", "v")) \
        .withColumn("q_pm", (F.col("qi") + 1) * 250) \
        .drop("qi")
    ranks = (
        li.join(F.broadcast(probes), "l_returnflag")
        .groupBy("l_returnflag", "q_pm", "v")
        .agg(F.count("*").alias("n"),
             F.sum(F.when(F.col("qty") < F.col("v"), 1)
                   .otherwise(0)).alias("lt_cnt"),
             F.sum(F.when(F.col("qty") <= F.col("v"), 1)
                   .otherwise(0)).alias("le_cnt")))
    return ranks.select(
        "l_returnflag", "q_pm", "n",
        ((F.col("lt_cnt") * 1000 <= (F.col("q_pm") + 5) * F.col("n"))
         & (F.col("le_cnt") * 1000 >= (F.col("q_pm") - 5) * F.col("n")))
        .alias("rank_ok"))


SQL_LINEITEM_QUANTILES_APPROX = """
SELECT l_returnflag, q_pm, CAST(n AS BIGINT) AS n, true AS rank_ok
FROM (SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1) f,
     (SELECT unnest([250, 500, 750]) AS q_pm) q
"""


def q_dedup_reach_hops(spark, sf_dir):
    """Recursive CTE (``WITH RECURSIVE``, new in Spark 4.x) — the last
    big SQL shape missing from the relational inventory, demonstrated
    on a real product: the near-dup TRANSITIVITY audit. For every doc
    pair connected within ≤4 hops of the Jaccard similarity graph, the
    minimum chain length — hops=1 are direct near-dups, hops≥2 are
    transitive absorptions the cluster collapse merged without ever
    comparing them (the pairs a dataset card should disclose).

    The recursion walks the symmetrized edge list (localCheckpointed
    once — each iteration joins the in-memory edge set, never re-runs
    the shingle job) with an explicit depth guard, so it terminates on
    cycles under UNION ALL in both engines; min(depth) is
    order-independent, so the hash ports. Scale: each iteration is one
    equi-join on node id over frontier×edges; near-dup clusters are
    cap-gated upstream (dedup_ngram_jaccard), bounding the walk
    breadth — and the depth cap bounds path fan-out. The O(log d)
    pointer-jumping CC (dedup_clusters) remains the scale path for full
    closure; the recursive form is the SQL-parity shape and the hop
    metric it alone yields."""
    return _reach_hops(spark, _cluster_edges(spark, sf_dir))


def _reach_hops(spark, edges: DataFrame) -> DataFrame:
    """Recursive min-hop walk over a SYMMETRIC (id_a, id_b) edge list the
    caller has already materialized (``_cluster_edges`` localCheckpoints;
    a re-evaluated lazy edge plan would re-run per recursion level).
    The edge DataFrame binds through parameterized ``spark.sql`` — a
    fixed-name temp view would be shared mutable session state that two
    interleaved callers could clobber (review finding)."""
    return spark.sql("""
      WITH RECURSIVE walk(root, node, depth) AS (
        SELECT id_a, id_a, 0 FROM (SELECT DISTINCT id_a FROM {edges})
        UNION ALL
        SELECT w.root, e.id_b, w.depth + 1
        FROM walk w JOIN {edges} e ON w.node = e.id_a
        WHERE w.depth < 4
      )
      SELECT root AS id_a, node AS id_b, CAST(min(depth) AS BIGINT) AS hops
      FROM walk WHERE root < node GROUP BY 1, 2
    """, edges=edges)


SQL_DEDUP_REACH_HOPS = f"""
WITH RECURSIVE dpairs AS (
  SELECT id_a, id_b FROM ({SQL_DEDUP_NGRAM}) t
), sym AS (
  SELECT id_a, id_b FROM dpairs
  UNION SELECT id_b, id_a FROM dpairs
), walk(root, node, depth) AS (
  SELECT id_a, id_a, 0 FROM (SELECT DISTINCT id_a FROM sym) s
  UNION ALL
  SELECT w.root, e.id_b, w.depth + 1
  FROM walk w JOIN sym e ON w.node = e.id_a
  WHERE w.depth < 4
)
SELECT root AS id_a, node AS id_b, CAST(min(depth) AS BIGINT) AS hops
FROM walk WHERE root < node GROUP BY 1, 2
"""


def q_dedup_lsh_eval(spark, sf_dir):
    """Sketch-quality evaluation — LSH candidate pairs scored against the
    exact Jaccard pair set (the number a pipeline needs before trusting
    MinHash at 100 TB: recall says what the bucketing MISSES, the extra
    count says how much exact-verify work the candidates cost).
    One row: |exact|, |candidates|, true positives, misses (recall
    loss), extras (verify overhead), and recall in basis points via
    integer division — all exact integers, no sketch value crosses
    engines.

    Scale: both pair sets are the cap-gated bucket joins documented on
    their own ops; the comparison is one equi-join on (id_a, id_b) plus
    three scalar aggregates that broadcast-crossjoin into a single row."""
    exact = q_dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    cand = q_dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_cand = cand.agg(F.count("*").alias("n_cand"))
    tp = (exact.join(cand, ["id_a", "id_b"], "left_semi")
          .agg(F.count("*").alias("tp")))
    return (
        n_exact.crossJoin(F.broadcast(n_cand)).crossJoin(F.broadcast(tp))
        .select(
            "n_exact", "n_cand", "tp",
            (F.col("n_exact") - F.col("tp")).alias("lsh_missed"),
            (F.col("n_cand") - F.col("tp")).alias("lsh_extra"),
            F.expr("CASE WHEN n_exact = 0 THEN 10000 "
                   "ELSE CAST(tp * 10000 DIV n_exact AS BIGINT) END")
            .alias("recall_bp")))


SQL_DEDUP_LSH_EVAL = f"""
WITH e AS (
  SELECT id_a, id_b FROM ({SQL_DEDUP_NGRAM}) x
), c AS (
  {SQL_DEDUP_MINHASH}
), m AS (
  SELECT (SELECT count(*) FROM e) AS n_exact,
         (SELECT count(*) FROM c) AS n_cand,
         (SELECT count(*) FROM e JOIN c USING (id_a, id_b)) AS tp
)
SELECT CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_cand AS BIGINT) AS n_cand,
       CAST(tp AS BIGINT) AS tp,
       CAST(n_exact - tp AS BIGINT) AS lsh_missed,
       CAST(n_cand - tp AS BIGINT) AS lsh_extra,
       CAST(CASE WHEN n_exact = 0 THEN 10000
                 ELSE tp * 10000 // n_exact END AS BIGINT) AS recall_bp
FROM m
"""


#: ONE definition of the documents→turns derivation shared by the
#: transcript-analytics ops (tool runs, context trim, role transitions)
#: and mirrored 1:1 by ``_SQL_TRANSCRIPT_TURNS`` — the conversation
#: grid (modulus 50, role = doc_id % 4, turn order = doc_id rank) must
#: change in exactly two places or the oracles drift (review finding).
_SQL_TRANSCRIPT_TURNS = """
  SELECT doc_id % 50 AS conv_id, doc_id, text,
         CAST(doc_id % 4 AS INT) AS role_id,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
           WHEN 2 THEN 'system' ELSE 'tool' END AS role,
         row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id)
             AS turn_idx
  FROM documents
"""


def _transcript_turns(spark, sf_dir) -> DataFrame:
    """(conv_id, doc_id, text, role_id, role, turn_idx) — the Spark twin
    of ``_SQL_TRANSCRIPT_TURNS``."""
    roles = F.array(F.lit("user"), F.lit("assistant"),
                    F.lit("system"), F.lit("tool"))
    return (
        _t(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 50).alias("conv_id"), "doc_id", "text",
                (F.col("doc_id") % 4).cast("int").alias("role_id"),
                F.element_at(roles, (F.col("doc_id") % 4).cast("int") + 1)
                .alias("role"))
        .withColumn("turn_idx", F.row_number().over(
            Window.partitionBy("conv_id").orderBy("doc_id"))))


def q_transcript_tool_runs(spark, sf_dir):
    """Gaps-and-islands over conversation turns: the longest run of
    CONSECUTIVE tool turns per conversation, plus run and turn counts —
    the agent-transcript loop detector (a tool-call run of 40 usually
    means a stuck agent, and run length is exactly what a turn-level
    filter can't see). Uses the shared documents→turns derivation
    (conv_id = doc_id % 50, turn order = doc_id rank, role from
    doc_id % 4).

    The islands trick: turn_idx − row_number() over tool turns is
    constant within a consecutive run, so runs fall out of one groupBy
    on (conv_id, grp) with no self-join. Both windows partition by
    conv_id — ONE shuffle, the second window sorts within the same
    exchange; long-conversation skew is the salting case the extraction
    job already handles upstream."""
    turns = _transcript_turns(spark, sf_dir)
    tool = (turns.filter(F.col("role_id") == 3)  # 'tool' in the role map
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("conv_id").orderBy("turn_idx")))
            .withColumn("grp", F.col("turn_idx") - F.col("rn")))
    runs = (tool.groupBy("conv_id", "grp")
            .agg(F.count("*").alias("run_len")))
    return (runs.groupBy("conv_id")
            .agg(F.sum("run_len").alias("n_tool_turns"),
                 F.count("*").alias("n_runs"),
                 F.max("run_len").alias("max_run")))


SQL_TRANSCRIPT_TOOL_RUNS = f"""
WITH turns AS (
{_SQL_TRANSCRIPT_TURNS}
), tool AS (
  SELECT conv_id, turn_idx,
         turn_idx - row_number() OVER (PARTITION BY conv_id
                                       ORDER BY turn_idx) AS grp
  FROM turns WHERE role_id = 3
), runs AS (
  SELECT conv_id, grp, count(*) AS run_len FROM tool GROUP BY 1, 2
)
SELECT conv_id, CAST(sum(run_len) AS BIGINT) AS n_tool_turns,
       count(*) AS n_runs, CAST(max(run_len) AS BIGINT) AS max_run
FROM runs GROUP BY conv_id
"""


def q_events_variant_buckets(spark, sf_dir):
    """Semi-structured aggregation through Spark 4's VARIANT type —
    ``try_parse_json`` → ``try_variant_get`` — the engine-native
    successor to per-access ``get_json_object`` string re-parsing
    (this is the one a 100 TB pipeline should use: parse once into the
    binary variant encoding, then typed extractions are cheap). Non-int
    k values null out instead of failing the job OR silently coercing:
    plain variant_get THROWS INVALID_VARIANT_CAST on '{"k": "abc"}', and
    try_variant_get(..., 'int') TRUNCATES 12.7 → 12 where DuckDB's
    TRY_CAST ROUNDS it to 13 (both found in review — the bucket
    aggregate masked the 12-vs-13 divergence until a fractional k
    near a bucket boundary would flip the hash). So the extraction
    goes through the STRING form with an integral-literal regex gate,
    which both engines evaluate identically: only true integers
    count. Bucketed histogram of the extracted k per event_type: one
    shuffle, exact integer output; the oracle re-derives it from
    DuckDB's JSON extraction, proving the variant path decodes
    identically to a JSON-text reference."""
    k = F.expr(
        "CAST(CASE WHEN try_variant_get(try_parse_json(props),"
        " '$.k', 'string') RLIKE '^-?[0-9]+$'"
        " THEN try_variant_get(try_parse_json(props), '$.k', 'string')"
        " END AS INT)")
    return (
        _t(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type",
                 F.expr("CAST(k DIV 10 AS INT)").alias("k_bucket"))
        .agg(F.count("*").alias("cnt"),
             F.min("k").alias("k_min"),
             F.max("k").alias("k_max")))


SQL_EVENTS_VARIANT_BUCKETS = """
SELECT event_type, CAST(k // 10 AS INT) AS k_bucket,
       count(*) AS cnt,
       CAST(min(k) AS INT) AS k_min, CAST(max(k) AS INT) AS k_max
FROM (SELECT event_type,
             -- json_valid guard: DuckDB's json_extract THROWS on
             -- malformed JSON where Spark's try_parse_json nulls out.
             -- integral-literal regex gate: DuckDB CAST ROUNDS '12.7'
             -- to 13 while Spark variant-int TRUNCATES to 12 — only
             -- true integer literals may extract (same gate as Spark)
             CAST(CASE WHEN json_valid(props)
                  AND regexp_matches(json_extract_string(props, '$.k'),
                                     '^-?[0-9]+$')
                  THEN json_extract_string(props, '$.k') END AS INT) AS k
      FROM events)
WHERE k IS NOT NULL
GROUP BY 1, 2
"""


_CONTAIN_PM = 700  # containment gate: shared >= 70.0% of the smaller set


def q_dedup_containment(spark, sf_dir):
    """Shingle CONTAINMENT near-dup pairs — the asymmetric metric
    symmetric Jaccard misses: a short doc quoted wholesale inside a
    long one scores C = |A∩B|/min(|A|,|B|) ≈ 1 while J stays low
    (standard for quote/boilerplate-embedding detection in crawl
    curation). Reuses the whole capped-shingle machinery of
    dedup_ngram_jaccard (explode → hot-shingle document-frequency cap →
    bucket-local pair counts — never pairwise), then gates on the
    exact integer predicate 10³·shared ≥ pm·min(n_a, n_b) and emits
    (contained, container) ordered by set size with containment in
    10⁻⁴ units via rounded integer division. Scale notes inherited
    from the jaccard op; the only new arithmetic is the min()."""
    # r9 follow-up: the same carried-size restructure as
    # dedup_ngram_jaccard (§1 of OPTIMIZATION_r09) — the former sizes
    # table joined two extra legs that each re-ran the shingle
    # expression (3 scans, 2 joins); the per-doc set size rides the
    # exploded stream instead, and the scan widens like the other
    # shingle-heavy ops. Measured 1.54 → 1.38 s at sf0.1, 6.50 → 4.94 s
    # at 25k docs; exceptAll old-vs-new = 0 on both corpora.
    d = _t_wide(spark, sf_dir, "documents").select(
        "doc_id", _shingles().alias("sh"))
    ex = d.select("doc_id", F.size("sh").alias("n"),
                  F.explode("sh").alias("shingle"))
    safe = _drop_hot_keys(ex, ["shingle"], _SHINGLE_DF_CAP)
    grouped = (
        safe.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n")))
             .alias("ids"))
        .filter(F.size("ids") >= 2))
    pairs = (_explode_pairs(grouped)
             .groupBy(F.col("id_a.doc_id").alias("id_a"),
                      F.col("id_a.n").alias("na"),
                      F.col("id_b.doc_id").alias("id_b"),
                      F.col("id_b.n").alias("nb"))
             .agg(F.count("*").alias("shared")))
    return (
        pairs
        .withColumn("m", F.least("na", "nb"))
        .filter(F.expr(f"1000 * shared >= {_CONTAIN_PM} * m"))
        .select(
            F.expr("CASE WHEN na < nb OR (na = nb AND id_a < id_b)"
                   " THEN id_a ELSE id_b END").alias("contained_id"),
            F.expr("CASE WHEN na < nb OR (na = nb AND id_a < id_b)"
                   " THEN id_b ELSE id_a END").alias("container_id"),
            "shared",
            F.expr("(2 * shared * 10000 + m) DIV (2 * m)")
            .alias("containment_e4")))


SQL_DEDUP_CONTAINMENT = f"""
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(length(regexp_split_to_array(trim(text), '\\s+')) - 2, 0) + 1),
           i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), i, i + 2), ' ')
         )) AS shingles
  FROM documents
), sizes AS (
  SELECT doc_id, length(shingles) AS n FROM sh
), ex_all AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), hot AS (
  SELECT shingle FROM ex_all GROUP BY 1 HAVING count(*) > {_SHINGLE_DF_CAP}
), ex AS (
  SELECT * FROM ex_all WHERE shingle NOT IN (SELECT shingle FROM hot)
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), gated AS (
  SELECT id_a, id_b, shared, least(sa.n, sb.n) AS m,
         sa.n AS na, sb.n AS nb
  FROM pairs
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE 1000 * shared >= {_CONTAIN_PM} * least(sa.n, sb.n)
)
SELECT CASE WHEN na < nb OR (na = nb AND id_a < id_b)
            THEN id_a ELSE id_b END AS contained_id,
       CASE WHEN na < nb OR (na = nb AND id_a < id_b)
            THEN id_b ELSE id_a END AS container_id,
       shared,
       CAST((2 * shared * 10000 + m) // (2 * m) AS BIGINT)
           AS containment_e4
FROM gated
"""


_KCORE_K = 2        # peel nodes of degree < k
_KCORE_ROUNDS = 3   # fixed peeling rounds (see docstring)


def q_graph_kcore(spark, sf_dir):
    """k-core peeling over the near-dup similarity graph — the density
    filter that isolates mutually-duplicating template farms (every
    surviving doc has ≥ k near-dup partners AMONG other survivors,
    which one-hop degree can't express): completes the graph-analytics
    set next to CC (membership), PageRank (centrality) and triangles
    (local density). ``_KCORE_ROUNDS`` synchronized peeling rounds of
    the ``_KCORE_K``-core; like the PageRank op, the round count is
    FIXED so the oracle can unroll the identical rounds as chained
    CTEs — a production run loops to fixpoint exactly like
    ``_min_label_cc`` (the peel is monotone, so rounds are bounded by
    the graph's degeneracy ordering depth). Scale: each round is one
    degree aggregation + two semi-joins on the shrinking edge list;
    the edge list is localCheckpointed once upstream."""
    return _kcore(_cluster_edges(spark, sf_dir))


def _kcore(edges: DataFrame, k: int = _KCORE_K,
           rounds: int = _KCORE_ROUNDS) -> DataFrame:
    """``rounds`` synchronized peels of the ``k``-core over a SYMMETRIC
    (id_a, id_b) edge list; see q_graph_kcore for the contract."""
    alive = edges
    for _ in range(rounds):
        keep = (alive.groupBy("id_a")
                .agg(F.count("*").alias("deg"))
                .filter(F.col("deg") >= k)
                .select("id_a"))
        # each round reads `alive` twice (degree agg + semi joins), so an
        # un-truncated lineage DOUBLES per round — O(2^rounds) plan nodes
        # (observed: 53 Exchanges for 3 rounds). localCheckpoint flattens
        # it to one agg + two joins per round, the _min_label_cc pattern.
        alive = (alive.join(keep, "id_a", "left_semi")
                 .join(keep.withColumnRenamed("id_a", "id_b"),
                       "id_b", "left_semi")
                 .localCheckpoint(eager=True))
    return (alive.groupBy("id_a")
            .agg(F.count("*").alias("core_deg"))
            .select(F.col("id_a").alias("doc_id"), "core_deg"))


def _sql_kcore_round(prev: str, i: int) -> str:
    return (
        f"k{i} AS (SELECT id_a FROM {prev} GROUP BY id_a"
        f" HAVING count(*) >= {_KCORE_K}),\n"
        f"e{i} AS (SELECT e.id_a, e.id_b FROM {prev} e"
        f" JOIN k{i} a ON e.id_a = a.id_a"
        f" JOIN k{i} b ON e.id_b = b.id_a)")


SQL_GRAPH_KCORE = f"""
WITH dpairs AS (
  SELECT id_a, id_b FROM ({SQL_DEDUP_NGRAM}) t
), e0 AS (
  SELECT id_a, id_b FROM dpairs
  UNION SELECT id_b, id_a FROM dpairs
),
{_sql_kcore_round('e0', 1)},
{_sql_kcore_round('e1', 2)},
{_sql_kcore_round('e2', 3)}
SELECT id_a AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
FROM e3 GROUP BY 1
"""


def q_orders_range_frame(spark, sf_dir):
    """RANGE-framed window aggregation — the VALUE-bounded frame the
    inventory's moving average (a ROWS frame) doesn't cover: per
    customer, total spend in the 30 days UP TO each order, however many
    orders that spans (same-day orders are RANGE peers and all join the
    frame, which a ROWS frame gets wrong). Order dates become exact
    integer day numbers (unix seconds DIV 86400) and prices exact
    cents, so the frame bound and the sum are
    pure integer arithmetic in both engines. Output decimated to every
    13th order key AFTER windowing. Scale: one shuffle on o_custkey;
    RANGE frames evaluate with a sliding accumulator over each sorted
    partition, same cost shape as the ROWS frame."""
    day = F.expr("CAST(unix_timestamp(o_orderdate) DIV 86400 AS BIGINT)")
    cents = F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    w = (Window.partitionBy("o_custkey").orderBy("day")
         .rangeBetween(-30, 0))
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", day.alias("day"),
                cents.alias("price_c"))
        .withColumn("trailing_30d_c", F.sum("price_c").over(w))
        .filter(F.col("o_orderkey") % 13 == 0)
        .select("o_orderkey", "o_custkey", "day", "trailing_30d_c"))


SQL_ORDERS_RANGE_FRAME = """
SELECT o_orderkey, o_custkey, day,
       CAST(trailing_30d_c AS BIGINT) AS trailing_30d_c
FROM (
  SELECT o_orderkey, o_custkey, day,
         sum(price_c) OVER (
           PARTITION BY o_custkey ORDER BY day
           RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS trailing_30d_c
  FROM (SELECT o_orderkey, o_custkey,
               CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
        FROM orders))
WHERE o_orderkey % 13 = 0
"""


_CTX_BUDGET = 512  # context-window token budget per conversation


def q_transcript_context_trim(spark, sf_dir):
    """Context-window packing — the serving-side twin of
    pack_token_budget: for each conversation, keep the LONGEST SUFFIX of
    turns whose whitespace-token total fits the budget (what an agent
    runtime actually ships to the model: most-recent turns first, whole
    turns only). A running suffix sum (window ordered turn_idx DESC)
    prices each turn's tail, one comparison keeps it; emitted as the
    per-conversation packing audit (kept/dropped turns, kept tokens,
    truncation point). Shared documents→turns derivation
    (``_transcript_turns``). Exact integer arithmetic throughout; ONE
    shuffle on conv_id shared by the turn_idx window and the suffix-sum
    window and the final aggregate."""
    turns = _transcript_turns(spark, sf_dir).select(
        "conv_id", "turn_idx",
        F.size(F.split(F.trim(F.coalesce("text", F.lit(""))),
                       r"\s+")).alias("n_tok"))
    wsuf = (Window.partitionBy("conv_id").orderBy(F.desc("turn_idx"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    priced = turns.withColumn("suffix_tok", F.sum("n_tok").over(wsuf))
    return (
        priced.groupBy("conv_id")
        .agg(F.count("*").alias("n_turns"),
             F.sum(F.when(F.col("suffix_tok") <= _CTX_BUDGET, 1)
                   .otherwise(0)).alias("n_kept"),
             F.sum(F.when(F.col("suffix_tok") <= _CTX_BUDGET,
                          F.col("n_tok")).otherwise(0))
             .alias("tokens_kept"),
             F.min(F.when(F.col("suffix_tok") <= _CTX_BUDGET,
                          F.col("turn_idx"))).alias("first_kept_idx")))


SQL_TRANSCRIPT_CONTEXT_TRIM = f"""
WITH turns0 AS (
{_SQL_TRANSCRIPT_TURNS}
), turns AS (
  SELECT conv_id, turn_idx,
         length(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'))
             AS n_tok
  FROM turns0
), priced AS (
  SELECT conv_id, turn_idx, n_tok,
         sum(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                          ROWS UNBOUNDED PRECEDING) AS suffix_tok
  FROM turns
)
SELECT conv_id, count(*) AS n_turns,
       CAST(sum(CASE WHEN suffix_tok <= {_CTX_BUDGET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN suffix_tok <= {_CTX_BUDGET} THEN n_tok
                ELSE 0 END) AS BIGINT) AS tokens_kept,
       CAST(min(CASE WHEN suffix_tok <= {_CTX_BUDGET} THEN turn_idx END)
            AS BIGINT) AS first_kept_idx
FROM priced GROUP BY conv_id
"""


_POWER_ITERS = 2


def q_embedding_power_iteration(spark, sf_dir):
    """Dominant principal direction of the embedding table by power
    iteration on XᵀX — in PURE INTEGER arithmetic, the trick that makes
    an iterative numerical algorithm bit-portable across engines:
    vectors are int8-quantized (per-vector absmax, floor(x·127/s + ½)),
    the direction lives in integer ticks (∥v∥∞ = 1000), and each
    iteration is s = Qv (per-row int dot), w = Qᵀs (per-dimension int
    sum — order-independent, unlike float sums), v′ = w·1000 DIV
    max|w|. Two iterations from the all-ones start; output is the
    64-row direction in ticks. The DuckDB oracle unrolls the identical
    iterations as chained CTEs over the same exploded (row, dim, q)
    table.

    Scale: the quantized triplet table is n×64 rows; each iteration is
    one broadcast join on the 64-row direction + a groupBy(vec) and a
    groupBy(dim) — both map-side-combining, no collect (the k-means
    trainer's model-params collect isn't even needed here since v
    stays a broadcastable 64-row DataFrame). Magnitudes: |s| ≤
    64·127·1000 ≈ 8.1e6, |w| ≤ n·127·8.1e6 — int64-safe through
    n ≈ 10⁹ rows; shard-and-rescale the s ticks beyond that."""
    emb = _t(spark, sf_dir, "embeddings")
    scale = F.expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
    q = ("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
         " / _scale * 127 + 0.5) AS BIGINT))")
    qd = (emb.withColumn("_scale", scale).filter(F.col("_scale") > 0)
          .withColumn("_q", F.expr(q))
          .select("vec_id", F.posexplode("_q").alias("j", "qj"))
          .localCheckpoint(eager=True))
    spark_ = spark
    v = spark_.range(64).select(F.col("id").cast("int").alias("j"),
                                F.lit(1000).cast("long").alias("t"))
    for _ in range(_POWER_ITERS):
        s = (qd.join(F.broadcast(v), "j")
             .groupBy("vec_id")
             .agg(F.sum(F.col("qj") * F.col("t")).alias("s")))
        w = (qd.join(s, "vec_id")
             .groupBy("j")
             .agg(F.sum(F.col("qj") * F.col("s")).alias("w")))
        wmax = w.agg(F.max(F.abs("w")).alias("wmax"))
        v = (w.crossJoin(F.broadcast(wmax))
             .select("j", F.expr(
                 "CASE WHEN wmax = 0 THEN 0L"
                 " ELSE (w * 1000) DIV wmax END").alias("t"))
             .localCheckpoint(eager=True))
    return v.select(F.col("j").alias("dim_idx"), F.col("t").alias("v_tick"))


def _sql_power_iter(prev: str, i: int) -> str:
    return (
        f"s{i} AS (SELECT qd.vec_id, CAST(sum(qd.qj * v.t) AS BIGINT) AS s"
        f" FROM qd JOIN {prev} v ON qd.j = v.j GROUP BY qd.vec_id),\n"
        f"w{i} AS (SELECT qd.j, CAST(sum(qd.qj * s{i}.s) AS BIGINT) AS w"
        f" FROM qd JOIN s{i} ON qd.vec_id = s{i}.vec_id GROUP BY qd.j),\n"
        f"v{i} AS (SELECT j, CAST(CASE WHEN m.wmax = 0 THEN 0"
        f" ELSE (w * 1000) // m.wmax END AS BIGINT) AS t"
        f" FROM w{i}, (SELECT max(abs(w)) AS wmax FROM w{i}) m)")


SQL_EMBEDDING_POWER_ITERATION = f"""
WITH sc AS (
  SELECT vec_id,
         list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))) AS scale,
         embedding
  FROM embeddings
), qv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
           / scale * 127 + 0.5) AS BIGINT)) AS qarr
  FROM sc WHERE scale > 0
), qd AS (
  SELECT vec_id, CAST(t.i - 1 AS INT) AS j, qarr[t.i] AS qj
  FROM qv, unnest(generate_series(1, len(qarr))) AS t(i)
), v0 AS (
  SELECT CAST(range AS INT) AS j, CAST(1000 AS BIGINT) AS t
  FROM range(64)
),
{_sql_power_iter('v0', 1)},
{_sql_power_iter('v1', 2)}
SELECT j AS dim_idx, t AS v_tick FROM v2
"""


def q_transcript_role_transitions(spark, sf_dir):
    """Role-transition matrix over conversation turns — the Markov
    fingerprint of a transcript corpus (user→assistant should dominate;
    a fat tool→tool cell is the loop signal transcript_tool_runs
    measures per-conversation, here aggregated corpus-wide; an
    assistant→assistant cell flags double-posts). One LAG window inside
    the conv_id shuffle, then a bounded 16-cell aggregation (4 roles ×
    4 roles) with map-side partials. Shared documents→turns derivation
    (``_transcript_turns``)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        _transcript_turns(spark, sf_dir)
        .select("conv_id", "turn_idx", "role")
        .withColumn("prev_role", F.lag("role").over(w))
        .filter(F.col("prev_role").isNotNull())
        .groupBy("prev_role", "role")
        .agg(F.count("*").alias("n_transitions")))


SQL_TRANSCRIPT_ROLE_TRANSITIONS = f"""
WITH turns AS (
{_SQL_TRANSCRIPT_TURNS}
)
SELECT prev_role, role, count(*) AS n_transitions
FROM (SELECT role,
             lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                 AS prev_role
      FROM turns)
WHERE prev_role IS NOT NULL
GROUP BY 1, 2
"""


def q_docs_readability(spark, sf_dir):
    """Flesch-style readability scoring in exact integers: words per
    sentence and (vowel-run) syllables per word, combined on the
    Flesch scale ×100. Sentences are [.!?]+ splits, syllables the
    classic vowel-group proxy ([aeiouy]+ runs) — both pure regexp
    counts, so the whole score is integer arithmetic on three counts
    (206835 − 1015·words·100/sentences − 84600·syll/words, all over a
    common ×100 denominator, emitted DIV-rounded). Per-row JVM
    expressions, Exchange-free; null text scores as
    an empty doc (0 words → excluded)."""
    words = ("size(regexp_extract_all(lower(coalesce(text, '')),"
             " '([a-z]+)', 1))")
    sents = ("greatest(size(regexp_extract_all(coalesce(text, ''),"
             " '([.!?]+)', 1)), 1)")
    sylls = ("greatest(size(regexp_extract_all(lower(coalesce(text, '')),"
             " '([aeiouy]+)', 1)), 1)")
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id",
                F.expr(words).alias("n_words"),
                F.expr(sents).alias("n_sents"),
                F.expr(sylls).alias("n_sylls"))
        .filter(F.col("n_words") > 0)
        # flesch×100 = 20683500/100 − 1015·w/s − 84600·sy/w, over the
        # common denominator s·w: one exact integer rounded division
        .withColumn("flesch_e2", F.expr(
            "(2 * (20683500 * n_sents * n_words"
            " - 101500 * n_words * n_words"
            " - 8460000 * n_sylls * n_sents)"
            " + (1000 * n_sents * n_words))"
            " DIV (2 * 1000 * n_sents * n_words)"))
        .select("doc_id", "n_words", "n_sents", "n_sylls", "flesch_e2"))


SQL_DOCS_READABILITY = """
WITH counts AS (
  SELECT doc_id,
         length(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'))
             AS n_words,
         greatest(length(regexp_extract_all(coalesce(text, ''),
                  '[.!?]+')), 1) AS n_sents,
         greatest(length(regexp_extract_all(lower(coalesce(text, '')),
                  '[aeiouy]+')), 1) AS n_sylls
  FROM documents
)
SELECT doc_id, n_words, n_sents, n_sylls,
       CAST((2 * (20683500 * n_sents * n_words
                  - 101500 * n_words * n_words
                  - 8460000 * n_sylls * n_sents)
             + (1000 * n_sents * n_words))
            // (2 * 1000 * n_sents * n_words) AS BIGINT) AS flesch_e2
FROM counts WHERE n_words > 0
"""


def q_events_value_zscores(spark, sf_dir):
    """z-score outlier detection per event_type — the data-quality gate
    over a metric stream. Values quantize to cents and the ONLY sums
    are the two exact integer sums Σx and Σx² (no float summation, so
    no order divergence); mean/σ/gate then derive from those two
    integers through IDENTICAL scalar IEEE expression trees in both
    engines — deterministic because every input is the same exact
    integer and scalar double ops are bit-reproducible (the
    exact-integer convention's 'one or two IEEE ops' clause; what it
    forbids is float SUMS and divergent algorithms like round()).
    The double form is deliberate: the earlier all-integer gate
    squared n-scaled sums, which overflows int64 at ~2·10⁵ rows of
    $10⁴ values — confirmed ARITHMETIC_OVERFLOW under ANSI mode —
    while s1/s2 themselves stay in-range to ~10¹² rows of $10⁴ values.
    Emitted per type: n, exact mean in cents, σ in 10⁻⁴ ticks, and
    the |x−μ| > 3σ outlier count. Two aggregations, one shuffle on
    event_type."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("c"))
    stats = (ev.groupBy("event_type")
             .agg(F.count("*").alias("n"),
                  F.sum("c").alias("s1"),
                  F.sum(F.col("c") * F.col("c")).alias("s2")))
    # identical double expression text in both engines (see oracle)
    sigma = ("sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
             " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
             " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 0.0))")
    gate = (f"abs(CAST(c AS DOUBLE)"
            f" - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) > 3.0 * {sigma}")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(F.max("n").alias("n"),
             F.expr("CAST((2 * max(s1) + max(n)) DIV (2 * max(n))"
                    " AS BIGINT)").alias("mean_c"),
             F.expr(f"CAST(floor(max({sigma}) * 10000) AS BIGINT)")
             .alias("sigma_tick_e4"),
             F.sum(F.expr(f"CASE WHEN {gate} THEN 1 ELSE 0 END"))
             .alias("n_outliers")))


SQL_EVENTS_VALUE_ZSCORES = """
WITH ev AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
), stats AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM ev GROUP BY 1
)
SELECT ev.event_type,
       CAST(max(stats.n) AS BIGINT) AS n,
       CAST((2 * max(s1) + max(stats.n)) // (2 * max(stats.n))
            AS BIGINT) AS mean_c,
       CAST(floor(max(sqrt(greatest(CAST(s2 AS DOUBLE)
                / CAST(stats.n AS DOUBLE)
                - (CAST(s1 AS DOUBLE) / CAST(stats.n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(stats.n AS DOUBLE)), 0.0)))
            * 10000) AS BIGINT) AS sigma_tick_e4,
       CAST(sum(CASE WHEN abs(CAST(ev.c AS DOUBLE)
                - CAST(s1 AS DOUBLE) / CAST(stats.n AS DOUBLE))
                > 3.0 * sqrt(greatest(CAST(s2 AS DOUBLE)
                  / CAST(stats.n AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(stats.n AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(stats.n AS DOUBLE)), 0.0))
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM ev JOIN stats USING (event_type)
GROUP BY 1
"""


_TOPK_K = 20


def q_terms_topk_approx(spark, sf_dir):
    """Heavy-hitter terms via Spark 4's ``approx_top_k`` sketch — the
    sketch op under the verified-bound oracle convention
    (as lineitem_quantiles_approx): the
    sketch's own output can't cross engines (tie choices and tracked-
    item eviction are implementation details), so the recorded row is
    the VERIFICATION — every returned term's EXACT count must reach
    the true K-th-largest count (the top-K band; ties make membership
    interchangeable but the band boundary is unique). Emitted: K, how
    many returned terms verify into the band, and the exact band
    threshold — three integers the oracle derives from exact counts
    alone. maxItemsTracked is set far above the corpus vocabulary so
    tracked counts are exact; at a 10⁹-term vocabulary the same
    verification works with the sketch's error bound widened into the
    band check. Scale: the sketch aggregate is fixed-size mergeable
    (map-side partials); the verification joins K rows against the
    exact count table."""
    words = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.expr(
            "regexp_extract_all(text, '([A-Za-z]+)', 1)")).alias("w"))
        .select(F.lower("w").alias("w"))
        .filter(F.length("w") >= 3))
    apx = (words.agg(F.expr(
        f"approx_top_k(w, {_TOPK_K}, 100000)").alias("top"))
        .select(F.explode("top").alias("e"))
        .select(F.col("e.item").alias("w")))
    exact = words.groupBy("w").agg(F.count("*").alias("cnt"))
    kth = (exact.select(F.col("cnt").alias("kth_cnt"))
           .orderBy(F.desc("kth_cnt")).limit(_TOPK_K)
           .agg(F.min("kth_cnt").alias("kth_cnt")))
    return (
        apx.join(exact, "w")
        .crossJoin(F.broadcast(kth))
        .agg(F.count("*").alias("k_returned"),
             F.sum(F.when(F.col("cnt") >= F.col("kth_cnt"), 1)
                   .otherwise(0)).alias("k_in_band"),
             F.max("kth_cnt").alias("band_threshold")))


SQL_TERMS_TOPK_APPROX = f"""
WITH words AS (
  SELECT lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS w
  FROM documents
), filtered AS (
  SELECT w FROM words WHERE length(w) >= 3
), exact AS (
  SELECT w, count(*) AS cnt FROM filtered GROUP BY 1
), kth AS (
  SELECT min(cnt) AS kth_cnt
  FROM (SELECT cnt FROM exact ORDER BY cnt DESC LIMIT {_TOPK_K})
)
-- least() guard: a vocabulary smaller than K returns (and verifies)
-- every term, not K of them
SELECT CAST(least({_TOPK_K}, (SELECT count(*) FROM exact))
            AS BIGINT) AS k_returned,
       CAST(least({_TOPK_K}, (SELECT count(*) FROM exact))
            AS BIGINT) AS k_in_band,
       CAST(kth.kth_cnt AS BIGINT) AS band_threshold
FROM kth
"""


def q_customer_lateral_top2(spark, sf_dir):
    """LATERAL correlated subquery — the join shape where the inner
    query's ORDER BY/LIMIT runs PER OUTER ROW (each customer's top-2
    orders by value), which a plain join cannot express and which
    completes the correlated-subquery family next to the scalar and
    decorrelated EXISTS forms. Spark decorrelates the lateral into a
    ranked window join under the hood, so the per-row LIMIT does NOT
    become a per-row query at scale. Prices in exact cents; customers decimated
    modulo 59 to bound the record (the predicate pushes into the
    customer scan). SQL-first op (spark.sql over parquet.`path`), like
    orders_grouping_sets."""
    return spark.sql(f"""
      SELECT c.c_custkey, t.o_orderkey, t.price_c
      FROM parquet.`{sf_dir}/customer.parquet` c,
      LATERAL (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
        FROM parquet.`{sf_dir}/orders.parquet` o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY price_c DESC, o_orderkey LIMIT 2
      ) t
      WHERE c.c_custkey % 59 = 0
    """)


SQL_CUSTOMER_LATERAL_TOP2 = """
SELECT c.c_custkey, t.o_orderkey, t.price_c
FROM customer c,
LATERAL (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY price_c DESC, o_orderkey LIMIT 2
) t
WHERE c.c_custkey % 59 = 0
"""


def q_events_window_distinct(spark, sf_dir):
    """Running COUNT(DISTINCT) over a window — the cumulative-audience
    curve ("unique users seen so far per event type"). Spark has no
    DISTINCT window aggregate, so the portable formulation is
    ``size(collect_set(user_id))`` over a ROWS frame; DuckDB's native
    ``count(DISTINCT …) OVER`` is the oracle, so the hash certifies the
    two formulations agree row-for-row. Order key is (ts, event_id) —
    event_id breaks timestamp ties so the running set is deterministic
    — and the frame is ROWS (RANGE would merge tied timestamps and the
    engines could disagree on peer handling). One shuffle on
    event_type; the per-partition state is one hash set per type, which
    at 100 TB is bounded by |distinct users|, not |rows| — for
    larger-than-memory audiences use approx_count_distinct.
    Output decimated to event_id % 7 AFTER
    the window (the curve itself must see every row)."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("event_type").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (ev.select(
                "event_type", "event_id",
                F.size(F.collect_set("user_id").over(w))
                .cast("bigint").alias("distinct_users_so_far"))
            .where(F.col("event_id") % 7 == 0))


SQL_EVENTS_WINDOW_DISTINCT = """
SELECT * FROM (
  SELECT event_type, event_id,
         count(DISTINCT user_id) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS distinct_users_so_far
  FROM events
) WHERE event_id % 7 = 0
"""


#: deterministic 80/10/10 split assignment — a pure function of doc_id
#: (md5 tick mod 100), shared by the dataset_split op and curate_job's
#: --split output partitioning
def split_expr_for(col: str) -> str:
    """The 80/10/10 md5-tick split keyed on an arbitrary id column.
    Document-level exports key on doc_id (``SPLIT_EXPR``); conversation-
    level (SFT) exports key on conv_id so a conversation can never
    straddle train/val — the session-level leakage the
    transcript_cross_conv_echo op audits for CONTENT is at least never
    introduced structurally."""
    tick = (f"CAST(conv(substr(md5(CAST({col} AS STRING)), 1, 8),"
            f" 16, 10) AS BIGINT) % 100")
    return (f"CASE WHEN {tick} < 80 THEN 'train'"
            f" WHEN {tick} < 90 THEN 'val' ELSE 'test' END")


_SPLIT_TICK = ("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8),"
               " 16, 10) AS BIGINT) % 100")
SPLIT_EXPR = split_expr_for("doc_id")
assert SPLIT_EXPR == (
    f"CASE WHEN {_SPLIT_TICK} < 80 THEN 'train'"
    f" WHEN {_SPLIT_TICK} < 90 THEN 'val' ELSE 'test' END")


def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test split — the assignment every
    training pipeline needs to be REPRODUCIBLE and JOIN-FREE: split
    membership is a pure function of doc_id (md5 tick mod 100 →
    80/10/10), so any later stage (or a rerun on a different cluster
    shape) re-derives it without a membership table or a shuffle.
    The tick is the numeric-hex convention: Spark
    ``conv(substr(md5,1,8),16,10)``, DuckDB ``CAST('0x'||… AS BIGINT)``
    — identical 32-bit integer in both engines. Aggregated per
    (source, split) with doc + char counts so the record certifies the
    split proportions AND that they hold per-source (hash-uniformity),
    not just globally. Single shuffle on the group key. curate_job
    ships the same expression as its --split output stage."""
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy(F.col("source"), F.expr(SPLIT_EXPR).alias("split"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars")))


SQL_DATASET_SPLIT = """
WITH ticked AS (
  SELECT source, n_chars,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 100 AS tick
  FROM documents
)
SELECT source,
       CASE WHEN tick < 80 THEN 'train'
            WHEN tick < 90 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM ticked GROUP BY 1, 2
"""


def q_events_scd2_intervals(spark, sf_dir):
    """Slowly-changing-dimension (type 2) interval construction — turn
    an event stream into validity intervals [valid_from, valid_to) per
    user, opening a new interval whenever the user's value band (cents
    DIV 2000) changes. The CDC/state-history shape: two windows over
    the SAME (user_id → ts, event_id) ordering — lag() to find band
    changes, then lead() over the change rows for the closing edge —
    so Catalyst plans ONE Exchange and both Window operators share it
    (the second window's partitioning is satisfied by the first's).
    Open intervals close at -1, not NULL (portable: no NULL-ordering
    semantics in the compare). Timestamps travel as unix seconds
    (Spark unix_timestamp ≡ DuckDB floor(epoch()) — exact integers;
    unix_millis rejects the parquet TIMESTAMP_NTZ column). Users
    decimated mod 13 at the SCAN (predicate pushdown), which is valid
    because every window partitions by user_id."""
    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id") % 13 == 0)
          .select("user_id", "event_id",
                  F.unix_timestamp("ts").alias("s"),
                  F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"
                         " DIV 2000").alias("band")))
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    changes = (ev.withColumn("prev_band", F.lag("band").over(w))
               .where(F.col("prev_band").isNull()
                      | (F.col("prev_band") != F.col("band"))))
    return (changes.select(
        "user_id", "band", F.col("s").alias("valid_from_s"),
        F.coalesce(F.lead("s").over(w), F.lit(-1).cast("bigint"))
        .alias("valid_to_s")))


SQL_EVENTS_SCD2_INTERVALS = """
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(value * 100 + 0.5) AS BIGINT) // 2000 AS band
  FROM events WHERE user_id % 13 = 0
), changes AS (
  SELECT * FROM (
    SELECT user_id, event_id, s, band,
           lag(band) OVER (PARTITION BY user_id ORDER BY s, event_id)
             AS prev_band
    FROM ev
  ) WHERE prev_band IS NULL OR prev_band <> band
)
SELECT user_id, band, s AS valid_from_s,
       coalesce(lead(s) OVER (PARTITION BY user_id ORDER BY s, event_id),
                -1) AS valid_to_s
FROM changes
"""


def q_events_time_weighted(spark, sf_dir):
    """Time-weighted value aggregation — the metering/billing shape
    where a value holds until the next observation, so its weight is
    the interval length, not 1. Per user (decimated mod 11 at the
    scan): each event contributes value_cents × Δt_seconds to the
    weighted sum, where Δt = seconds to the user's next event (last
    event contributes nothing — half-open intervals). All arithmetic
    exact bigint: cents ≤10⁶, Δt_seconds ≤10⁷ ⇒ per-row product ≤10¹³,
    safe to ~10⁵ rows/user under ANSI; the TWA itself is left to the
    consumer as wsum/tsum (no float division crosses the oracle).
    Seconds via unix_timestamp ≡ DuckDB floor(epoch()) (exact integer
    seconds; positive epochs, so floor/truncate agree). One Exchange:
    the lead() window and the groupBy share the user_id hash
    partitioning."""
    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id") % 11 == 0)
          .select("user_id", "event_id",
                  F.unix_timestamp("ts").alias("s"),
                  F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
                  .alias("c")))
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    return (ev.withColumn("dt", F.lead("s").over(w) - F.col("s"))
            .where(F.col("dt").isNotNull())
            .groupBy("user_id")
            .agg(F.count("*").alias("n_intervals"),
                 F.sum(F.col("c") * F.col("dt")).alias("wsum"),
                 F.sum("dt").alias("tsum")))


SQL_EVENTS_TIME_WEIGHTED = """
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE user_id % 11 = 0
), spans AS (
  SELECT user_id, c,
         lead(s) OVER (PARTITION BY user_id ORDER BY s, event_id) - s AS dt
  FROM ev
)
SELECT user_id, count(*) AS n_intervals,
       CAST(sum(c * dt) AS BIGINT) AS wsum,
       CAST(sum(dt) AS BIGINT) AS tsum
FROM spans WHERE dt IS NOT NULL
GROUP BY 1
"""


def q_events_bitmap_distinct(spark, sf_dir):
    """Exact distinct-count via bitmap words — the roaring-bitmap trick
    in pure SQL: user_ids pack into 62-bit words (word = id DIV 62,
    bit = id % 62; 62 not 64 because bit 63 overflows a signed shift in
    DuckDB and bit 62 is the sign bit — staying below both keeps every
    word positive and portable), bit_or folds each word's members, and
    Σ bit_count(word) is the EXACT distinct count. Why it matters at
    100 TB: the inner (type, word) aggregate is map-side combinable and
    its output is bounded by |id-space|/62 rows per type — unlike
    count(DISTINCT) which shuffles every distinct value — and bitmap
    words persist/merge incrementally (the materialized-rollup story).
    n_words rides along so the record also certifies the packing
    density. A pytest cross-checks against plain count(DISTINCT)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("user_id DIV 62").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))")
        .alias("bit"))
    words = (ev.groupBy("event_type", "word")
             .agg(F.expr("bit_or(bit)").alias("bits")))
    return (words.groupBy("event_type")
            .agg(F.count("*").alias("n_words"),
                 F.expr("CAST(sum(bit_count(bits)) AS BIGINT)")
                 .alias("n_distinct")))


SQL_EVENTS_BITMAP_DISTINCT = """
WITH words AS (
  SELECT event_type, user_id // 62 AS word,
         bit_or(1::BIGINT << CAST(user_id % 62 AS INT)) AS bits
  FROM events GROUP BY 1, 2
)
SELECT event_type, count(*) AS n_words,
       CAST(sum(bit_count(bits)) AS BIGINT) AS n_distinct
FROM words GROUP BY 1
"""


def q_events_type_sequence(spark, sf_dir):
    """Per-user event-type PATH — the clickstream-mining shape where
    the ordered sequence itself is the feature (funnel detection,
    Markov-path clustering, sequence-embedding input). Spark builds it
    as array_join(transform(array_sort(collect_list(struct(s, id,
    type))))) — sort INSIDE the aggregate, so no window pass and ONE
    shuffle; DuckDB's native ordered string_agg is the oracle, which
    certifies the struct-sort path assembly byte-for-byte. The tie key
    (epoch seconds, event_id) makes the path deterministic. A LIKE
    funnel flag (view…click…purchase in order) rides along — ordered
    containment is exactly what the path string makes O(len) that the
    raw rows cannot answer without a 3-way self-join. Users decimated
    mod 3 at the scan."""
    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id") % 3 == 0)
          .select("user_id",
                  F.unix_timestamp("ts").alias("s"),
                  "event_id", "event_type"))
    return (ev.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.expr(
                     "array_join(transform(array_sort(collect_list("
                     "struct(s, event_id, event_type))), "
                     "x -> x.event_type), '>')").alias("path"))
            .withColumn(
                "hit_funnel",
                F.expr("CAST(path LIKE '%view%click%purchase%'"
                       " AS INT)")))


SQL_EVENTS_TYPE_SEQUENCE = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s, event_id,
         event_type
  FROM events WHERE user_id % 3 = 0
)
SELECT user_id, count(*) AS n_events,
       string_agg(event_type, '>' ORDER BY s, event_id) AS path,
       CAST(string_agg(event_type, '>' ORDER BY s, event_id)
            LIKE '%view%click%purchase%' AS INT) AS hit_funnel
FROM ev GROUP BY 1
"""


def q_source_lang_entropy(spark, sf_dir):
    """Language-mix entropy per source — the corpus-composition health
    signal (a source whose lang distribution collapses to one language
    or fragments into noise shows up as an entropy shift). Shannon
    entropy needs log₂ of counts, which is float — so each term is
    FROZEN per the sqrt-freeze convention: flog(x) = floor(log₂(x)·
    1000) is one IEEE log + one multiply + floor on an exact integer
    (bit-portable), and H_millibits = n·flog(n) − Σ cᵢ·flog(cᵢ) is then
    exact bigint arithmetic — order-independent, no float sums. That is
    n·H in millibits up to the freezing error; h_mb_per_doc = DIV n
    normalizes. Two bounded aggregations: (source, lang) counts, then
    per-source fold — both map-side combinable, output bounded by
    |sources|×|langs|."""
    flog = ("CAST(floor(log2(CAST({x} AS DOUBLE)) * 1000) AS BIGINT)")
    by_lang = (_t(spark, sf_dir, "documents")
               .groupBy("source", "lang").agg(F.count("*").alias("c")))
    return (by_lang.groupBy("source")
            .agg(F.sum("c").alias("n_docs"),
                 F.count("*").alias("n_langs"),
                 F.expr(f"sum(c * {flog.format(x='c')})").alias("sum_cf"))
            .select(
                "source", "n_docs", "n_langs",
                F.expr(f"n_docs * {flog.format(x='n_docs')} - sum_cf")
                .alias("h_millibits_total"))
            .withColumn("h_mb_per_doc",
                        F.expr("h_millibits_total DIV n_docs")))


SQL_SOURCE_LANG_ENTROPY = """
WITH by_lang AS (
  SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2
), folded AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
         count(*) AS n_langs,
         CAST(sum(c * CAST(floor(log2(CAST(c AS DOUBLE)) * 1000)
                           AS BIGINT)) AS BIGINT) AS sum_cf
  FROM by_lang GROUP BY 1
)
SELECT source, n_docs, n_langs,
       n_docs * CAST(floor(log2(CAST(n_docs AS DOUBLE)) * 1000)
                     AS BIGINT) - sum_cf AS h_millibits_total,
       (n_docs * CAST(floor(log2(CAST(n_docs AS DOUBLE)) * 1000)
                      AS BIGINT) - sum_cf) // n_docs AS h_mb_per_doc
FROM folded
"""


def q_dedup_shingle_novelty(spark, sf_dir):
    """Per-document novelty against the whole corpus — the
    incremental-crawl signal ("how much of this doc has the corpus
    never seen?"): a doc's 8-gram shingle is NOVEL iff the globally
    first document containing it (min doc_id — the deterministic
    arrival order) is this doc. Two shuffles: distinct (doc, shingle)
    pairs, then a per-shingle min-doc aggregate joined back on the
    shingle — the same bucket-by-content strategy as the dedup family,
    never all-pairs. Novelty in basis points via rounded integer
    division. Output decimated to doc_id % 7 AFTER the global
    aggregation (every doc must contribute its shingles to min-doc)."""
    toks = (_t(spark, sf_dir, "documents")
            .select("doc_id",
                    F.expr("split(lower(text), '[^a-z0-9]+')").alias("w"))
            # sequence(0, n) DESCENDS when n < 0 — guard out short docs
            # (DuckDB's range() is empty there, so the engines agree)
            .where(F.expr("size(w) >= 8")))
    sh = (toks.select(
        "doc_id",
        F.explode(F.expr(
            "filter(transform(sequence(0, size(w) - 8), "
            "i -> array_join(slice(w, i + 1, 8), ' ')), "
            "x -> length(x) >= 16)")).alias("shingle"))
        .distinct())
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (sh.join(first, "shingle")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_shingles"),
                    F.sum(F.expr(
                        "CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END"))
                    .alias("n_novel")))
    return (per_doc.where(F.col("doc_id") % 7 == 0)
            .withColumn("novel_bp",
                        F.expr("CAST((2 * n_novel * 10000 + n_shingles)"
                               " DIV (2 * n_shingles) AS BIGINT)")))


SQL_DEDUP_SHINGLE_NOVELTY = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           array_to_string(w[i + 1:i + 8], ' ') AS shingle
    FROM toks, UNNEST(range(0, len(w) - 7)) AS t(i)
  ) WHERE length(shingle) >= 16
), first AS (
  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1
), per_doc AS (
  SELECT sh.doc_id, count(*) AS n_shingles,
         CAST(sum(CASE WHEN first.first_doc = sh.doc_id
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM sh JOIN first USING (shingle)
  GROUP BY 1
)
SELECT doc_id, n_shingles, n_novel,
       CAST((2 * n_novel * 10000 + n_shingles) // (2 * n_shingles)
            AS BIGINT) AS novel_bp
FROM per_doc WHERE doc_id % 7 = 0
"""


def q_events_locf(spark, sf_dir):
    """Last-observation-carried-forward gap fill — the sensor/state
    back-fill shape (reference scope: none; standard feature-pipeline
    tooling). Only ``purchase`` events carry a reading (value in
    cents); every other event's reading is NULL and inherits the
    user's most recent purchase amount via ``last(..., ignorenulls)``
    over an unbounded-preceding row frame. Leading NULLs (users whose
    history starts before any purchase) close at -1, not NULL — the
    portable convention (no NULL-ordering semantics in the compare).

    Scale: ONE Exchange on user_id; the fill is a single Window pass
    with a running ``last`` — no self-join, no grid materialization.
    The output decimation (event_id % 5) happens AFTER the window
    (the fill needs every row) but the projection is pruned to four
    columns at the scan. DuckDB twin: ``last_value(x IGNORE NULLS)``
    with an explicit ROWS frame."""
    ev = (_t(spark, sf_dir, "events")
          .select("user_id", "event_id",
                  F.unix_timestamp("ts").alias("s"),
                  F.when(F.col("event_type") == "purchase",
                         F.expr("CAST(floor(value * 100 + 0.5)"
                                " AS BIGINT)")).alias("reading")))
    w = (Window.partitionBy("user_id").orderBy("s", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (ev.withColumn(
                "filled",
                F.coalesce(F.last("reading", ignorenulls=True).over(w),
                           F.lit(-1).cast("bigint")))
            .where(F.col("event_id") % 5 == 0)
            .select("user_id", "event_id", "s", "filled"))


SQL_EVENTS_LOCF = """
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CASE WHEN event_type = 'purchase'
              THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END AS reading
  FROM events
)
SELECT user_id, event_id, s,
       coalesce(last_value(reading IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY s, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                -1) AS filled
FROM ev QUALIFY event_id % 5 = 0
"""


def q_events_interval_merge(spark, sf_dir):
    """Interval union / coverage merge — each event opens a 300-second
    activity interval [s, s+300); overlapping intervals per user merge
    into maximal islands (the uptime-coverage / meeting-room shape;
    reference scope: none). Classic running-max formulation: an
    interval starts a NEW island exactly when its start exceeds the
    max end among all PRECEDING intervals (rows 1-preceding frame);
    a running sum of those flags numbers the islands; one groupBy
    collapses them to (start, end, n_events, span_s).

    Scale: both Window passes and the final aggregate share ONE
    user_id Exchange (same partitioning, Catalyst plans one shuffle).
    No self-join, no explode — O(n) per user regardless of interval
    overlap depth, which is the plan that survives hot users with
    thousands of overlapping intervals."""
    ev = (_t(spark, sf_dir, "events")
          .select("user_id", "event_id",
                  F.unix_timestamp("ts").alias("s"))
          .withColumn("e", F.col("s") + 300))
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = (w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = ev.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(F.max("e").over(prev_max),
                                       F.lit(-1).cast("bigint")), 1)
        .otherwise(0))
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return (islands.groupBy("user_id", "island")
            .agg(F.min("s").alias("start_s"),
                 F.max("e").alias("end_s"),
                 F.count("*").alias("n_events"))
            .withColumn("span_s", F.col("end_s") - F.col("start_s")))


SQL_EVENTS_INTERVAL_MERGE = """
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
  FROM events
), flagged AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (
                  PARTITION BY user_id ORDER BY s, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM ev
), islands AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (
           PARTITION BY user_id ORDER BY s, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT user_id, CAST(island AS BIGINT) AS island,
       min(s) AS start_s, max(e) AS end_s, count(*) AS n_events,
       max(e) - min(s) AS span_s
FROM islands GROUP BY 1, 2
"""


def q_events_resample_daily(spark, sf_dir):
    """Resample an irregular event stream onto a regular daily grid
    with forward fill — the feature-store / time-series-alignment
    shape (reference scope: none). Per user: (1) daily last value in
    cents (row_number DESC within (user, day)); (2) a dense day grid
    from the user's first to last active day via ``sequence`` +
    explode; (3) left join the daily values onto the grid and LOCF
    the holes. Days travel as integer epoch-days (s DIV 86400) so the
    grid is pure bigint arithmetic in both engines.

    Scale: the explode is bounded by the DATE RANGE per user, not the
    event count — a user with 10^6 events over 90 days grids to 90
    rows. Daily-last, grid, join, and fill all key on user_id, so AQE
    coalesces them onto one partitioning; the grid side is built from
    a per-user min/max aggregate (tiny) and the join is an equi-join
    on (user_id, day). Users decimated mod 3 at the scan (pushed)."""
    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id") % 3 == 0)
          .select("user_id", "event_id",
                  F.unix_timestamp("ts").alias("s"),
                  F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
                  .alias("cents"))
          .withColumn("day", F.expr("s DIV 86400")))
    wd = Window.partitionBy("user_id", "day").orderBy(
        F.desc("s"), F.desc("event_id"))
    daily = (ev.withColumn("rn", F.row_number().over(wd))
             .where(F.col("rn") == 1)
             .select("user_id", "day", F.col("cents").alias("day_last")))
    grid = (ev.groupBy("user_id")
            .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
            .select("user_id",
                    F.explode(F.sequence("d0", "d1")).alias("day")))
    wf = (Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (grid.join(daily, ["user_id", "day"], "left")
            .withColumn("filled",
                        F.last("day_last", ignorenulls=True).over(wf))
            .select("user_id", "day", "filled",
                    F.when(F.col("day_last").isNotNull(), 1)
                    .otherwise(0).alias("observed")))


SQL_EVENTS_RESAMPLE_DAILY = """
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events WHERE user_id % 3 = 0
), daily AS (
  SELECT user_id, day, cents AS day_last FROM (
    SELECT user_id, day, cents,
           row_number() OVER (PARTITION BY user_id, day
                              ORDER BY s DESC, event_id DESC) AS rn
    FROM ev
  ) WHERE rn = 1
), grid AS (
  SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
  FROM ev GROUP BY user_id
)
SELECT g.user_id, g.day,
       last_value(d.day_last IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
       CASE WHEN d.day_last IS NOT NULL THEN 1 ELSE 0 END AS observed
FROM grid g LEFT JOIN daily d
  ON g.user_id = d.user_id AND g.day = d.day
"""


def q_terms_freq_of_freqs(spark, sf_dir):
    """Frequency-of-frequencies table — the Good–Turing smoothing
    input (how many terms occur exactly r times) and the vocabulary
    health check every tokenizer-training run starts with (reference
    scope: none; standard corpus tooling). Tokenization is the BPE
    convention: ASCII letter runs, lowered, length ≥ 2 — the
    locale-safe alphabet both engines lower identically.

    Scale: explode → term-count agg → count-histogram agg. Both
    shuffles key on bounded-vocabulary values with map-side partial
    aggregation; the second aggregate's key space is the number of
    DISTINCT frequencies (≤ a few thousand at any corpus size — Zipf
    collapses the tail into r=1,2,3…), so the output never needs a
    cap. singleton share (n_1/N) is the Good–Turing unseen-mass
    estimate; left as exact integers for the caller."""
    docs = _t(spark, sf_dir, "documents")
    words = (docs.select(F.explode(F.expr(
        "regexp_extract_all(text, '([A-Za-z]+)', 1)")).alias("w"))
        .select(F.lower("w").alias("w"))
        .filter(F.length("w") >= 2))
    tf = words.groupBy("w").agg(F.count("*").alias("r"))
    return (tf.groupBy("r").agg(F.count("*").alias("n_terms"))
            .select(F.col("r").alias("freq"), "n_terms"))


SQL_TERMS_FREQ_OF_FREQS = """
WITH words AS (
  SELECT lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS w
  FROM documents
), tf AS (
  SELECT w, count(*) AS r FROM words WHERE length(w) >= 2 GROUP BY 1
)
SELECT r AS freq, count(*) AS n_terms FROM tf GROUP BY 1
"""


_VOCAB_CHECKPOINTS = [16, 64, 256, 1024, 4096, 16384, 65536]


def q_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth curve — distinct vocabulary after
    the first N documents, at geometric checkpoints (reference scope:
    none; the dedup/quality diagnostic that tells you whether a crawl
    is still finding new language or re-crawling itself). "First N
    docs" is the deterministic doc_id order, so the curve is a pure
    function of the corpus, not of partitioning.

    Scale: per-term min(doc_id) is ONE map-side-combinable aggregate
    over the exploded terms; the checkpoint fan-out then explodes a
    7-element literal array per DISTINCT term (vocabulary-bounded,
    not corpus-bounded) and re-aggregates on the 7 checkpoint keys.
    The doc-count side is a 7-row aggregate joined back broadcast.
    Checkpoints past the corpus end report the full-corpus value —
    they are kept (not filtered) so the output schema is stable
    across SFs."""
    docs = _t(spark, sf_dir, "documents")
    cps = F.array([F.lit(n) for n in _VOCAB_CHECKPOINTS])
    words = (docs.select("doc_id", F.explode(F.expr(
        "regexp_extract_all(text, '([A-Za-z]+)', 1)")).alias("w"))
        .select("doc_id", F.lower("w").alias("w"))
        .filter(F.length("w") >= 2))
    first = words.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    vocab = (first.select(F.explode(cps).alias("cp"), "first_doc")
             .where(F.col("first_doc") < F.col("cp"))
             .groupBy("cp").agg(F.count("*").alias("vocab")))
    ndocs = (docs.select(F.explode(cps).alias("cp"), "doc_id")
             .where(F.col("doc_id") < F.col("cp"))
             .groupBy("cp").agg(F.count("*").alias("n_docs")))
    return (ndocs.join(vocab, "cp", "left")
            .select("cp", "n_docs",
                    F.coalesce("vocab", F.lit(0).cast("bigint"))
                    .alias("vocab"))
            .where(F.col("n_docs") > 0))


SQL_VOCAB_GROWTH = """
WITH cps AS (
  SELECT unnest([16, 64, 256, 1024, 4096, 16384, 65536]) AS cp
), words AS (
  SELECT doc_id, lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS w
  FROM documents
), first AS (
  SELECT w, min(doc_id) AS first_doc FROM words
  WHERE length(w) >= 2 GROUP BY 1
), vocab AS (
  SELECT cp, count(*) AS vocab FROM first JOIN cps ON first_doc < cp
  GROUP BY 1
), ndocs AS (
  SELECT cp, count(*) AS n_docs FROM documents JOIN cps ON doc_id < cp
  GROUP BY 1
)
SELECT n.cp, n.n_docs, coalesce(v.vocab, 0) AS vocab
FROM ndocs n LEFT JOIN vocab v USING (cp) WHERE n.n_docs > 0
"""


def q_docs_stable_ids(spark, sf_dir):
    """Dense contiguous id assignment over a total order — the
    shard-and-sort-free formulation of ROW_NUMBER() OVER (ORDER BY …)
    (reference scope: none; every training run needs stable example
    ids). A naive global row_number funnels the whole table through
    ONE partition; this op instead (1) bands rows by the sort prefix
    (n_chars DIV 64 — bounded key space), (2) aggregates per-band
    counts (tiny), (3) computes band offsets with a window over the
    BAND TABLE (thousands of rows, the only single-partition step),
    (4) broadcast-joins offsets back and row_numbers WITHIN each band
    in parallel. id = band_offset + local_rank. At 10^12 rows the
    heavy data only ever sorts within bands; the single-partition
    piece is the band directory, not the corpus.

    Oracle: the plain global ROW_NUMBER — certifying the banded
    decomposition reproduces the exact total order
    (n_chars DESC, doc_id ASC)."""
    docs = (_t_wide(spark, sf_dir, "documents")
            .select("doc_id", "n_chars")
            .withColumn("band", F.expr("n_chars DIV 64")))
    band_counts = docs.groupBy("band").agg(F.count("*").alias("n"))
    w_bands = (Window.orderBy(F.desc("band"))
               .rowsBetween(Window.unboundedPreceding, -1))
    offsets = band_counts.withColumn(
        "offset", F.coalesce(F.sum("n").over(w_bands),
                             F.lit(0).cast("bigint")))
    w_in_band = Window.partitionBy("band").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    return (docs.join(F.broadcast(offsets.select("band", "offset")),
                      "band")
            .withColumn("stable_id",
                        F.col("offset") + F.row_number().over(w_in_band))
            .select("doc_id", "n_chars", "stable_id"))


SQL_DOCS_STABLE_IDS = """
SELECT doc_id, n_chars,
       row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS stable_id
FROM documents
"""


def q_events_rolling_median(spark, sf_dir):
    """Exact rolling median over a trailing 11-row frame — the robust
    smoother percentile_approx can't give you per-row (reference
    scope: none). The frame's values are collected, sorted, and the
    lower-middle element taken: element_at(sorted, (n+1) DIV 2) —
    integer-exact for even frames too (no averaging, no floats
    crossing the oracle). The collected array is bounded at 11
    elements BY THE FRAME, so this is O(k log k) per row with zero
    spill risk — the safe shape for windowed order statistics, where
    an unbounded collect_list would not be.

    Scale: ONE user_id Exchange; the output decimation (event_id % 3)
    is post-window (the frame needs every row). Users decimated
    mod 5 at the scan (pushed — valid because the window partitions
    by user)."""
    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id") % 5 == 0)
          .select("user_id", "event_id",
                  F.unix_timestamp("ts").alias("s"),
                  F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
                  .alias("cents")))
    w = (Window.partitionBy("user_id").orderBy("s", "event_id")
         .rowsBetween(-10, Window.currentRow))
    return (ev.withColumn("frame", F.collect_list("cents").over(w))
            .withColumn("frame", F.array_sort("frame"))
            .withColumn(
                "roll_median",
                F.expr("element_at(frame,"
                       " CAST((size(frame) + 1) DIV 2 AS INT))"))
            .where(F.col("event_id") % 3 == 0)
            .select("user_id", "event_id", "s", "cents", "roll_median"))


SQL_EVENTS_ROLLING_MEDIAN = """
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE user_id % 5 = 0
), framed AS (
  SELECT user_id, event_id, s, cents,
         list_sort(list(cents) OVER (
           PARTITION BY user_id ORDER BY s, event_id
           ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)) AS frame
  FROM ev
)
SELECT user_id, event_id, s, cents,
       frame[(len(frame) + 1) // 2] AS roll_median
FROM framed WHERE event_id % 3 = 0
"""


_DISC_E4 = (
    "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))")


def q_tpch_top_supplier(spark, sf_dir):
    """TPC-H Q15 (top supplier): revenue per supplier over one quarter,
    return the supplier(s) whose revenue equals the global max — the
    scalar-max-over-an-aggregate shape (Q15's CREATE VIEW folded into
    a CTE). The per-supplier aggregate is computed ONCE and reused for
    both the max and the final filter (same subtree → AQE
    ReusedExchange, the deciles_approx precedent); the max itself is
    a broadcast one-row cross join, not a driver collect."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01")))
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum(F.expr(_DISC_E4)).alias("total_revenue_e4")))
    mx = rev.agg(F.max("total_revenue_e4").alias("mx"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue_e4 == mx.mx)
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_e4")
    )


SQL_TPCH_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                  * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
              AS BIGINT) AS total_revenue_e4
  FROM lineitem
  WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue_e4
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue_e4 = (SELECT max(total_revenue_e4) FROM rev)
"""


def q_tpch_large_orders(spark, sf_dir):
    """TPC-H Q18 (large-volume customer): orders whose total line
    quantity exceeds 250 units, with the customer attached. The
    HAVING-subquery-IN shape decorrelates to: aggregate lineitem on
    l_orderkey, filter, then join orders + broadcast customer — one
    shuffle on the fact key. Quantities are integral → bigint sums."""
    li = _t(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)"))
                .alias("sum_qty"))
           .filter(F.col("sum_qty") > 250))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
        .alias("o_totalprice_c"))
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice_c", "sum_qty")
    )


SQL_TPCH_LARGE_ORDERS = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_totalprice_c,
       sq.sum_qty
FROM (
  SELECT l_orderkey,
         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_qty
  FROM lineitem GROUP BY 1 HAVING sum_qty > 250
) sq
JOIN orders ON sq.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_tpch_disjunctive_join(spark, sf_dir):
    """TPC-H Q19 (discounted revenue, disjunctive predicate): an
    OR-of-ANDs residual over three (brand, size range, quantity range)
    clauses on top of the partkey equi-join. The exercise: Catalyst
    must still extract l_partkey = p_partkey as the join key and keep
    the disjunction as a residual filter (a naive planner degrades to
    a cartesian). part is broadcast, so the whole query is one scan of
    lineitem with zero shuffles before the final scalar aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    clause = (
        "((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15"
        "  AND l_quantity BETWEEN 1 AND 11)"
        " OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25"
        "  AND l_quantity BETWEEN 10 AND 20)"
        " OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35"
        "  AND l_quantity BETWEEN 20 AND 30))")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(F.expr(clause))
        .agg(F.sum(F.expr(_DISC_E4)).alias("revenue_e4"),
             F.count("*").alias("n_lines"))
    )


SQL_TPCH_DISJUNCTIVE_JOIN = """
SELECT CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
            AS BIGINT) AS revenue_e4,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_tpch_sole_failure_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted:
    no commit/receipt dates in this corpus, so the "late" flag is
    l_returnflag = 'R'. For each supplier: count orders where (a) the
    supplier had a returned line, (b) EXISTS another supplier's line
    on the same order, and (c) NOT EXISTS a returned line from any
    other supplier. The double correlation maps to a left-semi then a
    left-anti join on (orderkey, ≠suppkey) — both shuffles share the
    l_orderkey partitioning, and AQE broadcasts the probe sides at
    small SF. Counted at (supplier, order) grain (DISTINCT before the
    count) so multi-line returns don't double-count."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey",
                                              "l_returnflag")
    l1 = (li.filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_suppkey").distinct())
    l2 = li.select(F.col("l_orderkey").alias("o2"),
                   F.col("l_suppkey").alias("s2")).distinct()
    l3 = (li.filter(F.col("l_returnflag") == "R")
          .select(F.col("l_orderkey").alias("o3"),
                  F.col("l_suppkey").alias("s3")).distinct())
    cand = l1.join(
        l2, (l1.l_orderkey == l2.o2) & (l1.l_suppkey != l2.s2), "left_semi")
    sole = cand.join(
        l3, (cand.l_orderkey == l3.o3) & (cand.l_suppkey != l3.s3),
        "left_anti")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_name", "numwait")
    )


SQL_TPCH_SOLE_FAILURE_SUPPLIERS = """
WITH pairs AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
), returned AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
  WHERE l_returnflag = 'R'
)
SELECT s_name, count(*) AS numwait
FROM returned l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM pairs l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM returned l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY 1
"""


def q_events_ks_drift(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov distance between the value
    distributions of 'click' and 'view' events — the drift test a
    training pipeline runs between data slices. Fully integer: values
    quantize to cents, the CDF gap at each distinct value is
    |c1·n2 − c2·n1| (common denominator n1·n2 never divides), and the
    statistic is its max with the smallest attaining value reported.
    Scale: one groupBy on value_c + one ordered cumsum window + the
    scalar max joined back by broadcast (same aggregate subtree →
    AQE ReusedExchange, the top_supplier precedent). The full-sort
    window is over DISTINCT values (bounded, ≪ event count)."""
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("click", "view"))
          .select(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
                  .alias("value_c"), "event_type"))
    per_v = (ev.groupBy("value_c")
             .agg(F.sum(F.expr(
                     "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"))
                  .alias("d1"),
                  F.sum(F.expr(
                     "CASE WHEN event_type = 'view' THEN 1 ELSE 0 END"))
                  .alias("d2")))
    w = Window.orderBy("value_c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cdf = (per_v
           .withColumn("c1", F.sum("d1").over(w))
           .withColumn("c2", F.sum("d2").over(w)))
    tot = cdf.agg(F.max("c1").alias("n1"), F.max("c2").alias("n2"))
    gaps = (cdf.crossJoin(F.broadcast(tot))
            .withColumn("gap", F.expr("abs(c1 * n2 - c2 * n1)")))
    mx = gaps.agg(F.max("gap").alias("ks_num"))
    return (
        gaps.join(F.broadcast(mx), gaps.gap == mx.ks_num)
        .groupBy("n1", "n2", "ks_num")
        .agg(F.min("value_c").alias("ks_at_value_c"))
        .select("n1", "n2", "ks_num", "ks_at_value_c")
    )


SQL_EVENTS_KS_DRIFT = """
WITH per_v AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_c,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS d1,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS d2
  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
), cdf AS (
  SELECT value_c,
         CAST(sum(d1) OVER (ORDER BY value_c
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
         CAST(sum(d2) OVER (ORDER BY value_c
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c2
  FROM per_v
), gaps AS (
  SELECT value_c, c1, c2,
         (SELECT max(c1) FROM cdf) AS n1,
         (SELECT max(c2) FROM cdf) AS n2,
         abs(c1 * (SELECT max(c2) FROM cdf)
             - c2 * (SELECT max(c1) FROM cdf)) AS gap
  FROM cdf
)
SELECT n1, n2, CAST(gap AS BIGINT) AS ks_num,
       CAST(min(value_c) AS BIGINT) AS ks_at_value_c
FROM gaps WHERE gap = (SELECT max(gap) FROM gaps)
GROUP BY 1, 2, 3
"""

def q_events_rank_sum(spark, sf_dir):
    """Exact Mann–Whitney U (Wilcoxon rank-sum) between 'click' and
    'view' event values — the nonparametric twin of events_ks_drift.
    Tie-averaged ranks stay integral by working in DOUBLED rank units:
    a tie group at value v with cb items before it contributes
    d_g · (2·cb + cnt + 1) to group g's doubled rank sum, so
    U2_g = R2_g − n_g·(n_g+1) is exact bigint. The identity
    U2_click + U2_view = 2·n1·n2 is emitted as a checked column.
    Scale: one groupBy on distinct values + one ordered cumsum window
    (distinct values ≪ events), then a single-row aggregate."""
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("click", "view"))
          .select(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
                  .alias("value_c"), "event_type"))
    per_v = (ev.groupBy("value_c")
             .agg(F.sum(F.expr(
                     "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"))
                  .alias("d1"),
                  F.sum(F.expr(
                     "CASE WHEN event_type = 'view' THEN 1 ELSE 0 END"))
                  .alias("d2")))
    w = (Window.orderBy("value_c")
         .rowsBetween(Window.unboundedPreceding, -1))
    ranked = (per_v
              .withColumn("cb", F.coalesce(
                  F.sum(F.expr("d1 + d2")).over(w), F.lit(0)))
              .withColumn("r2_1", F.expr("d1 * (2 * cb + d1 + d2 + 1)"))
              .withColumn("r2_2", F.expr("d2 * (2 * cb + d1 + d2 + 1)")))
    return (
        ranked.agg(F.sum("d1").alias("n1"), F.sum("d2").alias("n2"),
                   F.sum("r2_1").alias("rank2_click"),
                   F.sum("r2_2").alias("rank2_view"))
        .withColumn("u2_click", F.expr("rank2_click - n1 * (n1 + 1)"))
        .withColumn("u2_view", F.expr("rank2_view - n2 * (n2 + 1)"))
        .withColumn("identity_ok", F.expr(
            "CAST(u2_click + u2_view = 2 * n1 * n2 AS INT)"))
        .select("n1", "n2", "u2_click", "u2_view", "identity_ok")
    )


SQL_EVENTS_RANK_SUM = """
WITH per_v AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_c,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS d1,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS d2
  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
), ranked AS (
  SELECT d1, d2,
         coalesce(sum(d1 + d2) OVER (ORDER BY value_c
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM per_v
), tot AS (
  SELECT CAST(sum(d1) AS BIGINT) AS n1, CAST(sum(d2) AS BIGINT) AS n2,
         CAST(sum(d1 * (2 * cb + d1 + d2 + 1)) AS BIGINT) AS rank2_click,
         CAST(sum(d2 * (2 * cb + d1 + d2 + 1)) AS BIGINT) AS rank2_view
  FROM ranked
)
SELECT n1, n2,
       rank2_click - n1 * (n1 + 1) AS u2_click,
       rank2_view - n2 * (n2 + 1) AS u2_view,
       CAST((rank2_click - n1 * (n1 + 1)) + (rank2_view - n2 * (n2 + 1))
            = 2 * n1 * n2 AS INT) AS identity_ok
FROM tot
"""


def q_events_chi2_independence(spark, sf_dir):
    """Chi-square independence test: is event_type independent of the
    day-of-week? The weekday is portable arithmetic (days since a
    fixed Monday, mod 7 — no engine dow() convention involved). Each
    cell's term ((O·N − R·C)² / (N·R·C), scaled ×10⁶) is one
    IDENTICAL scalar double expression over exact integers, floored
    to bigint BEFORE the cross-cell sum (the module convention: what
    must never cross engines is a float SUM, not a deterministic
    per-row IEEE tree — squaring O·N in pure int64 would overflow
    under ANSI at ~10⁹ events, the r7 review lesson). Emits dof and
    the observed cell count alongside chi2_e6."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(datediff(ts, DATE '1970-01-05') % 7 AS INT)")
        .alias("wd"))
    cells = ev.groupBy("event_type", "wd").agg(F.count("*").alias("o"))
    rows = ev.groupBy("event_type").agg(F.count("*").alias("r"))
    cols = ev.groupBy("wd").agg(F.count("*").alias("c"))
    n = ev.agg(F.count("*").alias("n"))
    terms = (cells
             .join(F.broadcast(rows), "event_type")
             .join(F.broadcast(cols), "wd")
             .crossJoin(F.broadcast(n))
             .withColumn("term_e6", F.expr(
                 "CAST(floor(CAST(o * n - r * c AS DOUBLE)"
                 " * CAST(o * n - r * c AS DOUBLE)"
                 " / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE)"
                 "    * CAST(c AS DOUBLE)) * 1000000) AS BIGINT)")))
    return (
        terms.agg(
            F.sum("term_e6").alias("chi2_e6"),
            F.count("*").alias("n_cells"),
            F.expr("(count(DISTINCT event_type) - 1)"
                   " * (count(DISTINCT wd) - 1)").alias("dof"))
    )


SQL_EVENTS_CHI2_INDEPENDENCE = """
WITH ev AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1970-01-05', ts) % 7 AS INT) AS wd
  FROM events
), cells AS (
  SELECT event_type, wd, count(*) AS o FROM ev GROUP BY 1, 2
), rws AS (
  SELECT event_type, count(*) AS r FROM ev GROUP BY 1
), cls AS (
  SELECT wd, count(*) AS c FROM ev GROUP BY 1
), tot AS (
  SELECT count(*) AS n FROM ev
), terms AS (
  SELECT CAST(floor(CAST(o * n - r * c AS DOUBLE)
              * CAST(o * n - r * c AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE)
                 * CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS term_e6,
         event_type, wd
  FROM cells JOIN rws USING (event_type) JOIN cls USING (wd), tot
)
SELECT CAST(sum(term_e6) AS BIGINT) AS chi2_e6,
       count(*) AS n_cells,
       CAST((count(DISTINCT event_type) - 1)
            * (count(DISTINCT wd) - 1) AS BIGINT) AS dof
FROM terms
"""

# --------------------------------------------------------------------------
# Embedding-space curation: SemDeDup-style semantic dedup and kNN
# label-noise detection — both reuse the trained-IVF cell machinery
# (frozen centroid literals, zero-shuffle assignment).
# --------------------------------------------------------------------------

def _ivf_assigned_with_dist(spark, sf_dir):
    """embeddings + (cell, d_own): nearest trained centroid and the
    squared L2 to it — the shared front of both embedding-curation ops.
    Centroids are plan literals (assign_ivf_cells provenance): pure
    codegen'd map, no shuffle."""
    if IVF_KMEANS_CENTROIDS is None:
        raise RuntimeError("run tools/train_ivf.py to generate "
                           "trek_spark/spark/ivf_centroids.py")
    emb = _t(spark, sf_dir, "embeddings")
    dists = F.array(*[
        F.expr(
            "aggregate(zip_with(embedding, array({cs}),"
            " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
            " CAST(0 AS DOUBLE), (s, x) -> s + x)".format(
                cs=",".join(f"CAST({x!r} AS DOUBLE)" for x in c)))
        for c in IVF_KMEANS_CENTROIDS])
    return (emb.withColumn("_dists", dists)
            .withColumn("cell", F.expr(
                "CAST(array_position(_dists, array_min(_dists)) AS INT)"))
            .withColumn("d_own", F.expr("element_at(_dists, cell)"))
            .drop("_dists"))


_SEMDEDUP_COS = 0.92


def q_semantic_dedup_medoid(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    within each trained k-means cell, the member closest to the
    centroid is the kept representative (medoid proxy); any other
    member whose cosine to that representative exceeds the threshold
    is a semantic duplicate and dropped. Emits the full audit table
    (cell, vec_id, medoid_id, dropped flag).

    Cross-engine determinism: distances/cosines are identical
    sequential-fold IEEE trees in both engines (the kmeans-assignment
    precedent) and are only ORDERED/THRESHOLDED, never emitted; ties
    break on vec_id. Scale: assignment is a zero-shuffle literal map;
    the medoid window shuffles once on cell; the member↔medoid join
    broadcasts k rows. At 10⁹ vectors you grow k so cells stay
    bounded — the same knob as the IVF probe ops."""
    assigned = _ivf_assigned_with_dist(spark, sf_dir)
    w = Window.partitionBy("cell").orderBy("d_own", "vec_id")
    med = (assigned.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == 1)
           .select("cell", F.col("vec_id").alias("medoid_id"),
                   F.col("embedding").alias("mv")))
    cos = F.expr(
        "aggregate(zip_with(embedding, mv,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0 AS DOUBLE), (s, x) -> s + x)"
        " / (sqrt(aggregate(embedding, CAST(0 AS DOUBLE),"
        "      (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
        "    * sqrt(aggregate(mv, CAST(0 AS DOUBLE),"
        "      (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")
    return (
        assigned.join(F.broadcast(med), "cell")
        .withColumn("dropped",
                    ((F.col("vec_id") != F.col("medoid_id"))
                     & (cos > F.lit(_SEMDEDUP_COS))).cast("int"))
        .select("cell", "vec_id", "medoid_id", "dropped")
    )


def _sql_semantic_dedup_medoid() -> str:
    if IVF_KMEANS_CENTROIDS is None:
        return None
    rows = ",\n    ".join(
        "({}, [{}]::DOUBLE[])".format(
            i, ",".join(repr(x) for x in c))
        for i, c in enumerate(IVF_KMEANS_CENTROIDS, start=1))
    # cid is 1-based to match Spark's array_position cell ids (this op
    # EMITS the cell, unlike the IVF probes which only join on it)
    return f"""
WITH cent(cid, c) AS (VALUES
    {rows}
), dists AS (
  SELECT e.vec_id, e.embedding, c.cid,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> (CAST(e.embedding[i] AS DOUBLE) - c.c[i])
                 * (CAST(e.embedding[i] AS DOUBLE) - c.c[i]))) AS d
  FROM embeddings e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, embedding, cid AS cell, d AS d_own
  FROM dists
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
), med AS (
  SELECT cell, vec_id AS medoid_id, embedding AS mv
  FROM assigned
  QUALIFY row_number() OVER (PARTITION BY cell
                             ORDER BY d_own, vec_id) = 1
)
SELECT a.cell, a.vec_id, m.medoid_id,
       CAST(a.vec_id != m.medoid_id AND
            list_sum(list_transform(range(1, len(a.embedding) + 1),
               i -> CAST(a.embedding[i] AS DOUBLE)
                    * CAST(m.mv[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(a.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(m.mv,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
            > {_SEMDEDUP_COS} AS INT) AS dropped
FROM assigned a JOIN med m USING (cell)
"""


def q_embedding_label_noise(spark, sf_dir):
    """kNN label-noise detection (confident-learning shape): for each
    vector, its 3 nearest same-cell neighbors vote; a vector none of
    whose neighbors share its label is flagged as probable label
    noise — the audit a training pipeline runs before trusting a
    labeled set. The in-cell self-join is the IVF probe shape
    (equi-join on cell, work ∝ cell population, cells bounded by
    growing k at scale). Cosines are ordered, never emitted; ties
    break on neighbor vec_id."""
    assigned = _ivf_assigned_with_dist(spark, sf_dir).drop("d_own")
    other = assigned.select(F.col("cell").alias("cell2"),
                            F.col("vec_id").alias("nbr_id"),
                            F.col("embedding").alias("nv"),
                            F.col("label").alias("nbr_label"))
    cos = F.expr(
        "aggregate(zip_with(embedding, nv,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0 AS DOUBLE), (s, x) -> s + x)"
        " / (sqrt(aggregate(embedding, CAST(0 AS DOUBLE),"
        "      (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
        "    * sqrt(aggregate(nv, CAST(0 AS DOUBLE),"
        "      (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos"), F.asc("nbr_id"))
    return (
        assigned.join(other, (F.col("cell") == F.col("cell2"))
                      & (F.col("vec_id") != F.col("nbr_id")))
        .withColumn("cos", cos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("vec_id", "label")
        .agg(F.count("*").alias("n_neighbors"),
             F.sum((F.col("nbr_label") == F.col("label")).cast("long"))
             .alias("n_agree"))
        .withColumn("flagged", F.expr(
            "CAST(n_agree = 0 AND n_neighbors > 0 AS INT)"))
    )


SQL_SEMANTIC_DEDUP_MEDOID = _sql_semantic_dedup_medoid()


def _sql_embedding_label_noise() -> str:
    if IVF_KMEANS_CENTROIDS is None:
        return None
    rows = ",\n    ".join(
        "({}, [{}]::DOUBLE[])".format(
            i, ",".join(repr(x) for x in c))
        for i, c in enumerate(IVF_KMEANS_CENTROIDS))
    return f"""
WITH cent(cid, c) AS (VALUES
    {rows}
), dists AS (
  SELECT e.vec_id, e.embedding, e.label, c.cid,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> (CAST(e.embedding[i] AS DOUBLE) - c.c[i])
                 * (CAST(e.embedding[i] AS DOUBLE) - c.c[i]))) AS d
  FROM embeddings e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, embedding, label, cid AS cell
  FROM dists
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
), knn AS (
  SELECT a.vec_id, a.label, b.label AS nbr_label,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(a.embedding[i] AS DOUBLE)
                 * CAST(b.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos,
         b.vec_id AS nbr_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id != b.vec_id
), top3 AS (
  SELECT vec_id, label, nbr_label
  FROM knn
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY cos DESC, nbr_id ASC) <= 3
)
SELECT vec_id, label, count(*) AS n_neighbors,
       CAST(sum(CASE WHEN nbr_label = label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_agree,
       CAST(sum(CASE WHEN nbr_label = label THEN 1 ELSE 0 END) = 0
            AND count(*) > 0 AS INT) AS flagged
FROM top3 GROUP BY 1, 2
"""


SQL_EMBEDDING_LABEL_NOISE = _sql_embedding_label_noise()


def q_terms_kn_bigram_probs(spark, sf_dir):
    """Interpolated Kneser–Ney bigram probabilities with discount
    D = 3/4, as EXACT RATIONALS: scaling by 4·c(w1)·B turns
    P_KN(w2|w1) = max(c12−D,0)/c1 + D·N1+(w1•)/c1 · N1+(•w2)/B into
    num = max(4·c12−3, 0)·B + 3·N1+(w1•)·N1+(•w2), den = 4·c1·B —
    bigint arithmetic end to end. Output limited to bigrams with
    c12 ≥ 3 (volume; same gate both engines).

    Scale: bigram counts partial-aggregate map-side; the bigram-type
    table (vocabulary-bounded, tiny next to the corpus) materializes
    once (r9: its four consumers — left totals, continuation counts,
    B, and the join probe — have non-identical children, so exchange
    reuse never covered them and the tokenize + bigram agg ran up to
    4×; measured 1.20 → 0.74 s at sf0.1); the three side statistics
    are aggregates OF that table joined back on w1/w2; B is a one-row
    broadcast. On a real cluster swap the localCheckpoint for
    checkpoint()/a table write."""
    docs = _t(spark, sf_dir, "documents")
    words = (docs.select(F.expr(
        "regexp_extract_all(lower(text), '([a-z]+)', 1)").alias("ws"))
        .where(F.size("ws") >= 2))
    bigrams = (words.select(F.explode(F.expr(
        "transform(sequence(1, size(ws) - 1),"
        " i -> struct(ws[i - 1] AS w1, ws[i] AS w2))")).alias("b"))
        .select("b.w1", "b.w2"))
    c12 = (bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
           .localCheckpoint(eager=True))
    left = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count("*").alias("fanout"))          # N1+(w1 •)
    cont = c12.groupBy("w2").agg(
        F.count("*").alias("cont"))            # N1+(• w2)
    btot = c12.agg(F.count("*").alias("b_types"))
    return (
        c12.join(left, "w1").join(cont, "w2")
        .crossJoin(F.broadcast(btot))
        .filter(F.col("c12") >= 3)
        .select(
            "w1", "w2", "c12",
            F.expr("greatest(4 * c12 - 3, 0) * b_types"
                   " + 3 * fanout * cont").alias("p_num"),
            F.expr("4 * c1 * b_types").alias("p_den"))
    )


SQL_TERMS_KN_BIGRAM_PROBS = """
WITH ws AS (
  SELECT regexp_extract_all(lower(text), '[a-z]+') AS w FROM documents
), bigrams AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM ws, UNNEST(range(1, len(w))) AS t(i)
  WHERE len(w) >= 2
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY 1, 2
), lft AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS fanout
  FROM c12 GROUP BY 1
), cont AS (
  SELECT w2, count(*) AS cont FROM c12 GROUP BY 1
), btot AS (
  SELECT count(*) AS b_types FROM c12
)
SELECT w1, w2, c12,
       CAST(greatest(4 * c12 - 3, 0) * b_types
            + 3 * fanout * cont AS BIGINT) AS p_num,
       CAST(4 * c1 * b_types AS BIGINT) AS p_den
FROM c12 JOIN lft USING (w1) JOIN cont USING (w2), btot
WHERE c12 >= 3
"""

def q_tpch_order_priority_check(spark, sf_dir):
    """TPC-H Q4 shape (order priority checking), adapted: no
    commit/receipt dates in this corpus, so the EXISTS predicate is
    "the order has a returned line" (l_returnflag = 'R') instead of
    "a late line". Counts per priority for one quarter; the EXISTS is
    a left-semi join against the column-pruned lineitem scan."""
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1997-01-01"))
                      & (F.col("o_orderdate") < F.lit("1997-04-01"))))
    returned = (_t(spark, sf_dir, "lineitem")
                .filter(F.col("l_returnflag") == "R")
                .select("l_orderkey"))
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey,
                    "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


SQL_TPCH_ORDER_PRIORITY_CHECK = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1997-01-01'
  AND o_orderdate < DATE '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY 1
"""


def q_tpch_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): the pure scan-side
    scalar — price×discount revenue from one year's low-quantity,
    mid-discount lines. Every predicate pushes to the parquet scan;
    the aggregate is one map-side partial + a 1-row combine. Revenue
    here is price_c × disc_c (the Q6 definition multiplies BY the
    discount, unlike the (1−disc) ops)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= F.lit("1997-01-01"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01"))
                  & (F.col("l_discount") >= 0.05)
                  & (F.col("l_discount") <= 0.07)
                  & (F.col("l_quantity") < 24))
        .agg(F.sum(F.expr(
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
            " * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"))
            .alias("revenue_e4"),
            F.count("*").alias("n_lines"))
    )


SQL_TPCH_FORECAST_REVENUE = """
SELECT CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                * CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS revenue_e4,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01'
  AND l_shipdate < DATE '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_tpch_customer_distribution(spark, sf_dir):
    """TPC-H Q13 (customer distribution): how many customers placed
    exactly k orders — INCLUDING k = 0, which forces the left outer
    join (an inner join silently drops the zero bucket; the test
    plants an orderless customer). Two-level aggregation: per-customer
    counts shuffle on custkey, the k-histogram is bounded."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist")))


SQL_TPCH_CUSTOMER_DISTRIBUTION = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY 1
)
GROUP BY 1
"""


# --------------------------------------------------------------------------
# r8 late wave: duplicate-ngram fraction, CCNet buckets, masked packing,
# quality-priority canonical dedup
# --------------------------------------------------------------------------

_DUPNG_N = 5  # word n-gram order for the duplicate-fraction metric


def q_docs_duplicate_ngram_fraction(spark, sf_dir):
    """Per-document duplicate-n-gram fraction — the RefinedWeb/Gopher
    repetition signal measured ACROSS documents: the share of a doc's
    DISTINCT word 5-grams that also occur in at least one other doc.
    High values mark boilerplate and template farms that survive
    exact-hash dedup because the documents differ elsewhere; pipelines
    gate on the fraction rather than a pair join. Emitted per doc with
    ≥1 gram: gram counts plus an exact integer permille.

    Scale: grams are 48-bit md5-hashed (no raw-string shuffle), distinct
    WITHIN a doc before exploding (array_distinct per row, so a
    boilerplate line repeated 1,000× inside one doc contributes one
    stream row), then each gram's document frequency is a window count
    over the ONE gram-hash shuffle — two bounded shuffles total (hash,
    then doc_id); no pair explosion, no driver state. At 100 TB the
    per-gram groups scale with distinct grams, not documents² — the
    hash keyspace keeps partitions balanced, and a pathological hot
    gram costs window spill, same as the join shape it replaced."""
    words = r"split(trim(lower(coalesce(text, ''))), '\\s+')"
    grams = F.expr(rf"""
        element_at(transform(array({words}), ws ->
          CASE WHEN size(ws) >= {_DUPNG_N}
          THEN array_distinct(transform(
                 sequence(1, size(ws) - {_DUPNG_N - 1}),
                 i -> concat_ws(' ', slice(ws, i, {_DUPNG_N}))))
          ELSE CAST(array() AS ARRAY<STRING>) END), 1)""")
    stream = (_t(spark, sf_dir, "documents")
              .select("doc_id", F.explode(grams).alias("g"))
              .select("doc_id", F.expr(
                  "CAST(conv(substr(md5(g), 1, 12), 16, 10) AS BIGINT)")
                  .alias("h")))
    # Gram document frequency as a WINDOW count over the one gram-hash
    # shuffle (r9 follow-up, §2.3/§2.4): the former groupBy(h) +
    # equi-join back could NOT share an exchange with its probe side
    # (different children: partial-agg vs raw stream), so the whole
    # gram-transform + md5 subtree was evaluated TWICE — measured 2.0 s
    # → 0.83 s at sf0.1 and 8.0 s → 3.2 s at a 25k-doc single-row-group
    # corpus. Hot grams colocate under the join's probe shuffle exactly
    # as under the window, and WindowExec spills; the n_docs>1 flag and
    # every emitted value are unchanged.
    return (stream.withColumn(
                "n_docs",
                F.count(F.lit(1)).over(Window.partitionBy("h")))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_grams"),
                 F.sum(F.expr("CAST(n_docs > 1 AS INT)"))
                 .alias("dup_grams"))
            .select("doc_id", "n_grams", "dup_grams",
                    F.expr("dup_grams * 1000 DIV n_grams")
                    .alias("dup_permille")))


SQL_DOCS_DUPLICATE_NGRAM_FRACTION = f"""
WITH ws AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+')
             AS w
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(t.g), 1, 12) AS BIGINT) AS h
  FROM ws, unnest(list_transform(
        range(1, len(w) - {_DUPNG_N - 1} + 1),
        i -> array_to_string(list_slice(w, i, i + {_DUPNG_N - 1}), ' ')))
       AS t(g)
  WHERE len(w) >= {_DUPNG_N}
), df_tab AS (
  SELECT h, count(*) AS n_docs FROM grams GROUP BY h
)
SELECT doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_grams,
       CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) * 1000
            // count(*) AS BIGINT) AS dup_permille
FROM grams JOIN df_tab USING (h) GROUP BY doc_id
"""


def q_ccnet_perplexity_buckets(spark, sf_dir):
    """CCNet's head/middle/tail split: docs bucketed by the terciles of
    the corpus's own char-trigram perplexity — 'head' = the lowest-
    perplexity third, the slice CCNet keeps outright. Scored in
    MILLI-ticks (sum(tick)·1000 DIV n_trigrams): the display op
    q_char_trigram_perplexity's whole-tick DIV collapses same-
    distribution docs onto one value (the entire synthetic corpus
    lands on tick 17), which would make every doc 'head'; milliticks
    keep the ~log₂ resolution doc-level ranking needs. Cut values are
    EXACT terciles computed on the millitick directory, so buckets are
    value-based: ties share a bucket and counts need not be N/3 —
    deterministic in both engines, no mid-tie split.

    Scale: the per-doc score inherits the perplexity op's one bounded
    aggregation + broadcast-model shape; the tercile cuts come from a
    groupBy onto the small millitick directory (its global window
    sorts that directory, not the corpus — bounded by distinct score
    values, ~thousands at worst) and broadcast back as a 1-row cross
    join. The corpus itself never sorts — unlike a global NTILE(3),
    which would single-partition 10¹² rows."""
    # r9: the per-doc score table (O(docs), tiny) materializes once —
    # its two consumers (tercile directory and the bucketed output)
    # have different children, so without this the trigram explode +
    # model join + per-doc agg ran TWICE (the quality_classifier
    # advisory-#1 shape; measured 1.68 → 1.47 s at sf0.1, one corpus
    # pass instead of two at 100 TB). Swap for checkpoint()/a table
    # write on a real cluster.
    scores = (_ppl_scored_stream(spark, sf_dir)
              .groupBy("doc_id").agg(
                  F.expr("sum(tick) * 1000 DIV count(*)")
                  .alias("ppl_milli"))
              .localCheckpoint(eager=True))
    dirt = scores.groupBy("ppl_milli").agg(F.count("*").alias("cnt"))
    w = (Window.orderBy("ppl_milli")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cums = (dirt.withColumn("cum", F.sum("cnt").over(w))
            .withColumn("n", F.sum("cnt").over(
                Window.partitionBy(F.lit(1)))))
    cuts = cums.agg(
        F.min(F.when(F.expr("3 * cum >= n"), F.col("ppl_milli")))
        .alias("c1"),
        F.min(F.when(F.expr("3 * cum >= 2 * n"), F.col("ppl_milli")))
        .alias("c2"))
    return (scores.crossJoin(F.broadcast(cuts))
            .select("doc_id", "ppl_milli",
                    F.expr("CASE WHEN ppl_milli <= c1 THEN 'head' "
                           "WHEN ppl_milli <= c2 THEN 'middle' "
                           "ELSE 'tail' END").alias("ppl_bucket")))


SQL_CCNET_PERPLEXITY_BUCKETS = f"""
WITH prefs AS (
  SELECT doc_id,
         substr(lower(coalesce(text, '')), 1, {_PPL_PREFIX}) AS pref_
  FROM documents
), tg AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(t.tg), 1, 4) AS BIGINT)
             % {_PPL_BUCKETS} AS bucket
  FROM prefs, unnest(list_transform(
        range(1, greatest(length(pref_) - 2, 0) + 1),
        i -> substr(pref_, i, 3))) AS t(tg)
), model AS (
  SELECT bucket,
         length(bin(CAST(sum(count(*)) OVER () * {_PPL_SCALE}
                         // count(*) AS BIGINT))) - 1 AS tick
  FROM tg GROUP BY bucket
), scores AS (
  SELECT doc_id,
         CAST(sum(tick) * 1000 // count(*) AS BIGINT) AS ppl_milli
  FROM tg JOIN model USING (bucket) GROUP BY doc_id
), dirt AS (
  SELECT ppl_milli, count(*) AS cnt FROM scores GROUP BY 1
), cums AS (
  SELECT ppl_milli,
         sum(cnt) OVER (ORDER BY ppl_milli
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum,
         sum(cnt) OVER () AS n
  FROM dirt
), cuts AS (
  SELECT min(CASE WHEN 3 * cum >= n THEN ppl_milli END) AS c1,
         min(CASE WHEN 3 * cum >= 2 * n THEN ppl_milli END) AS c2
  FROM cums
)
SELECT doc_id, ppl_milli,
       CASE WHEN ppl_milli <= c1 THEN 'head'
            WHEN ppl_milli <= c2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM scores, cuts
"""


def q_transcript_cross_conv_echo(spark, sf_dir):
    """Cross-conversation echo detector: the doc-level near-dup pair
    graph projected onto CONVERSATIONS (conv_id = doc_id % 50, the
    shared documents→turns derivation) — per unordered conversation pair,
    how many near-dup turn pairs span them and the strongest overlap.
    In agent-transcript corpora this is the 'same tool output / same
    paste appears in two different sessions' signal: turn-level dedup
    sees the pair, but only the conversation projection shows which
    SESSIONS are entangled (and should not be split across train/val).
    Same-conversation pairs are excluded — intra-conv repetition is
    within_doc/boilerplate territory.

    Scale: a pure compose — reuses the bucketed, df-capped near-dup
    pair generation (never all-pairs) and adds one groupBy over the
    PAIR set (|pairs| ≪ |corpus|, bounded by the caps upstream).
    Canonical (least, greatest) ordering keeps the pair key unordered
    in both engines."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir)
    return (pairs
            .select(F.expr("least(id_a % 50, id_b % 50)").alias("conv_a"),
                    F.expr("greatest(id_a % 50, id_b % 50)")
                    .alias("conv_b"),
                    "jaccard_e4")
            .filter(F.col("conv_a") != F.col("conv_b"))
            .groupBy("conv_a", "conv_b")
            .agg(F.count("*").alias("n_echo_pairs"),
                 F.max("jaccard_e4").alias("max_jaccard_e4")))


SQL_TRANSCRIPT_CROSS_CONV_ECHO = f"""
WITH pairs AS ({SQL_DEDUP_NGRAM})
SELECT least(id_a % 50, id_b % 50) AS conv_a,
       greatest(id_a % 50, id_b % 50) AS conv_b,
       count(*) AS n_echo_pairs,
       CAST(max(jaccard_e4) AS BIGINT) AS max_jaccard_e4
FROM pairs
WHERE id_a % 50 != id_b % 50
GROUP BY 1, 2
"""


def q_dedup_keep_best_quality(spark, sf_dir):
    """Quality-priority canonical selection: within each near-dup
    cluster keep the
    member with the BEST learned quality score (q_quality_classifier's
    margin, normalized per feature), not the smallest id. This is how
    production dedup actually picks survivors (CCNet/RefinedWeb keep
    the best-scoring copy of boilerplate families). Per cluster: the
    kept doc, member count, and the winner's per-feature score in
    micro-millibits. score_micro = (10⁶·margin) DIV n_feats is exact
    integer division, truncation-toward-zero in BOTH engines (verified:
    Spark DIV and DuckDB // agree on negatives), ties broken by doc_id.

    Scale: CC labels come from the pointer-jump O(log d) clustering;
    classifier scores are a per-row broadcast-model expression; the
    winner window partitions by cluster_id — cluster sizes are dup-
    family sizes (bounded by the pair caps upstream), so no skewed
    global sort. One equi-join labels⋈scores on doc_id."""
    labels, _rounds, converged = \
        _min_label_cc(_cluster_edges(spark, sf_dir))
    if not converged:
        raise RuntimeError("dedup_keep_best_quality: clustering did not "
                           "converge (see q_dedup_clusters)")
    return _keep_best_quality_from_labels(spark, sf_dir, labels)


def _keep_best_quality_from_labels(spark, sf_dir,
                                   labels: DataFrame) -> DataFrame:
    """Winner selection given precomputed CC labels (r8 ADVICE, low):
    curate_job already runs the clustering for its own convergence gate —
    calling the public op from the job re-ran the whole iterative CC a
    second time. The op's semantics are unchanged; the job passes its
    labels here instead."""
    scored = q_quality_classifier(spark, sf_dir).select(
        "doc_id",
        F.expr("(1000000 * quality_margin) DIV n_feats")
        .alias("score_micro"))
    members = labels.join(scored, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id"))
    return (members
            .withColumn("rk", F.row_number().over(w))
            .withColumn("n_members", F.count("*").over(
                Window.partitionBy("cluster_id")))
            .filter(F.col("rk") == 1)
            .select("cluster_id", F.col("doc_id").alias("kept_doc"),
                    "n_members",
                    F.col("score_micro").alias("kept_score_micro")))


SQL_DEDUP_KEEP_BEST_QUALITY = f"""
WITH labels AS ({SQL_DEDUP_CLUSTERS}),
scored AS (
  SELECT doc_id,
         CAST((1000000 * quality_margin) // n_feats AS BIGINT)
             AS score_micro
  FROM ({SQL_QUALITY_CLASSIFIER}) qc
), members AS (
  SELECT l.cluster_id, l.doc_id, s.score_micro,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY s.score_micro DESC, l.doc_id)
             AS rk,
         count(*) OVER (PARTITION BY l.cluster_id) AS n_members
  FROM labels l JOIN scored s USING (doc_id)
)
SELECT cluster_id, doc_id AS kept_doc,
       CAST(n_members AS BIGINT) AS n_members,
       score_micro AS kept_score_micro
FROM members WHERE rk = 1
"""


OPS: dict[str, tuple] = {
    # (spark_fn, oracle_sql_or_None)
    "customer_value_deciles": (
        q_customer_value_deciles, SQL_CUSTOMER_VALUE_DECILES),
    "customer_value_deciles_approx": (
        q_customer_value_deciles_approx, SQL_CUSTOMER_VALUE_DECILES_APPROX),
    "events_sessionize": (q_events_sessionize, SQL_EVENTS_SESSIONIZE),
    "docs_repetition_ratio": (q_docs_repetition_ratio,
                              SQL_DOCS_REPETITION_RATIO),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM),
    "dedup_hot_shingle_audit": (q_dedup_hot_shingle_audit,
                                SQL_DEDUP_HOT_SHINGLE_AUDIT),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH),
    "dedup_lsh_dropped_buckets": (
        q_dedup_lsh_dropped_buckets, SQL_LSH_DROPPED_BUCKETS),
    "dedup_minhash_estimate": (
        q_dedup_minhash_estimate, SQL_DEDUP_MINHASH_ESTIMATE),
    "embedding_near_dup": (q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "benchmark_contamination": (
        q_benchmark_contamination, SQL_BENCHMARK_CONTAMINATION),
    "benchmark_contamination_fuzzy": (
        q_benchmark_contamination_fuzzy, SQL_BENCHMARK_CONTAMINATION_FUZZY),
    "pii_redact": (q_pii_redact, SQL_PII_REDACT),
    "dedup_boilerplate_lines": (
        q_dedup_boilerplate_lines, SQL_DEDUP_BOILERPLATE_LINES),
    "pack_token_budget": (q_pack_token_budget, SQL_PACK_TOKEN_BUDGET),
    "dsir_importance": (q_dsir_importance, SQL_DSIR_IMPORTANCE),
    "graph_pagerank": (q_graph_pagerank, SQL_GRAPH_PAGERANK),
    "char_trigram_perplexity": (
        q_char_trigram_perplexity, SQL_CHAR_TRIGRAM_PERPLEXITY),
    "within_doc_dedup_lines": (
        q_within_doc_dedup_lines, SQL_WITHIN_DOC_DEDUP_LINES),
    "lang_consistency_chunks": (
        q_lang_consistency_chunks, SQL_LANG_CONSISTENCY_CHUNKS),
    "gopher_quality_rules": (
        q_gopher_quality_rules, SQL_GOPHER_QUALITY_RULES),
    "dedup_passage_windows": (
        q_dedup_passage_windows, SQL_DEDUP_PASSAGE_WINDOWS),
    "orders_unpivot": (q_orders_unpivot, SQL_ORDERS_UNPIVOT),
    "events_interval_self_join": (
        q_events_interval_self_join, SQL_EVENTS_INTERVAL_SELF_JOIN),
    "orders_grouping_sets": (
        q_orders_grouping_sets, SQL_ORDERS_GROUPING_SETS),
    "events_funnel": (q_events_funnel, SQL_EVENTS_FUNNEL),
    "embedding_random_projection": (
        q_embedding_random_projection, SQL_EMBEDDING_RANDOM_PROJECTION),
    "events_retention_cohorts": (
        q_events_retention_cohorts, SQL_EVENTS_RETENTION_COHORTS),
    "docs_bm25_search": (q_docs_bm25_search, SQL_DOCS_BM25_SEARCH),
    "events_hopping_counts": (
        q_events_hopping_counts, SQL_EVENTS_HOPPING_COUNTS),
    "bpe_pair_counts": (q_bpe_pair_counts, SQL_BPE_PAIR_COUNTS),
    "events_value_percentiles": (
        q_events_value_percentiles, SQL_EVENTS_VALUE_PERCENTILES),
    "domain_doc_cap": (q_domain_doc_cap, SQL_DOMAIN_DOC_CAP),
    "lineitem_quantiles_approx": (
        q_lineitem_quantiles_approx, SQL_LINEITEM_QUANTILES_APPROX),
    "dedup_reach_hops": (q_dedup_reach_hops, SQL_DEDUP_REACH_HOPS),
    "dedup_lsh_eval": (q_dedup_lsh_eval, SQL_DEDUP_LSH_EVAL),
    "transcript_tool_runs": (
        q_transcript_tool_runs, SQL_TRANSCRIPT_TOOL_RUNS),
    "events_variant_buckets": (
        q_events_variant_buckets, SQL_EVENTS_VARIANT_BUCKETS),
    "dedup_containment": (q_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "graph_kcore": (q_graph_kcore, SQL_GRAPH_KCORE),
    "orders_range_frame": (q_orders_range_frame, SQL_ORDERS_RANGE_FRAME),
    "transcript_context_trim": (
        q_transcript_context_trim, SQL_TRANSCRIPT_CONTEXT_TRIM),
    "embedding_power_iteration": (
        q_embedding_power_iteration, SQL_EMBEDDING_POWER_ITERATION),
    "transcript_role_transitions": (
        q_transcript_role_transitions, SQL_TRANSCRIPT_ROLE_TRANSITIONS),
    "docs_readability": (q_docs_readability, SQL_DOCS_READABILITY),
    "events_value_zscores": (
        q_events_value_zscores, SQL_EVENTS_VALUE_ZSCORES),
    "terms_topk_approx": (q_terms_topk_approx, SQL_TERMS_TOPK_APPROX),
    "customer_lateral_top2": (
        q_customer_lateral_top2, SQL_CUSTOMER_LATERAL_TOP2),
    "events_window_distinct": (
        q_events_window_distinct, SQL_EVENTS_WINDOW_DISTINCT),
    "dataset_split": (q_dataset_split, SQL_DATASET_SPLIT),
    "events_scd2_intervals": (
        q_events_scd2_intervals, SQL_EVENTS_SCD2_INTERVALS),
    "events_time_weighted": (
        q_events_time_weighted, SQL_EVENTS_TIME_WEIGHTED),
    "events_bitmap_distinct": (
        q_events_bitmap_distinct, SQL_EVENTS_BITMAP_DISTINCT),
    "events_type_sequence": (
        q_events_type_sequence, SQL_EVENTS_TYPE_SEQUENCE),
    "source_lang_entropy": (
        q_source_lang_entropy, SQL_SOURCE_LANG_ENTROPY),
    "dedup_shingle_novelty": (
        q_dedup_shingle_novelty, SQL_DEDUP_SHINGLE_NOVELTY),
    "events_locf": (q_events_locf, SQL_EVENTS_LOCF),
    "events_interval_merge": (
        q_events_interval_merge, SQL_EVENTS_INTERVAL_MERGE),
    "events_resample_daily": (
        q_events_resample_daily, SQL_EVENTS_RESAMPLE_DAILY),
    "terms_freq_of_freqs": (
        q_terms_freq_of_freqs, SQL_TERMS_FREQ_OF_FREQS),
    "vocab_growth": (q_vocab_growth, SQL_VOCAB_GROWTH),
    "docs_stable_ids": (q_docs_stable_ids, SQL_DOCS_STABLE_IDS),
    "events_rolling_median": (
        q_events_rolling_median, SQL_EVENTS_ROLLING_MEDIAN),
    "tpch_top_supplier": (q_tpch_top_supplier, SQL_TPCH_TOP_SUPPLIER),
    "tpch_large_orders": (q_tpch_large_orders, SQL_TPCH_LARGE_ORDERS),
    "tpch_disjunctive_join": (
        q_tpch_disjunctive_join, SQL_TPCH_DISJUNCTIVE_JOIN),
    "tpch_sole_failure_suppliers": (
        q_tpch_sole_failure_suppliers, SQL_TPCH_SOLE_FAILURE_SUPPLIERS),
    "events_ks_drift": (q_events_ks_drift, SQL_EVENTS_KS_DRIFT),
    "events_rank_sum": (q_events_rank_sum, SQL_EVENTS_RANK_SUM),
    "events_chi2_independence": (
        q_events_chi2_independence, SQL_EVENTS_CHI2_INDEPENDENCE),
    "semantic_dedup_medoid": (
        q_semantic_dedup_medoid, SQL_SEMANTIC_DEDUP_MEDOID),
    "embedding_label_noise": (
        q_embedding_label_noise, SQL_EMBEDDING_LABEL_NOISE),
    "terms_kn_bigram_probs": (
        q_terms_kn_bigram_probs, SQL_TERMS_KN_BIGRAM_PROBS),
    "tpch_order_priority_check": (
        q_tpch_order_priority_check, SQL_TPCH_ORDER_PRIORITY_CHECK),
    "tpch_forecast_revenue": (
        q_tpch_forecast_revenue, SQL_TPCH_FORECAST_REVENUE),
    "tpch_customer_distribution": (
        q_tpch_customer_distribution, SQL_TPCH_CUSTOMER_DISTRIBUTION),
    "quality_classifier": (q_quality_classifier, SQL_QUALITY_CLASSIFIER),
    "train_export_manifest": (
        q_train_export_manifest, SQL_TRAIN_EXPORT_MANIFEST),
    "docs_duplicate_ngram_fraction": (
        q_docs_duplicate_ngram_fraction, SQL_DOCS_DUPLICATE_NGRAM_FRACTION),
    "ccnet_perplexity_buckets": (
        q_ccnet_perplexity_buckets, SQL_CCNET_PERPLEXITY_BUCKETS),
    "dedup_keep_best_quality": (
        q_dedup_keep_best_quality, SQL_DEDUP_KEEP_BEST_QUALITY),
    "transcript_cross_conv_echo": (
        q_transcript_cross_conv_echo, SQL_TRANSCRIPT_CROSS_CONV_ECHO),
    "sft_export_manifest": (
        q_sft_export_manifest, SQL_SFT_EXPORT_MANIFEST),
}
