"""Spark-level integration tests: corpus → range-partitioned extraction →
per-turn equality, checkpoint resume, output layout, metrics (north-rule
surface)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from trek_spark.spark.corpus import (
    build_golden, build_transcripts, seeded_transcripts,
)
from trek_spark.spark.job import extract_turns, run_extraction_job
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-trek", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def extracted(spark):
    transcripts = build_transcripts(spark)
    return extract_turns(transcripts, num_partitions=8).persist()


def test_corpus_shape(spark):
    t = build_transcripts(spark)
    assert t.count() >= 180
    assert set(t.columns) == {"conv_id", "turn_idx", "role", "text", "tool",
                              "ts", "url"}
    # stable ordering key is unique
    assert t.select("conv_id", "turn_idx").distinct().count() == t.count()


def test_per_turn_equality_green_subset(spark, extracted):
    """North-rule gate: per-turn text equality vs golden outputs under
    stable (conv_id, turn_idx) ordering, for the ratcheted green set."""
    with open(os.path.join(os.path.dirname(__file__),
                           "markdown_green.json")) as f:
        green = set(json.load(f))
    golden = build_golden(spark)
    joined = (
        extracted.join(golden, ["conv_id", "turn_idx"])
        .filter(F.col("fixture").isin(list(green)))
        .select("fixture", "extracted_text", "expected_markdown")
        .collect()
    )
    assert len(joined) == len(green)
    mismatches = [
        r.fixture for r in joined
        if (r.extracted_text or "").strip() != (r.expected_markdown or "").strip()
    ]
    assert not mismatches, f"per-turn mismatches: {mismatches[:5]}"


def test_extraction_no_failures(extracted):
    assert extracted.filter(F.col("error").isNotNull()).count() == 0


def test_metrics_columns_populated(extracted):
    row = extracted.select(F.sum("doc_bytes").alias("d"),
                           F.max("wall_ms").alias("w")).collect()[0]
    assert row.d > 0 and row.w >= 0


def test_metrics_not_inflated(spark, tmp_path_factory):
    """Round-1 ADVICE: batch metrics stamped per row must not multiply —
    docs_in summed over the metrics table equals the actual row count."""
    out = str(tmp_path_factory.mktemp("metrics"))
    transcripts = seeded_transcripts(spark, 30, seed=1)
    r = run_extraction_job(spark, transcripts, out, num_partitions=8,
                           part_buckets=8)
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    total_docs = metrics.agg(F.sum("docs_in")).collect()[0][0]
    assert total_docs == 30 == r["rows"]
    # resume run must not duplicate metrics rows (plain overwrite)
    run_extraction_job(spark, transcripts, out, num_partitions=8,
                       part_buckets=8)
    total_docs2 = (spark.read.parquet(os.path.join(out, "metrics"))
                   .agg(F.sum("docs_in")).collect()[0][0])
    assert total_docs2 == 30


def test_checkpoint_resume(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job"))
    transcripts = seeded_transcripts(spark, 40, seed=2)
    # dynamic partition overwrite is scoped to the job's own writes
    overwrite_mode = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(overwrite_mode)
    before = spark.conf.get(overwrite_mode)
    r1 = run_extraction_job(spark, transcripts, out, num_partitions=8,
                            part_buckets=8)
    assert spark.conf.get(overwrite_mode) == before
    assert r1["rows"] == 40
    # failures come from the write's Observation: they must equal the
    # written rows with an error (the seeded empty_input turn)
    written = spark.read.parquet(os.path.join(out, "turns"))
    assert r1["failures"] == written.filter(
        F.col("error").isNotNull()).count() == 1
    # table-colocated checkpoint: no driver-local state; completion is
    # recorded by post-commit marker files, not inferred from data files
    assert not os.path.exists(os.path.join(out, "ledger.json"))
    from trek_spark.spark.job import _completed_buckets
    done = _completed_buckets(spark, os.path.join(out, "_committed"))
    assert len(done) == 8  # every bucket marked, including empty ones
    # second run resumes: every bucket already committed → no new rows
    r2 = run_extraction_job(spark, transcripts, out, num_partitions=8,
                            part_buckets=8)
    assert r2["rows"] == 0
    # output readable and complete
    turns = spark.read.parquet(os.path.join(out, "turns"))
    assert turns.count() == 40


def test_resume_after_partial_crash(spark, tmp_path_factory):
    """Kill-mid-job equivalence: run only the first wave (waves are the
    crash-loss granularity), then rerun the full job — the rerun must
    produce the complete, non-duplicated output with no driver-local
    state carried between the runs."""
    out = str(tmp_path_factory.mktemp("jobcrash"))
    transcripts = seeded_transcripts(spark, 40, seed=3)
    import trek_spark.spark.job as jobmod

    # simulate a crash after the first wave's commit: patch the wave loop
    # by running with part_buckets=8, waves=4 and aborting via an exception
    # raised from the metrics write of wave 2
    calls = {"n": 0}
    orig = jobmod.extract_turns

    def crashing_extract(df, num_partitions=None):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated executor loss")
        return orig(df, num_partitions)

    jobmod.extract_turns = crashing_extract
    try:
        import pytest as _pytest
        with _pytest.raises(Exception):
            run_extraction_job(spark, transcripts, out, num_partitions=8,
                               part_buckets=8, waves=4)
    finally:
        jobmod.extract_turns = orig

    # wave 1 marked committed; buckets from waves 2-4 absent
    done_after_crash = jobmod._completed_buckets(
        spark, os.path.join(out, "_committed"))
    assert 0 < len(done_after_crash) < 8

    # full rerun completes the table idempotently
    r = run_extraction_job(spark, transcripts, out, num_partitions=8,
                           part_buckets=8, waves=4)
    turns = spark.read.parquet(os.path.join(out, "turns"))
    assert turns.count() == 40
    assert turns.select("conv_id", "turn_idx").distinct().count() == 40
    # every bucket is now marked committed (markers cover empty ones too)
    assert r["completed_buckets"] == 8
    # the crashed run never derived metrics/; the rerun covers every
    # committed bucket, the crashed run's wave included
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.agg(F.sum("docs_in")).collect()[0][0] == 40


def test_partial_commit_without_marker_is_reextracted(spark,
                                                      tmp_path_factory):
    """A bucket directory holding data files but NO marker (crash during
    the committer's file-by-file job commit) must be treated as
    incomplete: the rerun re-extracts it and dynamic overwrite replaces
    the partial files, so no rows are silently dropped."""
    out = str(tmp_path_factory.mktemp("jobcommitcrash"))
    transcripts = seeded_transcripts(spark, 40, seed=4)
    run_extraction_job(spark, transcripts, out, num_partitions=8,
                       part_buckets=8)
    from trek_spark.spark.job import _completed_buckets
    committed = os.path.join(out, "_committed")
    done = sorted(_completed_buckets(spark, committed))
    # simulate the torn commit: delete one bucket's marker AND one of its
    # data files — resume must not trust the remaining data files
    victim = None
    for b in done:
        bdir = os.path.join(out, "turns", f"part_bucket={b}")
        files = [f for f in os.listdir(bdir)
                 if not f.startswith((".", "_"))] if os.path.isdir(bdir) \
            else []
        if files:
            victim = b
            os.remove(os.path.join(bdir, files[0]))
            break
    assert victim is not None
    os.remove(os.path.join(committed, f"bucket-{victim:05d}"))

    r = run_extraction_job(spark, transcripts, out, num_partitions=8,
                           part_buckets=8)
    assert r["rows"] > 0  # the torn bucket was re-extracted
    turns = spark.read.parquet(os.path.join(out, "turns"))
    assert turns.count() == 40  # complete again, no dropped rows
    assert turns.select("conv_id", "turn_idx").distinct().count() == 40


def test_empty_buckets_not_reextracted(spark, tmp_path_factory):
    """Buckets no conversation hashes into create no partition directory;
    markers must still record them so resume does zero work instead of
    re-scanning them on every run."""
    out = str(tmp_path_factory.mktemp("jobempty"))
    transcripts = seeded_transcripts(spark, 6, seed=5)  # 4 convs, 64 buckets
    run_extraction_job(spark, transcripts, out, num_partitions=8,
                       part_buckets=64)
    from trek_spark.spark.job import _completed_buckets
    committed = os.path.join(out, "_committed")
    assert len(_completed_buckets(spark, committed)) == 64
    # the concurrent marker creates leave exactly one marker per bucket
    assert sorted(f for f in os.listdir(committed)
                  if not f.startswith(".")) \
        == [f"bucket-{b:05d}" for b in range(64)]
    r2 = run_extraction_job(spark, transcripts, out, num_partitions=8,
                            part_buckets=64)
    assert r2["rows"] == 0
    assert r2["completed_buckets"] == 64


def test_plan_waves_sized_from_input_bytes(spark, tmp_path_factory):
    """Waves and extraction tasks come from one optimizer size estimate:
    a small parquet input is one wave of one task per core, an input
    Spark cannot size gets the fixed fallbacks (4 × parallelism tasks),
    a full 64 MiB-per-core wave keeps 4 × parallelism, and an explicit
    ``waves`` or ``num_partitions`` wins (waves capped at one bucket per
    wave)."""
    from trek_spark.spark.job import (
        UNKNOWN_SIZE_WAVES, WAVE_BYTES_PER_CORE, plan_waves,
    )

    par = spark.sparkContext.defaultParallelism
    d = str(tmp_path_factory.mktemp("waves") / "in")
    seeded_transcripts(spark, 20, seed=9).write.parquet(d)
    small = spark.read.parquet(d)
    assert plan_waves(small, 64) == (1, par)
    unsized = spark.createDataFrame(
        spark.sparkContext.parallelize([("c", 0)]), "conv_id string, n int")
    assert plan_waves(unsized, 64) == (UNKNOWN_SIZE_WAVES, 4 * par)
    assert UNKNOWN_SIZE_WAVES == 4
    assert plan_waves(small, 64, waves=3) == (3, par)
    assert plan_waves(unsized, 2, waves=3) == (2, 4 * par)
    assert plan_waves(small, 0)[0] == 0

    # spark.range(n) is sized 8 bytes per row without reading anything
    wave_rows = par * WAVE_BYTES_PER_CORE // 8
    assert plan_waves(spark.range(wave_rows), 64) == (1, 4 * par)
    assert plan_waves(spark.range(wave_rows // 2), 64) == (1, 2 * par)
    assert plan_waves(spark.range(3 * wave_rows), 64) == (3, 4 * par)
    assert plan_waves(spark.range(wave_rows), 64, waves=4) == (4, par)

    # extract_turns' default is the same rule with the frame as one wave
    assert extract_turns(small).rdd.getNumPartitions() == par
    assert extract_turns(seeded_transcripts(spark, 20, seed=9)) \
        .rdd.getNumPartitions() == 4 * par  # list-backed: unsized
    assert extract_turns(small, num_partitions=3) \
        .rdd.getNumPartitions() == 3


def test_one_wave_writes_about_one_file_per_bucket(spark, tmp_path_factory):
    """Range partitioning puts each bucket in one extraction task except
    at the task boundaries, so a one-wave job writes at most populated
    buckets + tasks - 1 data files; metrics/ is one unpartitioned table
    whose docs_in still sums to the row count."""
    out = str(tmp_path_factory.mktemp("layout"))
    transcripts = seeded_transcripts(spark, 64, seed=10)
    r = run_extraction_job(spark, transcripts, out, num_partitions=4,
                           part_buckets=8, waves=1)
    assert r["rows"] == 64
    turns_dir = os.path.join(out, "turns")
    bucket_dirs = [d for d in os.listdir(turns_dir)
                   if d.startswith("part_bucket=")]
    files = [f for d in bucket_dirs
             for f in os.listdir(os.path.join(turns_dir, d))
             if f.endswith(".parquet")]
    assert len(files) <= len(bucket_dirs) + 3, (len(files), bucket_dirs)
    metrics_dir = os.path.join(out, "metrics")
    assert not any(d.startswith("part_bucket=")
                   for d in os.listdir(metrics_dir))
    metrics = spark.read.parquet(metrics_dir)
    assert "part_bucket" in metrics.columns
    assert metrics.agg(F.sum("docs_in")).collect()[0][0] == 64


def test_workers_keep_unchanged_zip_directories(spark):
    """PySpark's worker calls ``importlib.invalidate_caches()`` before
    every task. Once a worker has imported ``trek_spark.spark.udf``, that
    call re-reads no unchanged zip or jar directory
    (``trek_spark.spark.zip_directories``)."""
    def probe(batches):
        import os
        import zipimport

        import pandas as pd
        from trek_spark.spark import udf, zip_directories  # noqa: F401

        reads = getattr(zipimport, "_probe_reads", None)
        if reads is None:
            # First probe on this worker: count directory reads from here.
            reads = zipimport._probe_reads = {"n": 0, "at_task_end": 0}
            read_directory = zipimport._read_directory

            def counted(archive):
                reads["n"] += 1
                return read_directory(archive)

            zipimport._read_directory = counted
            since_last_task = -1
        else:
            since_last_task = reads["n"] - reads["at_task_end"]
        for _ in batches:
            pass
        reads["at_task_end"] = reads["n"]
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "installed": [zipimport.zipimporter.invalidate_caches
                          is zip_directories._invalidate_if_changed],
            "reads": [since_last_task]})

    def run(tasks):
        return (spark.range(0, tasks, numPartitions=tasks)
                .mapInPandas(probe, "pid long, installed boolean, reads long")
                .collect())

    # Idle workers are taken first in, first out: the first job has
    # enough tasks to reach every idle worker, so the second job's
    # workers all carry a counter from it.
    run(16)
    reporting = [r for r in run(2) if r.reads >= 0]
    assert reporting
    assert all(r.installed and r.reads == 0 for r in reporting), reporting


def test_salting_spreads_conversations(spark):
    from trek_spark.spark.job import range_partitioned
    t = seeded_transcripts(spark, 64, seed=6)
    df = range_partitioned(t, 8)
    parts = df.withColumn("pid", F.spark_partition_id()) \
        .groupBy("pid").count().collect()
    assert len(parts) > 1  # one conversation cannot pin a single partition


def test_giant_conversation_skew(spark, tmp_path_factory):
    """North-rule skew clause: a single conversation holding most of the
    corpus must not pin one partition. The range keys include turn_idx,
    so one conv_id splits at turn boundaries across as many partitions as
    its share of the rows; verify the spread and that the job completes
    with correct output."""
    from pyspark.sql import functions as F

    base = seeded_transcripts(spark, 8, seed=7)
    # one conversation with 400 turns (vs 8 normal rows)
    giant = (spark.range(400)
             .select(F.lit("conv-giant").alias("conv_id"),
                     F.col("id").cast("int").alias("turn_idx"),
                     F.lit("assistant").alias("role"),
                     F.concat(F.lit("<html><body><article><p>turn body "),
                              F.col("id").cast("string"),
                              F.lit(" with enough prose to extract.</p>"
                                    "</article></body></html>")).alias("text"),
                     F.lit(None).cast("string").alias("tool"),
                     F.current_timestamp().alias("ts"),
                     F.lit(None).cast("string").alias("url")))
    skewed = base.unionByName(giant)

    from trek_spark.spark.job import range_partitioned
    parts = (range_partitioned(skewed, 8)
             .filter(F.col("conv_id") == "conv-giant")
             .withColumn("pid", F.spark_partition_id())
             .select("pid").distinct().count())
    assert parts >= 4, f"giant conversation pinned to {parts} partition(s)"

    out = str(tmp_path_factory.mktemp("skewjob"))
    r = run_extraction_job(spark, skewed, out, num_partitions=8,
                           part_buckets=8, waves=2)
    # the one failure is the seeded empty_input turn
    assert r["rows"] == 408 and r["failures"] == 1
    turns = spark.read.parquet(os.path.join(out, "turns"))
    assert turns.filter(F.col("conv_id") == "conv-giant").count() == 400


def test_iceberg_gate_and_parquet_fallback(spark, tmp_path_factory):
    """This container has no Iceberg runtime: the capability check must say
    so, and a job asked for a table sink must fall back to the parquet
    sink with identical output + resume semantics."""
    from trek_spark.spark.job import iceberg_available
    assert iceberg_available(spark) is False

    out = str(tmp_path_factory.mktemp("jobtable"))
    transcripts = seeded_transcripts(spark, 20, seed=8)
    r1 = run_extraction_job(spark, transcripts, out, num_partitions=8,
                            part_buckets=8,
                            output_table="cat.db.turns")
    assert r1["rows"] == 20 and r1["failures"] == 1  # seeded empty turn
    assert r1["output"].endswith("turns")  # parquet dir, not the table
    assert spark.read.parquet(os.path.join(out, "turns")).count() == 20
    r2 = run_extraction_job(spark, transcripts, out, num_partitions=8,
                            part_buckets=8,
                            output_table="cat.db.turns")
    assert r2["rows"] == 0  # resume unchanged under the fallback


def test_table_sink_markers_not_trusted_without_table(spark, tmp_path_factory):
    """Round-5 (r4 advice): markers + a dropped/re-pointed Iceberg table
    must NOT resume-skip — markers are honored only while their table
    exists; the parquet sink keeps trusting markers as before."""
    from trek_spark.spark.job import (
        _mark_buckets_committed, _trusted_completed_buckets,
    )

    out = str(tmp_path_factory.mktemp("markers"))
    committed = f"{out}/_committed"
    _mark_buckets_committed(spark, committed, [0, 3, 7])

    # parquet sink (table=None): markers trusted
    assert _trusted_completed_buckets(spark, committed, True, None) \
        == {0, 3, 7}
    # table sink, table missing: markers ignored (restart from scratch)
    assert _trusted_completed_buckets(
        spark, committed, True, "nosuch.dropped_table") == set()
    # resume off: always empty
    assert _trusted_completed_buckets(spark, committed, False, None) == set()


def test_curate_job_end_to_end(spark, tmp_path_factory):
    """The composed curation pipeline (dedup -> sample -> decontaminate)
    through the spark-submit entry's main(), smoke-level: stage ledger is
    consistent and the output respects the sample's pure-function keep
    rule."""
    import hashlib
    import json
    import sys
    from unittest import mock

    from jobs import curate_job
    from trek_spark.spark import ops as O

    out = str(tmp_path_factory.mktemp("curated"))
    argv = ["curate_job.py", "--input", "/root/testdata/sf0.001",
            "--output", out]
    printed = []
    with mock.patch.object(sys, "argv", argv), \
            mock.patch("builtins.print",
                       side_effect=lambda *a, **k: printed.append(a)):
        # get_spark returns the active session; stop() is a no-op guard
        with mock.patch.object(spark, "stop"):
            curate_job.main()
    ledger = json.loads(printed[-1][0])
    assert ledger["docs_in"] > 0
    assert ledger["docs_out"] <= ledger["docs_in"] - ledger["dedup_dropped"]
    assert "repetition_dropped" in ledger  # quality gate ran (r6 stage)
    got = spark.read.parquet(f"{out}/documents").collect()
    assert len(got) == ledger["docs_out"]
    rates = dict(O._SAMPLE_RATES)
    for r in got:
        tick = hashlib.md5(f"sample:{r.doc_id}".encode()).hexdigest()[:4]
        assert tick < rates.get(r.lang, O._SAMPLE_DEFAULT)
    # no surviving doc exceeds the repetition ceiling
    reps = {r.doc_id: r.repetition_e4 for r in O.q_docs_repetition_ratio(
        spark, "/root/testdata/sf0.001").collect()}
    assert all(reps.get(r.doc_id, 0) <= 6000 for r in got)


def test_curate_job_mix_and_fuzzy_stages(spark, tmp_path_factory):
    """--mix-sample + --fuzzy-decontaminate: the mix keep-set is the
    pure hash function against quotas computed from the SURVIVOR mix,
    the fuzzy-flagged docs are really gone, and the ledger records the
    mix budget."""
    import hashlib
    import json
    import sys
    from unittest import mock

    from jobs import curate_job
    from trek_spark.spark import ops as O

    out = str(tmp_path_factory.mktemp("curated_mix"))
    argv = ["curate_job.py", "--input", "/root/testdata/sf0.001",
            "--output", out, "--skip-sample", "--mix-sample",
            "--fuzzy-decontaminate"]
    printed = []
    with mock.patch.object(sys, "argv", argv), \
            mock.patch("builtins.print",
                       side_effect=lambda *a, **k: printed.append(a)):
        with mock.patch.object(spark, "stop"):
            curate_job.main()
    ledger = json.loads(printed[-1][0])
    assert ledger["mix_budget"] > 0
    got = spark.read.parquet(f"{out}/documents").collect()
    assert len(got) == ledger["docs_out"] > 0
    # every survivor satisfies the mix keep rule for ITS source quota
    # (re-derive the plan over the pre-mix survivor set)
    fuzzy = {r.doc_id for r in O.q_benchmark_contamination_fuzzy(
        spark, "/root/testdata/sf0.001").collect()}
    assert not any(r.doc_id in fuzzy for r in got)
    for r in got[:50]:
        tick = int(hashlib.md5(
            f"mix:{r.doc_id}".encode()).hexdigest()[:4], 16)
        assert tick < 65536  # tick derivation matches the op namespace


def test_curate_job_gopher_gate_stage(spark, tmp_path_factory):
    """--gopher-gate: the composite rule set drops the failing docs
    (216 short docs in the sf0.001 corpus), the ledger records the
    count, and no survivor fails pass_all."""
    import json
    import sys
    from unittest import mock

    from jobs import curate_job
    from trek_spark.spark import ops as O

    out = str(tmp_path_factory.mktemp("curated_gopher"))
    argv = ["curate_job.py", "--input", "/root/testdata/sf0.001",
            "--output", out, "--gopher-gate", "--skip-sample",
            "--skip-decontaminate"]
    printed = []
    with mock.patch.object(sys, "argv", argv), \
            mock.patch("builtins.print",
                       side_effect=lambda *a, **k: printed.append(a)):
        with mock.patch.object(spark, "stop"):
            curate_job.main()
    ledger = json.loads(printed[-1][0])
    assert ledger["gopher_dropped"] > 0
    got = {r.doc_id for r in
           spark.read.parquet(f"{out}/documents").collect()}
    assert len(got) == ledger["docs_out"] > 0
    failing = {r.doc_id for r in O.q_gopher_quality_rules(
        spark, "/root/testdata/sf0.001").filter("NOT pass_all").collect()}
    assert not (got & failing)


def test_iceberg_writeto_call_chain_without_runtime(spark, monkeypatch):
    """This sandbox lacks the Iceberg jars (iceberg_available() is False,
    pinned above), so the writeTo path can't execute against a real
    catalog — but its WIRING can: capture the DataFrameWriterV2 call
    chain and assert both branches issue exactly the calls the Iceberg
    sink contract requires (create: using('iceberg') + partitionedBy
    (part_bucket); existing table: overwritePartitions — the one-snapshot
    atomic wave commit the docstring promises). SURVEY §3.4 records the
    sandbox limitation; this is the executed half of that evidence."""
    from trek_spark.spark.job import _write_wave_table

    calls = []

    class FakeWriter:
        def using(self, fmt):
            calls.append(("using", fmt))
            return self

        def partitionedBy(self, *cols):
            calls.append(("partitionedBy",
                          [c._jc.toString() if hasattr(c, "_jc") else str(c)
                           for c in cols]))
            return self

        def create(self):
            calls.append(("create",))

        def overwritePartitions(self):
            calls.append(("overwritePartitions",))

    df = spark.createDataFrame(
        [("c1", 0, 3)], "conv_id string, turn_idx int, part_bucket int")
    # patch the CONCRETE DataFrame class (pyspark 4: pyspark.sql.classic
    # subclasses the abstract pyspark.sql.DataFrame, so patching the base
    # is shadowed by the subclass override)
    monkeypatch.setattr(type(df), "writeTo",
                        lambda self, table: FakeWriter(), raising=True)

    # branch 1: table absent → create with iceberg + bucket partitioning
    monkeypatch.setattr(spark.catalog, "tableExists", lambda t: False)
    calls.clear()
    _write_wave_table(spark, df, "out.turns")
    assert calls[0] == ("using", "iceberg")
    assert calls[1][0] == "partitionedBy" and "part_bucket" in calls[1][1][0]
    assert calls[2] == ("create",)

    # branch 2: table exists → single overwritePartitions commit
    monkeypatch.setattr(spark.catalog, "tableExists", lambda t: True)
    calls.clear()
    _write_wave_table(spark, df, "out.turns")
    assert calls == [("overwritePartitions",)]


def test_aqe_skew_join_splits_hot_partition(spark):
    """Skew handling at 100 TB: one hot key holding most of the fact
    rows must not pin a whole join to one straggler task — AQE's skew
    join splits the oversized partition at runtime. Thresholds are
    scaled down so the mechanism ENGAGES on test-sized data (same
    philosophy as the injected-skew dedup cap oracle): the executed
    final plan must show `skew=true` on the SortMergeJoin."""
    from contextlib import ExitStack

    from trek_spark.spark.job import scoped_conf

    fact = spark.range(0, 60_000).selectExpr(
        # 55k rows on key 0, the rest spread over 999 keys
        "CAST(CASE WHEN id < 55000 THEN 0 ELSE id % 999 + 1 END AS BIGINT)"
        " AS k",
        # skew detection reads COMPRESSED shuffle block sizes: the pad
        # must be incompressible or the hot partition lz4s to nothing
        "concat(md5(cast(id as string)), md5(cast(id + 1 as string)), "
        "md5(cast(id + 2 as string)), md5(cast(id + 3 as string))) AS pad")
    dim = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    with ExitStack() as stack:
        for k, v in confs.items():
            stack.enter_context(scoped_conf(spark, k, v))
        j = fact.join(dim, "k")
        # execute THIS dataframe's plan (count() builds a different one
        # whose queryExecution would still read isFinalPlan=false)
        assert len(j.collect()) == 60_000
        plan = j._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan


def test_curate_job_domain_cap_stage(spark, tmp_path_factory):
    """--domain-cap 20: no source ships more than 20 docs, the kept set
    per source is exactly the md5-tick lottery's top-20 among the
    pre-cap survivors, and the ledger records the dropped count."""
    import json
    import sys
    from unittest import mock

    from jobs import curate_job
    from trek_spark.spark import ops as O

    out = str(tmp_path_factory.mktemp("curated_cap"))
    argv = ["curate_job.py", "--input", "/root/testdata/sf0.001",
            "--output", out, "--domain-cap", "20", "--skip-sample",
            "--skip-decontaminate"]
    printed = []
    with mock.patch.object(sys, "argv", argv), \
            mock.patch("builtins.print",
                       side_effect=lambda *a, **k: printed.append(a)):
        with mock.patch.object(spark, "stop"):
            curate_job.main()
    ledger = json.loads(printed[-1][0])
    assert ledger["domain_cap_dropped"] > 0
    got = spark.read.parquet(f"{out}/documents")
    per_source = {r.source: r.n for r in got.groupBy("source")
                  .agg(F.count("*").alias("n")).collect()}
    assert per_source and all(n <= 20 for n in per_source.values())
    assert got.count() == ledger["docs_out"]
    # survivors == the cap filter applied to the pre-cap survivor set
    # (quality gate + dedup, as the job composes them)
    pre = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    flagged = (O.q_docs_repetition_ratio(spark, "/root/testdata/sf0.001")
               .filter(F.col("repetition_e4") > 6000).select("doc_id"))
    labels, _r, _c = O._min_label_cc(
        O._cluster_edges(spark, "/root/testdata/sf0.001"))
    dropped = labels.filter(
        F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    pre = (pre.join(flagged, "doc_id", "left_anti")
           .join(dropped, "doc_id", "left_anti"))
    expect = {r.doc_id for r in
              O.domain_cap_filter(pre, 20).collect()}
    assert {r.doc_id for r in got.collect()} == expect


def test_curate_job_split_stage(spark, tmp_path_factory):
    """--split: the output is PARTITIONED by the deterministic
    train/val/test assignment (split=... directories exist), every
    row's split re-derives from its doc_id via the shared expression,
    and the ledger's out_by_split sums to docs_out."""
    import hashlib
    import json
    import os
    import sys
    from unittest import mock

    from jobs import curate_job

    out = str(tmp_path_factory.mktemp("curated_split"))
    argv = ["curate_job.py", "--input", "/root/testdata/sf0.001",
            "--output", out, "--split"]
    printed = []
    with mock.patch.object(sys, "argv", argv), \
            mock.patch("builtins.print",
                       side_effect=lambda *a, **k: printed.append(a)):
        with mock.patch.object(spark, "stop"):
            curate_job.main()
    ledger = json.loads(printed[-1][0])
    assert sum(ledger["out_by_split"].values()) == ledger["docs_out"] > 0
    # physical layout: hive-style split= directories (partition pruning)
    dirs = {d for d in os.listdir(f"{out}/documents")
            if d.startswith("split=")}
    assert dirs == {f"split={s}" for s in ledger["out_by_split"]}
    # membership is the pure doc_id function
    got = spark.read.parquet(f"{out}/documents").collect()
    for r in got:
        tick = int(hashlib.md5(
            str(r.doc_id).encode()).hexdigest()[:8], 16) % 100
        want = "train" if tick < 80 else ("val" if tick < 90 else "test")
        assert r.split == want


def test_curate_job_pii_redact_stage(spark, tmp_path_factory):
    """--pii-redact: planted emails/IPs/phones are scrubbed from the
    shipped text in the fixed email->ip->phone order, clean docs pass
    through byte-identical, and the ledger counts exactly the docs
    whose text changed (via the Observation riding the write)."""
    import json
    import sys
    from unittest import mock

    from jobs import curate_job

    src = str(tmp_path_factory.mktemp("pii_in"))
    rows = [
        (0, "reach me at alice@example.com or 10.0.0.1", "en", "srcA", 40),
        (1, "call +4915712345678 now", "en", "srcA", 23),
        (2, "perfectly clean text", "en", "srcB", 20),
        (3, None, "en", "srcB", 0),
    ]
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars int")
     .write.mode("overwrite").parquet(f"{src}/documents.parquet"))

    out = str(tmp_path_factory.mktemp("pii_out"))
    argv = ["curate_job.py", "--input", src, "--output", out,
            "--pii-redact", "--skip-quality", "--skip-dedup",
            "--skip-sample", "--skip-decontaminate"]
    printed = []
    with mock.patch.object(sys, "argv", argv), \
            mock.patch("builtins.print",
                       side_effect=lambda *a, **k: printed.append(a)):
        with mock.patch.object(spark, "stop"):
            curate_job.main()
    ledger = json.loads(printed[-1][0])
    assert ledger["pii_docs_redacted"] == 2
    got = {r.doc_id: r.text
           for r in spark.read.parquet(f"{out}/documents").collect()}
    assert got[0] == "reach me at <EMAIL> or <IP>"
    assert got[1] == "call <PHONE> now"
    assert got[2] == "perfectly clean text"
    assert got[3] == ""  # null text coalesces through the redactor


def test_embed_curate_job_end_to_end(spark, tmp_path_factory):
    """The embedding-curation pipeline through its spark-submit main():
    a planted exact duplicate OF A CELL MEDOID must be semantically
    deduplicated (cos 1.0 > threshold to the kept representative, the
    original wins the vec_id tiebreak), the label-noise gate drops the
    flagged set when asked, the output is partitioned by cell, and the
    ledger deltas reconcile."""
    import json
    import os
    import sys
    from unittest import mock

    from jobs import embed_curate_job
    from trek_spark.spark import ops as O

    # pick a real medoid and plant an exact duplicate with a huge vec_id
    med = (O.OPS["semantic_dedup_medoid"][0](spark, "/root/testdata/sf0.001")
           .filter("vec_id = medoid_id").limit(1).collect()[0])
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dup = (emb.filter(emb.vec_id == med.vec_id)
           .withColumn("vec_id", emb.vec_id * 0 + 900000))
    src = str(tmp_path_factory.mktemp("emb_in"))
    emb.unionByName(dup).write.mode("overwrite").parquet(
        f"{src}/embeddings.parquet")

    out = str(tmp_path_factory.mktemp("emb_out"))
    argv = ["embed_curate_job.py", "--input", src, "--output", out,
            "--drop-flagged-labels"]
    printed = []
    with mock.patch.object(sys, "argv", argv), \
            mock.patch("builtins.print",
                       side_effect=lambda *a, **k: printed.append(a)):
        with mock.patch.object(spark, "stop"):
            embed_curate_job.main()
    ledger = json.loads(printed[-1][0])
    assert ledger["vecs_in"] == 501
    assert ledger["semdedup_dropped"] >= 1          # the planted dup
    assert ledger["vecs_out"] == sum(ledger["out_by_cell"].values())
    assert (ledger["vecs_in"] - ledger["semdedup_dropped"]
            - ledger["label_noise_dropped"]) == ledger["vecs_out"]
    # physical layout: hive-style cell= directories (partition pruning)
    dirs = {d for d in os.listdir(f"{out}/embeddings")
            if d.startswith("cell=")}
    assert dirs == {f"cell={c}" for c in ledger["out_by_cell"]}
    # the planted duplicate is gone, its medoid original survived
    kept = {r.vec_id for r in
            spark.read.parquet(f"{out}/embeddings").collect()}
    assert 900000 not in kept and med.vec_id in kept


def test_curate_job_dup_ngram_and_ppl_stages(spark, tmp_path_factory):
    """--dup-ngram-max-permille + --ppl-keep: the cross-doc repetition
    gate and the CCNet bucket gate drop exactly the op-flagged docs,
    the ledger records both deltas, and no survivor violates either
    rule."""
    import json
    import sys
    from unittest import mock

    from pyspark.sql import functions as F

    from jobs import curate_job
    from trek_spark.spark import ops as O

    out = str(tmp_path_factory.mktemp("curated_dng"))
    argv = ["curate_job.py", "--input", "/root/testdata/sf0.001",
            "--output", out, "--skip-sample", "--skip-decontaminate",
            "--skip-dedup", "--skip-quality",
            "--dup-ngram-max-permille", "500",
            "--ppl-keep", "head,middle"]
    printed = []
    with mock.patch.object(sys, "argv", argv), \
            mock.patch("builtins.print",
                       side_effect=lambda *a, **k: printed.append(a)):
        with mock.patch.object(spark, "stop"):
            curate_job.main()
    ledger = json.loads(printed[-1][0])
    assert "dup_ngram_dropped" in ledger and "ppl_bucket_dropped" in ledger
    assert ledger["docs_in"] - ledger["dup_ngram_dropped"] \
        - ledger["ppl_bucket_dropped"] == ledger["docs_out"]
    got = {r.doc_id for r in
           spark.read.parquet(f"{out}/documents").collect()}
    assert len(got) == ledger["docs_out"] > 0
    dng = {r.doc_id: r.dup_permille for r in
           O.q_docs_duplicate_ngram_fraction(
               spark, "/root/testdata/sf0.001").collect()}
    assert all(dng.get(d, 0) <= 500 for d in got)
    tails = {r.doc_id for r in
             O.q_ccnet_perplexity_buckets(spark, "/root/testdata/sf0.001")
             .filter(F.col("ppl_bucket") == "tail").collect()}
    assert not (got & tails)
    # the gates really fired (the synthetic corpus has both tails)
    assert ledger["ppl_bucket_dropped"] > 0


def test_curate_job_dedup_keep_best_quality(spark, tmp_path_factory):
    """--dedup-keep best-quality: per near-dup cluster exactly the
    classifier-score winner survives (NOT necessarily the min id), and
    the drop count equals members − clusters."""
    import json
    import sys
    from unittest import mock

    from jobs import curate_job
    from trek_spark.spark import ops as O

    out = str(tmp_path_factory.mktemp("curated_bq"))
    argv = ["curate_job.py", "--input", "/root/testdata/sf0.001",
            "--output", out, "--skip-sample", "--skip-decontaminate",
            "--skip-quality", "--dedup-keep", "best-quality"]
    printed = []
    with mock.patch.object(sys, "argv", argv), \
            mock.patch("builtins.print",
                       side_effect=lambda *a, **k: printed.append(a)):
        with mock.patch.object(spark, "stop"):
            curate_job.main()
    ledger = json.loads(printed[-1][0])
    winners = O.OPS["dedup_keep_best_quality"][0](
        spark, "/root/testdata/sf0.001").toPandas()
    assert ledger["dedup_dropped"] == \
        int(winners["n_members"].sum()) - len(winners)
    got = {r.doc_id for r in
           spark.read.parquet(f"{out}/documents").collect()}
    kept = set(winners["kept_doc"].astype(int))
    labels = O.OPS["dedup_clusters"][0](
        spark, "/root/testdata/sf0.001").toPandas()
    members = set(labels["doc_id"].astype(int))
    assert got & members == kept          # survivors ∩ clustered = winners
    # the rule genuinely differs from min-id somewhere in this corpus
    min_ids = set(labels["cluster_id"].astype(int))
    assert kept != min_ids


def test_train_export_sft_mask_spans(spark, tmp_path_factory):
    """--sft: loss-mask spans recomputed INDEPENDENTLY in Python from
    the raw corpus (per-turn whitespace token counts, conv = doc_id %
    50, assistant = doc_id % 4 == 1, conv-id-keyed split, GPT start-
    window packing) must match the job's output exactly — offsets,
    totals, split purity and span/mask consistency."""
    import hashlib
    import json
    import sys
    from unittest import mock

    from jobs import train_export_job
    from trek_spark.spark import ops as O

    out = str(tmp_path_factory.mktemp("sft"))
    argv = ["train_export_job.py", "--input", "/root/testdata/sf0.001",
            "--output", out, "--sft"]
    printed = []
    with mock.patch.object(sys, "argv", argv), \
            mock.patch("builtins.print",
                       side_effect=lambda *a, **k: printed.append(a)):
        with mock.patch.object(spark, "stop"):
            train_export_job.main()
    ledger = json.loads(printed[-1][0])
    assert ledger["mode"] == "sft" and ledger["convs_packed"] == 50

    # ---- independent Python recomputation -------------------------
    docs = sorted(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .collect(), key=lambda r: r.doc_id)
    convs = {}
    for r in docs:
        cid = r.doc_id % 50
        toks = len((r.text or "").strip().split()) or 1
        c = convs.setdefault(cid, {"tokens": 0, "mask": 0, "spans": []})
        if r.doc_id % 4 == 1:
            c["spans"].append((c["tokens"], c["tokens"] + toks))
            c["mask"] += toks
        c["tokens"] += toks

    def split_of(cid):
        t = int(hashlib.md5(str(cid).encode()).hexdigest()[:8], 16) % 100
        return "train" if t < 80 else ("val" if t < 90 else "test")

    cap = ledger["capacity"]
    expect = {}
    for (split, shard) in sorted({(split_of(c), c // 100_000)
                                  for c in convs}):
        cum = 0
        for cid in sorted(c for c in convs
                          if split_of(c) == split
                          and c // 100_000 == shard):
            c = convs[cid]
            start = cum
            seq = start // cap
            off = start - seq * cap
            e = expect.setdefault((split, shard, seq), {
                "n_convs": 0, "tokens": 0, "mask": 0, "spans": []})
            e["n_convs"] += 1
            e["tokens"] += c["tokens"]
            e["mask"] += c["mask"]
            e["spans"] += [(s + off, t + off) for s, t in c["spans"]]
            cum += c["tokens"]

    got = spark.read.parquet(f"{out}/sft_sequences").collect()
    assert len(got) == len(expect) == ledger["n_sequences"]
    for r in got:
        e = expect[(r.split, r.shard, r.seq_id)]
        assert r.n_convs == e["n_convs"]
        assert r.seq_tokens == e["tokens"]
        assert r.mask_tokens == e["mask"]
        spans = [(s.start, s.end) for s in r.mask_spans]
        assert spans == sorted(e["spans"]), (r.split, r.shard, r.seq_id)
        # span arithmetic: mask == sum of span widths; disjoint ascending
        assert sum(t - s for s, t in spans) == r.mask_tokens
        assert all(spans[i][1] <= spans[i + 1][0]
                   for i in range(len(spans) - 1))
        assert all(s >= 0 for s, _ in spans)
