"""Structured Streaming extraction tests: file source → fused extraction →
parquet sink with checkpoint; watermarked windowed metrics."""

import json
import os

import pytest
from pyspark.sql import functions as F

from trek_spark.spark.corpus import seeded_transcripts
from trek_spark.spark.session import get_spark
from trek_spark.spark.streaming import (
    progress_summary, read_transcript_stream, stream_extract_turns,
    stream_turn_rate,
)


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-streaming", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def input_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_in"))
    # two files so the source has more than one split to track
    # the seeded empty turn is left out: the test asserts no errors
    t = seeded_transcripts(spark, 25, seed=10).filter(F.col("text") != "")
    t.filter(F.col("turn_idx") % 2 == 0).write.mode("append").parquet(d)
    t.filter(F.col("turn_idx") % 2 == 1).write.mode("append").parquet(d)
    return d


def test_stream_extract_end_to_end(spark, input_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    q = stream_extract_turns(spark, input_dir, out, ckpt, num_partitions=4)
    q.awaitTermination(300)
    n_in = spark.read.parquet(input_dir).count()
    result = spark.read.parquet(out)
    assert result.count() == n_in
    assert result.filter(F.col("error").isNotNull()).count() == 0
    # streaming output matches the batch plan on the same input
    row = (result.filter(F.col("extracted_text").isNotNull())
           .orderBy("conv_id", "turn_idx").select("extracted_text").first())
    assert row is not None and len(row.extracted_text) > 0

    # restart with the same checkpoint: nothing new to process, nothing
    # duplicated (exactly-once across restarts)
    q2 = stream_extract_turns(spark, input_dir, out, ckpt, num_partitions=4)
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == n_in


def test_stream_turn_rate_windows(spark, input_dir, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("rate_ckpt"))
    stream = read_transcript_stream(spark, input_dir)
    rate = stream_turn_rate(stream, window="10 minutes",
                            watermark="5 minutes")
    q = (rate.writeStream.format("memory").queryName("turn_rate")
         .outputMode("complete")
         .trigger(availableNow=True).option("checkpointLocation", ckpt)
         .start())
    q.awaitTermination(300)
    rows = spark.sql(
        "SELECT role, sum(turns) AS turns FROM turn_rate GROUP BY role"
    ).collect()
    assert sum(r.turns for r in rows) == spark.read.parquet(input_dir).count()
    assert {r.role for r in rows} <= {"user", "assistant", "system", "tool"}


def test_stream_pdf_turns_dispatch(spark, tmp_path_factory):
    """tool == 'pdf' turns dispatch to the PDF layout branch through the
    STREAMING surface too — the same fused UDF runs under readStream, so
    the schema must carry the tool column through."""
    import datetime as dt

    from trek_spark.extract.pdf_text import make_simple_pdf

    d = str(tmp_path_factory.mktemp("stream_pdf_in"))
    payload = make_simple_pdf(["Streamed report", "With body text"],
                              compress=True).decode("latin-1")
    rows = [
        ("sc1", 0, "user",
         "<html><body><p>please check the attached report for anything "
         "unusual today</p></body></html>", None,
         dt.datetime(2024, 1, 1), "https://ex.example/a"),
        ("sc1", 1, "tool", payload, "pdf", dt.datetime(2024, 1, 1), None),
    ]
    from trek_spark.spark.corpus import TRANSCRIPT_SCHEMA
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA) \
        .write.mode("append").parquet(d)

    out = str(tmp_path_factory.mktemp("stream_pdf_out"))
    ckpt = str(tmp_path_factory.mktemp("stream_pdf_ckpt"))
    q = stream_extract_turns(spark, d, out, ckpt, num_partitions=4)
    q.awaitTermination(300)
    got = {r.turn_idx: r for r in spark.read.parquet(out).collect()}
    assert got[1].extractor_type == "pdf-layout"
    assert got[1].extracted_text == "Streamed report\nWith body text"
    assert "attached report" in got[0].extracted_text


def test_stream_dedup_exact_stateful(spark, tmp_path_factory):
    """stream_extract_turns(dedup=True) (in-batch pick + native streaming
    dedup): the earliest turn per content hash passes; duplicates are
    dropped BOTH within a micro-batch and across micro-batches (state
    persists between two drains on one checkpoint); unique content always
    passes."""
    from trek_spark.spark.corpus import TRANSCRIPT_SCHEMA

    d = str(tmp_path_factory.mktemp("dedup_in"))
    out = str(tmp_path_factory.mktemp("dedup_out"))
    ckpt = str(tmp_path_factory.mktemp("dedup_ckpt"))

    def drain(batch):
        spark.createDataFrame(_html_rows(batch), TRANSCRIPT_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(d)
        q = stream_extract_turns(spark, d, out, ckpt, num_partitions=2,
                                 dedup=True)
        assert q.awaitTermination(300)  # False = still running (timed out)
        summary = progress_summary(q.recentProgress)
        return summary, sorted(
            (r.conv_id, r.turn_idx) for r in
            spark.read.parquet(out).select("conv_id", "turn_idx").collect())

    # drain 1: "AAA" twice (different convs), "BBB" once; the earliest-ts
    # AAA (c1 turn 0 at t+0) wins, and the in-batch copy never reaches
    # the state operator
    summary, keys = drain([("c1", 0, "AAA", 0), ("c2", 0, "AAA", 5),
                           ("c1", 1, "BBB", 1)])
    assert keys == [("c1", 0), ("c1", 1)]
    assert (summary["input_rows"], summary["dedup_dropped_rows"]) == (3, 0)
    # drain 2: "AAA" again (cross-batch dup) + new "CCC"; the state drops it
    summary, keys = drain([("c3", 0, "AAA", 9), ("c3", 1, "CCC", 10)])
    assert keys == [("c1", 0), ("c1", 1), ("c3", 1)]
    assert (summary["input_rows"], summary["dedup_dropped_rows"]) == (2, 1)


def test_earliest_copies_pick():
    """The in-batch pick alone, no Spark: each content hash's earliest
    (ts, conv_id, turn_idx) row over the whole partition wins, null ts
    sorting last and full ties going to input order; kept rows stay in
    their batch and order, an emptied batch is still yielded, and an
    empty partition yields nothing."""
    import pandas as pd

    from trek_spark.spark.streaming import _earliest_copies

    t0, t1 = pd.Timestamp("2024-01-01"), pd.Timestamp("2024-01-02")

    def frame(rows):
        return pd.DataFrame(rows, columns=["content_hash", "ts", "conv_id",
                                           "turn_idx", "text"])

    b0 = frame([("h1", None, "a", 0, "h1 null ts"),
                ("h2", t0, "b", 0, "h2 conv b"),
                ("h3", t0, "z", 1, "h3 first"),
                ("h3", t0, "z", 1, "h3 second")])
    b1 = frame([("h2", t0, "a", 3, "h2 conv a"),
                ("h4", t0, "c", 2, "h4 turn 2"),
                ("h4", t0, "c", 1, "h4 turn 1"),
                ("h1", t1, "q", 9, "h1 with ts"),
                ("h5", None, "x", 0, "h5 only copy")])
    b2 = frame([("h4", t1, "a", 0, "h4 later")])
    out = list(_earliest_copies(iter([b0, b1, b2])))
    assert [list(o.text) for o in out] == [
        ["h3 first"],
        ["h2 conv a", "h4 turn 1", "h1 with ts", "h5 only copy"],
        []]
    assert list(out[1].columns) == list(b1.columns)
    assert list(_earliest_copies(iter([]))) == []


def test_stream_extract_with_dedup_stage(spark, tmp_path_factory):
    """dedup=True drops re-delivered duplicate turns BEFORE the extraction
    stage: the sink holds one extracted row per distinct content."""
    import datetime as dt

    from pyspark.sql import functions as F

    from trek_spark.spark.corpus import TRANSCRIPT_SCHEMA
    from trek_spark.spark.streaming import stream_extract_turns

    d = str(tmp_path_factory.mktemp("sx_in"))
    out = str(tmp_path_factory.mktemp("sx_out"))
    ckpt = str(tmp_path_factory.mktemp("sx_ckpt"))
    t0 = dt.datetime(2024, 1, 1)
    html = "<html><body><article><p>Dedup stage body text.</p></article></body></html>"
    rows = [("c1", 0, "user", html, None, t0, None),
            ("c2", 0, "user", html, None, t0, None),      # exact dup
            ("c1", 1, "user", html + " ", None, t0, None)]  # distinct
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(d)
    q = stream_extract_turns(spark, d, out, ckpt, num_partitions=4,
                             dedup=True)
    assert q.awaitTermination(300)
    got = spark.read.parquet(out).select("conv_id", "turn_idx").collect()
    assert {(r.conv_id, r.turn_idx) for r in got} == {("c1", 0), ("c1", 1)}


def _html_rows(batch):
    """TRANSCRIPT_SCHEMA rows from (conv_id, turn_idx, body, minute)."""
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    return [(c, i, "user",
             f"<html><body><article><p>{body}</p></article></body></html>",
             None, t0 + dt.timedelta(minutes=m), None)
            for c, i, body, m in batch]


def test_stream_dedup_is_one_stage_on_num_partitions(spark,
                                                      tmp_path_factory):
    """dedup=True plan shape: one Python stage per micro-batch. The pick
    and extraction are one MapInPandas (no ArrowEvalPython or
    BatchEvalPython filter) below the state operator; the pick's
    repartition and the state operator's shuffle both hash content_hash
    into num_partitions partitions (not the session's shuffle
    partitions), so the plan holds exactly those two Exchanges; there is
    one StreamingDeduplicate on num_partitions state partitions with no
    Python operator above it. The caller's session conf is left as it
    was."""
    import re

    from trek_spark.spark.corpus import TRANSCRIPT_SCHEMA

    d = str(tmp_path_factory.mktemp("shape_in"))
    out = str(tmp_path_factory.mktemp("shape_out"))
    ckpt = str(tmp_path_factory.mktemp("shape_ckpt"))
    spark.createDataFrame(_html_rows([("c1", 0, "Alpha body.", 0),
                                      ("c2", 0, "Alpha body.", 1),
                                      ("c1", 1, "Beta body.", 2)]),
                          TRANSCRIPT_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(d)
    q = stream_extract_turns(spark, d, out, ckpt, num_partitions=2,
                             dedup=True)
    assert q.awaitTermination(300)
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 2
    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    python_ops = re.findall(r"\b\w*(?:EvalPython|InPandas|InArrow)\w*\b",
                            plan)
    assert python_ops == ["MapInPandas"], plan
    exchanges = re.findall(r"\bExchange\b.*", plan)
    assert len(exchanges) == 2
    assert all(re.match(r"Exchange hashpartitioning\(content_hash#\d+, 2\)",
                        e) for e in exchanges), exchanges
    dedups = re.findall(r"StreamingDeduplicate .*numPartitions = (\d+)\]",
                        plan)
    assert dedups == ["2"]
    # the plan prints root first: what precedes the state operator is
    # above it, and the state/write stage runs no Python
    assert "MapInPandas" not in plan[:plan.index("StreamingDeduplicate")]
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.read.parquet(out).count() == 2


def test_stream_dedup_across_restart(spark, tmp_path_factory):
    """Dedup state survives a restart on the same checkpoint: a later
    re-delivery of a first-run text is dropped, a new text passes, and the
    state partition count stays the first run's even when the restart
    asks for another num_partitions."""
    from trek_spark.spark.corpus import TRANSCRIPT_SCHEMA

    d = str(tmp_path_factory.mktemp("restart_in"))
    out = str(tmp_path_factory.mktemp("restart_out"))
    ckpt = str(tmp_path_factory.mktemp("restart_ckpt"))

    def write(batch):
        spark.createDataFrame(_html_rows(batch), TRANSCRIPT_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(d)

    def keys():
        return {(r.conv_id, r.turn_idx) for r in
                spark.read.parquet(out).select("conv_id", "turn_idx")
                .collect()}

    write([("c1", 0, "First text.", 0), ("c1", 1, "Second text.", 1)])
    q = stream_extract_turns(spark, d, out, ckpt, num_partitions=2,
                             dedup=True)
    assert q.awaitTermination(300)
    assert keys() == {("c1", 0), ("c1", 1)}

    # re-delivery of "First text." under a new key and a later ts
    write([("c9", 0, "First text.", 60), ("c9", 1, "New text.", 61)])
    q2 = stream_extract_turns(spark, d, out, ckpt, num_partitions=3,
                              dedup=True)
    assert q2.awaitTermination(300)
    assert keys() == {("c1", 0), ("c1", 1), ("c9", 1)}
    assert q2.lastProgress["numInputRows"] == 2
    assert q2.lastProgress["stateOperators"][0]["numShufflePartitions"] == 2


def test_dedup_earliest_copy_wins_across_files_in_one_batch(
        spark, tmp_path_factory):
    """Two files in ONE availableNow micro-batch: the earlier-ts copy of a
    text sits in the smaller file. Spark plans larger files first, so a
    dedup that keeps the first copy its task reads would keep the later
    copy; the earliest (ts, conv_id, turn_idx) copy must survive."""
    from trek_spark.spark.corpus import TRANSCRIPT_SCHEMA

    d = str(tmp_path_factory.mktemp("earliest_in"))
    out = str(tmp_path_factory.mktemp("earliest_out"))
    ckpt = str(tmp_path_factory.mktemp("earliest_ckpt"))
    big = [("c9", 0, "Shared body.", 30)] + [
        ("c9", i, f"Padding body {i} " + "filler " * 200, 30 + i)
        for i in range(1, 24)]
    for batch in (big, [("c1", 0, "Shared body.", 0)]):
        spark.createDataFrame(_html_rows(batch), TRANSCRIPT_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(d)
    q = stream_extract_turns(spark, d, out, ckpt, num_partitions=2,
                             dedup=True)
    assert q.awaitTermination(300)
    assert [p["numInputRows"] for p in q.recentProgress
            if p["numInputRows"]] == [len(big) + 1]
    keys = {(r.conv_id, r.turn_idx) for r in
            spark.read.parquet(out).select("conv_id", "turn_idx").collect()}
    assert ("c1", 0) in keys and ("c9", 0) not in keys
    assert len(keys) == len(big)


def test_stream_dedup_ttl_expires_in_continuous_query(spark,
                                                      tmp_path_factory):
    """dedup_ttl_ms in a continuous query: a re-delivery inside the TTL is
    dropped, and one after expiry is admitted.

    The real expiry: a text is evicted at the end of the micro-batch that
    follows the first one starting at least dedup_ttl_ms after its first
    sighting (Spark runs that follow-up at once, without input if none is
    waiting); copies arriving before the eviction are dropped. So a text
    lives at least the TTL, under steady input about the TTL plus one or
    two micro-batches, and without input it is not evicted. A later
    sighting does not extend its life (the old ProcessingTimeTimeout
    state was refreshed by every sighting)."""
    import datetime as dt
    import time

    from trek_spark.spark.corpus import TRANSCRIPT_SCHEMA

    ttl_ms = 6000
    d = str(tmp_path_factory.mktemp("ttl_run_in"))
    out = str(tmp_path_factory.mktemp("ttl_run_out"))
    ckpt = str(tmp_path_factory.mktemp("ttl_run_ckpt"))
    q = stream_extract_turns(spark, d, out, ckpt, num_partitions=2,
                             dedup=True, dedup_ttl_ms=ttl_ms,
                             available_now=False)

    def deliver(conv_id, body):
        spark.createDataFrame(_html_rows([(conv_id, 0, body, 0)]),
                              TRANSCRIPT_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(d)
        q.processAllAvailable()

    def started():
        """Start time (epoch s) of each micro-batch that read input."""
        return [dt.datetime.fromisoformat(
                    p["timestamp"].replace("Z", "+00:00")).timestamp()
                for p in q.recentProgress if p["numInputRows"]]

    def evicted():
        return sum(op.get("numRowsRemoved", 0) for p in q.recentProgress
                   for op in p["stateOperators"])

    try:
        deliver("c1", "Repeated body.")
        deliver("c2", "Repeated body.")  # inside the TTL: dropped
        first, second = started()
        assert second - first < ttl_ms / 1000  # the premise of the drop
        time.sleep(max(0.0, first + ttl_ms / 1000 - time.time()) + 0.5)
        deliver("c3", "Fresh body.")  # a micro-batch past the TTL
        deadline = time.time() + 60
        while evicted() < 1 and time.time() < deadline:
            time.sleep(0.2)
        assert evicted() == 1
        deliver("c4", "Repeated body.")  # after expiry: admitted
    finally:
        q.stop()
    keys = {r.conv_id for r in spark.read.parquet(out).collect()}
    assert keys == {"c1", "c3", "c4"}


@pytest.mark.parametrize("kwargs", [
    {"dedup": True, "dedup_ttl_ms": 60_000},           # availableNow drain
    {"dedup_ttl_ms": 60_000, "available_now": False},  # TTL without dedup
])
def test_stream_dedup_ttl_rejected_before_start(spark, tmp_path_factory,
                                                kwargs):
    """A state TTL with an availableNow drain would never terminate, and a
    TTL without dedup has no state to bound: both fail before any query
    starts or the checkpoint is touched."""
    ckpt = tmp_path_factory.mktemp("ttl_ckpt")
    active = len(spark.streams.active)
    with pytest.raises(ValueError):
        stream_extract_turns(spark, str(tmp_path_factory.mktemp("ttl_in")),
                             str(tmp_path_factory.mktemp("ttl_out")),
                             str(ckpt), **kwargs)
    assert len(spark.streams.active) == active
    assert not any(ckpt.iterdir())


def test_progress_summary():
    """The stream job's in-band summary, no Spark: micro-batches are the
    progress entries that ran one (an addBatch duration), so an idle
    entry repeating the last batch's state numbers is not counted twice;
    the p50 wall time is over the micro-batches that read input, and the
    state sums include a no-input micro-batch that only evicted state.
    Progress objects with a ``json`` property read the same as dicts."""
    def entry(rows, trigger_ms, commit_ms, dropped, ran=True):
        durations = {"triggerExecution": trigger_ms, "latestOffset": 3}
        if ran:
            durations["addBatch"] = trigger_ms - 10
        return {"numInputRows": rows, "durationMs": durations,
                "stateOperators": [{
                    "commitTimeMs": commit_ms,
                    "customMetrics": {"numDroppedDuplicateRows": dropped}}]}

    progress = [entry(45, 900, 120, 0), entry(90, 700, 100, 9),
                entry(45, 500, 80, 4), entry(0, 60, 80, 4, ran=False),
                entry(0, 200, 30, 0)]

    class Progress:
        def __init__(self, entry):
            self.json = json.dumps(entry)

    want = {"micro_batches": 4, "input_rows": 180, "trigger_ms_p50": 700,
            "state_commit_ms": 330, "dedup_dropped_rows": 13}
    assert progress_summary(progress) == want
    assert progress_summary([Progress(p) for p in progress]) == want
    assert progress_summary([]) == {
        "micro_batches": 0, "input_rows": 0, "trigger_ms_p50": None,
        "state_commit_ms": 0, "dedup_dropped_rows": 0}


def test_stream_job_rejects_dedup_ttl_without_continuous(tmp_path):
    """jobs/stream_job.py refuses the combinations stream_extract_turns
    rejects, at argument parsing (exit 2), before a session starts."""
    import subprocess
    import sys
    job = os.path.join(os.path.dirname(__file__), "..", "jobs",
                       "stream_job.py")
    base = [sys.executable, job, "--input", str(tmp_path),
            "--output", str(tmp_path), "--checkpoint", str(tmp_path)]
    for extra in (["--dedup", "--dedup-ttl-ms", "1000"],
                  ["--continuous", "--dedup-ttl-ms", "1000"]):
        r = subprocess.run(base + extra, capture_output=True, text=True,
                           timeout=60)
        assert r.returncode == 2, r.stderr
        assert "--dedup-ttl-ms needs" in r.stderr


def test_stream_late_data_dropped_after_checkpoint_restore(spark):
    """The watermark must survive a checkpoint restore and drop a row
    replayed into an already-closed window: exactly one emitted row for
    window [0,60) with turns=1 (the late row did NOT leak in or
    resurrect closed state), and the engine's numRowsDroppedByWatermark
    records exactly the one drop."""
    import importlib.util as u

    spec = u.spec_from_file_location("entry_late", "__spark_entry__.py")
    mod = u.module_from_spec(spec)
    spec.loader.exec_module(mod)
    rows = mod._stream_late_data_audit(spark, "unused").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["role"], r["turns"], r["dropped_late"]) == ("user", 1, 1)


def test_stream_dedup_within_watermark_suppresses_replays(spark):
    """dropDuplicatesWithinWatermark (the engine-native TTL dedup) must
    suppress BOTH the in-batch duplicate and the cross-batch replay of
    (c1, 0) while letting the fresh key through — exactly 3 rows, each
    keeping its FIRST-seen text."""
    import importlib.util as u

    spec = u.spec_from_file_location("entry_ddww", "__spark_entry__.py")
    mod = u.module_from_spec(spec)
    spec.loader.exec_module(mod)
    rows = [(r["conv_id"], r["turn_idx"], r["text"]) for r in
            mod._stream_dedup_within_watermark(spark, "unused").collect()]
    assert rows == [("c1", 0, "first"), ("c1", 1, "reply"),
                    ("c2", 0, "fresh")]
