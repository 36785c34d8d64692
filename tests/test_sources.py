"""Tests for the Spark-4 Python Data Source (trek_transcripts): batch
determinism and partition-parallel generation, micro-batch streaming
with checkpointed offsets across a restart, and batch/stream row
agreement (both paths share one pure generator)."""

import pytest
from pyspark.sql import functions as F

from trek_spark.spark import sources
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-sources", master="local[4]", shuffle_partitions=8)
    sources.register(s)
    yield s


def _batch(spark, convs=40, parts=4):
    return (spark.read.format("trek_transcripts")
            .option("conversations", convs)
            .option("numPartitions", parts).load())


def test_batch_schema_and_contract(spark):
    df = _batch(spark)
    assert [f.name for f in df.schema.fields] == \
        ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    rows = df.collect()
    # per-conv turn counts follow the pure length function
    from collections import Counter
    per_conv = Counter(r.conv_id for r in rows)
    assert len(per_conv) == 40
    for conv in range(40):
        assert per_conv[f"synth-{conv:08d}"] == sources._turns_in_conv(conv)
    # turn 0 is always the user opener; tool rows carry a tool name,
    # non-tool rows don't
    for r in rows:
        if r.turn_idx == 0:
            assert r.role == "user"
        assert (r.tool is not None) == (r.role == "tool")


def test_batch_deterministic_and_partitioned(spark):
    a = sorted(map(tuple, _batch(spark, 30, 3).collect()))
    b = sorted(map(tuple, _batch(spark, 30, 5).collect()))
    assert a == b  # partition layout cannot change the data
    # partition count follows the option (3 ranges over 30 convs)
    assert _batch(spark, 30, 3).rdd.getNumPartitions() == 3


def test_stream_drains_and_resumes_from_checkpoint(spark, tmp_path):
    """convs_per_batch=10 over 25 conversations: each availableNow run
    consumes the one batch the simple-reader wrapper prefetched, so the
    firehose drains across THREE checkpoint-restarted runs (10/10/5
    conversations) — every restart hands Spark's committed offset back
    into read(), the stateless SimpleDataSourceStreamReader contract —
    and a fourth run adds nothing. The drained parquet equals the
    batch read row-for-row."""
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        # file sink, not memory: only file-backed sinks support
        # checkpoint RECOVERY, which is the contract under test
        stream = (spark.readStream.format("trek_transcripts")
                  .option("conversations", 25)
                  .option("convs_per_batch", 10).load())
        q = (stream.writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        return spark.read.parquet(out).count()

    totals, runs = [0], 0
    while runs < 10:
        total = drain()
        runs += 1
        if total == totals[-1]:
            break
        totals.append(total)
    expect = _batch(spark, 25, 2)
    assert runs == 4  # 3 growing drains + 1 no-growth run
    assert totals[-1] == expect.count()
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == \
        sorted(map(tuple, expect.collect()))


def test_stream_feeds_extraction_stage(spark):
    """The synthetic firehose is pipeline-shaped: the batch read runs
    through the REAL fused extraction (mapInPandas) and every non-tool
    turn extracts its paragraph text."""
    from trek_spark.spark.job import extract_turns

    df = _batch(spark, 12, 2).withColumn("url", F.lit(None).cast("string"))
    out = extract_turns(df, num_partitions=4)
    rows = out.collect()
    assert len(rows) == _batch(spark, 12, 2).count()
    by_key = {(r.conv_id, r.turn_idx): r for r in rows}
    for r in _batch(spark, 12, 2).collect():
        ext = by_key[(r.conv_id, r.turn_idx)].extracted_text
        if r.role != "tool":
            assert f"turn {r.turn_idx} of {r.conv_id}" in (ext or "")
