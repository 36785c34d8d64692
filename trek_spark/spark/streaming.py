"""Structured Streaming surface for the extraction pipeline.

The reference is a per-document library with no streaming story; at
transcript-firehose scale the same fused extraction runs unchanged inside
Structured Streaming:

* ``stream_extract_turns`` — ``readStream`` over a transcript directory →
  [exact dedup →] extraction → parquet sink with a checkpoint location.
  Without dedup the extraction is the batch job's range-partitioned
  ``mapInPandas`` plan (``extract_turns`` is stateless per row, so it is
  streaming-safe as-is); with dedup the same ``mapInPandas`` runs on
  ``stream_dedup_exact``'s output (a vectorized earliest-copy pick, then
  Spark's native dedup: no per-key Python call). End-to-end exactly-once:
  the file source records consumed files and the file sink commits
  atomically per micro-batch, so a crashed micro-batch replays without
  duplication — the streaming counterpart of the batch job's
  wave-committed resume. Drained with ``trigger(availableNow=True)`` by
  default (process all available input, then stop); a deployment runs it
  on the default micro-batch trigger.
* ``stream_turn_rate`` — watermarked windowed turn counts (late turns
  beyond the watermark are dropped, state is bounded), the monitoring
  side-channel for a long-running ingest; the driver contract's
  late-data audit runs on it.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import BooleanType

from .corpus import TRANSCRIPT_SCHEMA
from .job import (WAVE_BYTES_PER_CORE, extract_schema, extract_turns,
                  scoped_conf)
from .udf import extract_map_in_pandas


def read_transcript_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of transcript turns (explicit schema — streaming
    sources never infer). A trigger admits at most one batch-job wave of
    input, ``defaultParallelism × WAVE_BYTES_PER_CORE`` bytes, which bounds
    what a micro-batch's dedup pick and extraction hold in memory."""
    return (spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxBytesPerTrigger",
                    spark.sparkContext.defaultParallelism
                    * WAVE_BYTES_PER_CORE)
            .parquet(input_dir))


def stream_extract_turns(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    num_partitions: int | None = None,
    available_now: bool = True,
    dedup: bool = False,
    dedup_ttl_ms: int | None = None,
) -> StreamingQuery:
    """readStream → [exact dedup →] mapInPandas extraction →
    parquet sink. Restart with the same checkpoint_dir resumes from the
    last committed micro-batch.

    ``num_partitions`` (default ``defaultParallelism``) sizes each Python
    stage of a micro-batch. Every Python task has a fixed cost
    whatever rows it carries, so more tasks than cores only add cost:
    0.1-0.2 s from submit to the UDF's first batch on a warm worker,
    mostly JVM planning and scheduling (task launch to UDF entry is about
    0.07 s). The worker's re-read of every zip/jar directory before
    each task, 0.2-0.45 s more, is skipped for unchanged archives
    (:mod:`.zip_directories`, installed when the worker imports
    :mod:`.udf`).

    ``dedup=False``: the batch job's plan (``extract_turns``) with at most
    ``num_partitions`` extraction partitions; each micro-batch samples
    its range bounds over ``(conv_id, turn_idx)``, which splits a long
    conversation across tasks inside the micro-batch.

    ``dedup=True`` applies ``mapInPandas`` directly to
    :func:`stream_dedup_exact`'s output, in the state operator's stage:
    the content-hash partitioning already spreads each conversation's
    turns, and re-delivered pages are dropped before they cost
    extraction CPU. Its shuffles and state store have ``num_partitions``
    partitions: the query starts under that
    ``spark.sql.shuffle.partitions`` (the caller's conf is restored
    afterwards). The checkpoint records the count at its first start;
    on restart it wins over ``num_partitions``.

    For a continuous deployment set ``dedup_ttl_ms`` (bounds state) and
    the RocksDB state store (``spark.sql.streaming.stateStore
    .providerClass`` → ``RocksDBStateStoreProvider``). ``dedup_ttl_ms``
    needs ``dedup`` and is rejected with ``available_now``: it expires
    hashes by wall time, so a drain re-run from the checkpoint would
    forget hashes by how long ago the last drain ran. Both raise
    ``ValueError`` before any query starts."""
    if dedup_ttl_ms is not None and not dedup:
        raise ValueError("dedup_ttl_ms needs dedup=True")
    if dedup_ttl_ms is not None and available_now:
        raise ValueError("dedup_ttl_ms expires hashes by wall time, so an "
                         "availableNow drain's output would depend on when "
                         "it runs; use it only with available_now=False")
    n = num_partitions or spark.sparkContext.defaultParallelism
    stream = read_transcript_stream(spark, input_dir)
    if dedup:
        deduped = stream_dedup_exact(stream, state_ttl_ms=dedup_ttl_ms) \
            .drop("content_hash")
        extracted = deduped.mapInPandas(extract_map_in_pandas,
                                        schema=extract_schema(deduped))
    else:
        extracted = extract_turns(stream, num_partitions=n)
    writer = (extracted.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    with scoped_conf(spark, "spark.sql.shuffle.partitions", str(n)):
        return writer.start()


def _earliest_copy(batches: Iterator[Tuple[pd.Series, pd.Series, pd.Series,
                                           pd.Series]]
                   ) -> Iterator[pd.Series]:
    """True for each content hash's earliest ``(ts, conv_id, turn_idx)``
    row of the whole partition (nulls last, ties in input order)."""
    frames = [pd.DataFrame({"hash": h, "ts": ts, "conv": c, "idx": i})
              for h, ts, c, i in batches]
    if frames:
        yield ~(pd.concat(frames, ignore_index=True)
                .sort_values(["ts", "conv", "idx"], kind="stable")
                .duplicated("hash").sort_index())


# Non-deterministic: see stream_dedup_exact, step 1.
_earliest_copy_udf = F.pandas_udf(_earliest_copy,
                                  BooleanType()).asNondeterministic()


def stream_dedup_exact(stream: DataFrame,
                       state_ttl_ms: int | None = None) -> DataFrame:
    """In-stream exact dedup on ``content_hash`` (md5 of the text, added as
    a column): the earliest ``(ts, conv_id, turn_idx)`` copy in the first
    micro-batch holding a text passes; every other copy, in that
    micro-batch or a later one, is dropped before extraction spends CPU
    on it. No per-key Python call:

    1. The micro-batch is hash-repartitioned on ``content_hash``, so all
       copies of a text share a partition, where a vectorized filter
       over four narrow columns keeps the earliest. The filter is
       non-deterministic so the optimizer cannot push it below the
       repartition, where it would see one input split's copies only.
    2. Spark's native ``dropDuplicates`` keeps the cross-batch state. It
       keeps the first copy its task reads, not the earliest, which is
       exact only because step 1 leaves it one copy per text.

    ``state_ttl_ms`` bounds state for a long-running stream:
    ``dropDuplicatesWithinWatermark`` over ``current_timestamp()`` (the
    micro-batch start) with a watermark delay of half the TTL. A hash is
    evicted at the end of the micro-batch after the first one starting
    at least ``state_ttl_ms`` after its first sighting (Spark runs it at
    once, without input if none waits); copies before that are dropped.
    Later sightings do not extend its life; without input nothing is
    evicted."""
    hashed = stream.withColumn(
        "content_hash", F.md5(F.coalesce(F.col("text"), F.lit(""))))
    picked = hashed.repartition("content_hash").filter(
        _earliest_copy_udf("content_hash", "ts", "conv_id", "turn_idx"))
    if state_ttl_ms is None:
        return picked.dropDuplicates(["content_hash"])
    return (picked.withColumn("seen_at", F.current_timestamp())
            .withWatermark("seen_at", f"{state_ttl_ms // 2} milliseconds")
            .dropDuplicatesWithinWatermark(["content_hash"])
            .drop("seen_at"))


def stream_turn_rate(stream: DataFrame, window: str = "1 minute",
                     slide: str | None = None,
                     watermark: str = "2 minutes") -> DataFrame:
    """Watermarked windowed turn counts per role — bounded-state
    monitoring aggregation (late rows past the watermark are dropped)."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(w, "role")
            .agg(F.count("*").alias("turns"),
                 F.sum(F.length("text")).alias("bytes_in")))
