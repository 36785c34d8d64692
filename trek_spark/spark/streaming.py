"""Structured Streaming surface for the extraction pipeline.

The reference is a per-document library with no streaming story; at
transcript-firehose scale the same fused extraction runs unchanged inside
Structured Streaming:

* ``stream_extract_turns`` — ``readStream`` over a transcript directory →
  [exact dedup →] extraction → parquet sink with a checkpoint location.
  Without dedup the extraction is the batch job's range-partitioned
  ``mapInPandas`` plan (``extract_turns`` is stateless per row, so it is
  streaming-safe as-is); with dedup one ``mapInPandas`` per
  content-hash partition keeps each text's earliest copy and extracts
  only those, and Spark's native dedup drops texts seen in earlier
  micro-batches (no per-key Python call). End-to-end exactly-once:
  the file source records consumed files and the file sink commits
  atomically per micro-batch, so a crashed micro-batch replays without
  duplication — the streaming counterpart of the batch job's
  wave-committed resume. Drained with ``trigger(availableNow=True)`` by
  default (process all available input, then stop); a deployment runs it
  on the default micro-batch trigger.
* ``progress_summary`` — micro-batches, input rows, median trigger time,
  state-store commit time and dedup drops of a query's recent progress;
  ``jobs/stream_job.py`` prints it with its status line.
* ``stream_turn_rate`` — watermarked windowed turn counts (late turns
  beyond the watermark are dropped, state is bounded), the monitoring
  side-channel for a long-running ingest; the driver contract's
  late-data audit runs on it.
"""

from __future__ import annotations

import json
import statistics
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

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

    ``num_partitions`` (default ``defaultParallelism``) sizes the Python
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

    ``dedup=True``: exact dedup on ``content_hash`` (md5 of the text): the
    earliest ``(ts, conv_id, turn_idx)`` copy in the first micro-batch
    holding a text is written; every other copy is dropped. One Python
    stage per micro-batch:

    1. The micro-batch is hash-repartitioned on ``content_hash``, so all
       copies of a text share a task, whose ``mapInPandas`` keeps each
       hash's earliest row (:func:`_earliest_copies`) and extracts only
       those: in-batch copies cost no extraction CPU.
    2. Spark's native ``dropDuplicates`` keeps the cross-batch state and
       drops re-deliveries of texts seen in earlier micro-batches after
       their extraction. It keeps the first copy its task reads, not the
       earliest, which is exact only because step 1 leaves it one copy
       per text.

    The one stage pays off for short texts in small micro-batches, such
    as a chat-turn stream: a Python stage's fixed cost per task outweighs
    extracting a re-delivered turn (under 1 ms). For web pages it can
    lose: a page re-delivered in a later micro-batch costs its whole
    extraction (11-22 ms), and the second shuffle carries the extraction
    output, about 2.5 times the bytes of the input rows. Each Python
    task also reads its whole partition before extracting, and holds
    each input batch until its kept rows go to extraction (a trigger
    admits at most ``WAVE_BYTES_PER_CORE`` per core).

    Both shuffles and the state store have ``num_partitions``
    partitions: the query starts under that
    ``spark.sql.shuffle.partitions`` (the caller's conf is restored
    afterwards). The checkpoint records the count at its first start;
    on restart it wins over ``num_partitions``.

    For a continuous deployment set ``dedup_ttl_ms`` (bounds state) and
    the RocksDB state store (``spark.sql.streaming.stateStore
    .providerClass`` → ``RocksDBStateStoreProvider``). It dedups with
    ``dropDuplicatesWithinWatermark`` over ``current_timestamp()`` (the
    micro-batch start) with a watermark delay of half the TTL. A hash is
    evicted at the end of the micro-batch after the first one starting
    at least ``dedup_ttl_ms`` after its first sighting (Spark runs it at
    once, without input if none waits); copies before that are dropped.
    Later sightings do not extend its life; without input nothing is
    evicted. ``dedup_ttl_ms`` needs ``dedup`` and is rejected with
    ``available_now``: a drain re-run from the checkpoint would forget
    hashes by how long ago the last drain ran. Both raise
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
        hashed = stream.withColumn(
            "content_hash", F.md5(F.coalesce(F.col("text"), F.lit(""))))
        # The pick must run after the repartition: over the scan's splits
        # a task would see one file's copies of a text, not all of them.
        extracted = hashed.repartition("content_hash").mapInPandas(
            _extract_earliest_copies, schema=extract_schema(hashed))
        if dedup_ttl_ms is None:
            extracted = extracted.dropDuplicates(["content_hash"])
        else:
            extracted = (
                extracted.withColumn("seen_at", F.current_timestamp())
                .withWatermark("seen_at", f"{dedup_ttl_ms // 2} milliseconds")
                .dropDuplicatesWithinWatermark(["content_hash"])
                .drop("seen_at"))
        extracted = extracted.drop("content_hash")
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


def progress_summary(progress: list) -> dict:
    """Where a query's time went, from ``StreamingQuery.recentProgress``
    (the last ``spark.sql.streaming.numRecentProgressUpdates`` entries,
    default 100; plain dicts or progress objects with a ``json``
    property). A micro-batch is an entry that ran one: it has an
    ``addBatch`` duration. Idle entries repeat the last micro-batch's
    state numbers and are skipped. ``trigger_ms_p50`` is over the
    micro-batches that read input; the state sums also count the
    no-input micro-batches that only evict state. ``state_commit_ms`` is
    summed over state partitions (task time, not wall): the partitions
    commit in parallel, so a micro-batch waits for about its sum divided
    by the partition count."""
    progress = [json.loads(p.json) if hasattr(p, "json") else p
                for p in progress]
    ran = [p for p in progress if "addBatch" in p["durationMs"]]
    trigger_ms = [p["durationMs"]["triggerExecution"] for p in ran
                  if p["numInputRows"]]
    state = [op for p in ran for op in p["stateOperators"]]
    return {
        "micro_batches": len(ran),
        "input_rows": sum(p["numInputRows"] for p in ran),
        "trigger_ms_p50": statistics.median(trigger_ms) if trigger_ms
        else None,
        "state_commit_ms": sum(op["commitTimeMs"] for op in state),
        "dedup_dropped_rows": sum(
            op["customMetrics"].get("numDroppedDuplicateRows", 0)
            for op in state),
    }


def _earliest_copies(batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
    """Each ``content_hash``'s earliest ``(ts, conv_id, turn_idx)`` row of
    the whole partition (nulls last, ties in input order). A kept row
    stays in its batch, in input order; every batch is yielded, emptied
    or not, so extraction's ``batch_idx`` still numbers the input's Arrow
    batches."""
    batches = list(batches)
    if not batches:
        return
    keys = pd.concat([b[["content_hash", "ts", "conv_id", "turn_idx"]]
                      for b in batches], ignore_index=True)
    keep = ~(keys.sort_values(["ts", "conv_id", "turn_idx"], kind="stable")
             .duplicated("content_hash").sort_index().to_numpy())
    start = 0
    for i, b in enumerate(batches):
        batches[i] = None  # held input shrinks as extraction goes on
        yield b[keep[start:start + len(b)]]
        start += len(b)


def _extract_earliest_copies(batches: Iterator[pd.DataFrame]
                             ) -> Iterator[pd.DataFrame]:
    """The deduped micro-batch's one Python stage: the pick, then
    ``extract_map_in_pandas`` over the kept rows."""
    return extract_map_in_pandas(_earliest_copies(batches))


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
