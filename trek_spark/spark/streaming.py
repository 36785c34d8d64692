"""Structured Streaming surface for the extraction pipeline.

The reference is a per-document library with no streaming story; at
transcript-firehose scale the same fused extraction runs unchanged inside
Structured Streaming:

* ``stream_extract_turns`` — ``readStream`` over a transcript directory →
  [exact dedup →] extraction → parquet sink with a checkpoint location.
  Without dedup the extraction is the batch job's range-partitioned
  ``mapInPandas`` plan (``extract_turns`` is stateless per row, so it is
  streaming-safe as-is); with dedup the same ``mapInPandas`` runs
  directly on the output of ``stream_dedup_exact``'s state operator, so
  a micro-batch is one Python stage. End-to-end exactly-once: the file
  source records consumed files and the file sink commits atomically per
  micro-batch, so a crashed micro-batch replays without duplication — the
  streaming counterpart of the batch job's wave-committed resume. Drained
  with ``trigger(availableNow=True)`` by default (process all available
  input, then stop); a deployment runs it on the default micro-batch
  trigger.
* ``stream_turn_rate`` — watermarked windowed turn counts (late turns
  beyond the watermark are dropped, state is bounded), the monitoring
  side-channel for a long-running ingest; the driver contract's
  late-data audit runs on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .corpus import TRANSCRIPT_SCHEMA
from .job import extract_schema, extract_turns, scoped_conf
from .udf import extract_map_in_pandas


def read_transcript_stream(spark: SparkSession, input_dir: str,
                           max_files_per_trigger: int | None = None
                           ) -> DataFrame:
    """File-source stream of transcript turns (explicit schema — streaming
    sources never infer)."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


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
    """readStream → [stateful exact dedup →] mapInPandas extraction →
    parquet sink. Restart with the same checkpoint_dir resumes from the
    last committed micro-batch.

    ``num_partitions`` (default ``defaultParallelism``) sizes the Python
    stage of each micro-batch. Every Python task has a fixed cost
    whatever rows it carries, so more tasks than cores only add cost.

    ``dedup=False``: the batch job's plan (``extract_turns``) with at most
    ``num_partitions`` extraction partitions; each micro-batch samples
    its range bounds over ``(conv_id, turn_idx)``, which splits a long
    conversation across tasks inside the micro-batch.

    ``dedup=True`` runs :func:`stream_dedup_exact` and extraction in ONE
    stage: ``mapInPandas`` applies directly to the dedup output, with no
    range repartition. The state operator's content-hash partitioning
    already spreads each conversation's turns uniformly, which is the
    job the range bounds do, and re-delivered pages are dropped before
    they cost extraction CPU. The state partition count is ``num_partitions``:
    the query starts under that ``spark.sql.shuffle.partitions`` (the
    caller's session conf is restored afterwards). Spark clones the
    session conf at ``start()`` and records the count in the checkpoint's
    offset log, so it is fixed at the checkpoint's first start; on
    restart the checkpoint's count wins over ``num_partitions``.

    For a continuous deployment set ``dedup_ttl_ms`` (bounds state) and
    configure the RocksDB state store
    (``spark.sql.streaming.stateStore.providerClass`` →
    ``RocksDBStateStoreProvider``) so hash-marker state lives off-heap
    and spills to disk. ``dedup_ttl_ms`` needs ``dedup`` and is rejected
    with ``available_now`` (a pending processing-time timeout prevents
    drain termination); both raise ``ValueError`` before any query
    starts."""
    if dedup_ttl_ms is not None and not dedup:
        raise ValueError("dedup_ttl_ms needs dedup=True")
    if dedup_ttl_ms is not None and available_now:
        raise ValueError("dedup_ttl_ms never lets an availableNow drain "
                         "terminate; use it only with available_now=False")
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


def stream_dedup_exact(stream: DataFrame,
                       state_ttl_ms: int | None = None) -> DataFrame:
    """Stateful in-stream exact dedup via ``applyInPandasWithState``: only
    the FIRST turn with a given content hash passes; later duplicates —
    in the same micro-batch or any later one — are dropped. A crawl
    firehose re-delivers the same page endlessly, and dropping dupes
    before the (expensive, Python-CPU) extraction stage is where the
    savings are.

    State is keyed by the 128-bit content hash with a single marker row
    per key. ``state_ttl_ms`` bounds state for a LONG-RUNNING continuous
    stream (size ∝ unique-content arrival rate × TTL, not stream
    history) via ``ProcessingTimeTimeout`` eviction. The default is NO
    timeout, and that is deliberate: with a pending processing-time
    timeout, ``trigger(availableNow=True)`` never considers the stream
    drained — the engine keeps scheduling no-data micro-batches to
    re-evaluate timeouts and ``awaitTermination`` never returns (found
    when the round-5 review flagged the previously-unchecked
    ``awaitTermination(timeout)`` result: the drain tests had been
    passing on already-committed output while leaking a live query).
    Set a TTL only for continuous deployments; leave it None for
    availableNow drains.

    Within a batch the earliest (ts, conv_id, turn_idx) row wins, so
    output is deterministic for a deterministic input order."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    hashed = stream.withColumn(
        "content_hash", F.md5(F.coalesce(F.col("text"), F.lit(""))))
    out_fields = ("conv_id string, turn_idx int, role string, text string,"
                  " tool string, ts timestamp, url string,"
                  " content_hash string")

    def dedup(key: tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        first = None
        for pdf in pdfs:
            if state.exists or pdf.empty:
                continue  # already seen in an earlier batch: drop all
            pdf = pdf.sort_values(["ts", "conv_id", "turn_idx"])
            cand = pdf.iloc[[0]]
            if first is None or tuple(cand.iloc[0][
                    ["ts", "conv_id", "turn_idx"]]) < tuple(first.iloc[0][
                    ["ts", "conv_id", "turn_idx"]]):
                first = cand
        if first is not None and not state.exists:
            state.update((1,))
            yield first
        if state_ttl_ms is not None and state.exists:
            # refresh TTL; a timeout can only be set while state exists
            state.setTimeoutDuration(state_ttl_ms)

    timeout_conf = (GroupStateTimeout.NoTimeout if state_ttl_ms is None
                    else GroupStateTimeout.ProcessingTimeTimeout)
    return hashed.groupBy("content_hash").applyInPandasWithState(
        dedup,
        outputStructType=out_fields,
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=timeout_conf)


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
