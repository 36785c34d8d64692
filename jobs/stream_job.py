"""spark-submit entry point for the STREAMING extraction pipeline.

    spark-submit --py-files dist/trek_spark.zip jobs/stream_job.py \
        --input  /path/to/transcript-dir \
        --output /path/to/out \
        --checkpoint /path/to/ckpt \
        [--partitions N] [--dedup] [--continuous]
        [--dedup-ttl-ms MS]   # needs --dedup and --continuous

File-source stream of transcript turns -> [exact dedup ->] the batch job's
fused extraction -> checkpointed parquet sink (exactly-once across
restarts). With --dedup, one Python stage per micro-batch keeps each
text's earliest copy in its content-hash partition and extracts only
those, then Spark's native streaming dedup drops texts seen in earlier
micro-batches; no per-key Python call. Default is
trigger(availableNow=True): drain what's there and exit (the cron-batch
deployment shape); --continuous keeps the query running on the default
micro-batch trigger.

The JSON status line it prints last also says where the time went
(``trek_spark.spark.streaming.progress_summary``): micro-batches run,
input rows, the median micro-batch wall time, the state-store commit
time summed over state partitions (task time, not wall) and the rows the
dedup state dropped.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--partitions", type=int, default=None,
                    help="Python tasks per micro-batch (default: "
                         "defaultParallelism); with --dedup this is the "
                         "state partition count, fixed by the checkpoint "
                         "at its first start")
    ap.add_argument("--continuous", action="store_true")
    ap.add_argument("--dedup", action="store_true",
                    help="drop exact-duplicate turns: each micro-batch "
                         "keeps a text's earliest copy before extraction; "
                         "copies of texts seen in earlier micro-batches "
                         "are dropped after it")
    ap.add_argument("--dedup-ttl-ms", type=int, default=None,
                    help="state TTL for --dedup; needs --continuous")
    args = ap.parse_args()
    if args.dedup_ttl_ms is not None and not args.dedup:
        ap.error("--dedup-ttl-ms needs --dedup")
    if args.dedup_ttl_ms is not None and not args.continuous:
        ap.error("--dedup-ttl-ms needs --continuous: it expires texts by "
                 "wall time, so a drain's output would depend on when it "
                 "runs")

    from trek_spark.spark.session import get_spark
    from trek_spark.spark.streaming import (progress_summary,
                                            stream_extract_turns)

    spark = get_spark("trek-extract-stream")
    try:
        q = stream_extract_turns(
            spark, args.input, args.output, args.checkpoint,
            num_partitions=args.partitions,
            available_now=not args.continuous,
            dedup=args.dedup,
            dedup_ttl_ms=args.dedup_ttl_ms,
        )
        q.awaitTermination()
        print(json.dumps({"status": "drained" if not args.continuous
                          else "stopped",
                          "output": args.output,
                          **progress_summary(q.recentProgress)}))
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
