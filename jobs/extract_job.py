"""spark-submit entry point for the extraction pipeline.

Usage (north-rule launch mode):

    python tools/package.py                       # builds dist/trek_spark.zip
    spark-submit --py-files dist/trek_spark.zip \
        jobs/extract_job.py \
        --input  /path/to/transcripts            \
        --output /path/to/out                    \
        [--input-format parquet|iceberg]         \
        [--partitions N] [--waves W] [--no-resume]

Reads the transcript table (conv_id, turn_idx, role, text, tool, ts[, url]),
runs the range-partitioned, checkpointed extraction job (waves sized from
input bytes unless --waves is given), writes the turns + metrics tables and
prints a one-line JSON summary of this run.

With no --input, runs on the built-in deterministic fixture corpus (smoke
mode / this sandbox).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None)
    ap.add_argument("--input-format", default="parquet",
                    choices=["parquet", "iceberg"])
    ap.add_argument("--output", required=True)
    ap.add_argument("--partitions", type=int, default=None,
                    help="extraction tasks per wave; default: one per "
                         "16 MiB of the wave's estimated input, between "
                         "defaultParallelism and 4x defaultParallelism "
                         "(4x when the input size is unknown)")
    ap.add_argument("--part-buckets", type=int, default=64)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--output-table", default=None,
                    help="Iceberg table for the turns output "
                         "(catalog.db.table); requires the Iceberg runtime "
                         "on the classpath, else falls back to the parquet "
                         "sink under --output")
    ap.add_argument("--waves", type=int, default=None,
                    help="checkpoint granularity: bucket groups (write "
                         "jobs) per run; default: sized from the input's "
                         "estimated bytes, one wave per 64 MiB per core")
    ap.add_argument("--tile-copies", type=int, default=1,
                    help="fixture-corpus tiling factor (smoke mode only)")
    args = ap.parse_args()

    from trek_spark.spark.job import run_extraction_job
    from trek_spark.spark.session import get_spark

    spark = get_spark("trek-extract")
    try:
        if args.input:
            if args.input_format == "iceberg":
                transcripts = spark.read.format("iceberg").load(args.input)
            else:
                transcripts = spark.read.parquet(args.input)
        else:
            from trek_spark.spark.corpus import tile_transcripts
            transcripts = tile_transcripts(spark, args.tile_copies)

        summary = run_extraction_job(
            spark, transcripts, args.output,
            num_partitions=args.partitions,
            part_buckets=args.part_buckets,
            resume=not args.no_resume,
            waves=args.waves,
            output_table=args.output_table,
        )
        print(json.dumps(summary))
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
