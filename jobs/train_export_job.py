"""spark-submit entry point for the training-export tail of the pipeline.

Composes the export operators (r7 verdict #4) into the job that emits the
pipeline's actual product — packed, split, PII-clean training sequences:

  documents → [--pii-redact scrub] → deterministic train/val/test split
  (``ops.SPLIT_EXPR``, a pure md5-tick function of doc_id — join-free and
  reproducible at any cluster shape) → GPT-style sequence packing
  (``ops.q_pack_token_budget`` semantics: docs concatenate in doc_id
  order within a (split, lang, shard) stream and chunk at a fixed token
  capacity, each doc assigned to the sequence where it STARTS —
  ``(cum − n_tokens) DIV capacity`` — so 5×1000-token docs at capacity
  2048 pack as seq ids {0,0,0,1,1}) → sequences written partitioned by
  split → a per-(split, lang, shard) lineage manifest computed from the
  WRITTEN files (independent verification of what landed on disk, the
  curate_job read-back pattern).

Usage:

    spark-submit --py-files dist/trek_spark.zip jobs/train_export_job.py \
        --input  /root/testdata/sf0.01   \
        --output /path/to/export         \
        [--capacity 2048] [--shard-size 100000] [--pii-redact]

Plan shape at 100 TB: ONE corpus shuffle total — the packing window
partitions on (split, lang, shard); the groupBy that assembles sequences
clusters on a SUPERSET of those keys (+seq_id), which Spark satisfies
with the window's existing hash partitioning, so no second Exchange.
Packing needs no global order (only order within a shard), shards are
bounded (``--shard-size`` docs), and text assembly is sort-inside-
aggregate (array_sort over collect_list structs — zero extra Window
nodes). The split column is derived per-row from doc_id, so written
rows route to split directories via partitionBy and training jobs read
train/ by partition pruning. Stage counts ride the single write action
as Observation metrics (no extra corpus passes); the manifest pass reads
the OUTPUT, not the input.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.001")
    ap.add_argument("--output", required=True)
    ap.add_argument("--capacity", type=int, default=None,
                    help="tokens per training sequence (default: the "
                         "ops._PACK_CAPACITY the oracle op uses)")
    ap.add_argument("--shard-size", type=int, default=None,
                    help="docs per packing shard (default: "
                         "ops._PACK_SHARD)")
    ap.add_argument("--pii-redact", action="store_true",
                    help="scrub PII from text before packing")
    ap.add_argument("--sft", action="store_true",
                    help="SFT export: pack CONVERSATIONS (conv_id = "
                         "doc_id %% 50, the shared documents-to-turns "
                         "derivation) whole, with loss-mask SPANS over "
                         "assistant turns — token offsets in the "
                         "per-turn-count convention, relative to each "
                         "sequence window's start. The split keys on "
                         "conv_id, so a conversation never straddles "
                         "train/val")
    args = ap.parse_args()

    from pyspark.sql import Observation, Window
    from pyspark.sql import functions as F

    from trek_spark.spark import ops as O
    from trek_spark.spark.session import get_spark

    capacity = args.capacity or O._PACK_CAPACITY
    # SFT mode defaults to the masked-pack op's shard constant (r8 ADVICE,
    # medium): the oracle twin q_sft_export_manifest shards by
    # O._MASK_SHARD — a diverging job
    # default would silently break the "manifest equals the op by
    # construction" certification the moment conv_id derivation changes.
    # An explicit --shard-size in SFT mode must match the op's constant.
    shard = args.shard_size or (O._MASK_SHARD if args.sft
                                else O._PACK_SHARD)
    if args.sft and shard != O._MASK_SHARD:
        raise SystemExit(
            f"--sft packing shards by conversation with the oracle op's "
            f"constant {O._MASK_SHARD}; --shard-size {shard} would "
            f"desynchronize the manifest from q_sft_export_manifest")

    spark = get_spark("trek-train-export")
    t0 = time.time()
    try:
        ledger: dict = {}

        docs = (spark.read.parquet(f"{args.input}/documents.parquet")
                .select("doc_id", "lang", "source", "text"))
        ob_in = Observation("texp_in")
        docs = docs.observe(ob_in, F.count(F.lit(1)).alias("n"))

        pii_ob = None
        if args.pii_redact:
            # scrub BEFORE packing so sequence text and token counts are
            # consistent with what ships; changed-doc count rides the
            # write as an Observation (curate_job pattern)
            pii_ob = Observation("texp_pii")
            docs = (docs
                    .withColumn("_red", O.pii_redact_col(F.col("text")))
                    .observe(pii_ob, F.sum(
                        (F.col("_red")
                         != F.coalesce(F.col("text"), F.lit("")))
                        .cast("long")).alias("n_changed"))
                    .withColumn("text", F.col("_red")).drop("_red"))

        n_tok = F.size(F.split(
            F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"))

        if args.sft:
            _run_sft_export(spark, args, docs, n_tok, ob_in, pii_ob,
                            capacity, shard, ledger, t0)
            return

        staged = (docs
                  .withColumn("split", F.expr(O.SPLIT_EXPR))
                  .withColumn("n_tokens", n_tok)
                  .withColumn("shard", F.expr(f"doc_id DIV {shard}")))

        w = (Window.partitionBy("split", "lang", "shard")
             .orderBy("doc_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        packed = (staged
                  .withColumn("cum", F.sum("n_tokens").over(w))
                  .withColumn("seq_id", F.expr(
                      f"(cum - n_tokens) DIV {capacity}")))

        # sort-inside-aggregate text assembly: docs concatenate in
        # doc_id order, separated by a blank line (the doc-boundary
        # marker a tokenizer maps to its EOS token)
        ordered_text = F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("doc_id").alias("d"),
                             F.col("text").alias("t")))),
                lambda x: F.coalesce(x["t"], F.lit(""))),
            "\n\n")
        seqs = (packed.groupBy("split", "lang", "shard", "seq_id")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_tokens").alias("seq_tokens"),
                     F.min("doc_id").alias("first_doc"),
                     F.max("doc_id").alias("last_doc"),
                     ordered_text.alias("text")))

        (seqs.write.mode("overwrite").partitionBy("split")
         .parquet(f"{args.output}/sequences"))

        ledger["docs_in"] = int(ob_in.get["n"])
        if pii_ob is not None:
            ledger["pii_docs_redacted"] = int(
                pii_ob.get["n_changed"] or 0)

        # lineage manifest from the WRITTEN files — what actually landed
        out = spark.read.parquet(f"{args.output}/sequences")
        manifest = (out.groupBy("split", "lang", "shard")
                    .agg(F.count("*").alias("n_seqs"),
                         F.sum("n_docs").alias("n_docs"),
                         F.sum("seq_tokens").alias("n_tokens"),
                         F.min("first_doc").alias("first_doc"),
                         F.max("last_doc").alias("last_doc")))
        # the manifest is |splits|×|langs|×|shards| rows — a directory,
        # not a corpus; one file makes it a dataloader-readable index
        manifest.coalesce(1).write.mode("overwrite").parquet(
            f"{args.output}/manifest")

        msum = manifest.agg(
            F.sum("n_seqs").alias("s"), F.sum("n_docs").alias("d"),
            F.sum("n_tokens").alias("t")).first()
        ledger["n_sequences"] = int(msum["s"] or 0)
        ledger["docs_packed"] = int(msum["d"] or 0)
        ledger["tokens_packed"] = int(msum["t"] or 0)
        by_split = {r["split"]: int(r["n"]) for r in
                    out.groupBy("split").agg(F.count("*").alias("n"))
                    .collect()}
        ledger["seqs_by_split"] = dict(sorted(by_split.items()))
        ledger["capacity"] = capacity
        ledger["wall_sec"] = round(time.time() - t0, 2)
        print(json.dumps(ledger))
    finally:
        spark.stop()


def _run_sft_export(spark, args, docs, n_tok, ob_in, pii_ob,
                    capacity, shard, ledger, t0):
    """Conversation-granularity packing with loss-mask spans.

    Offsets use the per-turn-count token convention (turn token counts
    sum; the \\n\\n turn separator adds none for non-empty turns) and
    are relative to each sequence window's start in the contiguous
    per-(split, shard) token stream — a conversation that overflows its
    window stays attributed to the sequence where it STARTS, exactly
    like document packing, so a span's end may exceed the capacity for
    an overflow tail. Plan shape (verified via explain): TWO keyed
    exchanges total — the turn-offset window and the conversation
    aggregate share the conv_id exchange (same key), and the packing
    window and the sequence aggregate share the (split, shard)
    exchange (the groupBy clusters on a superset of the window's
    keys); no global sort anywhere."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from trek_spark.spark import ops as O

    turns = (docs
             .select((F.col("doc_id") % 50).alias("conv_id"), "doc_id",
                     "text", n_tok.alias("n_tokens"),
                     F.expr("CAST(doc_id % 4 = 1 AS INT)")
                     .alias("is_asst")))
    w_turn = (Window.partitionBy("conv_id").orderBy("doc_id")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    turns = (turns.withColumn("tcum", F.sum("n_tokens").over(w_turn))
             .withColumn("t_off", F.expr("tcum - n_tokens")))

    conv_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col("doc_id").alias("d"),
                         F.col("text").alias("t")))),
            lambda x: F.coalesce(x["t"], F.lit(""))),
        "\n\n")
    # assistant-turn spans in conv-local token offsets; collect_list
    # drops the NULLs the CASE leaves for non-assistant turns
    conv_spans = F.array_sort(F.collect_list(F.expr(
        "CASE WHEN is_asst = 1 THEN"
        " named_struct('start', t_off, 'end', tcum) END")))
    convs = (turns.groupBy("conv_id")
             .agg(F.count("*").alias("n_turns"),
                  F.sum("n_tokens").alias("conv_tokens"),
                  F.sum(F.expr("n_tokens * is_asst"))
                  .alias("mask_tokens"),
                  conv_spans.alias("spans"),
                  conv_text.alias("text"))
             .withColumn("split",
                         F.expr(O.split_expr_for("conv_id")))
             .withColumn("shard", F.expr(f"conv_id DIV {shard}")))

    w_pack = (Window.partitionBy("split", "shard").orderBy("conv_id")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = (convs
              .withColumn("cum", F.sum("conv_tokens").over(w_pack))
              .withColumn("seq_id", F.expr(
                  f"(cum - conv_tokens) DIV {capacity}"))
              .withColumn("conv_off", F.expr(
                  f"(cum - conv_tokens) - ((cum - conv_tokens)"
                  f" DIV {capacity}) * {capacity}")))

    seq_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col("conv_id").alias("c"),
                         F.col("text").alias("t")))),
            lambda x: x["t"]),
        "\n\n")
    # shift each conversation's spans by its window-relative offset,
    # then flatten in conv order (disjoint ascending by construction)
    seq_spans = F.flatten(F.transform(
        F.array_sort(F.collect_list(F.struct(
            F.col("conv_id").alias("c"), F.col("conv_off").alias("o"),
            F.col("spans").alias("s")))),
        lambda x: F.transform(
            x["s"], lambda sp: F.struct(
                (sp["start"] + x["o"]).alias("start"),
                (sp["end"] + x["o"]).alias("end")))))
    seqs = (packed.groupBy("split", "shard", "seq_id")
            .agg(F.count("*").alias("n_convs"),
                 F.sum("n_turns").alias("n_turns"),
                 F.sum("conv_tokens").alias("seq_tokens"),
                 F.sum("mask_tokens").alias("mask_tokens"),
                 seq_spans.alias("mask_spans"),
                 seq_text.alias("text")))

    (seqs.write.mode("overwrite").partitionBy("split")
     .parquet(f"{args.output}/sft_sequences"))

    ledger["mode"] = "sft"
    ledger["docs_in"] = int(ob_in.get["n"])
    if pii_ob is not None:
        ledger["pii_docs_redacted"] = int(pii_ob.get["n_changed"] or 0)

    out = spark.read.parquet(f"{args.output}/sft_sequences")
    manifest = (out.groupBy("split", "shard")
                .agg(F.count("*").alias("n_seqs"),
                     F.sum("n_convs").alias("n_convs"),
                     F.sum("seq_tokens").alias("n_tokens"),
                     F.sum("mask_tokens").alias("mask_tokens")))
    manifest.coalesce(1).write.mode("overwrite").parquet(
        f"{args.output}/manifest")
    msum = manifest.agg(
        F.sum("n_seqs").alias("s"), F.sum("n_convs").alias("c"),
        F.sum("n_tokens").alias("t"),
        F.sum("mask_tokens").alias("m")).first()
    ledger["n_sequences"] = int(msum["s"] or 0)
    ledger["convs_packed"] = int(msum["c"] or 0)
    ledger["tokens_packed"] = int(msum["t"] or 0)
    ledger["mask_tokens"] = int(msum["m"] or 0)
    ledger["mask_permille"] = (
        ledger["mask_tokens"] * 1000 // ledger["tokens_packed"]
        if ledger["tokens_packed"] else 0)
    ledger["capacity"] = capacity
    import json as _json
    import time as _time
    ledger["wall_sec"] = round(_time.time() - t0, 2)
    print(_json.dumps(ledger))


if __name__ == "__main__":
    sys.exit(main())
