"""Deterministic synthetic transcript corpus from the golden fixtures.

Schema per BASELINE.json input_hint: ``(conv_id string, turn_idx int32,
role string, text string, tool string, ts timestamp)`` plus a companion
``url`` column (FIXTURES.md §1) so site-extractor dispatch is testable.

Synthesis is deterministic (no RNG): fixture categories become
conversations (`conv_id = <category>`), fixtures within a category become
turns ordered by name — category sizes differ, which exercises conv_id skew
naturally. ``tile`` replicates the corpus to a target row count for
benchmarking (conv_id gets a tile suffix → more conversations, same skew
shape, same payload distribution).

The golden table lifts ``tests/expected/*.md`` to per-turn expected outputs
(`expected_markdown` + metadata preamble fields) for the per-turn equality
gate.

``seeded_transcripts`` needs no fixture corpus: small seeded article pages
wrapped in nav/footer clutter, spread over a few conversations, for tests
that need *some* transcripts rather than golden outputs.
"""

from __future__ import annotations

import datetime as dt
import random
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..fixtures import load_fixtures

_EPOCH = dt.datetime(2024, 1, 1)

TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), False),
    StructField("text", StringType(), True),
    StructField("tool", StringType(), True),
    StructField("ts", TimestampType(), False),
    StructField("url", StringType(), True),
])

GOLDEN_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("fixture", StringType(), False),
    StructField("expected_markdown", StringType(), True),
    StructField("expected_title", StringType(), True),
    StructField("expected_author", StringType(), True),
    StructField("expected_site", StringType(), True),
    StructField("expected_published", StringType(), True),
])

_ROLES = ("user", "assistant", "system", "tool")


def fixture_rows() -> tuple[list, list]:
    """Build (transcript_rows, golden_rows) from the fixture corpus."""
    fixtures = load_fixtures()
    by_cat: dict[str, list] = {}
    for fx in fixtures:
        by_cat.setdefault(fx.category or "misc", []).append(fx)
    t_rows, g_rows = [], []
    for cat in sorted(by_cat):
        for idx, fx in enumerate(sorted(by_cat[cat], key=lambda f: f.name)):
            role = _ROLES[idx % len(_ROLES)]
            ts = _EPOCH + dt.timedelta(
                minutes=idx, hours=zlib.crc32(cat.encode()) % 24)
            t_rows.append((cat, idx, role, fx.html, "", ts, fx.url))
            meta = fx.expected_meta or {}
            # the corpus-wide equality convention is whitespace-stripped
            # on BOTH sides (tests/test_fixtures.py, tools/runall.py,
            # tests/test_spark_job.py): expected files end with a POSIX
            # trailing newline that the renderer's output doesn't carry
            expected_md = (fx.expected_markdown.strip()
                           if fx.expected_markdown is not None else None)
            g_rows.append((
                cat, idx, fx.name, expected_md,
                meta.get("title"), meta.get("author"),
                meta.get("site"), meta.get("published"),
            ))
    return t_rows, g_rows


def build_transcripts(spark: SparkSession) -> DataFrame:
    t_rows, _ = fixture_rows()
    return spark.createDataFrame(t_rows, TRANSCRIPT_SCHEMA)


def build_golden(spark: SparkSession) -> DataFrame:
    _, g_rows = fixture_rows()
    return spark.createDataFrame(g_rows, GOLDEN_SCHEMA)


def tile_transcripts(spark: SparkSession, copies: int) -> DataFrame:
    """Deterministically replicate the corpus `copies` times. Each copy gets
    distinct conv_ids (`<cat>#<k>`) and shifted timestamps — scales rows
    without changing the payload distribution."""
    base = build_transcripts(spark)
    if copies <= 1:
        return base
    tiles = spark.range(copies).select(F.col("id").alias("tile"))
    return (
        base.crossJoin(F.broadcast(tiles))
        .withColumn("conv_id", F.concat_ws("#", "conv_id",
                                           F.col("tile").cast("string")))
        .withColumn("ts", F.col("ts") + F.make_interval(hours=F.col("tile")))
        .drop("tile")
    )


_WORDS = ("extraction", "spark", "partition", "arrow", "batch", "document",
          "content", "reader", "column", "shuffle", "schema", "parquet",
          "worker", "markdown", "stage", "bucket", "wave", "commit")


def _seeded_page(rng: random.Random, conv: int, idx: int) -> str:
    def sentence() -> str:
        words = [rng.choice(_WORDS) for _ in range(rng.randint(8, 16))]
        return " ".join(words).capitalize() + "."

    paras = "".join(f"<p>{' '.join(sentence() for _ in range(3))}</p>"
                    for _ in range(rng.randint(2, 5)))
    links = "".join(f'<li><a href="/s/{i}">Section {i}</a></li>'
                    for i in range(rng.randint(3, 6)))
    title = f"Article {conv}-{idx}: {rng.choice(_WORDS)} notes"
    return (f"<html><head><title>{title}</title></head><body>"
            f'<nav class="menu"><ul>{links}</ul></nav>'
            f"<article><h1>{title}</h1>{paras}</article>"
            "<footer><p>Copyright example.org. All rights reserved.</p>"
            "</footer></body></html>")


def seeded_transcripts(spark: SparkSession, n: int,
                       seed: int = 0) -> DataFrame:
    """``n`` turns over four conversations, deterministic in ``seed``:
    article pages with nav/footer clutter, roles cycling through
    ``_ROLES``. Turn 1 of the first conversation is empty, so its
    extraction fails with ``empty_input``."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        conv, idx = i % 4, i // 4
        text = "" if (conv, idx) == (0, 1) else _seeded_page(rng, conv, idx)
        rows.append((f"conv-{seed}-{conv}", idx, _ROLES[i % len(_ROLES)],
                     text, "", _EPOCH + dt.timedelta(minutes=i),
                     f"https://example.org/{conv}/{idx}"))
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
