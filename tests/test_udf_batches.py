"""The Arrow-batch worker function, in-process (no Spark): the frame it
yields per batch, and the per-document memory it leaves behind."""

import gc

import numpy as np
import pandas as pd

from trek_spark.dom.node import Node
from trek_spark.spark.udf import (
    RESULT_SCHEMA,
    extract_map_in_pandas,
    extract_one,
    extract_pdf_one,
)

PAGE = ("<html><head><title>T</title></head><body><nav>menu</nav>"
        "<article><h1>T</h1><p>First paragraph with some words.</p>"
        "<div><h2>Part</h2><p>More text <a href='/x'>here</a>.</p></div>"
        "</article><footer>f</footer></body></html>")


def _batch(index_start: int = 0) -> pd.DataFrame:
    texts = [PAGE, "", "%PDF-1.4 not really", PAGE.replace("First", "1st")]
    n = len(texts)
    return pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(n)],
        "turn_idx": np.arange(n, dtype="int32"),
        "text": texts,
        "tool": ["browser", "browser", "pdf", None],
        "ts": pd.to_datetime([1_700_000_000 + i for i in range(n)],
                             unit="s", utc=True),
        "url": ["https://ex.example/a", None, None, "https://ex.example/b"],
    }, index=range(index_start, index_start + n))


def test_batch_frame_matches_row_wise_results():
    """Key columns keep their dtypes (tz-aware timestamps included) and
    row order, whatever the batch's index; result columns equal a frame
    built row by row from the per-document results, dtypes included; an
    empty batch yields no frame."""
    batches = [_batch(), _batch(100).iloc[:0], _batch(7)]
    out = list(extract_map_in_pandas(iter(batches)))
    assert len(out) == 2
    names = [f.name for f in RESULT_SCHEMA.fields]
    for frame, src in zip(out, (batches[0], batches[2])):
        assert list(frame.columns) == (
            [c for c in src.columns if c != "text"] + names
            + ["part_id", "batch_idx", "doc_bytes", "wall_ms"])
        for c in src.columns:
            if c != "text":
                assert frame[c].dtype == src[c].dtype, c
                assert list(frame[c]) == list(src[c]), c
        want = [extract_pdf_one(t) if tool == "pdf"
                else extract_one(t, u if isinstance(u, str) else None)
                for t, tool, u in zip(src["text"], src["tool"], src["url"])]
        expected = pd.DataFrame(want, columns=names, index=src.index)
        pd.testing.assert_frame_equal(
            frame[names].drop(columns="parse_time_ms"),
            expected.drop(columns="parse_time_ms"))
        assert list(frame["doc_bytes"]) == [len(t) for t in src["text"]]
    assert list(out[1]["batch_idx"]) == [2] * 4


def test_finished_document_tree_is_freed_by_a_gen0_sweep():
    """After one document, nothing outside its own tree refers to its
    nodes, so the per-document gen-0 sweep frees the whole tree instead
    of promoting it to an older generation for the rest of the task."""
    def live_nodes() -> int:
        return sum(1 for o in gc.get_objects() if type(o) is Node)

    extract_one(PAGE, "https://ex.example/a")  # warm module caches
    gc.collect()
    before = live_nodes()
    was_enabled = gc.isenabled()
    gc.disable()
    try:
        extract_one(PAGE, "https://ex.example/a")
        gc.collect(0)
        after = live_nodes()
    finally:
        if was_enabled:
            gc.enable()
    assert after <= before, (before, after)
