"""Known-answer + cross-engine tests for the exact rolling median and
the learned quality classifier."""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark

_T0 = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-quality", master="local[4]",
                  shuffle_partitions=8)
    yield s


def _write(spark, path, table, schema, rows):
    (spark.createDataFrame(rows, schema)
     .write.mode("overwrite").parquet(f"{path}/{table}.parquet"))


def _cross_check(spark, path, name, tables):
    fn, sql = O.OPS[name]
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{path}/{t}.parquet/*.parquet'")
    a = fn(spark, str(path)).toPandas()
    b = con.sql(sql).df()
    a = a.reindex(sorted(a.columns), axis=1).astype(str)
    b = b.reindex(sorted(b.columns), axis=1).astype(str)
    a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
    b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
    assert a.equals(b), f"{name}: Spark vs DuckDB mismatch\n{a}\n{b}"
    return a


# --------------------------------------------------- events_rolling_median

def test_rolling_median_exact_frames(spark, tmp_path):
    """User 5 (passes %5), values 1,9,3,7,5 in time order with
    event_ids 0,3,6,9,12 (all pass %3): trailing-11 frames are the
    prefixes, so medians are the lower-middles of sorted prefixes:
    [1]->1, [1,9]->1, [1,3,9]->3, [1,3,7,9]->3, [1,3,5,7,9]->5."""
    vals = [1.0, 9.0, 3.0, 7.0, 5.0]
    rows = [(i * 3, _T0 + dt.timedelta(seconds=i), 5, "click",
             vals[i], None) for i in range(5)]
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double, props string", rows)
    out = _cross_check(spark, tmp_path, "events_rolling_median",
                       ["events"])
    got = {r["event_id"]: r["roll_median"] for _, r in out.iterrows()}
    assert got == {"0": "100", "3": "100", "6": "300",
                   "9": "300", "12": "500"}


def test_rolling_median_frame_truncates_at_11(spark, tmp_path):
    """15 rows of ascending values: the last row's frame holds only
    the trailing 11 (values 5..15 in cents), median = 1000 — a frame
    that grew without bound would give 800."""
    rows = [(i * 3, _T0 + dt.timedelta(seconds=i), 10, "click",
             float(i + 1), None) for i in range(15)]
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double, props string", rows)
    out = _cross_check(spark, tmp_path, "events_rolling_median",
                       ["events"])
    got = {r["event_id"]: r["roll_median"] for _, r in out.iterrows()}
    assert got["42"] == "1000"


# ---------------------------------------------------------------------------
# quality_classifier (r8, verdict #5): fastText-style learned linear scorer
# ---------------------------------------------------------------------------


def _qc_doc(doc_id, text, source):
    return (doc_id, text, "en", source, len(text))


def test_quality_classifier_scores_content_not_label(spark, tmp_path):
    """Known answer: the classifier must KEEP a negatively-LABELED doc
    whose CONTENT is reference-like (it scores text, not provenance),
    keep the reference docs, and drop the junk docs. Impostor: doc 100
    lives in src9 but speaks the src0 vocabulary."""
    ref = "thoughtful measured analysis with careful clear prose"
    junk = "click winner casino jackpot free prize bonus spins"
    rows = ([_qc_doc(i, ref, "src0") for i in range(1, 5)]
            + [_qc_doc(i, junk, "src9") for i in range(10, 14)]
            + [_qc_doc(100, ref, "src9")]
            # NULL source must count as NEGATIVE class in BOTH engines
            # (Spark isin(NULL) is NULL — the when/otherwise guard)
            + [_qc_doc(101, junk, None)])
    _write(spark, tmp_path, "documents",
           "doc_id long, text string, lang string, source string, "
           "n_chars long", rows)
    out = _cross_check(spark, tmp_path, "quality_classifier",
                       ["documents"])
    keep = {int(r["doc_id"]): int(r["keep_flag"])
            for _, r in out.iterrows()}
    assert keep[100] == 1                       # impostor kept by content
    assert all(keep[i] == 1 for i in range(1, 5))
    assert all(keep[i] == 0 for i in range(10, 14))
    assert keep[101] == 0                       # NULL-source junk dropped


def test_quality_classifier_margin_monotone_in_mix(spark, tmp_path):
    """A doc mixing reference and junk vocabulary lands strictly between
    the pure docs' margins (per-feature), pinning that the margin is a
    sum of per-feature evidence rather than any winner-take-all rule."""
    ref = "thoughtful measured analysis with careful clear prose style"
    junk = "click winner casino jackpot free prize bonus spins now"
    mixed = ("thoughtful measured analysis with "
             "click winner casino jackpot free")
    rows = ([_qc_doc(i, ref, "src0") for i in range(1, 4)]
            + [_qc_doc(i, junk, "src9") for i in range(10, 13)]
            + [_qc_doc(200, mixed, "src9")])
    _write(spark, tmp_path, "documents",
           "doc_id long, text string, lang string, source string, "
           "n_chars long", rows)
    out = _cross_check(spark, tmp_path, "quality_classifier",
                       ["documents"])
    per_feat = {int(r["doc_id"]):
                int(r["quality_margin"]) / int(r["n_feats"])
                for _, r in out.iterrows()}
    assert per_feat[10] < per_feat[200] < per_feat[1]
