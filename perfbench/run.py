"""Seeded end-to-end benchmark of the trek_spark extraction engine.

    python3 perfbench/run.py --workload web_pages --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout.  The benchmark generates its
inputs from ``--seed``, drives them through the package's public entry
points on ``local[nproc]``, checks the outputs and prints one line per
metric followed, as the last line, by a JSON summary::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones from a separately traced run.  The exit code is non-zero when a
correctness check fails or the package cannot be found.  See README.md
in this directory for every metric and workload.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
import stream
import tracing
from procstat import RssSampler

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
NPROC = os.cpu_count() or 1

# Sizes, fixed per workload so every seed offers the same amount of work.
WEB_PAGES = 320             # pages per job input
WEB_BYTES = 320 * 26_000    # total HTML bytes per job input
CHAT_TURNS = 4_000         # turns per job input
STREAM_RATE = 90            # offered turns per second (open loop)
STREAM_INTERVAL_S = 0.5     # one input file per interval
STREAM_DUP_SHARE = 0.2      # share of offered turns that are re-deliveries
STREAM_DRAIN_S = 60         # how long the stream may take to catch up
WARM_SETUPS = 2             # set-ups on a live JVM, of which setup_s is the median
SAMPLE = {"web_pages": 64, "chat_turns": 400, "stream_dedup": 400}
COMPARED = ("extracted_text", "title", "word_count", "error")
RECALL_FLOOR = 0.99         # below this share of body markers kept, the run fails

TINY_PAGE = ("<html><head><title>Setup probe</title></head><body><article>"
             "<p>A tiny page that proves the extraction path is live.</p>"
             "</article></body></html>")


class Failed(Exception):
    """A correctness check failed."""


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ isolation

def isolate(run_dir: Path, trace: bool) -> None:
    """Environment for the JVM and the Python workers: the package on the
    workers' path, every temporary and Spark-local file under ``run_dir``."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # spark-submit first runs a launcher JVM, which only reads this
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={run_dir / 'warehouse'}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        (run_dir / "events").mkdir()
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{run_dir / 'events'}",
                 "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def shutdown_spark() -> None:
    """Stop the session, then the JVM, and wait for both."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


# ----------------------------------------------------------------- setup

def tiny_extraction(spark) -> None:
    from trek_spark.spark.corpus import TRANSCRIPT_SCHEMA
    from trek_spark.spark.job import extract_turns

    row = ("setup", 0, "tool", TINY_PAGE, "browser",
           dt.datetime(2024, 1, 1), "https://example.com/setup")
    out = extract_turns(spark.createDataFrame([row], TRANSCRIPT_SCHEMA)).collect()
    if len(out) != 1 or out[0]["error"] is not None:
        raise Failed(f"setup extraction failed: {out}")


def setup(layers: dict):
    """One cold set-up (JVM launch) then WARM_SETUPS set-ups on the live
    JVM, each a new session, new Python workers, package import, extractor
    registry bootstrap and a first tiny extraction.  Returns the session
    of the last one and the set-up times of the warm ones."""
    from trek_spark.spark.session import get_spark

    master = f"local[{NPROC}]"
    warm = []
    for i in range(WARM_SETUPS + 1):
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=master)
        t1 = time.perf_counter()
        tiny_extraction(spark)
        t2 = time.perf_counter()
        if i == 0:
            layers["session.start_s"] = t1 - t0
            layers["session.cold_setup_s"] = t2 - t0
        else:
            warm.append((t2 - t0, t2 - t1))
        if i < WARM_SETUPS:
            spark.stop()
    layers["session.worker_warm_s"] = statistics.median(w for _, w in warm)
    return spark, [s for s, _ in warm]


# ------------------------------------------------------------- checking

def parity_sample(turns: list, n: int) -> list:
    """Deterministic sample stratified by size: every k-th turn in size
    order, so its mix of small and huge documents matches the input, plus
    the first turn of any tool (pdf, browser, none) the pick missed."""
    order = sorted(range(len(turns)), key=lambda i: (len(turns[i].doc.text), i))
    step = max(1, len(order) // n)
    picked = set(order[step // 2::step][:n])
    for tool in sorted({t.doc.tool for t in turns} - {turns[i].doc.tool for i in picked}):
        picked.add(next(i for i, t in enumerate(turns) if t.doc.tool == tool))
    return [turns[i] for i in sorted(picked)]


def extract_in_process(turns: list) -> tuple[dict, float]:
    """Run ``turns`` through the workers' UDF entry in this process, in
    batches of the session's Arrow batch size.  Returns results by key and
    the busy time."""
    from trek_spark.spark.udf import extract_map_in_pandas

    table = gen.to_table(turns).to_pandas()
    batches = [table.iloc[i:i + 256] for i in range(0, len(table), 256)]
    t0 = time.perf_counter()
    out = list(extract_map_in_pandas(iter(batches)))
    busy = time.perf_counter() - t0
    res = {}
    for pdf in out:
        for rec in pdf[["conv_id", "turn_idx", *COMPARED]].itertuples(index=False):
            res[(rec[0], int(rec[1]))] = tuple(rec[2:])
    return res, busy


def norm(v):
    if v is None or (isinstance(v, float) and v != v):
        return None
    return int(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else v


def check_sample(expected: dict, rows: dict, where: str) -> None:
    for key, want in expected.items():
        got = rows.get(key)
        if got is None:
            raise Failed(f"{where}: sampled turn {key} missing from output")
        for col, a, b in zip(COMPARED, want, got):
            if norm(a) != norm(b):
                raise Failed(f"{where}: turn {key} column {col} differs from "
                             f"in-process extraction: {str(b)[:80]!r} != {str(a)[:80]!r}")


def quality(turns: list, texts: dict) -> tuple[float, float]:
    """Planted-marker shares over every output turn: body markers kept
    (content recall) and clutter markers kept (boilerplate leak).  Losing
    body text, or pairing output with the wrong turn, fails the run: the
    parity sample cannot see either, since it runs the same code."""
    body = found = clutter = leaked = 0
    for t in turns:
        txt = texts.get(t.key) or ""
        body += len(t.doc.body)
        found += sum(m in txt for m in t.doc.body)
        clutter += len(t.doc.clutter)
        leaked += sum(m in txt for m in t.doc.clutter)
    recall = found / body if body else 1.0
    if recall < RECALL_FLOOR:
        raise Failed(f"content recall {recall:.4f} below {RECALL_FLOOR}")
    return recall, leaked / clutter if clutter else 0.0


def failed_turns(turns: list, errors: dict) -> int:
    """Turns with an error, not counting ``empty_input`` on empty input."""
    n = 0
    for t in turns:
        e = errors.get(t.key)
        if e is not None and not (e == "empty_input" and not t.doc.text.strip()):
            n += 1
    return n


def read_batch_output(out_dir: Path) -> tuple[dict, dict]:
    """Rows of a finished ``run_extraction_job`` by (conv_id, turn_idx) as
    ``(*COMPARED, (file id, part_id, batch_idx), wall_ms)``, and each
    row's ``part_bucket``.  The file id names the write job, so the triple
    identifies one Arrow batch."""

    cols = ["conv_id", "turn_idx", *COMPARED, "part_id", "batch_idx", "wall_ms"]
    dataset = ds.dataset(str(out_dir / "turns"), format="parquet", partitioning="hive")
    rows, buckets = {}, {}
    for frag in dataset.get_fragments():
        path = Path(frag.path)
        job = path.name.split("-", 2)[2]
        bucket = int(path.parent.name.split("=", 1)[1])
        tab = frag.to_table(columns=cols).to_pydict()
        for i in range(len(tab["conv_id"])):
            key = (tab["conv_id"][i], tab["turn_idx"][i])
            rows[key] = (*(tab[c][i] for c in COMPARED),
                         (job, tab["part_id"][i], tab["batch_idx"][i]), tab["wall_ms"][i])
            buckets[key] = bucket
    return rows, buckets


# -------------------------------------------------------------- workloads

class Run:
    """State of one benchmark run."""

    def __init__(self, args, run_dir: Path):
        self.args = args
        self.dir = run_dir
        self.trace = bool(args.trace)
        self.e2e: dict = {}       # end-to-end metrics
        self.layers: dict = {}    # per-layer metrics
        self.info: dict = {}      # reported, not bounded
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.job_input = ""       # input of the traced run_extraction_job


def prepare(run: Run, turns: list) -> dict:
    """In-process extraction of the parity sample (and, traced, its
    per-layer spans), then the set-ups.  Returns the expected results."""
    sample = parity_sample(turns, SAMPLE[run.args.workload])
    expected, _ = extract_in_process(sample)   # also warms lazy imports
    _, busy = extract_in_process(sample)
    run.info["single_process_turns_per_s"] = len(sample) / busy
    if run.trace:
        run.layers.update(tracing.traced_sample(sample, busy, extract_in_process))
    run.spark, setups = setup(run.layers)
    run.e2e["setup_s"] = statistics.median(setups)
    return expected


def run_job(run: Run, input_dir: Path, out: Path) -> tuple[dict, float, float]:
    """One ``run_extraction_job`` with default knobs; (summary, start, wall)."""
    from trek_spark.spark.corpus import TRANSCRIPT_SCHEMA
    from trek_spark.spark.job import run_extraction_job

    df = run.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(str(input_dir))
    t0 = time.time()
    summary = run_extraction_job(run.spark, df, str(out))
    return summary, t0, time.time() - t0


def traced_job(run: Run, input_dir: Path, turns: list) -> dict:
    """The traced run's ``run_extraction_job``: under a job group the
    event-log parser selects, with the marker writes timed.  Returns the
    output rows."""
    run.spark.sparkContext.setJobGroup(tracing.JOB_GROUP, "run_extraction_job")
    out = run.dir / "traced_job"
    with tracing.Timed("trek_spark.spark.job", "_mark_buckets_committed") as markers:
        summary, _, _ = run_job(run, input_dir, out)
    run.spark.sparkContext.setJobGroup("perfbench", "other")
    rows, _ = read_batch_output(out)
    if summary["rows"] != len(turns) or set(rows) != {t.key for t in turns}:
        raise Failed(f"traced job wrote {summary['rows']} rows for {len(turns)} turns")
    real = {r[4]: r[5] for r in rows.values()}
    run.layers.update(tracing.udf_batches(real, len(rows)))
    run.layers["job.markers_s"] = markers.seconds
    run.layers["job.metrics_batch_inflation"] = side_table_batches(out) / len(real)
    run.job_input = str(input_dir)
    return rows


def batch_workload(run: Run, turns: list) -> None:
    """``run_extraction_job`` over the generated input, repeated until
    ``--seconds`` have passed (untraced); once, then a streaming drain of
    part of the same input (traced)."""
    input_dir = run.dir / "input"
    gen.write_parquet(turns, str(input_dir), files=8)
    expected = prepare(run, turns)
    if run.trace:
        rows = traced_job(run, input_dir, turns)
        check_sample(expected, rows, "run_extraction_job")
        run.attempted = len(turns)
        run.failed = failed_turns(turns, {k: r[3] for k, r in rows.items()})
        traced_drain(run, input_dir)
        return
    rates, lags, outs = [], [], []
    with RssSampler() as rss:
        t_end = time.perf_counter() + run.args.seconds
        while time.perf_counter() < t_end or not rates:
            out = run.dir / "out" / f"job{len(rates)}"
            summary, t0, wall = run_job(run, input_dir, out)
            if summary["rows"] != len(turns):
                raise Failed(f"job wrote {summary['rows']} rows for {len(turns)} input turns")
            rates.append(summary["rows"] / wall)
            lags.append(marker_lags(out / "_committed", t0))
            outs.append(out)
    rows, buckets = read_batch_output(outs[0])
    if set(rows) != {t.key for t in turns}:
        raise Failed("output keys differ from input keys")
    check_sample(expected, rows, "run_extraction_job")
    per_bucket: dict = {}
    for b in buckets.values():
        per_bucket[b] = per_bucket.get(b, 0) + 1
    run.attempted = len(turns)
    run.failed = failed_turns(turns, {k: r[3] for k, r in rows.items()})
    recall, leak = quality(turns, {k: r[0] for k, r in rows.items()})
    run.e2e.update({
        "turns_per_s": statistics.median(rates),
        "commit_lag_mean_s": statistics.median(mean_turn_lag(l, per_bucket) for l in lags),
        "worker_rss_peak_mb": rss.peak_mb(),
        "content_recall": recall,
    })
    run.info.update({
        "boilerplate_leak": leak,
        "jobs": len(rates),
        "failed_turn_share": run.failed / run.attempted,
        "parallel_eff": run.e2e["turns_per_s"] / (NPROC * run.info["single_process_turns_per_s"]),
        "meta_recall": meta_recall(turns, {k: r[1] for k, r in rows.items()}),
    })


def traced_drain(run: Run, input_dir: Path) -> None:
    """Streaming layer on a batch workload: ``stream_extract_turns`` with
    dedup drains the first two input files (availableNow)."""
    from trek_spark.spark.streaming import stream_extract_turns

    src = run.dir / "drain_in"
    src.mkdir()
    files = sorted(input_dir.iterdir())[:2]
    for f in files:
        shutil.copy(f, src / f.name)
    out = run.dir / "drain_out"
    query = stream_extract_turns(run.spark, str(src), str(out), str(run.dir / "drain_ckpt"),
                                 dedup=True)
    try:
        if not query.awaitTermination(STREAM_DRAIN_S):
            raise Failed("streaming drain did not finish")
        progress = query.recentProgress
    finally:
        query.stop()
    offered = sum(pq.read_metadata(f).num_rows for f in files)
    rows, _ = stream.read_sink(out, list(COMPARED))
    run.layers.update(tracing.stream_layers(progress, offered - len(rows), 0))


def marker_lags(committed: Path, t0: float) -> dict:
    """Seconds from job start to each bucket's commit marker."""
    return {int(p.name.split("-", 1)[1]): p.stat().st_mtime - t0
            for p in committed.iterdir() if p.name.startswith("bucket-")}


def mean_turn_lag(lag_by_bucket: dict, count_by_bucket: dict) -> float:
    """Mean over turns of their bucket's commit lag."""
    n = sum(count_by_bucket.values())
    return sum(lag_by_bucket[b] * c for b, c in count_by_bucket.items()) / n


def side_table_batches(out_dir: Path) -> int:
    t = ds.dataset(str(out_dir / "metrics"), format="parquet",
                   partitioning="hive").to_table(columns=["batches"])
    return sum(t.column("batches").to_pylist())


def meta_recall(turns: list, titles: dict) -> float:
    titled = [t for t in turns if t.doc.title]
    return (sum(t.doc.title in (titles.get(t.key) or "") for t in titled)
            / len(titled)) if titled else 1.0


def web_pages(run: Run) -> None:
    t0 = time.perf_counter()
    turns = gen.web_pages(run.args.seed, WEB_PAGES, WEB_BYTES)
    run.info["loadgen.gen_s"] = time.perf_counter() - t0
    batch_workload(run, turns)


def chat_turns(run: Run) -> None:
    t0 = time.perf_counter()
    turns = gen.chat_turns(run.args.seed, CHAT_TURNS)
    run.info["loadgen.gen_s"] = time.perf_counter() - t0
    batch_workload(run, turns)


def stream_dedup(run: Run) -> None:
    """Open loop: one parquet file per STREAM_INTERVAL_S at STREAM_RATE
    turns/s for ``--seconds``, read by ``stream_extract_turns(dedup=True)``
    with the default trigger, after one warm-up file has been committed.
    Traced, a ``run_extraction_job`` over the same files follows."""
    from trek_spark.spark.streaming import stream_extract_turns

    per_file = int(STREAM_RATE * STREAM_INTERVAL_S)
    n_files = max(2, round(run.args.seconds / STREAM_INTERVAL_S))
    t0 = time.perf_counter()
    warm, *files = gen.stream_files(run.args.seed, n_files + 1, per_file, STREAM_DUP_SHARE)
    run.info["loadgen.gen_s"] = time.perf_counter() - t0
    offered = [t for f in [warm, *files] for t in f]
    unique = [t for t in offered if t.dup_of is None]
    expected = prepare(run, unique)

    in_dir, out_dir = run.dir / "stream_in", run.dir / "stream_out"
    in_dir.mkdir()
    run.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    query = stream_extract_turns(run.spark, str(in_dir), str(out_dir),
                                 str(run.dir / "checkpoint"), dedup=True,
                                 available_now=False)
    feeder = stream.Feeder(files, in_dir, STREAM_INTERVAL_S)

    def consumed() -> int:
        return sum(p["numInputRows"] for p in query.recentProgress)

    def drain(n: int) -> None:
        deadline = time.time() + STREAM_DRAIN_S
        while consumed() < n:
            if time.time() > deadline or query.exception() is not None:
                raise Failed(f"stream did not drain: {consumed()} of {n} turns "
                             f"consumed, {query.exception()}")
            time.sleep(0.05)

    try:
        # the first micro-batch pays one-off costs; keep it off the clock
        feeder.write(0, warm, time.time())
        drain(len(warm))
        with RssSampler() as rss:
            feeder.start()
            feeder.join()
            if feeder.error is not None:
                raise feeder.error
            backlog_end = len(offered) - consumed()
            drain(len(offered))
            progress = query.recentProgress
    finally:
        query.stop()
    log("micro-batches (rows, ms): " + " ".join(
        f"({p['numInputRows']}, {p['durationMs']['triggerExecution']})"
        for p in progress if p["numInputRows"]))

    rows, committed = stream.read_sink(out_dir, list(COMPARED))
    dups = {t.key for t in offered if t.dup_of is not None}
    if set(rows) != {t.key for t in unique}:
        raise Failed(f"stream wrote {len(rows)} turns for {len(unique)} unique turns offered")
    if {t.key for t in offered} - set(rows) != dups:
        raise Failed("turns dropped by dedup differ from the planted re-deliveries")
    check_sample(expected, rows, "stream_extract_turns")
    lags = sorted(committed[k] - feeder.due[k] for k in rows if k in feeder.due)
    run.attempted = len(unique)
    run.failed = failed_turns(unique, {k: r[3] for k, r in rows.items()})
    recall, leak = quality(unique, {k: r[0] for k, r in rows.items()})
    run.e2e.update({
        "turns_per_s": len(lags) / (max(committed.values()) - feeder.start_time),
        "commit_lag_mean_s": statistics.fmean(lags),
        "worker_rss_peak_mb": rss.peak_mb(),
        "content_recall": recall,
    })
    run.info.update({
        "boilerplate_leak": leak,
        "stream_lag_p50_s": statistics.median(lags),
        "failed_turn_share": run.failed / run.attempted,
        "offered_turns": len(offered),
        "offered_turns_per_s": STREAM_RATE,
        "loadgen.late_ms_max": 1000 * max(feeder.late_s),
    })
    if len(lags) >= 1000:
        run.info["stream_lag_p99_s"] = tracing.percentile(lags, 0.99)
    if run.trace:
        run.layers.update(tracing.stream_layers(
            progress, len(offered) - len(rows), backlog_end))
        traced_job(run, in_dir, offered)


WORKLOADS = {"web_pages": web_pages, "chat_turns": chat_turns,
             "stream_dedup": stream_dedup}

END_TO_END = {
    "turns_per_s": "1/s", "commit_lag_mean_s": "s", "setup_s": "s",
    "worker_rss_peak_mb": "MB", "content_recall": "share",
}
UNITS = (("_per_s", "1/s"), ("_mb_per_s", "MB/s"), ("_s", "s"), ("_ms", "ms"),
         ("_s_p50", "s"), ("_ms_p50", "ms"), ("_ms_p99", "ms"), ("_ms_max", "ms"),
         ("_mb", "MB"))


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    for suffix, unit in sorted(UNITS, key=lambda u: -len(u[0])):
        if name.endswith(suffix):
            return unit
    if any(w in name for w in ("share", "recall", "leak", "ratio", "eff",
                               "inflation", "skew", "per_turn", "per_batch")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "trek_spark" / "__init__.py").is_file():
        log(f"trek_spark package not found under {ROOT}; run from a source checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    run_dir = ROOT / ".perfbench-run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    isolate(run_dir, run_trace := bool(args.trace))
    run = Run(args, run_dir)
    ok = True
    try:
        try:
            WORKLOADS[args.workload](run)
        finally:
            shutdown_spark()
        if run_trace:  # the event log is complete once the session stops
            run.layers.update(tracing.job_layers(run_dir / "events", run.job_input))
            run.layers["udf.arrow_overhead_s"] = (
                run.layers.pop("job.extract_task_s") - run.layers["udf.python_busy_s"])
    except Failed as e:
        log(f"correctness check failed: {e}")
        ok = False
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass

    for name, value in sorted({**run.e2e, **run.info, **run.layers}.items()):
        print(f"{args.workload} {name} = {value:.6g} {unit_of(name)}")
    metrics = run.layers if run_trace else run.e2e
    print(json.dumps({
        "correct": ok, "attempted": max(1, run.attempted), "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
