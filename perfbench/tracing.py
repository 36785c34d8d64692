"""Per-layer numbers for the traced run.

Three sources, none of which changes the program:

* spans recorded by wrapping the functions each layer exposes, while the
  parity sample runs in this process through the workers' UDF entry
  (dom, extract and udf layers);
* the Spark event log of the session, parsed after it stops (job layer);
* ``StreamingQuery.recentProgress`` (streaming layer).

A layer's self time is the duration of its spans minus the part covered by
their child spans.
"""

from __future__ import annotations

import gc
import importlib
import json
import statistics
import sys
import time
from pathlib import Path

_PASSES = ("extract_body_substring", "find_entry_point", "remove_clutter",
           "remove_comments", "rewrite_embed_iframes", "remove_empty_elements",
           "flatten_wrapper_elements_legacy", "selectors_pass", "hidden_pass",
           "flatten_wrappers", "promote_semantics", "relative_urls",
           "figure_image", "footnotes_std", "tables_std", "headings_std")
_ELEMENTS = ("convert_math_tex_scripts", "normalize_callouts",
             "_convert_margin_footnotes", "code_blocks", "normalize_all")

# (module, function, layer) — the calls the pipeline makes into each layer.
TARGETS = [
    ("trek_spark.spark.udf", "extract_one", "udf.turn"),
    ("trek_spark.spark.udf", "extract_pdf_one", "udf.turn"),
    ("trek_spark.spark.udf", "compute_content_spans", "udf.spans"),
    ("trek_spark.extract.pipeline", "trek_parse", "extract.pipeline"),
    ("trek_spark.dom.parser", "parse_html", "dom.parse"),
    ("trek_spark.extract.head_scan", "collect_from_dom", "extract.head_scan"),
    ("trek_spark.extract.metadata", "extract_metadata", "extract.metadata"),
    ("trek_spark.extract.extractors", "try_extractors", "extract.extractors"),
    *(("trek_spark.extract.passes", f, "extract.passes") for f in _PASSES),
    *(("trek_spark.extract.elements", f, "extract.elements") for f in _ELEMENTS),
    ("trek_spark.extract.removals_post", "run_post", "extract.removals_post"),
    ("trek_spark.extract.markdown", "node_to_markdown", "extract.markdown"),
    ("trek_spark.extract.html_to_text", "node_to_text", "extract.html_to_text"),
    ("trek_spark.extract.html_to_text", "html_to_text", "extract.html_to_text"),
    ("trek_spark.extract.pdf_text", "pdf_to_text", "extract.pdf_text"),
]

# self-time layers reported as "<layer>_s"
SELF_TIME_LAYERS = ("dom.parse", "extract.pipeline", "extract.head_scan",
                    "extract.metadata", "extract.extractors", "extract.passes",
                    "extract.elements", "extract.removals_post",
                    "extract.markdown", "extract.html_to_text",
                    "extract.pdf_text", "udf.spans")


JOB_GROUP = "perfbench-batch"


class Timed:
    """Total time spent in one driver-side function while the block runs."""

    def __init__(self, mod_name: str, attr: str):
        self.mod = importlib.import_module(mod_name)
        self.attr = attr
        self.seconds = 0.0
        self._orig = None

    def __enter__(self) -> "Timed":
        self._orig = orig = getattr(self.mod, self.attr)

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0

        setattr(self.mod, self.attr, wrapper)
        return self

    def __exit__(self, *exc) -> None:
        setattr(self.mod, self.attr, self._orig)


class Tracer:
    """Wraps the TARGETS in every loaded module of the package that
    refers to them, and records one span per call."""

    def __init__(self):
        self.spans: list[list] = []   # [layer, parent, start, end, note]
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        self.gc_s = 0.0
        self._gc_t0 = 0.0

    def _wrap(self, layer: str, fn):
        spans, stack = self.spans, self._stack

        def wrapper(*args, **kwargs):
            idx = len(spans)
            note = len(args[0]) if layer == "dom.parse" and args else None
            spans.append([layer, stack[-1] if stack else -1,
                          time.perf_counter(), 0.0, note])
            stack.append(idx)
            try:
                result = fn(*args, **kwargs)
            finally:
                stack.pop()
                spans[idx][3] = time.perf_counter()
            if layer == "extract.extractors":
                spans[idx][4] = result is not None
            return result

        wrapper.__wrapped__ = fn
        return wrapper

    def _gc(self, phase: str, info: dict) -> None:
        if phase == "start":
            self._gc_t0 = time.perf_counter()
        else:
            self.gc_s += time.perf_counter() - self._gc_t0

    def __enter__(self) -> "Tracer":
        for mod_name, attr, layer in TARGETS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr, None)
            if orig is None:
                continue
            wrapper = self._wrap(layer, orig)
            for name, m in list(sys.modules.items()):
                if name.startswith("trek_spark") and getattr(m, attr, None) is orig:
                    self._undo.append((m, attr, orig))
                    setattr(m, attr, wrapper)
        gc.callbacks.append(self._gc)
        return self

    def __exit__(self, *exc) -> None:
        gc.callbacks.remove(self._gc)
        for m, attr, orig in reversed(self._undo):
            setattr(m, attr, orig)
        self._undo.clear()

    def summary(self) -> dict:
        child = [0.0] * len(self.spans)
        for layer, parent, t0, t1, _ in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        own: dict[str, float] = {}
        count: dict[str, int] = {}
        for i, (layer, _, t0, t1, _) in enumerate(self.spans):
            own[layer] = own.get(layer, 0.0) + (t1 - t0) - child[i]
            count[layer] = count.get(layer, 0) + 1
        turns = [(t1 - t0) * 1000 for layer, parent, t0, t1, _ in self.spans
                 if layer == "udf.turn" and parent < 0]
        parsed = sum(s[4] for s in self.spans if s[0] == "dom.parse")
        hits = [s[4] for s in self.spans if s[0] == "extract.extractors"]
        out = {f"{layer}_s": own.get(layer, 0.0) for layer in SELF_TIME_LAYERS}
        out.update({
            "dom.parse_calls_per_turn": count.get("dom.parse", 0) / len(turns),
            "dom.parse_mb_per_s": parsed / 1e6 / own["dom.parse"] if parsed else 0.0,
            "extract.extractor_hit_ratio": sum(hits) / len(hits) if hits else 0.0,
            "extract.turn_ms_p50": statistics.median(turns),
            "extract.turn_ms_p99": percentile(turns, 0.99),
            "udf.gc_s": self.gc_s,
        })
        return out


def percentile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def traced_sample(sample: list, untraced_busy: float, extract) -> dict:
    """Run the parity sample again with every layer wrapped."""
    with Tracer() as tracer:
        _, busy = extract(sample)
    out = tracer.summary()
    out["trace.overhead_ratio"] = busy / untraced_busy
    return out


def udf_batches(real_batches: dict, rows: int) -> dict:
    """Arrow batches the workers really processed, identified by
    (write job, part_id, batch_idx); each carries its batch's wall_ms."""
    busy = sum(real_batches.values()) / 1000
    return {"udf.batches": len(real_batches),
            "udf.rows_per_batch": rows / len(real_batches),
            "udf.python_busy_s": busy}


# ---------------------------------------------------------- event log

def _events(app: Path):
    """Events of one application's log: a file, or a rolling-log
    directory of ``events_<n>_<app>`` files."""
    files = ([app] if app.is_file() else
             sorted(app.glob("events_*"), key=lambda p: int(p.name.split("_")[1])))
    for f in files:
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


def _plan_metric_names(node: dict, names: dict) -> None:
    for m in node.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for c in node.get("children", []):
        _plan_metric_names(c, names)


def job_layers(events_dir: Path, input_dir: str, group: str = JOB_GROUP) -> dict:
    """Stage and SQL metrics of the ``run_extraction_job`` calls made under
    job group ``group``, from the event log of the last session."""
    apps = sorted(events_dir.iterdir(), key=lambda p: p.stat().st_mtime)
    execs: dict[int, dict] = {}
    metric_names: dict[int, str] = {}
    stage_exec: dict[int, int] = {}
    stages: dict[int, dict] = {}
    driver_accums: list = []
    for ev in _events(apps[-1]):
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            execs[ev["executionId"]] = {"start": ev["time"], "plan": ev["physicalPlanDescription"]}
            _plan_metric_names(ev["sparkPlanInfo"], metric_names)
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            _plan_metric_names(ev["sparkPlanInfo"], metric_names)
        elif kind == "SparkListenerSQLExecutionEnd":
            execs[ev["executionId"]]["end"] = ev["time"]
        elif kind == "SparkListenerDriverAccumUpdates":
            driver_accums.append((ev["executionId"], ev["accumUpdates"]))
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties", {})
            if props.get("spark.jobGroup.id") != group:
                continue
            eid = props.get("spark.sql.execution.id")
            for sid in ev["Stage IDs"]:
                stage_exec[sid] = int(eid) if eid is not None else -1
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si["Stage ID"] in stage_exec and "Submission Time" in si:
                st = stages.setdefault(si["Stage ID"], _stage())
                st["wall"] = (si["Completion Time"] - si["Submission Time"]) / 1000
                st["rdds"] = {r["Name"] for r in si["RDD Info"]}
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_exec:
                continue
            tm = ev.get("Task Metrics") or {}
            acc = {a.get("Name"): a.get("Update") for a in ev["Task Info"].get("Accumulables", [])}
            stages.setdefault(sid, _stage())["tasks"].append({
                "run": tm.get("Executor Run Time", 0) / 1000,
                "gc": tm.get("JVM GC Time", 0) / 1000,
                "shuffle_w": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "out": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
                "commit": _num(acc.get("task commit time")) / 1000})

    group_execs = {e for e in stage_exec.values() if e >= 0}
    extract_execs = {e for e in group_execs if "MapInPandas" in execs[e]["plan"]}
    # each write of turns runs a scan stage (input → shuffle) and an
    # extraction stage (shuffle → mapInPandas → parquet)
    scan_stages, extract_stages = [], []
    for sid, st in stages.items():
        if stage_exec[sid] in extract_execs:
            if "FileScanRDD" in st["rdds"]:
                scan_stages.append(st)
            elif "ShuffledRowRDD" in st["rdds"]:
                extract_stages.append(st)
    job_commit = sum(_num(v) for e, ups in driver_accums if e in extract_execs
                     for aid, v in ups if metric_names.get(aid) == "job commit time") / 1000
    ext_tasks = [t["run"] for st in extract_stages for t in st["tasks"]]
    all_tasks = [t for st in stages.values() for t in st["tasks"]]
    per_stage = [[t["run"] for t in st["tasks"]] for st in extract_stages]
    skew = max(max(r) / statistics.median(r) for r in per_stage
               if r and statistics.median(r) > 0)
    return {
        "job.input_scans": sum(input_dir in execs[e]["plan"] for e in group_execs),
        "job.scan_s": sum(st["wall"] for st in scan_stages),
        "job.shuffle_write_mb": sum(t["shuffle_w"] for t in all_tasks) / 1e6,
        "job.extract_stage_s": sum(st["wall"] for st in extract_stages),
        "job.write_s": sum(t["commit"] for st in extract_stages for t in st["tasks"]) + job_commit,
        "job.metrics_s": sum((execs[e]["end"] - execs[e]["start"]) / 1000
                             for e in group_execs - extract_execs if "end" in execs[e]),
        "job.jvm_gc_s": sum(t["gc"] for t in all_tasks),
        "job.output_mb": sum(t["out"] for st in extract_stages for t in st["tasks"]) / 1e6,
        "job.partition_skew": skew,
        "job.task_p99_s": percentile(ext_tasks, 0.99),
        "job.extract_task_s": sum(ext_tasks),
    }


def _stage() -> dict:
    return {"tasks": [], "wall": 0.0, "rdds": set()}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


# ------------------------------------------------------------ streaming

def stream_layers(progress: list, dropped: int, backlog_end: int) -> dict:
    """Micro-batch numbers from ``StreamingQuery.recentProgress``."""
    prog = [json.loads(p.json) if hasattr(p, "json") else p for p in progress]
    data = [p for p in prog if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in data]
    state = [op for p in data for op in p.get("stateOperators", [])]
    return {
        "stream.batches": len(data),
        "stream.batch_s_p50": statistics.median(d.get("triggerExecution", 0) for d in dur) / 1000,
        "stream.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1000,
        "stream.wal_commit_s": sum(d.get("walCommit", 0) + d.get("commitOffsets", 0)
                                   for d in dur) / 1000,
        "stream.state_rows": state[-1].get("numRowsTotal", 0) if state else 0,
        "stream.state_commit_s": sum(op.get("commitTimeMs", 0) for op in state) / 1000,
        "stream.dedup_dropped": dropped,
        "stream.backlog_end": backlog_end,
    }
