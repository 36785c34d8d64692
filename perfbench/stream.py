"""Open-loop feeder and sink reader for the streaming workload."""

from __future__ import annotations

import json
import os
import threading
import time
from pathlib import Path
from urllib.parse import urlparse

import pyarrow.parquet as pq

import gen


class Feeder(threading.Thread):
    """Writes one parquet file per ``interval`` seconds into ``in_dir``,
    on schedule whatever the stream does (an open loop).  Each turn's
    ``ts`` is its due time, the moment its file was due to be written.
    File 0 is left for the caller's warm-up file."""

    def __init__(self, files: list, in_dir: Path, interval: float):
        super().__init__(daemon=True)
        self.files = files
        self.in_dir = in_dir
        self.interval = interval
        self.due: dict = {}         # turn key -> due time (epoch seconds)
        self.late_s: list[float] = []
        self.start_time = 0.0
        self.error: BaseException | None = None

    def write(self, k: int, turns: list, due: float) -> None:
        due_us = int(due * 1e6)
        table = gen.to_table(turns, [due_us + i for i in range(len(turns))])
        tmp = self.in_dir / f".part-{k:05d}.parquet"
        pq.write_table(table, tmp)
        os.rename(tmp, self.in_dir / f"part-{k:05d}.parquet")

    def run(self) -> None:
        try:
            self.start_time = time.time()
            for k, turns in enumerate(self.files):
                due = self.start_time + k * self.interval
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                self.write(k + 1, turns, due)
                for t in turns:
                    self.due[t.key] = due
                self.late_s.append(time.time() - due)
        except BaseException as e:  # surfaced by the caller after join()
            self.error = e


def sink_log(out_dir: Path) -> dict[str, float]:
    """Committed sink files: path -> commit time, the mtime of the first
    micro-batch entry in ``_spark_metadata`` that lists the file (a
    compacted entry repeats the files of earlier batches)."""
    entries = []
    for p in (out_dir / "_spark_metadata").iterdir():
        stem = p.name.split(".")[0]
        if stem.isdigit():
            entries.append((int(stem), p))
    files: dict[str, float] = {}
    for _, p in sorted(entries):
        mtime = p.stat().st_mtime
        for line in p.read_text().splitlines()[1:]:
            rec = json.loads(line)
            path = urlparse(rec["path"]).path
            if rec.get("action", "add") == "add" and path not in files:
                files[path] = mtime
    return files


def read_sink(out_dir: Path, columns: list[str]) -> tuple[dict, dict]:
    """Rows of the committed sink files by (conv_id, turn_idx) as
    ``(*columns, (file id, part_id, batch_idx), wall_ms)``, and the commit
    time of each row's micro-batch."""
    rows, committed = {}, {}
    cols = ["conv_id", "turn_idx", *columns, "part_id", "batch_idx", "wall_ms"]
    for path, mtime in sink_log(out_dir).items():
        tab = pq.read_table(path, columns=cols).to_pydict()
        job = Path(path).name.split("-", 2)[2]
        for i in range(len(tab["conv_id"])):
            key = (tab["conv_id"][i], tab["turn_idx"][i])
            rows[key] = (*(tab[c][i] for c in columns),
                         (job, tab["part_id"][i], tab["batch_idx"][i]), tab["wall_ms"][i])
            committed[key] = mtime
    return rows, committed
