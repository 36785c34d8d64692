"""Speed gate for per-document changes: in-process CPU of the extraction UDF,
two source trees side by side.

Each tree gets one worker process that runs ``extract_map_in_pandas`` over
``perfbench/gen.py``'s ``web_pages(seed, 320, 320 * 26000)`` in 5-row
batches (what the 128 KiB Arrow batch cap gives these pages) and reports
``time.process_time()`` per pass. A round is one pass of each tree, the
first side swapped every round, and each worker runs a full
``gc.collect()`` before a pass, as PySpark's daemon does between tasks.
A round's ratio is change over parent, so a swing of the shared host
that spans the round cancels out. Prints, per seed (1-3), the median
seconds of each tree and the median ratio over 5 rounds, then the
median ratio over all rounds of all seeds.

    python tools/extract_cpu_ab.py PARENT_DIR CHANGE_DIR

Make the two trees with ``git archive <rev> | tar x -C <dir>``.
"""

from __future__ import annotations

import argparse
import statistics
import subprocess
import sys

SEEDS = (1, 2, 3)
ROUNDS = 5  # per seed; one pass of each tree per round

_WORKER = r"""
import gc, sys, time
sys.path.insert(0, sys.argv[1])
import pandas as pd
from perfbench import gen
from trek_spark.spark.udf import extract_map_in_pandas
turns = gen.web_pages(int(sys.argv[2]), 320, 320 * 26000)
df = pd.DataFrame({"conv_id": [t.conv_id for t in turns],
                   "turn_idx": [t.turn_idx for t in turns],
                   "text": [t.doc.text for t in turns],
                   "url": [t.doc.url for t in turns],
                   "tool": [t.doc.tool for t in turns]})
batches = [df.iloc[i:i + 5] for i in range(0, len(df), 5)]
list(extract_map_in_pandas(iter(batches)))  # warm imports and caches
print("ready", flush=True)
for _ in sys.stdin:
    gc.collect()
    t0 = time.process_time()
    rows = sum(len(out) for out in extract_map_in_pandas(iter(batches)))
    assert rows == len(df)
    print(f"{time.process_time() - t0:.4f}", flush=True)
"""


def ab(trees: list[str], seed: int) -> list[list[float]]:
    procs = [subprocess.Popen([sys.executable, "-c", _WORKER, tree, str(seed)],
                              stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                              text=True) for tree in trees]
    try:
        for p in procs:
            if p.stdout.readline().strip() != "ready":
                raise RuntimeError("worker failed to start")
        times: list[list[float]] = [[], []]
        for i in range(ROUNDS):
            for k in ((0, 1) if i % 2 == 0 else (1, 0)):
                procs[k].stdin.write("pass\n")
                procs[k].stdin.flush()
                times[k].append(float(procs[k].stdout.readline()))
        return times
    finally:
        for p in procs:
            p.stdin.close()
            p.wait()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    args = ap.parse_args()
    ratios = []
    for seed in SEEDS:
        a, b = ab([args.parent, args.change], seed)
        seed_ratios = [y / x for x, y in zip(a, b)]
        ratios += seed_ratios
        print(f"seed {seed}: parent {statistics.median(a):.2f} s  "
              f"change {statistics.median(b):.2f} s  change/parent "
              f"{statistics.median(seed_ratios):.3f} (rounds "
              f"{' '.join(f'{r:.3f}' for r in seed_ratios)})", flush=True)
    print(f"all seeds: change/parent {statistics.median(ratios):.3f} "
          f"(median of {len(ratios)} rounds)")


if __name__ == "__main__":
    main()
