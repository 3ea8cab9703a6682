"""Print the extraction layer table from traced runs (ROADMAP A's
before/after table).

    python3 perfbench/layer_table.py --seed 7 [--runs 3]

Runs ``run.py --trace 1`` for ``extract_mixed`` and ``ingest_web`` from
the current directory (a checkout root) and prints one markdown row per
workload, each cell the median over the runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

COLUMNS = (
    ("scan", "sources.scan_s"),
    ("interleave", "job.interleave_s"),
    ("exchange", "job.exchange_s"),
    ("+pandas identity", "job.boundary_pandas_s"),
    ("+arrow identity", "job.boundary_arrow_s"),
    ("extract", "job.extract_s"),
    ("write+commit", "catalog.write_commit_s"),
    ("kernel share", "kernels.task_share"),
    ("catalog+boundary share", "catalog_boundary.share"),
    ("extract_us/doc", "kernels.extract_us"),
)
WORKLOADS = ("extract_mixed", "ingest_web")


def traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "5", "--trace", "1"],
        check=True, capture_output=True, text=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed}: output check failed")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--runs", type=int, default=1)
    args = ap.parse_args()
    print("| workload | " + " | ".join(c for c, _ in COLUMNS) + " |")
    print("|---" * (len(COLUMNS) + 1) + "|")
    for w in WORKLOADS:
        runs = [traced(w, args.seed + i) for i in range(args.runs)]
        cells = [f"{statistics.median(r[m] for r in runs):.3g}" for _, m in COLUMNS]
        print(f"| `{w}` | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main()
