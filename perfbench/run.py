"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Inputs are generated
from ``--seed`` under ``.perfbench_work/`` in that checkout, the
workload runs on a fresh ``local[4]`` session with the program's
defaults, and the last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of
a separate traced run. The line before it is the run record (input
fingerprint, host spin, set-up and generation times).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PROGRAM_FILES = ("__spark_entry__.py", "local_pdftodocx_ocr_spark/job.py")
E2E_UNITS = {"docs_per_s": "1/s", "op_s": "s", "setup_s": "s"}


def _prepare_env(work: str) -> None:
    """Everything the program and Spark write stays inside the checkout;
    Spark's Python workers import the package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("SPARK_DRIVER_MEM", "SPARK_EXTRACT_MODEL_COST_ITERS"):
        os.environ.pop(var, None)
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.path.join(work, "inputs", "sf")
    # every JVM, the spark-submit launcher included: temp files inside the
    # checkout, and no perf-data files (those go to /tmp regardless of TMPDIR)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path[:0] = [ROOT, HERE]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the program (missing {missing}); "
              "run from the repository root", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    tracer = harness.Tracer(f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                        work, tracer)
    ticks0 = harness.steal_ticks()
    t_spin = time.perf_counter()
    spin_start = harness.host_spin_s()
    spin_wall = time.perf_counter() - t_spin
    try:
        with harness.RssSampler() as rss:
            workloads.WORKLOADS[args.workload](run)
    except Exception:                   # noqa: BLE001 - report, no result line
        traceback.print_exc()
        return 1
    finally:
        # the JVM, Spark's Python daemon and its workers: stop them and
        # wait until every one has ended
        started = list(harness.descendants(os.getpid()))
        try:
            harness.stop_jvm()
        finally:
            harness.reap(started)
            shutil.rmtree(work, ignore_errors=True)
    spin_end = harness.host_spin_s()
    ticks1 = harness.steal_ticks()
    steal_frac = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])

    # set-up: process start to the first timed operation, minus input
    # generation and the host spin (both reported on their own)
    setup_s = run.setup_end - T_START - run.gen_s - spin_wall
    run.e2e["setup_s"] = setup_s
    run.layer["host.peak_rss_mb"] = rss.peak / (1 << 20)
    run.layer["inputs.gen_s"] = run.gen_s
    run.layer["host.spin_s"] = (spin_start + spin_end) / 2
    run.layer["host.steal_frac"] = steal_frac

    run.record.update({"workload": args.workload, "seed": args.seed,
                       "host_spin_s": [spin_start, spin_end], "steal_frac": steal_frac,
                       "gen_s": run.gen_s, "setup_s": setup_s,
                       "peak_rss_mb": run.layer["host.peak_rss_mb"],
                       "errors": run.errors[:5]})
    if args.trace:
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK_ROOT, "traces",
                                 f"{args.workload}-{args.seed}-{os.getpid()}.jsonl"))
        metrics = {n: {"value": float(run.layer.get(n, 0.0)), "unit": workloads.unit_of(n)}
                   for n in workloads.per_layer_names()}
    else:
        metrics = {n: {"value": float(run.e2e[n]), "unit": u} for n, u in E2E_UNITS.items()}
    run.record["run_s"] = time.perf_counter() - T_START
    print(json.dumps({"record": run.record}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
