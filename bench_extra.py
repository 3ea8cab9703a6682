#!/usr/bin/env python
"""Per-query isolation harness for optimization work (guide §1).

NOT the driver bench (bench.py is frozen); this times individual
headline queries with the noop sink, min-of-N repeats, and optionally
dumps .explain("formatted") to a directory.

    python bench_extra.py q1_pricing_summary docs_dedup_jaccard_pairs
    python bench_extra.py --all
    python bench_extra.py --plans plans/r07 --suffix _before docs_dedup_jaccard_pairs
    python bench_extra.py --worker-overhead
    python bench_extra.py --run-job

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), BENCH_EXTRA_REPS (default 3).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from local_pdftodocx_ocr_spark import job, memo  # noqa: E402


def _headline():
    import bench
    return bench.HEADLINE


def _noop_task(batches):
    """A no-op mapInArrow body that reports its worker's pid, the CPU
    time the worker has used so far, the zip directories it has read
    so far, and its bootstrap state. It imports the package as every
    engine crossing does."""
    import gc
    import zipimport

    import pyarrow as pa

    from local_pdftodocx_ocr_spark import job  # noqa: F401

    if not hasattr(zipimport, "_probe_reads"):
        stock = zipimport._read_directory

        def counted(archive):
            zipimport._probe_reads += 1
            return stock(archive)
        zipimport._probe_reads = 0
        zipimport._read_directory = counted
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pylist([{
        "pid": os.getpid(), "cpu_s": time.process_time(),
        "zip_reads": zipimport._probe_reads, "frozen": gc.get_freeze_count(),
        "patched": zipimport.zipimporter.invalidate_caches.__module__ != "zipimport"}])


def worker_overhead(reps: int) -> dict:
    """The fixed per-task cost of Spark's Python workers: a warmed
    no-op mapInArrow over 16 partitions on local[4], `reps` times.
    Per-task worker CPU and zip directory reads are per-pid deltas
    between a worker's consecutive tasks, so they include the task
    set-up before and the daemon's clean-up after the task body."""
    import statistics
    import zipimport

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.path.dirname(os.path.abspath(__file__)),
                    os.environ.get("PYTHONPATH")) if p)
    spark = job.build_session(4, app="worker-overhead")
    spark.sparkContext.setLogLevel("ERROR")
    schema = "pid long, cpu_s double, zip_reads long, frozen long, patched boolean"
    df = spark.range(0, 16, numPartitions=16).mapInArrow(_noop_task, schema)
    last = {r["pid"]: r for r in df.collect()}   # warm every worker
    walls, cpu, reads, rows = [], [], [], []
    for _ in range(reps):
        t0 = time.monotonic()
        rows = df.collect()
        walls.append(round(time.monotonic() - t0, 3))
        for r in sorted(rows, key=lambda r: (r["pid"], r["cpu_s"])):
            if r["pid"] in last:
                cpu.append(r["cpu_s"] - last[r["pid"]]["cpu_s"])
                reads.append(r["zip_reads"] - last[r["pid"]]["zip_reads"])
            last[r["pid"]] = r
    spark.stop()
    return {"wall_s": min(walls), "walls": walls,
            "task_cpu_s": round(statistics.median(cpu), 4),
            "task_cpu_s_q1_q3": [round(q, 4) for q in
                                 statistics.quantiles(cpu, n=4)[::2]],
            "zip_reads_per_task": statistics.mean(reads),
            "tasks_measured": len(cpu), "workers": len(last),
            "last_rep_tasks_patched": sum(r["patched"] for r in rows),
            "last_rep_tasks_frozen": sum(r["frozen"] > 0 for r in rows),
            "driver_patched": zipimport.zipimporter.invalidate_caches.__module__
            != "zipimport",
            "python": sys.version.split()[0]}


def _flat_feed(out_dir: str, seed: int = 7, batches: int = 3, docs: int = 800,
               replay: float = 0.10) -> list[str]:
    """Ingest-shaped jsonl batches of flat (doc_id, text) web docs in
    disjoint id ranges; every batch after the first replays `replay` of
    the ids already sent."""
    import random

    rng = random.Random(seed)
    words = ("spark window merge table column vector stream value data join "
             "filter group hash sort order row key query scan batch").split()
    sent, paths = [], []
    for b in range(batches):
        rows = [{"doc_id": b * 10 * docs + i,
                 "text": " ".join(rng.choices(words, k=rng.randint(10, 89)))}
                for i in range(docs)]
        batch = rows + (rng.sample(sent, int(replay * docs)) if sent else [])
        rng.shuffle(batch)
        paths.append(os.path.join(out_dir, f"batch-{b:03d}.jsonl"))
        with open(paths[-1], "w", encoding="utf-8") as f:
            f.writelines(json.dumps(r) + "\n" for r in batch)
        sent.extend(rows)
    return paths


def _tree_cpu_s(jvm_pid: int) -> tuple[float, float]:
    """CPU-s used so far by the JVM (its threads and its reaped child
    processes) and by its live descendants (the Python daemon and
    workers, each with its reaped children), from /proc/<pid>/stat."""
    tick = os.sysconf("SC_CLK_TCK")
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                    # after the ")" closing the command: state, ppid, ...;
                    # utime, stime, cutime, cstime are fields 11 to 14
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            procs[int(entry)] = (int(fields[1]), sum(map(int, fields[11:15])) / tick)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    python, todo = 0.0, list(children.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        python += procs[pid][1]
        todo.extend(children.get(pid, []))
    return procs[jvm_pid][1], python


def run_job_cost(reps: int) -> dict:
    """run_job's per-batch cost in one warmed local[4] session, per
    case: ingest-shaped flat batches into a new table (fresh) and into
    a table holding the earlier batches (resumed, 10% replays), and the
    4,000-doc skewed corpus into a new table. Each wall times the input
    read plus run_job; Spark jobs, SQL executions, and the CPU-s of the
    JVM and of its Python workers are counted per run_job."""
    import itertools
    import shutil
    import statistics
    import tempfile

    from local_pdftodocx_ocr_spark import synth
    from local_pdftodocx_ocr_spark.sources.tables import read_corpus_input

    work = tempfile.mkdtemp(prefix="bench-run-job-")
    spark = job.build_session(4, app="run-job-cost")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    sql_store = spark._jsparkSession.sharedState().statusStore()
    feed = _flat_feed(work)
    corpus = os.path.join(work, "extract.parquet")
    job.docs_df_from_corpus(spark, synth.gen_corpus(4000, seed=7, skew=True)) \
        .write.parquet(corpus)
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    cases: dict[str, dict] = {c: {"walls": [], "jobs": 0, "sql": 0, "jvm": 0.0, "py": 0.0}
                              for c in ("ingest_fresh", "ingest_resumed", "extract_skewed")}
    groups = itertools.count()

    def timed(case: str, rep: int, docs, table: str) -> None:
        group = f"run-job-{next(groups)}"
        sc.setJobGroup(group, group)
        sql0 = sql_store.executionsCount()
        cpu0 = _tree_cpu_s(jvm_pid)
        t0 = time.perf_counter()
        job.run_job(spark, docs(), table)
        wall = time.perf_counter() - t0
        cpu1 = _tree_cpu_s(jvm_pid)
        sc.setLocalProperty("spark.jobGroup.id", None)
        if rep >= 0:
            c = cases[case]
            c["walls"].append(wall)
            c["jobs"] += len(sc.statusTracker().getJobIdsForGroup(group))
            c["sql"] += sql_store.executionsCount() - sql0
            c["jvm"] += cpu1[0] - cpu0[0]
            c["py"] += cpu1[1] - cpu0[1]

    for rep in range(-3, reps):     # three warm-up rounds
        table = os.path.join(work, f"ingest-{rep}")
        for i, path in enumerate(feed):
            timed("ingest_resumed" if i else "ingest_fresh", rep, lambda p=path:
                  job.interleaved_docs_from_flat(read_corpus_input(spark, p)), table)
        table = os.path.join(work, f"extract-{rep}")
        timed("extract_skewed", rep, lambda: read_corpus_input(spark, corpus), table)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    return {case: {"median_s": round(statistics.median(c["walls"]), 4),
                   "min_s": round(min(c["walls"]), 4),
                   "jobs_per_run_job": c["jobs"] / len(c["walls"]),
                   "sql_per_run_job": c["sql"] / len(c["walls"]),
                   "jvm_cpu_s_per_run_job": round(c["jvm"] / len(c["walls"]), 4),
                   "python_cpu_s_per_run_job": round(c["py"] / len(c["walls"]), 4),
                   "run_jobs": len(c["walls"])}
            for case, c in cases.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--plans", default=None,
                    help="directory to write <query><suffix>.txt explain dumps")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--worker-overhead", action="store_true",
                    help="time a warmed no-op mapInArrow over 16 partitions "
                         "on local[4]: wall, per-task worker CPU and zip "
                         "directory reads per task")
    ap.add_argument("--run-job", action="store_true",
                    help="time run_job in one warmed local[4] session on "
                         "fresh and resumed ingest-shaped flat batches and "
                         "on the 4,000-doc skewed corpus: median and min "
                         "wall, Spark jobs, SQL executions, and JVM and "
                         "Python-worker CPU-s per run_job")
    ap.add_argument("--reps", type=int,
                    default=int(os.environ.get("BENCH_EXTRA_REPS", "3")))
    args = ap.parse_args()
    if args.worker_overhead:
        print(json.dumps(worker_overhead(args.reps)))
        return 0
    if args.run_job:
        print(json.dumps(run_job_cost(args.reps)))
        return 0

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # same tmpfs shuffle-dir tuning as bench.py
    if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in os.environ:
        d = "/dev/shm/spark-local"
        os.makedirs(d, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = d
    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")

    headline = _headline()
    names = list(headline) if args.all else args.names
    unknown = [n for n in names if n not in headline]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    # Queries that bench.py times WARM (they reuse a memo built by an
    # earlier suite row); everything else is timed cold: its plan dump
    # and every rep start from an empty registry.
    warm_consumers = {"docs_dedup_canonical_keep", "docs_dedup_cluster_sizes",
                      "emb_semdedup", "pipeline_training_corpus_full"}

    spark = job.build_session(cpus, app="bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()  # warm-up

    out: dict[str, dict] = {}
    for name in names:
        fn = headline[name]
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            if name not in warm_consumers:
                memo.clear()
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"),
                      "w", encoding="utf-8") as f:
                f.write(plan)
            memo.release()
        walls = []
        for _ in range(args.reps):
            if name not in warm_consumers:
                memo.clear()
            spark.sparkContext.setJobDescription(name)
            t0 = time.monotonic()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(round(time.monotonic() - t0, 3))
            memo.release()
        if walls:
            out[name] = {"min": min(walls), "walls": walls}
            print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    print(json.dumps({"summary": {k: v["min"] for k, v in out.items()},
                      "sf_dir": sf_dir, "cpus": cpus}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
