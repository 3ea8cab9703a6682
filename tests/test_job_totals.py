"""run_job's commit protocol: the extraction tasks write their own
part files and report them in commit messages; the driver commits
exactly the reported files and returns the messages' totals.

These tests pin that the returned dict equals the read-back of the
committed lineage on every input path; that a file under ``_attempts``
which no message reports is never committed or read; that a failed
collect commits nothing and a rerun converges; that a failed and
retried task is committed once, with no ``chmod`` forked on the way;
that a staging dir Spark would resolve to another file system fails
before any job; and that the run's Spark jobs carry a description
naming the snapshot.

Run as a script (``python tests/test_job_totals.py OUT_DIR``), this
file drives the retry case in a ``local[2,2]`` session of its own.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pytest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from local_pdftodocx_ocr_spark import job, kernels, oracle, synth  # noqa: E402
from local_pdftodocx_ocr_spark.catalog import open_table  # noqa: E402
from local_pdftodocx_ocr_spark.schema import UNIFIED_SCHEMA  # noqa: E402

FLAT_DOCS = [(i, " ".join(f"w{(i * 5 + k) % 41}" for k in range(10 * (1 + i % 5))))
             for i in range(24)]


def read_back(spark, out_root: str, snapshot_id: str) -> dict:
    """The oracle: one snapshot's committed lineage rows, collected and
    summed on the driver."""
    rows = (open_table(spark, out_root).read_snapshot(spark, snapshot_id, UNIFIED_SCHEMA)
            .filter(F.col("row_type") == "lineage")
            .select("docs_in", "docs_out", "checksum").collect())
    return {
        "snapshot": snapshot_id,
        "docs_in": sum(r["docs_in"] for r in rows),
        "docs_out": sum(r["docs_out"] for r in rows),
        "partitions": len(rows),
        "checksum": kernels.combine_checksums(int(r["checksum"], 16) for r in rows),
    }


def _inputs(spark, kind: str):
    """(docs frame of the corpus' first `n` documents, run_job keyword
    arguments, the corpus as the sequential oracle sees it)."""
    if kind == "flat":
        flat = spark.createDataFrame(FLAT_DOCS, "doc_id long, text string")
        return (lambda n: job.interleaved_docs_from_flat(flat.limit(n)), {},
                [(f"doc-{i:08d}", synth.spans_from_flat_doc(i, t)) for i, t in FLAT_DOCS])
    corpus = synth.gen_corpus(16)
    docs = lambda n: job.docs_df_from_corpus(spark, corpus[:n])  # noqa: E731
    if kind == "chunked":
        return docs, {"chunk_threshold": 4}, corpus
    if kind == "detections":
        dets = [(doc_id, 0, 40.0, 700.0, 300.0, 120.0, "figure", 0.9,
                 kernels.encode_media(f"photo-{doc_id}")) for doc_id, _ in corpus[::3]]
        frame = spark.createDataFrame(
            dets, "doc_id string, page int, x double, y double, w double, h double, "
                  "cls string, conf double, media_ref string")
        return docs, {"detections": frame}, synth.apply_detections_seq(corpus, dets)
    return docs, {}, corpus


@pytest.mark.parametrize("kind", ["spans", "chunked", "detections", "flat"])
def test_returned_totals_equal_committed_lineage(spark, tmp_path, kind):
    """Fresh, resumed and fully replayed runs on each input path."""
    docs, kwargs, corpus = _inputs(spark, kind)
    out = str(tmp_path / kind)
    half = len(corpus) // 2
    runs = [job.run_job(spark, docs(n), out, num_partitions=3, **kwargs)
            for n in (half, len(corpus), len(corpus))]
    for stats in runs:
        assert stats == read_back(spark, out, stats["snapshot"])
    assert [r["docs_in"] for r in runs] == [half, len(corpus) - half, 0]
    assert kernels.combine_checksums(int(r["checksum"], 16) for r in runs) == \
        oracle.expected_lineage_totals(corpus)["checksum"]


@pytest.fixture(scope="module")
def retry_run(tmp_path_factory):
    """The retry case's result, from a ``local[2,2]`` subprocess whose
    ``PATH`` starts with a ``chmod`` that logs every fork of one."""
    import shutil

    tmp = tmp_path_factory.mktemp("retry")
    out = str(tmp / "retry")
    shim = tmp / "shim"
    shim.mkdir()
    (shim / "chmod").write_text(
        f'#!/bin/sh\necho "$@" >> {out}.chmod.log\nexec {shutil.which("chmod")} "$@"\n')
    (shim / "chmod").chmod(0o755)
    proc = subprocess.run([sys.executable, os.path.abspath(__file__), out],
                          cwd=REPO, capture_output=True, text=True, timeout=600,
                          env={**os.environ, "PYTHONPATH": REPO,
                               "PATH": f"{shim}{os.pathsep}{os.environ['PATH']}"})
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_retried_task_is_counted_once(retry_run):
    """Partition 0's first attempt closes its part file and reports it,
    then fails in a stage-mate; only the retry's file is committed."""
    got = retry_run
    assert got["failed_attempts"] == 1
    assert got["stats"] == got["read_back"]
    corpus = synth.gen_corpus(24)
    want = oracle.expected_lineage_totals(corpus)
    assert {k: got["stats"][k] for k in want} == want
    docs_out = sum(1 for doc_id, spans in corpus if kernels.extract_document(doc_id, spans))
    assert got["doc_rows"] == got["distinct_doc_ids"] == docs_out
    assert got["files"] == [f"part-{i}.parquet" for i in range(got["stats"]["partitions"])]
    # the failed attempt had closed a readable part file, which is gone
    assert [rows >= 1 and not left for rows, left in got["failed_files"]] == [True]


def test_run_job_forks_no_chmod(retry_run):
    """The one-row Spark write after the run is the shim's positive
    control: Hadoop's local file system forks ``chmod`` where its
    native library is missing. Where it loads, no write forks one, and
    a count of 0 for run_job would show nothing."""
    if not retry_run["control_chmods"]:
        pytest.skip("Spark's own writer forks no chmod here (native Hadoop "
                    "loaded), so the shim has no positive control")
    assert retry_run["chmods"] == 0


def test_unreported_attempt_file_is_never_committed(spark, tmp_path, monkeypatch):
    """A part file planted under ``_attempts`` before the collect, as a
    failed or speculative attempt would leave it, is not committed, and
    the snapshot directory holds only the reported parts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from local_pdftodocx_ocr_spark.catalog import SnapshotTable

    planted = job._record_batch(job._UNIFIED_ARROW, row_type=["doc"], doc_id=["doc-planted"])
    begin = SnapshotTable.begin

    def planting_begin(self):
        snap_id, staging = begin(self)
        os.makedirs(os.path.join(staging, "_attempts", "999999"))
        pq.write_table(pa.Table.from_batches([planted]),
                       os.path.join(staging, "_attempts", "999999", "part.parquet"))
        return snap_id, staging

    monkeypatch.setattr(SnapshotTable, "begin", planting_begin)
    corpus = synth.gen_corpus(8)
    out = str(tmp_path / "planted")
    stats = job.run_job(spark, job.docs_df_from_corpus(spark, corpus), out, num_partitions=3)
    assert stats == read_back(spark, out, stats["snapshot"])
    assert {k: stats[k] for k in ("docs_in", "docs_out", "checksum")} == \
        oracle.expected_lineage_totals(corpus)
    snapshot_dir = os.path.join(out, "snapshots", stats["snapshot"])
    assert sorted(os.listdir(snapshot_dir)) == [
        f"part-{i}.parquet" for i in range(stats["partitions"])]
    ids = [r["doc_id"] for r in open_table(spark, out).read(spark).collect()]
    assert "doc-planted" not in ids


def test_failed_collect_commits_nothing_and_rerun_converges(spark, tmp_path, monkeypatch):
    docs = job.docs_df_from_corpus(spark, synth.gen_corpus(8))
    out = str(tmp_path / "failed")

    def failing(batches):
        raise RuntimeError("injected write failure")
        yield  # pragma: no cover

    extract_spans = job.extract_spans
    with monkeypatch.context() as m:
        m.setattr(job, "extract_spans", lambda *a, **k: extract_spans(
            *a, **k).mapInArrow(failing, job._COMMIT_SCHEMA))
        with pytest.raises(Exception, match="injected write failure"):
            job.run_job(spark, docs, out, num_partitions=2)
    table = open_table(spark, out)
    assert table.snapshots() == [] and os.listdir(os.path.join(out, "snapshots")) == []
    stats = job.run_job(spark, docs, out, num_partitions=2)
    assert stats == read_back(spark, out, stats["snapshot"])
    assert {k: stats[k] for k in ("docs_in", "docs_out", "checksum")} == \
        oracle.expected_lineage_totals(synth.gen_corpus(8))
    assert [s["id"] for s in table.snapshots()] == [stats["snapshot"]]


@pytest.mark.parametrize("where", ["staging_uri", "default_fs"])
def test_non_local_staging_fails_before_extraction(spark, tmp_path, monkeypatch, where):
    """The tasks write their parts with pyarrow and the driver moves
    them with os.replace, so a staging dir that Spark would resolve to
    another file system fails before any Spark job and commits nothing."""
    from local_pdftodocx_ocr_spark.catalog import SnapshotTable

    docs = job.docs_df_from_corpus(spark, synth.gen_corpus(4))
    out = str(tmp_path / where)
    sc = spark.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    default_fs = hconf.get("fs.defaultFS")
    if where == "staging_uri":
        monkeypatch.setattr(SnapshotTable, "begin", lambda self: (
            "snap-000000-remote", "hdfs://localhost:1/staging/snap-000000-remote"))
    else:
        hconf.set("fs.defaultFS", "hdfs://localhost:1")
    sc.setJobGroup("run_job-non-local", "non-local staging")
    try:
        with pytest.raises(ValueError, match="local path that every executor shares"):
            job.run_job(spark, docs, out, resume=False, num_partitions=2)
    finally:
        hconf.set("fs.defaultFS", default_fs)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("run_job-non-local") == []
    assert open_table(spark, out).snapshots() == []


def test_no_commit_message_still_commits_a_readable_snapshot(spark, tmp_path, monkeypatch):
    """A collect with no message (adaptive execution can prune a fully
    replayed plan to nothing) commits one empty part file, so the
    snapshot keeps the table's schema for readers that infer it."""
    extract_spans = job.extract_spans
    monkeypatch.setattr(job, "extract_spans",
                        lambda *a, **k: extract_spans(*a, **k).limit(0))
    out = str(tmp_path / "empty")
    stats = job.run_job(spark, job.docs_df_from_corpus(spark, synth.gen_corpus(3)), out,
                        num_partitions=2)
    assert stats == read_back(spark, out, stats["snapshot"])
    assert stats["partitions"] == 0
    df = open_table(spark, out).read(spark)
    assert df.columns == UNIFIED_SCHEMA.names and df.count() == 0


def test_run_job_describes_its_spark_jobs(spark, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("run_job-described", "caller's description")
    try:
        stats = job.run_job(spark, job.docs_df_from_corpus(spark, synth.gen_corpus(6)),
                            str(tmp_path / "described"), num_partitions=2)
        assert sc.getLocalProperty("spark.job.description") == "caller's description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    ids = sc.statusTracker().getJobIdsForGroup("run_job-described")
    assert ids
    assert {store.job(i).description().get() for i in ids} == {
        f"run_job {stats['snapshot']}: write"}


def _chmods(out: str) -> int:
    try:
        with open(out + ".chmod.log", encoding="utf-8") as f:
            return len(f.readlines())
    except FileNotFoundError:
        return 0


def _retry_main(out: str) -> None:
    """One run_job in a local[2,2] session (one retry allowed). A
    mapInArrow after the extraction, in the same stage, fails attempt 0
    of partition 0 once its commit message has passed."""
    import pyarrow.parquet as pq
    from pyspark import TaskContext
    from pyspark.sql import SparkSession

    marker = out + ".failed"

    def fail_first_attempt(batches):
        paths = []
        for batch in batches:
            paths += batch.column("path").to_pylist()
            yield batch
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            with open(marker, "w", encoding="utf-8") as f:
                json.dump({path: pq.read_metadata(path).num_rows for path in paths}, f)
            raise RuntimeError("injected failure after draining")

    spark = (SparkSession.builder.master("local[2,2]").appName("retry")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    extract_spans = job.extract_spans
    job.extract_spans = lambda *a, **k: extract_spans(*a, **k).mapInArrow(
        fail_first_attempt, job._COMMIT_SCHEMA)
    docs = job.docs_df_from_corpus(spark, synth.gen_corpus(24))
    chmods = _chmods(out)
    stats = job.run_job(spark, docs, out, num_partitions=2)
    chmods = _chmods(out) - chmods
    control = _chmods(out)
    spark.range(1).write.parquet(out + ".control")
    control = _chmods(out) - control
    rows = (open_table(spark, out).read(spark, UNIFIED_SCHEMA)
            .filter(F.col("row_type") == "doc")
            .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("d")).first())
    failed = {}
    if os.path.exists(marker):
        with open(marker, encoding="utf-8") as f:
            failed = json.load(f)
    print(json.dumps({"stats": stats, "read_back": read_back(spark, out, stats["snapshot"]),
                      "failed_attempts": int(os.path.exists(marker)),
                      "failed_files": [(n, os.path.exists(p)) for p, n in failed.items()],
                      "doc_rows": rows["n"], "distinct_doc_ids": rows["d"],
                      "files": sorted(os.listdir(os.path.join(out, "snapshots",
                                                              stats["snapshot"]))),
                      "chmods": chmods, "control_chmods": control}))
    spark.stop()


if __name__ == "__main__":
    _retry_main(sys.argv[1])
