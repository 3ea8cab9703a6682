"""run_job's returned totals come from the extraction pass itself.

Each lineage row's totals also go to a per-run accumulator. These tests
pin that the returned dict equals the read-back of the committed
lineage on every input path, that a failed and retried task is counted
once, that PySpark's accumulator registry does not grow, and that
the run's Spark jobs carry a description naming the snapshot.

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


def test_retried_task_is_counted_once(tmp_path):
    """Partition 0's first attempt drains its extraction, then fails in
    a stage-mate; the retry's totals alone count."""
    out = str(tmp_path / "retry")
    proc = subprocess.run([sys.executable, os.path.abspath(__file__), out],
                          cwd=REPO, capture_output=True, text=True, timeout=600,
                          env={**os.environ, "PYTHONPATH": REPO})
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["failed_attempts"] == 1
    assert got["stats"] == got["read_back"]
    want = oracle.expected_lineage_totals(synth.gen_corpus(24))
    assert {k: got["stats"][k] for k in want} == want


def test_accumulator_registry_stays_bounded(spark, tmp_path, monkeypatch):
    from pyspark.accumulators import _accumulatorRegistry

    docs = job.docs_df_from_corpus(spark, synth.gen_corpus(4))
    out = str(tmp_path / "bounded")
    before = len(_accumulatorRegistry)
    for _ in range(20):
        job.run_job(spark, docs, out, num_partitions=2)
    assert len(_accumulatorRegistry) == before

    def failing(batches):
        raise RuntimeError("injected write failure")
        yield  # pragma: no cover

    extract_spans = job.extract_spans
    monkeypatch.setattr(job, "extract_spans", lambda *a, **k: extract_spans(
        *a, **k).mapInArrow(failing, UNIFIED_SCHEMA))
    with pytest.raises(Exception, match="injected write failure"):
        job.run_job(spark, docs, str(tmp_path / "failed"), num_partitions=2)
    assert len(_accumulatorRegistry) == before


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


def _retry_main(out: str) -> None:
    """One run_job in a local[2,2] session (one retry allowed). A
    mapInArrow after the extraction, in the same stage, fails attempt 0
    of partition 0 once its input has drained."""
    from pyspark import TaskContext
    from pyspark.sql import SparkSession

    marker = out + ".failed"

    def fail_first_attempt(batches):
        yield from batches
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            open(marker, "a").close()
            raise RuntimeError("injected failure after draining")

    spark = (SparkSession.builder.master("local[2,2]").appName("retry")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    extract_spans = job.extract_spans
    job.extract_spans = lambda *a, **k: extract_spans(*a, **k).mapInArrow(
        fail_first_attempt, UNIFIED_SCHEMA)
    stats = job.run_job(spark, job.docs_df_from_corpus(spark, synth.gen_corpus(24)),
                        out, num_partitions=2)
    print(json.dumps({"stats": stats, "read_back": read_back(spark, out, stats["snapshot"]),
                      "failed_attempts": int(os.path.exists(marker))}))
    spark.stop()


if __name__ == "__main__":
    _retry_main(sys.argv[1])
