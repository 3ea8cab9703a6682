"""The extraction job's Python boundary and its fixed per-run cost.

Pins three things: a document whose extraction comes out empty is
committed as a quarantine row on both execution paths; no extraction
plan crosses into Python through pandas; and ``run_job`` launches no
more Spark jobs than the write plus a one-job lineage read-back need.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from local_pdftodocx_ocr_spark import job, oracle, synth
from local_pdftodocx_ocr_spark.catalog import open_table
from local_pdftodocx_ocr_spark.plans.asserts import executed_plan

# whitespace-only text spans route to nothing: the extraction is empty
EMPTY_DOC = ("doc-empty", [{"kind": "text", "text": "   ", "media_ref": "",
                            "offset": i} for i in range(8)])


@pytest.mark.parametrize("chunk_threshold", [None, 3], ids=["single_pass", "chunked"])
def test_empty_extraction_is_quarantined(spark, tmp_path, chunk_threshold):
    corpus = synth.gen_corpus(3) + [EMPTY_DOC]
    out = str(tmp_path / "q")
    num_partitions = 2 * len(corpus)     # most partitions get no document

    def run():
        return job.run_job(spark, job.docs_df_from_corpus(spark, corpus), out,
                           num_partitions=num_partitions,
                           chunk_threshold=chunk_threshold)

    stats = run()
    want = oracle.expected_lineage_totals(corpus)
    assert {k: stats[k] for k in want} == want
    assert want["docs_out"] == len(corpus) - 1
    assert stats["partitions"] >= num_partitions

    rows = open_table(spark, out).read(spark)
    quarantined = rows.filter(F.col("row_type") == "quarantine").collect()
    assert [(r["doc_id"], r["spans"]) for r in quarantined] == [("doc-empty", None)]
    lineage = rows.filter(F.col("row_type") == "lineage").collect()
    assert sum(r["docs_in"] == 0 for r in lineage) >= num_partitions - len(corpus)

    again = run()
    assert again["docs_in"] == 0 and again["docs_out"] == 0


def test_extraction_plans_have_no_pandas_boundary(spark):
    corpus = synth.gen_corpus(4)
    docs = job.docs_df_from_corpus(spark, corpus)
    flat = spark.createDataFrame([(1, "alpha beta"), (2, "gamma")], "doc_id int, text string")
    for df in (job.extract_spans(docs, num_partitions=2),
               job.extract_spans_auto(docs, num_partitions=2, chunk_threshold=3),
               job.interleaved_docs_from_flat(flat)):
        plan = executed_plan(df)
        assert "MapInArrow" in plan
        assert "Pandas" not in plan, plan


def _jobs_launched(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_job_spark_job_count(spark, tmp_path):
    """Fresh table: the write's shuffle and write jobs plus ONE lineage
    collect. Resumed: broadcasting the committed ids for the anti-join
    adds one. No snapshot read may infer its schema, and the lineage
    totals are one job."""
    corpus = synth.gen_corpus(20)
    out = str(tmp_path / "jobs")

    def run(docs):
        return lambda: job.run_job(spark, job.docs_df_from_corpus(spark, docs), out,
                                   num_partitions=4)

    assert _jobs_launched(spark, "run_job-fresh", run(corpus[:10])) <= 3
    assert _jobs_launched(spark, "run_job-resumed", run(corpus)) <= 4
