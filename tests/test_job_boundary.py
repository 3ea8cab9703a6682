"""The extraction job's Python boundary and its fixed per-run cost.

Pins four things: a document whose extraction comes out empty is
committed as a quarantine row on both execution paths; no extraction
plan crosses into Python through pandas, and a flat batch crosses once,
after its resume anti-join, also with a detections merge; the JVM-side
flat id equals the Python ``doc-%08d`` form; and ``run_job`` launches no
more Spark jobs than its write needs: the lineage totals come from the
extraction pass, not from a read-back.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from local_pdftodocx_ocr_spark import job, kernels, oracle, synth
from local_pdftodocx_ocr_spark.catalog import open_table
from local_pdftodocx_ocr_spark.plans.asserts import executed_plan

# whitespace-only text spans route to nothing: the extraction is empty
EMPTY_DOC = ("doc-empty", [{"kind": "text", "text": "   ", "media_ref": "",
                            "offset": i} for i in range(8)])
# flat (doc_id, text) rows: negative and 9+-digit ids, 1 to 9 spans each
FLAT_DOCS = [(i, " ".join(f"w{(i * 7 + k) % 53}" for k in range(12 * (1 + i % 6))))
             for i in (*range(-3, 18), 123456789, 9876543210)]


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
    assert _python_nodes(executed_plan(job.interleaved_docs_from_flat(flat))) == []
    fused = executed_plan(job.extract_spans(job.interleaved_docs_from_flat(flat),
                                            num_partitions=2))
    assert _python_nodes(fused) == ["MapInArrow"], fused
    for df in (job.extract_spans(docs, num_partitions=2),
               job.extract_spans_auto(docs, num_partitions=2, chunk_threshold=3)):
        plan = executed_plan(df)
        assert "MapInArrow" in plan
        assert "Pandas" not in plan, plan


def _python_nodes(plan: str) -> list[str]:
    return re.findall(r"\b(\w*(?:InArrow|InPandas|EvalPython\w*))\b ", plan)


def test_resumed_flat_run_job_crosses_into_python_once(spark, tmp_path, monkeypatch):
    """A resumed flat batch: replayed rows are anti-joined as flat rows
    below the salted exchange, and the one Python node above it both
    interleaves and extracts."""
    flat = spark.createDataFrame(FLAT_DOCS, "doc_id long, text string")
    out = str(tmp_path / "flat")
    job.run_job(spark, job.interleaved_docs_from_flat(flat.limit(10)), out,
                num_partitions=2)
    planned = []
    extract_spans = job.extract_spans

    def recording(*args, **kwargs):
        planned.append(extract_spans(*args, **kwargs))
        return planned[-1]

    monkeypatch.setattr(job, "extract_spans", recording)
    stats = job.run_job(spark, job.interleaved_docs_from_flat(flat), out, num_partitions=2)
    assert stats["docs_in"] == len(FLAT_DOCS) - 10

    plan = executed_plan(planned[0])
    assert _python_nodes(plan) == ["MapInArrow"], plan
    lines = plan.splitlines()
    exchange = next(i for i, line in enumerate(lines) if "Exchange hashpartitioning(xxhash64" in line)
    anti = next(i for i, line in enumerate(lines) if "LeftAnti" in line)
    python = next(i for i, line in enumerate(lines) if "MapInArrow" in line)
    assert python < exchange < anti, plan

    # with detections, the spans are materialized for the merge only
    # after the anti-join: no Python node sits below it
    dets = spark.createDataFrame(
        [("doc-00000011", 0, 40.0, 700.0, 300.0, 120.0, "figure", 0.9, "")],
        "doc_id string, page int, x double, y double, w double, h double, "
        "cls string, conf double, media_ref string")
    planned.clear()
    for docs in (flat.limit(10), flat):
        job.run_job(spark, job.interleaved_docs_from_flat(docs), str(tmp_path / "dets"),
                    num_partitions=2, detections=dets)
    lines = executed_plan(planned[1]).splitlines()
    anti = next(i for i, line in enumerate(lines) if "LeftAnti" in line)
    assert _python_nodes("\n".join(lines[anti:])) == [], lines


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ints=st.lists(st.integers(-2**31, 2**31 - 1), min_size=1, max_size=20),
       longs=st.lists(st.integers(-2**63, 2**63 - 1), min_size=1, max_size=20))
@example(ints=[0, 1, -1, 5, -5, 123456789, 1234567890, 2**31 - 1, -2**31],
         longs=[99999999, 100000000, -100000000, 9876543210, 2**63 - 1, -2**63])
def test_jvm_flat_id_matches_python_form(spark, ints, longs):
    for ddl, ids in (("int", ints), ("bigint", longs)):
        flat = spark.createDataFrame([(i, "") for i in ids], f"doc_id {ddl}, text string")
        got = [r["doc_id"] for r in job.interleaved_docs_from_flat(flat).collect()]
        assert got == [f"doc-{i:08d}" for i in ids], ddl


def test_flat_input_on_span_array_paths(spark, tmp_path, capsys):
    """Flat input through the two paths that read span arrays before
    extraction (the chunked split and the --detections merge) commits
    the checksum of the sequential fold over synth.spans_from_flat_doc."""
    import json

    from local_pdftodocx_ocr_spark.__main__ import main

    corpus = [(f"doc-{i:08d}", synth.spans_from_flat_doc(i, text)) for i, text in FLAT_DOCS]
    assert max(len(spans) for _, spans in corpus) > 3
    flat = spark.createDataFrame(FLAT_DOCS, "doc_id long, text string")
    chunked = job.run_job(spark, job.interleaved_docs_from_flat(flat),
                          str(tmp_path / "chunked"), num_partitions=3, chunk_threshold=3)
    assert chunked["checksum"] == oracle.expected_lineage_totals(corpus)["checksum"]

    dets = [(doc_id, 0, 40.0, 700.0, 300.0, 120.0, "figure", conf,
             kernels.encode_media(f"photo-{doc_id}"))
            for doc_id, _ in corpus[::4] for conf in (0.88, 0.31)]
    dets_path = str(tmp_path / "dets.parquet")
    spark.createDataFrame(
        dets, "doc_id string, page int, x double, y double, w double, "
              "h double, cls string, conf double, media_ref string").write.parquet(dets_path)
    in_path = str(tmp_path / "flat.parquet")
    flat.write.parquet(in_path)
    rc = main(["--input", in_path, "--output", str(tmp_path / "det"),
               "--partitions", "2", "--detections", dets_path])
    assert rc == 0
    cli = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    want = oracle.expected_lineage_totals(synth.apply_detections_seq(corpus, dets))
    assert cli["checksum"] == want["checksum"] != chunked["checksum"]


def _jobs_launched(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_job_spark_job_count(spark, tmp_path):
    """Fresh table: the write's shuffle and write jobs; the chunked
    plan's second shuffle adds one. Resumed: broadcasting the committed
    ids for the anti-join adds one. No snapshot read may infer its
    schema, and the lineage totals launch no job."""
    corpus = synth.gen_corpus(20)
    assert max(len(spans) for _, spans in corpus) > 5
    for chunk_threshold, fresh, resumed in ((None, 2, 3), (5, 3, 4)):
        out = str(tmp_path / f"jobs-{chunk_threshold}")

        def run(docs):
            return lambda: job.run_job(spark, job.docs_df_from_corpus(spark, docs), out,
                                       num_partitions=4, chunk_threshold=chunk_threshold)

        tag = f"run_job-{chunk_threshold}"
        assert _jobs_launched(spark, f"{tag}-fresh", run(corpus[:10])) <= fresh
        assert _jobs_launched(spark, f"{tag}-resumed", run(corpus)) <= resumed
