"""Incremental (streaming) extraction.

The north rule's batch job already restarts idempotently from the last
committed snapshot; this module is the continuous-ingest form of the
same contract: a file-source stream of (doc_id, spans) documents driven
through ``foreachBatch``, where every micro-batch runs the SAME
``job.run_job`` — anti-join against committed doc_ids, extract, atomic
snapshot commit. Replayed micro-batches (after a crash between sink
commit and source checkpoint) therefore dedupe naturally: exactly-once
per document without any sink-side transaction support.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import job
from ..schema import DOCS_SCHEMA


def read_docs_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 1,
                     glob: str = "*.parquet") -> DataFrame:
    return (spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .option("pathGlobFilter", glob)
            .parquet(input_dir))


def run_streaming_extraction(spark: SparkSession, input_dir: str,
                             out_root: str, checkpoint_dir: str,
                             num_partitions: int | None = None,
                             detections: DataFrame | None = None,
                             chunk_threshold: int | None = None) -> dict:
    """Drain everything currently in input_dir (availableNow trigger)
    through per-micro-batch extraction commits; returns stats for THIS
    drain only (snapshots committed by this call), not the table's full
    history — same per-run semantics as the batch ``run_job``. An
    optional detections side table merges into every micro-batch before
    extraction, exactly like the batch path."""
    runs: list[dict] = []
    stream = read_docs_stream(spark, input_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        runs.append(job.run_job(batch_df.sparkSession, batch_df, out_root,
                                resume=True, num_partitions=num_partitions,
                                chunk_threshold=chunk_threshold,
                                detections=detections))

    q = (stream.writeStream.foreachBatch(process)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return {"docs_in": sum(r["docs_in"] for r in runs),
            "docs_out": sum(r["docs_out"] for r in runs),
            "snapshots": len(runs)}


# ---------------------------------------------------------------------------
# Custom stateful operator: cross-batch first-occurrence dedup
# (applyInPandasWithState — SURVEY §2.11's "custom stateful" slot).
# ---------------------------------------------------------------------------

def dedup_docs_stateful(stream: DataFrame) -> DataFrame:
    """Emit each doc_id only the FIRST time it appears across the whole
    stream: per-key GroupState holds a seen flag. This is the streaming
    analog of exact dedup for a live crawl feed (the snapshot-resume
    anti-join covers the batch case)."""
    import pandas as pd

    def dedup(key, pdfs, state):
        if state.exists:
            return iter(())
        state.update((True,))
        for pdf in pdfs:
            yield pdf.head(1)[["doc_id"]].assign(n_spans=pdf["spans"].map(
                lambda sp: len(sp) if sp is not None else 0).head(1))
            break
        return

    return stream.groupBy("doc_id").applyInPandasWithState(
        dedup,
        outputStructType="doc_id string, n_spans int",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
