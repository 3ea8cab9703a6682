"""Table readers.

Centralizes how the engine reads its inputs so format concerns
(parquet today; Iceberg identifiers on a cluster with the runtime jar)
stay out of operator code. Every reader returns a plain DataFrame and
relies on Catalyst for pushdown/pruning — readers never .cache() or
.collect().
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import memo
from ..schema import DOCS_SCHEMA


def spread_scan(spark: SparkSession, df: DataFrame,
                path: str | None = None) -> DataFrame:
    """Repartition a scan ONLY when it is under-parallel.

    Local small-file reality: a single-row-group parquet file scans as
    ONE partition, which would serialize CPU-heavy downstream work
    (tokenize/shingle/signature) onto one core. But an unconditional
    repartition is a full shuffle of the raw corpus before map-only
    work — at 100 TB that is a gratuitous exchange on a scan that
    already has thousands of row groups. So: shuffle only when the scan
    has fewer partitions than the cluster's parallelism (the plan test
    pins that a pre-partitioned input produces no REPARTITION node).

    The partition-count probe costs a physical-planning round trip;
    with ``path`` (the parquet path ``df`` reads) it is memoized per
    file contents."""
    n = (memo.get(spark, "scan_parts", (path,), lambda: df.rdd.getNumPartitions())
         if path else df.rdd.getNumPartitions())
    if n < spark.sparkContext.defaultParallelism:
        return df.repartition(spark.sparkContext.defaultParallelism)
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema memoized
    per file contents: only the first read of a local table launches
    the footer-inference job. A path with no local stat (a remote
    table) infers on every read, so it is never read with a stale
    schema."""
    if not os.path.exists(path):
        return spark.read.parquet(path)
    schema = memo.get(spark, "parquet_schema", (path,),
                      lambda: spark.read.parquet(path).schema)
    return spark.read.schema(schema).parquet(path)


def empty_docs(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], DOCS_SCHEMA)


_FLAT_SCHEMA = "doc_id long, text string"


def read_corpus_input(spark: SparkSession, path: str,
                      fmt: str | None = None) -> DataFrame:
    """The extraction job's input in any supported format.

    * parquet — the native path: either the interleaved (doc_id, spans)
      table or the flat documents table.
    * jsonl / csv — flat (doc_id, text) corpora as ingest feeds produce
      them. Schemas are declared, never inferred: at 100 TB an
      inference pass is a second full scan of the corpus.

    ``fmt=None`` sniffs the extension (.jsonl/.ndjson, .csv; everything
    else reads as parquet). A bare ``.json`` is deliberately NOT
    sniffed: Spark's json reader is line-delimited, so a whole-file
    JSON array would parse to all-null rows silently — pass
    fmt='jsonl' explicitly for line-delimited .json files.

    CSV reads with multiLine=True: document text routinely contains
    newlines, which standard CSV carries inside quotes — under
    multiLine=False such a row silently splits into malformed records.
    The cost is that a multiLine CSV FILE is not splittable (one task
    per file); corpora at scale should arrive as many files, or better
    as jsonl/parquet (both splittable)."""
    if fmt is None:
        low = path.lower().rstrip("/")
        if low.endswith((".jsonl", ".ndjson")):
            fmt = "jsonl"
        elif low.endswith(".csv"):
            fmt = "csv"
        else:
            fmt = "parquet"
    if fmt == "parquet":
        return read_parquet(spark, path)
    if fmt == "jsonl":
        return spark.read.schema(_FLAT_SCHEMA).json(path)
    if fmt == "csv":
        return (spark.read.option("header", True)
                .option("multiLine", True)
                .option("escape", '"')
                .schema(_FLAT_SCHEMA).csv(path))
    raise ValueError(f"unknown input format {fmt!r} "
                     "(expected parquet | jsonl | csv)")
