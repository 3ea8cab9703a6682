"""Canonical schemas (the BASELINE.json ``input_hint`` shape).

Input/output table: ``(doc_id: string, spans: array<struct<kind, text,
media_ref, offset>>)``. The output ``offset`` is the dense reading-order
rank, mirroring the reference's final ``(page, y_top, x_left)`` sort
(reference: src/pipeline.py:2850, src/pipeline.py:4157-4178).
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, containsNull=False), False),
    ]
)

# Unified schema emitted by the single-pass extraction UDF; rows are
# routed by row_type ('doc' | 'quarantine' | 'lineage') so one mapInArrow
# pass yields both the spans table and the lineage table without a second
# scan.
UNIFIED_SCHEMA = T.StructType(
    [
        T.StructField("row_type", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, containsNull=False), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("docs_in", T.LongType(), True),
        T.StructField("docs_out", T.LongType(), True),
        T.StructField("checksum", T.StringType(), True),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)

