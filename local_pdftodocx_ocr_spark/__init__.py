"""PySpark-native main-content extraction engine.

A brand-new, Spark-first rebuild of the capabilities of
chiraleo2000/Local_PDFtoDocx-OCR (reference read-only at /root/reference):
interleaved (kind, text, media_ref, offset) span extraction over document
tables at 10^12-document design scale, plus the training-data-pipeline
operators (dedup / similarity / text analysis) a 100 TB corpus needs.

Layout:
  schema     - canonical StructTypes (input_hint shape)
  kernels    - pure deterministic per-document operator kernels
               (shared verbatim by the Spark UDF and the test oracle)
  oracle     - sequential reference extractor built from the kernels
  synth      - deterministic synthetic interleaved corpora
  catalog    - snapshot-commit table I/O (Iceberg-style manifest on parquet)
  job        - the distributed extraction job (salted repartition ->
               mapInArrow -> spans + lineage, idempotent resume)
  operators/ - relational, dedup, similarity, textstats, multimodal
  streaming/ - structured-streaming analogs (windowed event aggregation)
  worker_bootstrap - once-per-process set-up of Spark's Python workers,
               run on the package's first import in a worker
"""

__version__ = "0.1.0"

from . import worker_bootstrap

worker_bootstrap.install()
