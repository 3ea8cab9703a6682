"""The distributed extraction job.

Physical plan (designed for 1000 executors / 100 TB; tested on local[N]):

  read input (doc_id, spans)                 -- Iceberg/parquet scan;
    or flat (doc_id, flat_id, text)             column-pruned, snapshot-based
  [resume] LEFT ANTI JOIN committed doc_ids  -- the only cluster-wide join;
                                                committed ids are read with
                                                the known unified schema
                                                (no inference job); flat
                                                rows drop before any Python
  [detections] LEFT JOIN detection spans     -- after the anti-join, so
                                                replayed docs skip it
  repartition(P, xxhash64(doc_id, salt))     -- salted hash defuses
                                                large-document key skew
                                                (north rule; SURVEY.md §2.9 R1)
  mapInArrow(extract_batch)                  -- ONE Arrow-batched pass:
                                                interleave flat rows, then
                                                route/clean/recognize/dedup/
                                                order kernels per document,
                                                one batched recognize call
                                                per record batch, plus one
                                                lineage row per partition
    -> write its own part file               -- each task streams its rows,
                                                lineage row included, into
                                                one parquet file (pyarrow)
                                                and yields a commit message:
                                                lineage fields + file path
  collect messages -> atomic commit          -- the driver moves exactly the
                                                reported files into the
                                                snapshot and commits it: the
                                                idempotent restart point; no
                                                Spark write job, no read-back

No per-row Python anywhere: documents cross the Python boundary once, as
Arrow record batches, and come back as record batches built directly
against the unified schema (no pandas frames); everything else is
JVM-side.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Iterator
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import kernels, synth
from .catalog import open_table
from .schema import DOCS_SCHEMA, UNIFIED_SCHEMA

DEFAULT_SALT = 0x5CA1AB1E
_UNIFIED_ARROW = to_arrow_schema(UNIFIED_SCHEMA)
_DOCS_ARROW = to_arrow_schema(DOCS_SCHEMA)
# one task attempt's commit message: its lineage row plus its part file
_COMMIT_SCHEMA = T.StructType(
    [UNIFIED_SCHEMA[name] for name in
     ("partition_id", "docs_in", "docs_out", "checksum")]
    + [T.StructField("path", T.StringType())])
_COMMIT_ARROW = to_arrow_schema(_COMMIT_SCHEMA)


def build_session(parallelism: int = 0, app: str = "pdf2spans",
                  shuffle_partitions: int | None = None) -> SparkSession:
    """Local-mode session tuned per /opt guide: AQE on, Arrow on,
    shuffle partitions ~= cores (not 200)."""
    cores = parallelism or os.cpu_count() or 4
    return (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # the generated-code cache defaults to 100 entries; a session
        # that plans hundreds of distinct stages (the 65-query suite,
        # iterative loops) evicts and re-Janino-compiles identical
        # shapes. Scale-independent: the cache holds compiled classes,
        # not data.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .getOrCreate()
    )


def _record_batch(schema: pa.Schema, **cols: list) -> pa.RecordBatch:
    """A record batch of `schema` from Python columns; the columns not
    given are all null."""
    n = len(next(iter(cols.values())))
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[f.name], f.type) if f.name in cols else pa.nulls(n, f.type)
         for f in schema], schema=schema)


def _recognized(spans_col: list) -> dict[str, str]:
    """The batched "OCR" step (reference src/ocr_engine.py:899-954): one
    recognize_batch call over every distinct media_ref of a record batch."""
    refs = sorted({s["media_ref"] for spans in spans_col if spans
                   for s in spans if s["media_ref"]})
    return dict(zip(refs, kernels.recognize_batch(refs)))


def _unified_rows(results: Iterator[list[tuple]],
                  partition_offset: int = 0) -> Iterator[pa.RecordBatch]:
    """The one emitter of unified rows. `results` yields, per input
    batch, a list of ``(doc_id, spans, checksum)``. A doc with spans
    becomes a doc row; a doc whose extraction came out empty becomes a
    quarantine row (null spans), which marks it processed so resume
    skips it without polluting the spans table. After the partition
    drains, exactly one lineage row follows."""
    ctx = TaskContext.get()
    partition_id = (ctx.partitionId() if ctx is not None else -1) + partition_offset
    t0 = time.monotonic()
    docs_in = docs_out = acc = 0
    for rows in results:
        docs_in += len(rows)
        for _, spans, chk in rows:
            if spans:
                docs_out += 1
                acc = (acc + chk) % kernels._CHECK_MOD
        yield _record_batch(
            _UNIFIED_ARROW,
            row_type=["doc" if spans else "quarantine" for _, spans, _ in rows],
            doc_id=[doc_id for doc_id, _, _ in rows],
            spans=[spans or None for _, spans, _ in rows])
    yield _record_batch(
        _UNIFIED_ARROW, row_type=["lineage"], partition_id=[partition_id],
        docs_in=[docs_in], docs_out=[docs_out], checksum=[format(acc, "016x")],
        wall_ms=[int((time.monotonic() - t0) * 1000)])


def _written(batches: Iterator[pa.RecordBatch], staging: str) -> Iterator[pa.RecordBatch]:
    """Streams unified `batches` into ``<staging>/_attempts/<task
    attempt id>/part.parquet`` and yields the commit message: the
    fields of the last batch (the lineage row) plus the file's path.
    Readers skip the ``_``-prefixed directory; only run_job's commit
    moves a file out."""
    path = os.path.join(staging, "_attempts", str(TaskContext.get().taskAttemptId()),
                        "part.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with pq.ParquetWriter(path, _UNIFIED_ARROW, compression="snappy") as writer:
        for batch in batches:
            writer.write_batch(batch)
    yield _record_batch(_COMMIT_ARROW, path=[path], **{
        name: batch.column(name).to_pylist() for name in _COMMIT_ARROW.names[:-1]})


def _local_staging(spark: SparkSession, staging: str) -> str:
    """`staging` as an absolute local path. The extraction tasks write
    their parts there with pyarrow and the driver moves them with
    os.replace, so it must be a POSIX path that the driver and every
    executor see alike: one host, or a mount they all share. A path
    that Spark's Hadoop file system would resolve elsewhere (a URI such
    as ``hdfs://...``, or any path under a non-local ``fs.defaultFS``)
    fails here, before any extraction work."""
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    if urlparse(staging).scheme or urlparse(default_fs or "file:///").scheme != "file":
        raise ValueError(
            f"run_job stages its part files on a local path that every executor "
            f"shares; staging dir {staging!r} under fs.defaultFS {default_fs!r} is not one")
    return os.path.abspath(staging)


def _spans_column(batch: pa.RecordBatch) -> list[list[dict]]:
    """A record batch's spans as lists of dicts: its ``spans`` column,
    or, for a flat projection (interleaved_docs_from_flat), the spans
    synthesized from each (flat_id, text) row."""
    if "spans" in batch.schema.names:
        return batch.column("spans").to_pylist()
    return [synth.spans_from_flat_doc(i, text) for i, text in
            zip(batch.column("flat_id").to_pylist(), batch.column("text").to_pylist())]


def _unified_map(df: DataFrame, body, staging: str | None) -> DataFrame:
    """``df.mapInArrow(body)``, `body` emitting unified rows; given a
    `staging` dir, each task writes them to its own part file instead
    and the frame holds one commit message per task (_written)."""
    if staging is None:
        return df.mapInArrow(body, schema=UNIFIED_SCHEMA)
    return df.mapInArrow(lambda batches: _written(body(batches), staging),
                         schema=_COMMIT_SCHEMA)


def extract_batch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow body. Per record batch: the spans (read, or
    synthesized from flat rows), one batched recognize call, then the
    per-document kernel pipeline. After the partition drains, exactly
    one lineage row."""
    def results() -> Iterator[list[tuple]]:
        for batch in batches:
            spans_col = _spans_column(batch)
            media_text = _recognized(spans_col)
            rows = []
            for doc_id, spans in zip(batch.column("doc_id").to_pylist(), spans_col):
                tuples = kernels.extract_document(doc_id, spans, media_text)
                rows.append((doc_id, tuples,
                             kernels.doc_checksum(doc_id, tuples) if tuples else 0))
            yield rows

    return _unified_rows(results())


def extract_spans(docs: DataFrame, num_partitions: int | None = None,
                  salt: int = DEFAULT_SALT, staging: str | None = None) -> DataFrame:
    """docs (doc_id, spans) -> unified (doc rows + lineage rows); with
    a `staging` dir, each task writes its unified rows there and the
    frame holds one commit message per task instead (_COMMIT_SCHEMA).

    The explicit ``repartition(P, xxhash64(doc_id, salt))`` is the north
    rule's skew defuse: doc_id ranges that hash hot (e.g. crawl shards
    with mega-documents) spread uniformly; AQE still coalesces small
    post-shuffle partitions."""
    n = num_partitions or docs.sparkSession.sparkContext.defaultParallelism
    salted = docs.repartition(n, F.xxhash64(F.col("doc_id"), F.lit(salt)))
    return _unified_map(salted, extract_batch, staging)


# ---------------------------------------------------------------------------
# Oversized-document chunking (the second half of the skew story):
# salted repartition spreads DOCS uniformly, but one mega-document still
# lands on a single task. Above `chunk_threshold` spans, a document is
# split at span boundaries; the CPU-heavy route phase (clean/recognize/
# boilerplate — ~90% of kernel time) runs per chunk in parallel, and the
# cheap doc-global finalize (footer-repeat strip, stub merge, dedup,
# ordering, offsets) reassembles per doc. Shares the exact kernel code
# with the single-pass path, so outputs are identical (tests pin this).
# ---------------------------------------------------------------------------

# the Block wire form; field order == kernels.block_to_tuple
_BLOCK = T.StructType([T.StructField(name, typ) for name, typ in (
    ("kind", T.StringType()), ("page", T.IntegerType()), ("y", T.DoubleType()),
    ("x", T.DoubleType()), ("text", T.StringType()), ("media_ref", T.StringType()),
    ("src_offset", T.IntegerType()), ("src_kind", T.StringType()),
    ("seq", T.LongType()), ("w", T.DoubleType()), ("h", T.DoubleType()))])
_ROUTED_SCHEMA = T.StructType([T.StructField("doc_id", T.StringType()),
                               T.StructField("blocks", T.ArrayType(_BLOCK))])
_FINALIZED_SCHEMA = T.StructType([UNIFIED_SCHEMA["doc_id"], UNIFIED_SCHEMA["spans"],
                                  T.StructField("checksum", T.LongType())])
_ROUTED_ARROW = to_arrow_schema(_ROUTED_SCHEMA)
_FINALIZED_ARROW = to_arrow_schema(_FINALIZED_SCHEMA)
_CHUNK_PARTITION_OFFSET = 1_000_000


def _route_chunks(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        spans_col = batch.column("spans").to_pylist()
        media_text = _recognized(spans_col)
        yield _record_batch(
            _ROUTED_ARROW, doc_id=batch.column("doc_id").to_pylist(),
            blocks=[[kernels.block_to_tuple(b)
                     for b in kernels.route_spans(spans, media_text, base_seq)]
                    for base_seq, spans in zip(batch.column("base_seq").to_pylist(),
                                               spans_col)])


def _finalize_group(table: pa.Table) -> pa.Table:
    doc_id = table.column("doc_id")[0].as_py()
    blocks = [kernels.block_from_dict(b)
              for chunk in table.column("blocks").to_pylist() if chunk for b in chunk]
    blocks.sort(key=lambda b: b.seq)  # restore the single-pass routing order
    tuples = kernels.finalize_blocks(blocks)
    chk = kernels.doc_checksum(doc_id, tuples) if tuples else 0
    return pa.Table.from_batches([_record_batch(
        _FINALIZED_ARROW, doc_id=[doc_id], spans=[tuples or None], checksum=[chk])])


def _finalized_to_unified(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    return _unified_rows(
        (list(zip(b.column("doc_id").to_pylist(), b.column("spans").to_pylist(),
                  b.column("checksum").to_pylist())) for b in batches),
        _CHUNK_PARTITION_OFFSET)


def extract_spans_chunked(fat_docs: DataFrame, chunk_threshold: int,
                          staging: str | None = None) -> DataFrame:
    """(doc_id, spans) of oversized docs -> unified rows via the
    chunked two-phase plan: explode to span-chunks (pure JVM slice) ->
    route per chunk (mapInArrow) -> groupBy(doc_id) finalize
    (applyInArrow). Lineage rows come from the finalize stage with
    partition ids offset to stay disjoint from the single-pass path."""
    n_chunks = F.ceil(F.size("spans") / F.lit(chunk_threshold)).cast("int")
    chunks = (fat_docs
              .select("doc_id",
                      F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
                      F.col("spans"))
              .select("doc_id",
                      (F.col("chunk_id").cast("long") * chunk_threshold).alias("base_seq"),
                      F.slice("spans", F.col("chunk_id") * chunk_threshold + 1,
                              F.lit(chunk_threshold)).alias("spans")))
    routed = chunks.mapInArrow(_route_chunks, schema=_ROUTED_SCHEMA)
    finalized = routed.groupBy("doc_id").applyInArrow(
        _finalize_group, schema=_FINALIZED_SCHEMA)
    return _unified_map(finalized, _finalized_to_unified, staging)


def extract_spans_auto(docs: DataFrame, num_partitions: int | None = None,
                       salt: int = DEFAULT_SALT,
                       chunk_threshold: int = 4096,
                       staging: str | None = None) -> DataFrame:
    """Skew-complete extraction: normal docs through the single-pass
    salted-repartition plan, oversized docs (> chunk_threshold spans)
    through the chunked two-phase plan; one unified output (or, with
    a `staging` dir, one frame of commit messages)."""
    sized = materialize_spans(docs).withColumn("_n", F.size("spans"))
    small = sized.filter(F.col("_n") <= chunk_threshold).drop("_n")
    fat = sized.filter(F.col("_n") > chunk_threshold).drop("_n")
    return extract_spans(small, num_partitions, salt, staging).unionByName(
        extract_spans_chunked(fat, chunk_threshold, staging))


def split_unified(unified: DataFrame) -> tuple[DataFrame, DataFrame]:
    spans = (unified.filter(F.col("row_type") == "doc")
             .select("doc_id", "spans"))
    lineage = (unified.filter(F.col("row_type") == "lineage")
               .select("partition_id", "docs_in", "docs_out", "checksum", "wall_ms"))
    return spans, lineage


def run_job(spark: SparkSession, docs: DataFrame, out_root: str,
            resume: bool = True, num_partitions: int | None = None,
            chunk_threshold: int | None = None,
            detections: DataFrame | None = None) -> dict:
    """Execute the extraction with snapshot commit + idempotent resume.

    One full pass: the unified (docs + lineage) output is written to a
    staging dir and atomically committed; a rerun anti-joins the input
    against already-committed doc_ids, so a killed run resumes from the
    last commit and converges to the identical table (FIXTURES.md §3).

    `out_root` may be a directory (parquet-snapshot fallback) or an
    Iceberg ``catalog.db.table`` identifier — open_table routes; both
    backends satisfy the same contract (tests/test_catalog_contract).

    A `detections` side table is merged (inject_external_detections)
    after the anti-join, so replayed docs skip the merge.

    The extraction tasks write the snapshot's files themselves: each
    task attempt writes its own part file under the staging dir and
    reports it in a commit message. The driver collects one message
    per partition, each from the attempt that succeeded, moves exactly
    those files to ``part-<partition_id>.parquet`` and commits; files
    of failed or speculative attempts stay under ``_attempts``, which
    the commit removes. The staging dir must therefore be a local path
    that the driver and every executor share (_local_staging): one
    host, or a shared mount; any other staging dir fails before the
    extraction runs. Returns the run's totals, the sums of the
    messages' lineage fields. The collect is described as
    ``run_job <snapshot id>: write``, any job of the commit as
    ``...: commit``."""
    table = open_table(spark, out_root)
    if resume:
        done = table.committed_doc_ids(spark, UNIFIED_SCHEMA)
        if done is not None:
            docs = docs.join(done, "doc_id", "left_anti")
    if detections is not None:
        docs = inject_external_detections(docs, detections)

    snap_id, staging = table.begin()
    staging = _local_staging(spark, staging)
    if chunk_threshold:
        parts = extract_spans_auto(docs, num_partitions=num_partitions,
                                   chunk_threshold=chunk_threshold, staging=staging)
    else:
        parts = extract_spans(docs, num_partitions=num_partitions, staging=staging)
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    try:
        sc.setJobDescription(f"run_job {snap_id}: write")
        try:
            messages = parts.collect()
        except Exception:
            table.abort(staging)
            raise
        sc.setJobDescription(f"run_job {snap_id}: commit")
        if not messages:    # as Spark's writer does: keep an empty snapshot's schema
            os.makedirs(staging, exist_ok=True)
            pq.write_table(_UNIFIED_ARROW.empty_table(), os.path.join(staging, "part-0.parquet"))
        for m in messages:
            os.replace(m["path"], os.path.join(staging, f"part-{m['partition_id']}.parquet"))
        shutil.rmtree(os.path.join(staging, "_attempts"), ignore_errors=True)
        table.commit(snap_id, staging, meta={"kind": "extract"})
    finally:
        sc.setLocalProperty("spark.job.description", caller)
    return {"snapshot": snap_id, "docs_in": sum(m["docs_in"] for m in messages),
            "docs_out": sum(m["docs_out"] for m in messages),
            "partitions": len(messages),
            "checksum": kernels.combine_checksums(int(m["checksum"], 16) for m in messages)}


def read_extracted(spark: SparkSession, out_root: str) -> DataFrame:
    """All committed extracted spans (union of snapshots)."""
    table = open_table(spark, out_root)
    df = table.read(spark, UNIFIED_SCHEMA)
    if df is None:
        return spark.createDataFrame([], DOCS_SCHEMA)
    return split_unified(df)[0]


def read_lineage(spark: SparkSession, out_root: str) -> DataFrame:
    table = open_table(spark, out_root)
    df = table.read(spark, UNIFIED_SCHEMA)
    if df is None:
        raise FileNotFoundError(f"no committed snapshots under {out_root}")
    return split_unified(df)[1]


def write_media_store(spark: SparkSession, docs: DataFrame, out_dir: str) -> int:
    """S10 figure-file sink analog: materialize every distinct media_ref
    payload into a binary side table (media_ref, payload, byte_len).
    Spans keep carrying only the ref — binary never rides a shuffle with
    document rows (SURVEY §1.3). Returns the number of refs written."""
    refs = (docs.select(F.explode("spans").alias("s"))
            .select(F.col("s.media_ref").alias("media_ref"))
            .filter(F.col("media_ref") != "")
            .distinct())

    @F.arrow_udf(T.BinaryType())
    def decode(refs_a: pa.Array) -> pa.Array:
        return pa.array([kernels.recognize_one(r).encode("utf-8")
                         for r in refs_a.to_pylist()], pa.binary())

    out = (refs.select("media_ref", decode(F.col("media_ref")).alias("payload"))
           .withColumn("byte_len", F.length("payload")))
    out.write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir).count()


def inject_manual_regions(docs: DataFrame, regions: DataFrame) -> DataFrame:
    """Manual-correction regions as a broadcast side-table (reference
    `process_pdf_with_corrections` + `_merge_manual_regions`,
    src/pipeline.py:4277-4396, 3696-3711; SURVEY §3.2: "the only
    broadcast join in the system"). `regions` columns: doc_id, kind,
    text, media_ref, page, y, x. Regions become extra spans appended
    after the document's own (offset-shifted), all JVM-side."""
    from pyspark.sql import Window as W

    # Total order (same hazard as inject_external_detections): two
    # corrections anchored at one (page, y, x) must not race for offsets.
    w = W.partitionBy("doc_id").orderBy(
        "page", "y", "x", "kind", "text", "media_ref")
    spans = regions.select(
        "doc_id",
        F.struct(
            F.col("kind").alias("kind"),
            # %.1f, NOT format_number: grouping separators ("1,000.0")
            # would break POS_HEADER_RE for coordinates >= 1000
            F.format_string("p=%d;y=%.1f;x=%.1f|%s",
                            F.col("page"),
                            F.col("y").cast("double"),
                            F.col("x").cast("double"),
                            F.col("text")).alias("text"),
            F.col("media_ref").alias("media_ref"),
            (F.lit(1_000_000) + F.row_number().over(w)).alias("offset"),
        ).alias("span"))
    extra = spans.groupBy("doc_id").agg(F.collect_list("span").alias("extra"))
    return (docs.join(F.broadcast(extra), "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("extra").isNotNull(),
                           F.concat(F.col("spans"), F.col("extra")))
                    .otherwise(F.col("spans")).alias("spans")))


DETECTION_OFFSET_BASE = 2_000_000   # distinct from manual regions' 1M block
DETECTION_MIN_CONF = 0.5


def inject_external_detections(docs: DataFrame, dets: DataFrame,
                               min_conf: float = DETECTION_MIN_CONF) -> DataFrame:
    """M1/M2 closure without weights: a neural layout detector runs as
    a SEPARATE batch job (YOLO / Docling layout model; reference
    src/layout_detector.py:228-288, src/docling_backend.py:65-187) and
    lands its output in a detections side table
    ``(doc_id, page, x, y, w, h, cls, conf, media_ref)`` — bbox, class
    and confidence per region, plus the region-crop media ref its
    re-OCR consumes. This operator merges that table into the span
    stream, after which the UNCHANGED J1/J2/P9/M4 kernels decide
    override-vs-merge exactly as they do for native structure:

    * conf < min_conf          -> gated out (detector score threshold)
    * cls=table/figure rect    -> suppresses text blocks whose center
                                  falls inside it (J1), markers exempt
    * undersized figure bbox   -> P9 validity drop
    * crop segments form a grid-> M4 figure->table reclassify
    * elsewhere                -> appended as a new structure block

    UNLIKE inject_manual_regions (a bounded human-corrections table,
    the one legitimate broadcast in the system), the detections table
    is ~rows-per-page and therefore SCALES WITH THE CORPUS — so this
    join carries no broadcast hint: AQE broadcasts it at small SF and
    falls back to a shuffle join at 10^12 docs (repo rule: no
    F.broadcast on any table that scales with SF). Offsets land in the
    2M namespace ordered by the TOTAL key
    (page, y, x, w, h, cls, media_ref) — the same tuple
    synth.apply_detections_seq sorts by — so two detections sharing a
    bbox origin (same anchor, different class: routine in real
    detector output) still get deterministic offsets, and the span
    order / snapshot checksum are run-independent. Zero-area
    detections (w or h <= 0) are gated out with the confidence
    filter: a degenerate bbox has nothing to suppress, reclassify, or
    validity-check."""
    from pyspark.sql import Window as W

    docs = materialize_spans(docs)
    w = W.partitionBy("doc_id").orderBy(
        "page", "y", "x", "w", "h", "cls", "media_ref")
    spans = dets.filter((F.col("conf") >= min_conf)
                        & (F.col("w") > 0) & (F.col("h") > 0)).select(
        "doc_id",
        F.struct(
            F.col("cls").alias("kind"),
            F.format_string("p=%d;y=%.1f;x=%.1f;w=%.1f;h=%.1f|",
                            F.col("page"),
                            F.col("y").cast("double"), F.col("x").cast("double"),
                            F.col("w").cast("double"), F.col("h").cast("double"))
            .alias("text"),
            F.col("media_ref").alias("media_ref"),
            (F.lit(DETECTION_OFFSET_BASE) + F.row_number().over(w)).alias("offset"),
        ).alias("span"))
    extra = spans.groupBy("doc_id").agg(F.collect_list("span").alias("extra"))
    return (docs.join(extra, "doc_id", "left")   # AQE decides; see docstring
            .select("doc_id",
                    F.when(F.col("extra").isNotNull(),
                           F.concat(F.col("spans"), F.col("extra")))
                    .otherwise(F.col("spans")).alias("spans")))


def docs_df_from_corpus(spark: SparkSession, corpus: list[tuple[str, list[dict]]]) -> DataFrame:
    rows = [(doc_id, [
        {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"],
         "offset": int(s["offset"])} for s in spans
    ]) for doc_id, spans in corpus]
    return spark.createDataFrame(rows, schema=DOCS_SCHEMA)


def interleaved_docs_from_flat(documents: DataFrame) -> DataFrame:
    """The driver's flat ``documents`` table (doc_id:int, text:string)
    as a JVM-only projection (``doc-%08d`` doc_id, the integer id as
    flat_id, text); extract_batch interleaves each row inside its one
    crossing, after the resume anti-join (synth.spans_from_flat_doc)."""
    return documents.select(F.format_string("doc-%08d", "doc_id").alias("doc_id"),
                            F.col("doc_id").alias("flat_id"), "text")


def _with_spans(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        yield _record_batch(_DOCS_ARROW, doc_id=batch.column("doc_id").to_pylist(),
                            spans=_spans_column(batch))


def materialize_spans(docs: DataFrame) -> DataFrame:
    """``docs`` as (doc_id, spans): a flat projection pays a crossing of
    its own, so only paths that read spans before extraction use it."""
    if "spans" in docs.columns:
        return docs
    return docs.mapInArrow(_with_spans, schema=DOCS_SCHEMA)
