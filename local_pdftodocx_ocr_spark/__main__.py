"""spark-submit entry point (north rule: ``spark-submit --py-files``).

Usage (local sandbox; on a cluster drop the --master local bits and let
spark-submit supply the session):

    spark-submit --py-files pdf2spans.zip -m local_pdftodocx_ocr_spark \
        --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/extract_out --partitions 32

    python -m local_pdftodocx_ocr_spark --input ... --output ...

The input may be either the interleaved (doc_id, spans) table itself or
a flat documents table (doc_id:int, text:string), which is deterministically
interleaved inside the extraction pass (synth.spans_from_flat_doc).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession

if __package__ in (None, ""):  # spark-submit runs this file as a script
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="local_pdftodocx_ocr_spark")
    ap.add_argument("--input", required=True,
                    help="input path: interleaved (doc_id, spans) parquet, or a "
                         "flat (doc_id, text) corpus in parquet/jsonl/csv")
    ap.add_argument("--format", choices=("parquet", "jsonl", "csv"), default=None,
                    help="input format (default: sniffed from the extension)")
    ap.add_argument("--output", default=None,
                    help="snapshot table root directory (required except "
                         "with --stats, which only reads)")
    ap.add_argument("--partitions", type=int, default=0,
                    help="extraction partitions (default: defaultParallelism)")
    ap.add_argument("--no-resume", action="store_true",
                    help="process every input doc even if already committed")
    ap.add_argument("--chunk-threshold", type=int, default=0,
                    help="split documents larger than this many spans into "
                         "parallel route chunks (0 = off)")
    ap.add_argument("--local-cores", type=int, default=0,
                    help="build a local[N] session (omit under spark-submit on a cluster)")
    ap.add_argument("--detections", default=None,
                    help="layout-detections side table (parquet: doc_id, page, "
                         "x, y, w, h, cls, conf, media_ref) from a separate "
                         "neural-layout batch job; merged through the J1/P9/M4 "
                         "kernels before extraction")
    ap.add_argument("--curate", default=None,
                    help="after extraction, render the committed spans to "
                         "text, token-gate (>=30), exact-dedup (first-wins), "
                         "80/10/10-split, and write the curated corpus "
                         "parquet to this path")
    ap.add_argument("--pii", action="store_true",
                    help="with --curate: scrub the curated text (emails/"
                         "phones/IPv4 -> typed placeholder tokens) before "
                         "writing; adds an n_pii column")
    ap.add_argument("--curate-format", choices=("parquet", "jsonl"),
                    default="parquet",
                    help="with --curate: output format (jsonl = one JSON "
                         "object per line, the standard LLM-training "
                         "delivery format)")
    ap.add_argument("--stream", action="store_true",
                    help="treat --input as a directory of interleaved "
                         "(doc_id, spans) parquet arrivals and drain it as a "
                         "micro-batch stream (availableNow): each micro-batch "
                         "runs the same anti-join + extract + atomic snapshot "
                         "commit, so replays dedupe (exactly-once per doc)")
    ap.add_argument("--checkpoint", default=None,
                    help="streaming checkpoint directory (required with --stream)")
    ap.add_argument("--compact", action="store_true",
                    help="instead of extracting, fold all committed snapshots "
                         "under --output into one (Iceberg rewrite_data_files "
                         "analog) and exit")
    ap.add_argument("--stats", action="store_true",
                    help="instead of extracting, print bounded-state corpus "
                         "statistics of the flat --input corpus as one JSON "
                         "line (HyperLogLog distinct-shingle estimate + "
                         "histogram-sketch length quantiles — constant "
                         "aggregation state at any corpus size) and exit")
    args = ap.parse_args(argv)

    from local_pdftodocx_ocr_spark import job

    if not args.output and not args.stats:
        print(json.dumps({"error": "--output is required (only --stats "
                                   "runs without a snapshot table)"}))
        return 2
    if args.pii and not args.curate:
        print(json.dumps({"error": "--pii requires --curate (it scrubs "
                                   "the curated corpus text)"}))
        return 2
    if args.curate_format != "parquet" and not args.curate:
        print(json.dumps({"error": "--curate-format requires --curate"}))
        return 2

    def write_curated(spark, stats):
        from pyspark.sql import functions as F

        from local_pdftodocx_ocr_spark.operators.extraction import curate_spans
        from local_pdftodocx_ocr_spark.operators.textstats import (
            PII_EMAIL_RE, PII_IP_RE, PII_PHONE_RE, pii_scrub_text,
        )

        cur = curate_spans(job.read_extracted(spark, args.output))
        if args.pii:
            n_pii = sum(
                F.size(F.regexp_extract_all(F.col("text"), F.lit(p), F.lit(0)))
                for p in (PII_EMAIL_RE, PII_PHONE_RE, PII_IP_RE))
            cur = cur.select("doc_id", pii_scrub_text(F.col("text")).alias("text"),
                             "n_tokens", "split",
                             n_pii.cast("int").alias("n_pii"))
        if args.curate_format == "jsonl":
            cur.write.mode("overwrite").json(args.curate)
            stats["curated_docs"] = spark.read.json(args.curate).count()
        else:
            cur.write.mode("overwrite").parquet(args.curate)
            stats["curated_docs"] = spark.read.parquet(args.curate).count()
        stats["curate_path"] = args.curate
        stats["curate_format"] = args.curate_format

    if args.local_cores:
        spark = job.build_session(args.local_cores, app="pdf2spans")
    else:
        spark = SparkSession.builder.appName("pdf2spans").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if args.stats:
        from pyspark.sql import functions as F

        from local_pdftodocx_ocr_spark.operators.textstats import (
            hll_distinct_shingles_df, hll_fold, hll_registers,
            length_quantile_sketch_df,
        )
        from local_pdftodocx_ocr_spark.sources.tables import (
            read_corpus_input, spread_scan,
        )

        d = read_corpus_input(spark, args.input, args.format)
        if not {"doc_id", "text"} <= set(d.columns):
            print(json.dumps({"error": "--stats needs a flat (doc_id, text) "
                                       f"corpus; got {sorted(d.columns)}"}))
            return 2
        if "n_chars" not in d.columns:
            d = d.withColumn("n_chars", F.length("text"))
        # single-file local scans are ONE partition — spread before the
        # CPU-heavy shingle/md5 pass (no-op on a parallel scan)
        d = spread_scan(spark, d)
        n_docs = d.count()
        if "source" in d.columns:
            # ONE shingle/hash pass: keyed registers fold to the global
            # ones exactly (max is associative), so the per-source and
            # whole-corpus estimates share the pass; the persisted
            # register table is <= n_sources x 256 rows
            regs = hll_registers(d, key="source").persist()
            hll = hll_fold(
                regs.groupBy("bucket").agg(F.max("m").alias("m"))
            ).collect()[0]
            sources = {r["source"]: r["est_distinct_shingles"]
                       for r in hll_fold(regs, group=("source",)).collect()}
            regs.unpersist(False)
        else:
            hll = hll_distinct_shingles_df(d).collect()[0]   # 1 row
            sources = None
        # reuse the count: the quantile thresholds take N as a 1-row
        # plan, so the sketch pass scans only the n_chars column once
        n_row = spark.range(1).select(F.lit(n_docs).alias("n"))
        quant = {f"p{r['pct']}": r["est_chars_ub"]
                 for r in length_quantile_sketch_df(spark, d,
                                                    n=n_row).collect()}
        out = {
            "n_docs": n_docs,
            "est_distinct_shingles": hll["est_distinct_shingles"],
            "n_zero_registers": hll["n_zero_registers"],
            "length_quantiles_ub": quant,
        }
        if sources is not None:
            out["sources"] = sources
        print(json.dumps(out))
        return 0

    if args.compact:
        from local_pdftodocx_ocr_spark.catalog import open_table
        table = open_table(spark, args.output)
        before = len(table.snapshots())
        snap = table.compact(spark)
        print(json.dumps({"compacted": snap, "snapshots_before": before,
                          "snapshots_after": len(table.snapshots())}))
        return 0

    if args.stream:
        if not args.checkpoint:
            print(json.dumps({"error": "--stream requires --checkpoint"}))
            return 2
        if args.no_resume:
            # the streaming contract IS resume (per-batch anti-join =
            # exactly-once on replay); running without it would double-
            # extract replayed micro-batches
            print(json.dumps({"error": "--no-resume is incompatible with "
                                       "--stream"}))
            return 2
        if args.format:
            # the stream probe and reader are parquet-only (fixed schema
            # over an arrivals directory); accepting --format here would
            # die later with an opaque parquet error on jsonl/csv input
            print(json.dumps({"error": "--format is incompatible with "
                                       "--stream: the stream input must be "
                                       "an interleaved (doc_id, spans) "
                                       "parquet arrivals directory"}))
            return 2
        probe = spark.read.parquet(args.input)
        if "spans" not in probe.columns:
            # the fixed stream schema would silently read a flat corpus
            # as all-null spans; fail loud instead (interleave it with a
            # batch run, or pre-materialize the interleaved table)
            print(json.dumps({"error": "--stream input must be the "
                                       "interleaved (doc_id, spans) table; "
                                       f"got columns {sorted(probe.columns)}"}))
            return 2
        from local_pdftodocx_ocr_spark.streaming.extract_stream import (
            run_streaming_extraction,
        )
        stats = run_streaming_extraction(
            spark, args.input, args.output, args.checkpoint,
            num_partitions=args.partitions or None,
            detections=(spark.read.parquet(args.detections)
                        if args.detections else None),
            chunk_threshold=args.chunk_threshold or None)
        if args.curate:
            write_curated(spark, stats)
        print(json.dumps(stats))
        return 0

    from local_pdftodocx_ocr_spark.sources.tables import read_corpus_input

    df = read_corpus_input(spark, args.input, args.format)
    cols = set(df.columns)
    if "spans" not in cols:
        if not {"doc_id", "text"} <= cols:
            print(json.dumps({"error": f"input must have (doc_id, spans) or "
                                       f"(doc_id, text); got {sorted(cols)}"}))
            return 2
        df = job.interleaved_docs_from_flat(df)

    stats = job.run_job(spark, df, args.output,
                        resume=not args.no_resume,
                        num_partitions=args.partitions or None,
                        chunk_threshold=args.chunk_threshold or None,
                        detections=(spark.read.parquet(args.detections)
                                    if args.detections else None))
    if args.curate:
        write_curated(spark, stats)
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
