"""The memo registry must never serve a stale or wrong-corpus value:
not a frame it has unpersisted, not another corpus's shingle index, not
the state of a table since rewritten at the same path. release() keeps
trained state warm; clear() makes the next build cold."""

from __future__ import annotations

import math
import os
import shutil

import duckdb

from local_pdftodocx_ocr_spark import memo, seq_oracles
from local_pdftodocx_ocr_spark.operators import dedup, similarity, textstats
from local_pdftodocx_ocr_spark.plans import asserts as plans
from local_pdftodocx_ocr_spark.sources.tables import read_corpus_input

SF_DIR = seq_oracles.ORACLE_SF_DIR
SF_SMALL = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


def _canon(rows, cols):
    def cell(v):
        ok = isinstance(v, float) and not math.isnan(v)
        return repr(round(v, 9)) if ok else str(v)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def _oracle(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    rel = con.sql(sql)
    return _canon(rel.fetchall(), list(rel.columns))


def _jobs_launched(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_evicted_shingle_index_is_rebuilt(spark):
    """Persisting past the bound evicts the shingle index, and the memo
    entry that handed it out goes with it: the next caller gets a
    rebuilt, cached index, never the unpersisted frame."""
    memo.release()
    first = plans.executed_plan(dedup.dedup_jaccard_pairs(spark, SF_DIR))
    for _ in range(memo.MAX_PERSISTED + 1):    # one tracked persist each
        dedup.dedup_simhash_candidates(spark, SF_DIR)
    again = plans.executed_plan(dedup.dedup_jaccard_pairs(spark, SF_DIR))
    memo.release()
    assert "InMemoryRelation" in first
    assert again.count("InMemoryRelation") == first.count("InMemoryRelation")


def test_two_corpora_get_their_own_shingle_index(spark, monkeypatch):
    """The shingle index is keyed on the documents table it reads, not
    on a 32-bit plan hash: with every plan hashing alike, two corpora
    in one session still each match their own oracle."""
    monkeypatch.setattr(type(spark.range(1)), "semanticHash", lambda self: 0)
    memo.release()
    try:
        for sf in (SF_SMALL, SF_DIR):
            df = dedup.dedup_jaccard_pairs(spark, sf)
            got = _canon(df.collect(), df.columns)
            assert got == _oracle(sf, dedup.DEDUP_JACCARD_SQL), sf
    finally:
        memo.release()


def test_clear_retrains_kmeans_and_release_keeps_it(spark):
    """Constructing emb_kmeans trains its centroids (one collect per
    Lloyd round) unless they are memoized: release() keeps them,
    clear() drops them."""
    def build(group):
        return _jobs_launched(
            spark, group, lambda: similarity.emb_kmeans(spark, SF_DIR))

    build("memo-kmeans-warm")
    memo.release()
    warm = build("memo-kmeans-released")   # 0: the read's schema is memoized too
    memo.clear()
    assert build("memo-kmeans-cleared") >= warm + similarity.KMEANS_ITERS


def test_parquet_schema_is_inferred_once_per_file(spark, tmp_path):
    """Only the first read of a local parquet table infers its schema
    (one job); a same-path rewrite infers again. A path with no local
    stat infers on every read."""
    path = str(tmp_path / "docs.parquet")
    read = []

    def reads(group):
        return _jobs_launched(spark, group, lambda: read.append(
            read_corpus_input(spark, path)))

    spark.createDataFrame([(1, "a b")], "doc_id long, text string").write.parquet(path)
    assert reads("schema-first") == 1
    assert reads("schema-again") == 0
    spark.createDataFrame([(1, "a b", "en")], "doc_id long, text string, lang string") \
        .write.mode("overwrite").parquet(path)
    assert reads("schema-rewritten") == 1
    assert read[-1].columns == ["doc_id", "text", "lang"]
    path = "file://" + path
    assert reads("schema-uri") == reads("schema-uri-again") == 1


def test_same_path_rewrite_matches_fresh_oracles(spark, tmp_path):
    """Rewrite documents and embeddings in place: every trained memo
    (k-means centroids, IVF-PQ index, CMS cells) and every sequential
    oracle reader must follow the new contents."""
    sf = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    oracles = {
        "emb_kmeans": (similarity.emb_kmeans, seq_oracles.kmeans_values_sql),
        "emb_ann_ivfpq_topk": (similarity.ann_ivfpq_topk,
                               seq_oracles.ann_ivfpq_values_sql),
        "docs_heavy_hitters": (textstats.heavy_hitters,
                               lambda _sf: textstats.HEAVY_HITTERS_SQL),
    }
    for src in (SF_SMALL, SF_DIR):
        for t in ("documents", "embeddings"):
            shutil.copyfile(f"{src}/{t}.parquet", f"{sf}/{t}.parquet")
        for name, (query, oracle_sql) in oracles.items():
            df = query(spark, sf)
            got = _canon(df.collect(), df.columns)
            assert got == _oracle(sf, oracle_sql(sf)), (src, name)
    memo.release()
