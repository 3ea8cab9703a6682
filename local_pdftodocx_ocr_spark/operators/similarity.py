"""Similarity search over the ``embeddings`` table (array<float> column).

* brute-force cosine top-k — the exactness baseline, all JVM-side
  (`F.aggregate`/`F.zip_with` dot products; broadcast of the query set)
* LSH-bucketed ANN — random-hyperplane signatures, bucket equi-join;
  the 100 TB path (candidates only, probed multi-table)

The brute-force query has a DuckDB oracle (list_cosine_similarity);
the ANN variant is rows-only + recall-tested in pytest.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo

TOP_K = 5
N_QUERIES = 10          # first N vec_ids are the query set
# Bits/tables tuned for THIS corpus (near-random vectors, top-1 cosine
# ~0.37): few bits + many tables or recall collapses. With genuinely
# clustered embeddings (the production case) raise LSH_BITS to keep
# buckets small; the candidate fraction scales ~(1 - (1 - p^bits)^tables).
LSH_BITS = 4
LSH_TABLES = 16
_SEED = 7


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread an under-parallel local scan so the batched numpy
    # signature/scoring UDFs run on all cores; a no-op (no exchange) on
    # a scan that already parallelizes — see sources.tables.spread_scan
    from ..sources.tables import read_parquet, spread_scan
    path = f"{sf_dir}/embeddings.parquet"
    return spread_scan(spark, read_parquet(spark, path), path)


def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def _topk_output(scored: DataFrame) -> DataFrame:
    """(qid, vec_id, cos) -> the (qid, neighbor, cos, rk) ANN output
    contract — the ONE definition of the tie-break (cos desc, vec_id
    asc) and the ROUND(3) all ANN queries share; the sequential mirror
    is seq_oracles._topk_rows."""
    from pyspark.sql import Window as W

    w = W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOP_K)
            .select("qid", F.col("vec_id").alias("neighbor"),
                    F.round("cos", 3).alias("cos"),
                    F.col("rk").cast("int").alias("rk")))


def _lit_rows_df(spark: SparkSession, rows: list) -> DataFrame:
    """Bounded driver-side constants as a JVM literal relation — the
    range(1)+explode idiom pinned by test_promo_calendar_is_jvm_local_
    relation: `spark.createDataFrame` on a Python list ships a pickled
    RDD and spins Python workers per use (one extra Python job per
    query), whereas a literal array explodes inside whole-stage codegen.
    `rows` is a list of [(field_name, python_value), ...]; values may be
    scalars or (nested) lists — each field becomes one array literal,
    never an element-wise expression tree."""
    def _plit(v):
        # nested lists -> array of single-literal arrays; flat float
        # lists -> ONE ndarray literal (PySpark expands F.lit(list)
        # element-wise, but F.lit(ndarray) becomes a single JVM array
        # Literal that codegen embeds as one reference object)
        if isinstance(v, list):
            if v and isinstance(v[0], list):
                return F.array(*[_plit(x) for x in v])
            return F.lit(np.asarray(v, dtype=np.float64))
        return F.lit(v)

    arr = F.array(*[
        F.struct(*[_plit(v).alias(n) for n, v in row]) for row in rows])
    return spark.range(1).select(F.explode(arr).alias("r")).select("r.*")


def _shortlist_rerank(spark: SparkSession, e: DataFrame,
                      shortlist: DataFrame, qrows) -> DataFrame:
    """Exact-cosine re-rank of a bounded (qid, vec_id) shortlist: the
    query vectors come from the already-collected qrows (no second
    corpus scan), the shortlist side is bounded so AQE broadcasts it
    into the corpus join."""
    q = _lit_rows_df(spark, [
        [("qid", int(r["vec_id"])),
         ("qv", [float(v) for v in r["embedding"]])] for r in qrows]) \
        .select(F.col("qid").cast("long").alias("qid"), "qv")
    scored = (shortlist.join(e, "vec_id")
              .join(F.broadcast(q), "qid")
              .withColumn("cos", _cosine(
                  F.col("qv").cast("array<double>"),
                  F.col("embedding").cast("array<double>"))))
    return _topk_output(scored)


def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k neighbors for the first N_QUERIES vectors: broadcast
    the (tiny) query side, score every corpus vector JVM-side, window
    top-k. One broadcast join + one shuffle for the window — the
    pattern that survives a 10^9-vector corpus (queries stay small)."""
    e = _emb(spark, sf_dir)
    q = (e.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")))
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .withColumn("cos", _cosine(
            F.col("qv").cast("array<double>"),
            F.col("embedding").cast("array<double>")))
    )
    return _topk_output(scored)


COSINE_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.qid, e.vec_id AS neighbor,
         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.qid
),
ranked AS (
  SELECT qid, neighbor, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor ASC) AS rk
  FROM scored
)
SELECT qid, neighbor, ROUND(cos, 3) AS cos, CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= {TOP_K}
"""


def _hyperplanes(bits: int = LSH_BITS, tables: int = LSH_TABLES,
                 seed: int = _SEED) -> np.ndarray:
    """Deterministic random hyperplanes (seeded; 64-dim corpus vectors)."""
    rng = np.random.RandomState(seed)
    return rng.randn(tables, bits, 64).astype(np.float64)


def lsh_bucket_signatures(e: DataFrame, bits: int = LSH_BITS,
                          tables: int = LSH_TABLES,
                          seed: int = _SEED,
                          with_vectors: bool = True) -> DataFrame:
    """Sign-random-projection bucket ids, one per LSH table.

    Computed as ONE numpy matmul per Arrow batch (V @ planes.T >= 0):
    64 sign-projections per vector as higher-order-function column
    expressions interpret per element and run ~10x slower — this is the
    textbook vectorized-UDF case (batch-level BLAS beats per-row
    expressions). Deterministic: fixed-seed hyperplanes.

    ``with_vectors=False`` emits only (vec_id, table, bucket): callers
    that re-join vectors later (the pairwise near-dup tier) must not
    Arrow-serialize every embedding `tables` times just to drop it."""
    from collections.abc import Iterator

    import pandas as pd

    planes = _hyperplanes(bits, tables, seed)  # (tables, bits, dim)
    flat = planes.reshape(tables * bits, -1)   # (T*B, dim)
    weights = (1 << np.arange(bits)).astype(np.int64)

    def sign_buckets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["embedding"]])
            b = (v @ flat.T) >= 0  # (n, T*B)
            b = b.reshape(len(v), tables, bits)
            buckets = (b * weights).sum(axis=2).astype(np.int32)  # (n, T)
            cols = {
                "vec_id": pdf["vec_id"].values.repeat(tables),
                "table": np.tile(np.arange(tables, dtype=np.int32), len(v)),
                "bucket": buckets.reshape(-1),
            }
            if with_vectors:
                cols["embedding"] = pd.Series(
                    list(pdf["embedding"]), dtype="object").repeat(tables).values
            yield pd.DataFrame(cols)

    schema = ("vec_id long, table int, bucket int, embedding array<float>"
              if with_vectors else "vec_id long, table int, bucket int")
    return e.select("vec_id", "embedding").mapInPandas(sign_buckets, schema)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing an LSH
    bucket with the query in any table. The bucket equi-join replaces
    the full cross product — at 10^9 vectors the scored set per query
    is ~corpus/2^bits x tables."""
    e = _emb(spark, sf_dir)
    # NOT persisted: sigs feeds the query-side filter and the corpus
    # side of the bucket join, but a persist here was measured
    # consistently SLOWER one-shot (2.1-2.3 s vs 1.5 s in three full
    # bench runs) — the eager materialization of the 16-table signature
    # rows (with vectors) costs more than the second streamed
    # sign-projection pass it saves
    sigs = lsh_bucket_signatures(e)
    q = (sigs.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"),
                 "table", "bucket"))
    cand = (
        sigs.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "qv", "vec_id", "embedding")
        .distinct()
    )
    scored = cand.withColumn("cos", _cosine(
        F.col("qv").cast("array<double>"), F.col("embedding").cast("array<double>")))
    return _topk_output(scored)


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority label among the exact top-5 neighbors (a classify-by-
    similarity smoke query with a full SQL oracle)."""
    from pyspark.sql import Window as W

    e = _emb(spark, sf_dir)
    topk = cosine_topk_bruteforce(spark, sf_dir)
    labels = e.select(F.col("vec_id").alias("neighbor"), "label")
    # labels scales with the corpus: no forced broadcast (the r1 rule
    # every other query already follows) — topk is the bounded side
    # (N_QUERIES x TOP_K rows), so AQE broadcasts THAT at any scale
    votes = (topk.join(labels, "neighbor")
             .groupBy("qid", "label").agg(F.count("*").alias("n")))
    w = W.partitionBy("qid").orderBy(F.desc("n"), F.asc("label"))
    return (votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("qid", F.col("label").alias("pred_label"), "n"))


KNN_VOTE_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.qid, e.vec_id AS neighbor, e.label,
         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.qid
),
ranked AS (
  SELECT qid, neighbor, label,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor ASC) AS rk
  FROM scored
),
votes AS (
  SELECT qid, label, COUNT(*) AS n FROM ranked WHERE rk <= {TOP_K} GROUP BY 1, 2
)
SELECT qid, label AS pred_label, n
FROM (SELECT qid, label, n,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY n DESC, label ASC) AS vr
      FROM votes)
WHERE vr = 1
"""


NEAR_DUP_COS = 0.4


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (the dedup ladder's semantic
    tier): all vector pairs with cosine >= NEAR_DUP_COS. Exact
    all-pairs here (the oracle); at corpus scale the same scoring runs
    only on LSH-bucket candidates (ann path above)."""
    e = _emb(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("id1"),
                 F.col("embedding").cast("array<double>").alias("v1"))
    b = e.select(F.col("vec_id").alias("id2"),
                 F.col("embedding").cast("array<double>").alias("v2"))
    pairs = a.join(b, F.col("id1") < F.col("id2"))
    cos = _cosine(F.col("v1"), F.col("v2"))
    return (pairs.withColumn("cos_raw", cos)
            .filter(F.col("cos_raw") >= NEAR_DUP_COS)
            .select("id1", "id2", F.round("cos_raw", 3).alias("cos")))


EMB_NEAR_DUP_SQL = f"""
SELECT a.vec_id AS id1, b.vec_id AS id2,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 3) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= {NEAR_DUP_COS}
"""


# The candidate-tier LSH config for the PAIRWISE near-dup query. The
# corpus is near-random (every >=0.4 pair sits at cos 0.40-0.51, the
# recall-stress worst case for sign-random-projection), so the config
# leans hard toward recall: 3 bits x 48 tables puts the per-pair miss
# probability at the threshold below 1e-6 ((1-p^3)^48, p = 1-acos(0.4)/pi
# = 0.63), and the driver/pytest set-equality against the exact
# all-pairs oracle pins full recall on the test corpora. On production
# embeddings (tight clusters) the SAME construction delivers both high
# recall and heavy pruning — measured on synthetic cos>=0.9 clusters at
# 14 bits x 40 tables: >=98% pair recall with >=99% of the non-pair
# space pruned (TestNearDupProductionThreshold). bits/tables are the
# knobs, the plan shape (explode -> bucket self-join -> verify on
# candidates only) is what survives 10^9 vectors.
ND_LSH_BITS = 3
ND_LSH_TABLES = 48

# Bucket-occupancy pin for the pairwise tier: with FIXED bits the
# bucket self-join is Σ C(n/2^bits, 2) per table ~ n²/2^(bits+1) —
# quadratic in the corpus. (Measured: the 10x growth-ladder corpus,
# 50k near-random vectors at 3 bits = 6.25k/bucket, drove the tier to
# ~350 s — the vector analog of the uncapped hot-shingle join.) Bits
# therefore grow with log2(n) to hold occupancy at the level the
# recall config was tuned and pinned at (sf0.1: 5000/2^3 = 625), which
# makes the join Σ n·occ/2 per table — LINEAR in n. At the driver /
# pytest scales (n <= 5000) the formula returns ND_LSH_BITS exactly,
# so the full-recall set-equality pins bind unchanged. In production
# the table count co-tunes upward as bits grow (recall per pair is
# 1-(1-p^bits)^tables); the plan shape is what survives 10^9 vectors.
ND_TARGET_OCCUPANCY = 640


def _nd_bits_for(n: int) -> int:
    import math
    if n <= ND_TARGET_OCCUPANCY:
        return ND_LSH_BITS
    return max(ND_LSH_BITS, math.ceil(math.log2(n / ND_TARGET_OCCUPANCY)))


def embedding_near_dup_pairs_at_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for embedding near-dups (mirror of
    dedup_pipeline_at_scale): LSH-bucket candidate pairs -> exact cosine
    verify ON CANDIDATES ONLY -> same output as the all-pairs oracle.
    The bucket self-join replaces the O(n^2) theta join; per-pair
    vectors come from two corpus-scale equi-joins (AQE decides the
    strategy — no broadcast of anything that scales with the corpus)."""
    e = _emb(spark, sf_dir)
    # the bit width needs the corpus size at plan-construction time (the
    # hyperplane tensor is baked into the UDF closure): one count job,
    # memoized so the unified-graph queries pay it once; at warehouse
    # scale table statistics give it
    bits = _nd_bits_for(memo.get(spark, "emb_count",
                                 (f"{sf_dir}/embeddings.parquet",), e.count))
    # persist: the signature table feeds both sides of the bucket
    # self-join — unpersisted, the Arrow-batched sign-projection pass
    # runs once per side (measured 2x the Python-boundary cost)
    sigs = memo.persist(lsh_bucket_signatures(e, bits=bits,
                                              tables=ND_LSH_TABLES,
                                              with_vectors=False))
    s1 = sigs.select(F.col("vec_id").alias("id1"), "table", "bucket")
    s2 = sigs.select(F.col("vec_id").alias("id2"), "table", "bucket")
    cand = (s1.join(s2, ["table", "bucket"])
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2")
            .distinct())
    v1 = e.select(F.col("vec_id").alias("id1"),
                  F.col("embedding").cast("array<double>").alias("v1"))
    v2 = e.select(F.col("vec_id").alias("id2"),
                  F.col("embedding").cast("array<double>").alias("v2"))
    cos = _cosine(F.col("v1"), F.col("v2"))
    return (cand.join(v1, "id1").join(v2, "id2")
            .withColumn("cos_raw", cos)
            .filter(F.col("cos_raw") >= NEAR_DUP_COS)
            .select("id1", "id2", F.round("cos_raw", 3).alias("cos")))


IVF_CELLS = 16
IVF_NPROBE = 4
_IVF_CENTROID_BASE = 100   # deterministic centroid picks, disjoint from queries


def _ivf_assign(e: DataFrame, centroids: np.ndarray, nprobe: int,
                out_col: str = "cell") -> DataFrame:
    """Assign each vector to its `nprobe` nearest coarse cells (cosine),
    one numpy matmul per Arrow batch."""
    from collections.abc import Iterator

    import pandas as pd

    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["embedding"]])
            vn = v / np.linalg.norm(v, axis=1, keepdims=True)
            sims = vn @ cn.T                       # (n, cells)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            out = pd.DataFrame({
                "vec_id": pdf["vec_id"].values.repeat(nprobe),
                "embedding": pd.Series(list(pdf["embedding"]), dtype="object")
                               .repeat(nprobe).values,
                out_col: order.reshape(-1).astype(np.int32),
            })
            yield out

    return e.select("vec_id", "embedding").mapInPandas(
        assign, schema=f"vec_id long, embedding array<float>, {out_col} int")


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (coarse-quantizer) ANN: corpus vectors live in their single
    nearest cell; queries probe their IVF_NPROBE nearest cells and score
    only those cells' members. Centroids are a deterministic sample of
    the corpus (vec_id in [100, 100+IVF_CELLS)). At 10^9 vectors the
    cell equi-join scores ~nprobe/cells of the corpus per query."""
    e = _emb(spark, sf_dir)
    cent_rows = (e.filter((F.col("vec_id") >= _IVF_CENTROID_BASE)
                          & (F.col("vec_id") < _IVF_CENTROID_BASE + IVF_CELLS))
                 .orderBy("vec_id").collect())
    centroids = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                          for r in cent_rows])

    corpus_cells = _ivf_assign(e, centroids, nprobe=1)
    q = (_ivf_assign(e.filter(F.col("vec_id") < N_QUERIES), centroids,
                     nprobe=IVF_NPROBE)
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"),
                 "cell"))
    cand = (corpus_cells.join(F.broadcast(q), "cell")
            .filter(F.col("vec_id") != F.col("qid"))
            .select("qid", "qv", "vec_id", "embedding").distinct())
    scored = cand.withColumn("cos", _cosine(
        F.col("qv").cast("array<double>"), F.col("embedding").cast("array<double>")))
    return _topk_output(scored)


# ---------------------------------------------------------------------------
# Product-quantization ANN (Jégou et al. 2011, "Product Quantization
# for Nearest Neighbor Search" — the FAISS IVF-PQ compression story):
# split the 64-dim space into PQ_M subspaces, k-means each subspace to
# PQ_KSUB codewords, store every corpus vector as PQ_M 1-byte codes
# (4 bytes/vector vs 256 for raw float32 — the reason a 10^12-vector
# index fits a cluster at all). Queries scan the CODES with an
# asymmetric-distance (ADC) lookup table — PQ_M array-literal lookups
# + adds per vector, no float dot products — then exact-re-rank only
# the PQ_RERANK shortlist.
#
# Scale shape: codebook training reuses the quantized-Lloyd discipline
# (KMEANS_Q fixed-point sums -> order-free exact reduction), with ONE
# map-side-combinable aggregate per iteration covering ALL subspaces
# (M x KSUB x (DSUB+1) cells); encoding and the ADC scan are map-only
# against codebook/LUT literals (queries are a bounded set, the
# cosine_topk broadcast precedent); the only shuffles are the two
# bounded per-query top-R / top-k windows. The sequential oracle
# replays the identical quantized training, encoding, LUT arithmetic,
# and re-rank — a full distributed-vs-sequential equality gate on a
# TRAINED-index ANN.
# ---------------------------------------------------------------------------

PQ_M = 4            # subspaces
PQ_DSUB = 16        # dims per subspace (PQ_M * PQ_DSUB = KMEANS_DIM)
PQ_KSUB = 16        # codewords per subspace (codes fit 4 bits here)
PQ_ITERS = 2        # Lloyd rounds per subspace (shared aggregate)
PQ_RERANK = 15      # ADC shortlist re-ranked exactly (3x TOP_K)
IVFPQ_RERANK = 60   # IVF-PQ shortlist (12x TOP_K): residual codes rank
                    # coarser than flat PQ, so the exact re-rank pulls
                    # from a deeper list — the standard knob (FAISS
                    # k_factor); recall is then bounded by the nprobe
                    # cell hit rate alone
_PQ_SEED_BASE = 300  # deterministic codeword seeds; disjoint from
                     # queries(<10)/IVF(100s)/kmeans(200s)


def _pq_sub_codes(v: "np.ndarray", books_np: "np.ndarray",
                  m: int) -> "np.ndarray":
    """Nearest codeword per vector for subspace m — the ONE distance
    formulation (numpy broadcast (sub-cb)^2 summed over the reduction
    length DSUB, argmin = first minimum on ties) shared by training,
    encoding, and the sequential mirror, so all three produce identical
    doubles and identical tie-breaks. Batch-level numpy beats per-row
    Catalyst higher-order folds ~10x here — the lsh_bucket_signatures
    precedent (64 codeword distances/vector is BLAS-shaped work)."""
    sub = v[:, m * PQ_DSUB:(m + 1) * PQ_DSUB]
    d = ((sub[:, None, :] - books_np[m][None, :, :]) ** 2).sum(axis=2)
    return np.argmin(d, axis=1)


def _adc_lut_sqdist(q_sub: list[float], codeword: list[float]) -> float:
    """LUT cell: strict left-fold squared L2 in array order — the ONE
    definition shared by the operator (driver-side literals) and the
    sequential oracle, so both engines inject bit-identical doubles."""
    acc = 0.0
    for x, y in zip(q_sub, codeword):
        acc = acc + (x - y) * (x - y)
    return acc


def _pq_vec_batch(pdf, centroids: "np.ndarray | None"):
    """Stacked float64 batch [+ coarse cell + residual subtraction] —
    the shared corpus-side preamble of training and encoding. With
    centroids, the cell is each vector's single nearest coarse cell
    (the _ivf_assign math verbatim) and v becomes the residual.

    Determinism assumption (ADVICE r6, pinned like _ivf_assign): the
    `vn @ cn.T` similarities here run on VARIABLE-shape Arrow batches
    in Spark but on the full matrix in the sequential mirror
    (seq_oracles). The oracle equality therefore rests on numpy's
    row-independent dgemm results being bit-identical across those
    shapes on this platform — which the two-corpus mirror pytest and
    the driver hash checks verify empirically every round. If a future
    BLAS/threading change ever broke it, the failure mode is a loud
    oracle mismatch on these ANN rows, not a silent wrong answer; the
    fix is the explicit per-row squared-distance reduction already
    used by _pq_sub_codes."""
    v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["embedding"]])
    if centroids is None:
        return v, None
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    cell = np.argsort(-(vn @ cn.T), axis=1, kind="stable")[:, 0]
    return v - centroids[cell], cell


def _pq_train_books(e: DataFrame, seed_vecs: "np.ndarray",
                    centroids: "np.ndarray | None" = None,
                    iters: int = PQ_ITERS) -> list[list[list[float]]]:
    """PQ_ITERS Lloyd rounds over all PQ_M subspaces at once. Per
    iteration: one Arrow-batched numpy pass assigns codes and
    PRE-AGGREGATES the KMEANS_Q-quantized coordinate sums per (m, k)
    WITHIN each batch (int64 — order-free exact, the kmeans
    discipline), then one combinable groupBy(m, k) reduces the
    M*KSUB-row partials; M*KSUB rows collected, never the corpus.
    `seed_vecs` (KSUB x 64, already residual for IVF-PQ) initializes
    the codewords."""
    import pandas as pd

    books = [[[float(x) for x in seed_vecs[k][m * PQ_DSUB:(m + 1) * PQ_DSUB]]
              for k in range(PQ_KSUB)] for m in range(PQ_M)]
    schema = ("m int, k int, n long, "
              + ", ".join(f"s{j} long" for j in range(PQ_DSUB)))
    for _ in range(iters):
        books_np = np.asarray(books, dtype=np.float64)

        def partials(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                v, _cell = _pq_vec_batch(pdf, centroids)
                out = []
                for m in range(PQ_M):
                    sub = v[:, m * PQ_DSUB:(m + 1) * PQ_DSUB]
                    k = _pq_sub_codes(v, books_np, m)
                    # astype truncates toward zero = Spark double->long
                    xq = (sub * float(KMEANS_Q)).astype(np.int64)
                    for kk in np.unique(k):
                        mask = k == kk
                        out.append((m, int(kk), int(mask.sum()),
                                    *(int(s) for s in xq[mask].sum(axis=0))))
                if out:   # empty Arrow batches break object-dtype frames
                    yield pd.DataFrame(
                        out, columns=schema.replace(" int", "")
                        .replace(" long", "").split(", "))

        rows = (e.select("vec_id", "embedding")
                .mapInPandas(partials, schema)
                .groupBy("m", "k")
                .agg(F.sum("n").alias("n"),
                     *[F.sum(f"s{j}").alias(f"s{j}")
                       for j in range(PQ_DSUB)])
                .collect())
        for r in rows:   # empty cells keep their previous codeword
            n = r["n"]
            books[r["m"]][r["k"]] = [r[f"s{j}"] / (n * float(KMEANS_Q))
                                     for j in range(PQ_DSUB)]
    return books


def _pq_encode_df(e: DataFrame, books: list,
                  centroids: "np.ndarray | None" = None) -> DataFrame:
    """The corpus code table — (vec_id[, cell], c0..c{M-1}) in ONE
    Arrow-batched numpy pass (coarse assign + residual + all M
    argmins). In production this is the persisted PQ index:
    PQ_M bytes/vector instead of 64 floats."""
    import pandas as pd

    books_np = np.asarray(books, dtype=np.float64)
    with_cell = centroids is not None

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v, cell = _pq_vec_batch(pdf, centroids)
            cols = {"vec_id": pdf["vec_id"].values}
            if with_cell:
                cols["cell"] = cell.astype(np.int32)
            for m in range(PQ_M):
                cols[f"c{m}"] = _pq_sub_codes(v, books_np, m).astype(np.int32)
            yield pd.DataFrame(cols)

    schema = ("vec_id long, " + ("cell int, " if with_cell else "")
              + ", ".join(f"c{m} int" for m in range(PQ_M)))
    return e.select("vec_id", "embedding").mapInPandas(enc, schema)


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    def build():
        e = _emb(spark, sf_dir)
        seeds = (e.filter((F.col("vec_id") >= _PQ_SEED_BASE)
                          & (F.col("vec_id") < _PQ_SEED_BASE + PQ_KSUB))
                 .orderBy("vec_id").collect())
        seed_vecs = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                              for r in seeds])
        return _pq_train_books(e, seed_vecs)
    return memo.get(spark, "pq_books", (f"{sf_dir}/embeddings.parquet",), build)


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN with exact re-rank: encode the corpus to PQ_M
    codes (map-only), score every code row against per-query
    ADC lookup-table literals (map-only adds — no floats from the
    corpus touched), take the PQ_RERANK shortlist per query, then
    re-rank ONLY the shortlist with the exact cosine fold."""
    from functools import reduce

    from pyspark.sql import Window as W

    e = _emb(spark, sf_dir)
    books = _pq_codebooks(spark, sf_dir)
    enc = _pq_encode_df(e, books)
    qrows = (e.filter(F.col("vec_id") < N_QUERIES).orderBy("vec_id").collect())
    luts = {
        int(r["vec_id"]): [
            [_adc_lut_sqdist(
                [float(v) for v in r["embedding"][m * PQ_DSUB:(m + 1) * PQ_DSUB]],
                books[m][k]) for k in range(PQ_KSUB)]
            for m in range(PQ_M)]
        for r in qrows}
    # broadcast probe-table form (the ann_ivfpq_topk shape): the per-
    # query ADC LUTs travel as ONE bounded literal relation joined into
    # the code scan, instead of N_QUERIES x PQ_M x PQ_KSUB plan
    # literals whose codegen grows with the query batch (ADVICE r6)
    probes = _lit_rows_df(spark, [
        [("qid", qid), ("lut", luts[qid])] for qid in sorted(luts)]) \
        .select(F.col("qid").cast("long").alias("qid"), "lut")
    scored = (enc.join(F.broadcast(probes),
                       F.col("vec_id") != F.col("qid"))
              .select("vec_id", "qid",
                      reduce(lambda acc, m: acc + F.element_at(
                                 F.col("lut")[m], F.col(f"c{m}") + 1),
                             range(PQ_M), F.lit(0.0)).alias("adist")))
    w = W.partitionBy("qid").orderBy(F.asc("adist"), F.asc("vec_id"))
    shortlist = (scored.withColumn("rr", F.row_number().over(w))
                 .filter(F.col("rr") <= PQ_RERANK)
                 .select("qid", "vec_id"))
    return _shortlist_rerank(spark, e, shortlist, qrows)


# ---------------------------------------------------------------------------
# IVF-PQ (the FAISS billion-scale production composition): coarse IVF
# cells + product quantization of the RESIDUAL (x - cell centroid) —
# residual energy is much smaller than raw-vector energy, so the same
# 4 bytes/vector quantize far more accurately. Queries probe their
# IVF_NPROBE nearest cells with a PER-CELL ADC lookup table over the
# query's residual against that cell; a corpus vector is scored only
# when its (single) cell is probed — candidates ~nprobe/cells of the
# corpus AND each candidate costs PQ_M lookups, not a dot product.
# The probe table (qid, cell, LUT) is a bounded broadcast
# (N_QUERIES x nprobe rows); everything corpus-sided is map-only until
# the bounded shortlist window.
# ---------------------------------------------------------------------------

def _ivfpq_index(spark: SparkSession, sf_dir: str) -> tuple:
    """(coarse centroids, residual PQ codebooks) — the trained index.
    Training cost: the fused assign+residual+partial-sum numpy pass per
    iteration; collected state is IVF_CELLS x 64 centroids + M x KSUB
    x DSUB codewords, never corpus-sized. Seed codewords are the seed
    vectors' own residuals (cells computed driver-side with the
    identical numpy math)."""
    def build():
        e = _emb(spark, sf_dir)
        cent_rows = (e.filter((F.col("vec_id") >= _IVF_CENTROID_BASE)
                              & (F.col("vec_id") < _IVF_CENTROID_BASE + IVF_CELLS))
                     .orderBy("vec_id").collect())
        centroids = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                              for r in cent_rows])
        seeds = (e.filter((F.col("vec_id") >= _PQ_SEED_BASE)
                          & (F.col("vec_id") < _PQ_SEED_BASE + PQ_KSUB))
                 .orderBy("vec_id").collect())
        sv = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                       for r in seeds])
        cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
        svn = sv / np.linalg.norm(sv, axis=1, keepdims=True)
        seed_cells = np.argsort(-(svn @ cn.T), axis=1, kind="stable")[:, 0]
        books = _pq_train_books(e, sv - centroids[seed_cells], centroids)
        return centroids, books
    return memo.get(spark, "ivfpq_index", (f"{sf_dir}/embeddings.parquet",), build)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC ANN with exact re-rank. Corpus side: one residual
    encode pass to (vec_id, cell, PQ_M codes). Query side: probe cells
    + per-(query, cell) residual LUTs computed driver-side (bounded)
    and shipped as a broadcast probe table; the cell equi-join is the
    candidate screen and the ADC sum is PQ_M array lookups."""
    from functools import reduce

    from pyspark.sql import Window as W

    e = _emb(spark, sf_dir)
    centroids, books = _ivfpq_index(spark, sf_dir)
    enc = _pq_encode_df(e, books, centroids)
    qrows = (e.filter(F.col("vec_id") < N_QUERIES).orderBy("vec_id").collect())
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        sims = (qv / np.linalg.norm(qv)) @ cn.T
        for cell in np.argsort(-sims, kind="stable")[:IVF_NPROBE]:
            q_res = [float(x) for x in (qv - centroids[int(cell)])]
            lut = [[_adc_lut_sqdist(q_res[m * PQ_DSUB:(m + 1) * PQ_DSUB],
                                    books[m][k]) for k in range(PQ_KSUB)]
                   for m in range(PQ_M)]
            probe_rows.append((int(r["vec_id"]), int(cell), lut))
    # createDataFrame, NOT the literal-relation idiom: at N_QUERIES x
    # nprobe = 40 rows of nested 4x16 LUTs the literal expression tree
    # measurably costs more to analyze/codegen than the tiny pickled-RDD
    # scan (interleaved A/B: 2.24 vs 2.73 s warm, 4.0 vs 8.8 s cold);
    # the 10-row flat-PQ probe table stays literal, where it wins
    probes = spark.createDataFrame(
        probe_rows, "qid long, cell int, lut array<array<double>>")
    scored = (enc.join(F.broadcast(probes), "cell")
              .filter(F.col("vec_id") != F.col("qid"))
              .select("qid", "vec_id",
                      reduce(lambda acc, m: acc + F.element_at(
                                 F.col("lut")[m], F.col(f"c{m}") + 1),
                             range(PQ_M), F.lit(0.0)).alias("adist")))
    w = W.partitionBy("qid").orderBy(F.asc("adist"), F.asc("vec_id"))
    shortlist = (scored.withColumn("rr", F.row_number().over(w))
                 .filter(F.col("rr") <= IVFPQ_RERANK)
                 .select("qid", "vec_id"))
    return _shortlist_rerank(spark, e, shortlist, qrows)


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd) + SemDeDup semantic pruning
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 3
KMEANS_DIM = 64
KMEANS_SEED_BASE = 200   # deterministic seed picks, disjoint from IVF/queries
# Fixed-point quantum for the centroid-update sums: per-coordinate
# contributions are truncated to BIGINT at 1e-4 before summing, so the
# per-cluster reduction is ORDER-FREE EXACT — the distributed hash
# aggregate and the sequential oracle produce bit-identical centroid
# state no matter how partitions combine. Distances then run in plain
# doubles on identical operands (the exact centroid rationals evaluated
# once, driver-side, as s / (n * Q)). |x| < 1 and n <= ~1e14 keep the
# BIGINT sums far from overflow.
KMEANS_Q = 10000
SEMDEDUP_COS = 0.4       # same semantic tier threshold as NEAR_DUP_COS


def _kmeans_assign(xcol, centroids: list[list[float]]):
    """min-(squared-L2, k) struct against centroid literals: a strict
    left fold of IEEE doubles per centroid (seq_oracles mirrors the
    fold order), array_min's lexicographic struct order breaking
    distance ties toward the lowest cluster id."""
    # ONE ndarray literal per centroid (codegen embeds it as a single
    # reference object); the element-wise F.array(*[F.lit(c) ...]) form
    # was K x DIM = 512 literal nodes INLINED into the generated source,
    # so every Lloyd iteration's new centroid constants produced new
    # source text and a fresh Janino compile — with reference-embedded
    # literals the generated source is identical across iterations and
    # the codegen cache hits
    dists = [
        F.aggregate(
            F.zip_with(xcol, F.lit(np.asarray(ck, dtype=np.float64)),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, v: acc + v)
        for ck in centroids
    ]
    return F.array_min(F.array(*[
        F.struct(d.alias("d"), F.lit(k).alias("k"))
        for k, d in enumerate(dists)]))


def _kmeans_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Lloyd iterations, the canonical Spark shape: per iteration ONE
    map-side-combinable hash aggregate (K x (DIM+1) cells — 64 BIGINT
    coordinate sums + a count per cluster), a K-row collect (bounded by
    K, never by the corpus), and new centroid literals broadcast into
    the next iteration's map-only assignment. KMEANS_ITERS scans total;
    nothing driver-side scales with the data. At warehouse scale the
    seed pick moves to kmeans|| init; the iteration shape is unchanged.
    Memoized: emb_kmeans and emb_semdedup share one training."""
    def build():
        e = _emb(spark, sf_dir)
        seeds = (e.filter((F.col("vec_id") >= KMEANS_SEED_BASE)
                          & (F.col("vec_id") < KMEANS_SEED_BASE + KMEANS_K))
                 .orderBy("vec_id").collect())
        cent = [[float(x) for x in r["embedding"]] for r in seeds]
        x = F.col("embedding").cast("array<double>")
        for _ in range(KMEANS_ITERS):
            xq = F.transform(x, lambda v: (v * F.lit(float(KMEANS_Q))).cast("long"))
            rows = (e.select(_kmeans_assign(x, cent)["k"].alias("c"),
                             xq.alias("xq"))
                    .groupBy("c")
                    .agg(F.count("*").alias("n"),
                         *[F.sum(F.col("xq")[j]).alias(f"s{j}")
                           for j in range(KMEANS_DIM)])
                    .collect())
            for r in rows:   # empty clusters keep their previous centroid
                n = r["n"]
                cent[r["c"]] = [r[f"s{j}"] / (n * float(KMEANS_Q))
                                for j in range(KMEANS_DIM)]
        return cent
    return memo.get(spark, "kmeans_centroids", (f"{sf_dir}/embeddings.parquet",), build)


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final k-means assignment after KMEANS_ITERS Lloyd rounds:
    (vec_id, cluster, squared-L2 distance to its centroid). The oracle
    (seq_oracles.seq_kmeans_rows) recomputes the identical quantized
    iteration sequentially — a genuine distributed-vs-sequential
    equality check on an ITERATIVE algorithm."""
    e = _emb(spark, sf_dir)
    cent = _kmeans_centroids(spark, sf_dir)
    m = _kmeans_assign(F.col("embedding").cast("array<double>"), cent)
    return e.select("vec_id",
                    m["k"].cast("int").alias("cluster"),
                    F.round(m["d"], 4).alias("dist"))


def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding
    space, then mark a vector a semantic duplicate iff some LOWER-id
    member of the SAME cluster sits at cosine >= SEMDEDUP_COS (the
    greedy keep-first rule, made deterministic by the vec_id total
    order). The within-cluster pairing is the published trade-off:
    cluster occupancy (not the corpus) bounds the quadratic term, and
    K grows with n to hold occupancy constant — the vector analog of
    _nd_bits_for; with tight production clusters the within-cluster
    candidates can further drop to the LSH tier (lsh_bucket_signatures)
    unchanged. Nothing corpus-sized is broadcast or collected."""
    e = _emb(spark, sf_dir)
    cent = _kmeans_centroids(spark, sf_dir)
    x = F.col("embedding").cast("array<double>")
    # persist: assigned feeds both sides of the within-cluster self-join
    # AND the final output join — one K x 64-dim assignment fold pass,
    # not three
    assigned = memo.persist(
        e.select("vec_id", x.alias("x"),
                 _kmeans_assign(x, cent)["k"].alias("cluster")))
    a = assigned.select(F.col("vec_id").alias("id1"), F.col("x").alias("v1"),
                        "cluster")
    b = assigned.select(F.col("vec_id").alias("id2"), F.col("x").alias("v2"),
                        "cluster")
    dups = (a.join(b, "cluster")
            .filter(F.col("id1") < F.col("id2"))
            .filter(_cosine(F.col("v1"), F.col("v2")) >= SEMDEDUP_COS)
            .select(F.col("id2").alias("vec_id"))
            .distinct()
            .withColumn("semantic_dup", F.lit(True)))
    return (assigned.select("vec_id", F.col("cluster").cast("int").alias("cluster"))
            .join(dups, "vec_id", "left")
            .select("vec_id", "cluster",
                    F.coalesce("semantic_dup", F.lit(False)).alias("semantic_dup")))


# emb_near_dup_pairs (the exact all-pairs theta join) is deliberately
# NOT registered: what the engine claims to run is the candidates-only
# composition below; the all-pairs formulation survives only as its
# DuckDB oracle (EMB_NEAR_DUP_SQL) and as the pytest set-equality pin.
# The 100-TB embedding-tier claim itself is the PRODUCTION config
# (cos>=0.9, 14 bits x 40 tables) — driver-registered as
# docs_dedup_components_production (dedup.py) with a full sequential
# oracle, and growth-laddered in bench.py.
QUERIES = {
    "emb_near_dup_pairs_at_scale": embedding_near_dup_pairs_at_scale,
    "emb_cosine_topk": cosine_topk_bruteforce,
    "emb_ann_ivf_topk": ann_ivf_topk,
    "emb_ann_lsh_topk": ann_lsh_topk,
    "emb_ann_pq_topk": ann_pq_topk,
    "emb_ann_ivfpq_topk": ann_ivfpq_topk,
    "emb_knn_label_vote": knn_label_vote,
    "emb_kmeans": emb_kmeans,
    "emb_semdedup": emb_semdedup,
}

def oracles() -> dict[str, str]:
    from .. import seq_oracles
    return {
        "emb_cosine_topk": COSINE_TOPK_SQL,
        # the at-scale pipeline must land on the exact all-pairs answer
        # (LSH recall pinned by the seeded hyperplanes + set-equality
        # pytest against embedding_near_dup_pairs)
        "emb_near_dup_pairs_at_scale": EMB_NEAR_DUP_SQL,
        # ANN variants: hyperplane/centroid arithmetic recomputed
        # sequentially (numpy candidates + exact Spark-fold cosine) and
        # inlined as VALUES — full cross-engine hash checks
        "emb_ann_lsh_topk": seq_oracles.ann_lsh_values_sql(),
        "emb_ann_ivf_topk": seq_oracles.ann_ivf_values_sql(),
        # PQ / IVF-PQ: quantized codebook training + code assignment +
        # ADC LUT + exact re-rank (IVF-PQ adds coarse cells and
        # residual encoding), all replayed sequentially as VALUES
        "emb_ann_pq_topk": seq_oracles.ann_pq_values_sql(),
        "emb_ann_ivfpq_topk": seq_oracles.ann_ivfpq_values_sql(),
        "emb_knn_label_vote": KNN_VOTE_SQL,
        # iterative Lloyd + SemDeDup: full sequential mirrors of the
        # quantized centroid evolution and the within-cluster greedy
        # pruning, inlined as VALUES
        "emb_kmeans": seq_oracles.kmeans_values_sql(),
        "emb_semdedup": seq_oracles.semdedup_values_sql(),
    }
