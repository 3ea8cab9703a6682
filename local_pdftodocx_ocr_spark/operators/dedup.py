"""Corpus-scale deduplication operators over the ``documents`` table.

The dedup ladder a training-data pipeline runs (SURVEY.md task brief):

* exact        — hash-groupBy (one shuffle on a 16-byte key)
* word-3-gram Jaccard — shingle inverted-index self-join (exact; SQL oracle)
* MinHash+LSH  — shingle -> minhash signature -> band -> bucket join
                 (the 100 TB path: candidate pairs only, no O(n²))
* SimHash      — 64-bit near-dup signature, hamming-bucket join
* embedding cosine near-dup — see similarity.py

Exact and Jaccard have direct DuckDB SQL oracles. MinHash (md5-based
double hashing) and SimHash (blake2b) are recomputed sequentially on
the driver and inlined as VALUES oracles (seq_oracles.py), plus
property-tested against the exact-Jaccard oracle in pytest
(candidates ⊇ high-similarity pairs).
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo

MINHASH_PERMS = 32          # minhash signature length
# 16 bands x 2 rows: P(candidate | J) = 1-(1-J^2)^16 -> 0.997 at J=0.6.
# (8x4 banding only reaches ~0.67 at the threshold; round 1 passed the
# full-recall pytest on luck. More bands = slightly more verify work on
# mid-similarity pairs, but recall at the threshold is what the
# composed pipeline's correctness rests on.)
LSH_BANDS = 16
LSH_ROWS = MINHASH_PERMS // LSH_BANDS
JACCARD_THRESHOLD = 0.6

# Document-frequency cap on shingles (standard MinHash practice): a
# shingle appearing in more docs than this is boilerplate ("of the
# and"-grade 3-grams have df in the millions at web scale) and is
# dropped from the index BEFORE the self-join — otherwise one hot
# shingle makes a df^2 bucket and the join goes quadratic at 100 TB.
# The cap is mirrored verbatim in the DuckDB oracles, so cross-engine
# equality holds at any cap value; at the test SFs it is a no-op
# (pytest pins both facts).
SHINGLE_DF_CAP = 1000


# the registry's release under the name the harnesses import
release_caches = memo.release


def _docs(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    # spread an under-parallel local scan before the CPU-heavy shingle
    # derivation; a no-op (no exchange) once the scan already has
    # >= defaultParallelism row groups — see sources.tables.spread_scan.
    # spread=False for queries whose first operation is itself a shuffle
    # with cheap map-side work (e.g. one md5 + partial agg): there the
    # repartition is a pure extra exchange at ANY scale.
    from ..sources.tables import read_parquet, spread_scan
    path = f"{sf_dir}/documents.parquet"
    df = read_parquet(spark, path)
    return spread_scan(spark, df, path) if spread else df


# ---------------------------------------------------------------------------
# Exact dedup (normalized md5 groupBy)
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir, spread=False)   # one cheap hash-agg shuffle
    key = F.md5(F.lower(F.col("text")))
    return (
        d.groupBy(key.alias("content_key"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


DEDUP_EXACT_SQL = """
SELECT md5(lower(text)) AS content_key,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Incremental dedup: dedup an INCOMING batch against an already-committed
# corpus without recomputing the corpus — the production shape for a
# continuously-growing crawl. Committed/incoming are modeled as the
# even/odd doc_id halves of the table (deterministic, SF-stable); in
# production the committed side is the persisted content-key table the
# job's snapshot sink already maintains, bucketed on content_key so this
# anti-join is exchange-free on the (much larger) committed side.
# ---------------------------------------------------------------------------

def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep list for the incoming half: drop docs whose content key is
    already committed (anti-join on the 32-char md5 hex key — shuffle
    volume is ~32-byte keys, not document text; the hex form is kept
    because it equals DuckDB's md5() output directly), then first-wins
    within the batch."""
    d = _docs(spark, sf_dir, spread=False)
    key = F.md5(F.lower(F.col("text")))
    committed = (d.filter(F.col("doc_id") % 2 == 0)
                 .select(key.alias("content_key")).distinct())
    incoming = (d.filter(F.col("doc_id") % 2 == 1)
                .select("doc_id", key.alias("content_key")))
    fresh = incoming.join(committed, "content_key", "left_anti")
    return (fresh.groupBy("content_key")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("n_in_batch")))


DEDUP_INCREMENTAL_SQL = """
WITH committed AS (
  SELECT DISTINCT md5(lower(text)) AS content_key
  FROM documents WHERE doc_id % 2 = 0
),
incoming AS (
  SELECT doc_id, md5(lower(text)) AS content_key
  FROM documents WHERE doc_id % 2 = 1
)
SELECT content_key, MIN(doc_id) AS keep_id, COUNT(*) AS n_in_batch
FROM incoming i
WHERE NOT EXISTS (SELECT 1 FROM committed c
                  WHERE c.content_key = i.content_key)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Bloom-filter incremental dedup: screen an incoming batch against the
# committed corpus with a FIXED-size broadcast bit set instead of the
# anti-join's key shuffle. k=4 md5-derived positions in an m=8192-bit
# filter; no false negatives by construction, so the exact anti-join
# only ever needs to run on the (tiny) maybe_dup survivor set — at
# 10^12 committed docs the filter is still 1 KiB of distinct positions
# broadcast to every executor while the per-doc membership test is a
# map-only pass. (At that scale you size m ~ 10 bits/key and build the
# filter once as an aggregate of the committed key table the snapshot
# sink already maintains.) The md5 positions make the filter — and its
# false-positive *set* — deterministic, so the probabilistic screen has
# an exact cross-engine SQL oracle.
# ---------------------------------------------------------------------------

BLOOM_M = 8192
BLOOM_K = 4


def _bloom_positions(key_col):
    """The k bit positions of a content key, as an array column; the
    salt makes the k hashes independent draws of the same md5 family
    used everywhere else (cross-engine-exact)."""
    from ..functions.hashing import md5_60bit
    return F.array(*[
        F.pmod(md5_60bit(F.concat(key_col, F.lit(f"bloom{i}"))),
               F.lit(BLOOM_M))
        for i in range(BLOOM_K)])


def dedup_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per incoming doc: maybe_dup (all k filter bits set) and is_dup
    (exact key match, computed ONLY on the maybe_dup survivors — the
    production composition; non-survivors are provably fresh because a
    Bloom filter has no false negatives)."""
    return _bloom_screened(spark, sf_dir).select(
        "doc_id", "maybe_dup", "is_dup")


def _bloom_screened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, content_key, maybe_dup, is_dup) — shared by the screen
    query and the bloom-backed incremental keep list."""
    d = _docs(spark, sf_dir, spread=False)
    key = F.md5(F.lower(F.col("text")))
    committed = (d.filter(F.col("doc_id") % 2 == 0)
                 .select(key.alias("content_key")))
    # the filter: distinct set bit positions — <= m rows at ANY corpus
    # size, the one broadcast here that is legitimately SF-independent
    bits = (committed
            .select(F.explode(_bloom_positions(F.col("content_key")))
                    .alias("bit"))
            .distinct())
    incoming = (d.filter(F.col("doc_id") % 2 == 1)
                .select("doc_id", key.alias("content_key")))
    # one pass: flag each of the k probe positions against the broadcast
    # set, then count flags per doc — counting rows (not distinct bits)
    # stays correct when two of a doc's k hashes collide on one bit
    probes = incoming.select(
        "doc_id", "content_key",
        F.explode(_bloom_positions(F.col("content_key"))).alias("bit"))
    screened = (probes
                .join(F.broadcast(bits.withColumn("hit", F.lit(1))),
                      "bit", "left")
                .groupBy("doc_id", "content_key")
                .agg((F.count("hit") == BLOOM_K).alias("maybe_dup")))
    # exact verify only on survivors: this join's left side is the FP+dup
    # subset, not the batch
    verified = (screened.filter(F.col("maybe_dup"))
                .join(committed.distinct(), "content_key", "left_semi")
                .select("doc_id", F.lit(True).alias("is_dup")))
    return (screened.join(verified, "doc_id", "left")
            .select("doc_id", "content_key", "maybe_dup",
                    F.coalesce("is_dup", F.lit(False)).alias("is_dup")))


def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental keep list (same contract as dedup_incremental),
    produced the at-scale way: bloom screen -> exact verify only on the
    maybe_dup survivors -> first-wins within the batch. The oracle is
    LITERALLY the plain anti-join's SQL — the screen must be
    output-invisible, which is exactly the no-false-negative guarantee:
    a doc the filter rejects cannot be committed, so dropping only
    verified duplicates reproduces the anti-join's fresh set while the
    shuffle-heavy exact join touches only the (FP + dup)-sized
    survivor slice instead of the whole batch."""
    fresh = _bloom_screened(spark, sf_dir).filter(~F.col("is_dup"))
    return (fresh.groupBy("content_key")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("n_in_batch")))


def _band_keys(sigs: DataFrame, key: str = "doc_id") -> DataFrame:
    """(key, band, bh) LSH band keys of a minhash signature table —
    THE banding definition (band key = the band's signature values
    verbatim; equality is all the bucket join needs), shared by
    dedup_minhash_candidates and the incremental screen so the two can
    never band differently."""
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws("_", *[F.col("sig")[b * LSH_ROWS + r].cast("string")
                                    for r in range(LSH_ROWS)]).alias("bh"))
        for b in range(LSH_BANDS)])
    return (sigs.select(key, F.explode(bands).alias("bk"))
            .select(key, F.col("bk.band").alias("band"),
                    F.col("bk.bh").alias("bh")))


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup — the growing-corpus production shape
    (VERDICT r5 #4): near-dup-dedup an incoming crawl batch against an
    already-committed corpus without re-pairing the committed side
    against itself. Committed/incoming are the even/odd doc_id halves
    (the dedup_incremental convention); in production the committed
    side is the persisted (band, band-hash) signature index the
    pipeline appends to as batches commit, bucketed on the band key so
    this probe join is exchange-free on the (much larger) committed
    side and the per-batch cost scales with the BATCH, not the corpus.

    Shape — the same two-tier split as dedup_minhash_candidates, and
    for the same reason (a K-doc exact-dup cluster inside a per-doc
    band index would cost LSH_BANDS x K^2 probe rows): identical
    SIGNATURES pair via ONE equi-join on the full signature key;
    banding runs on DISTINCT signatures only, close signature pairs
    expand back to (partner, incoming) doc pairs under the qualify
    rule (partner committed — either id order — or an earlier batch
    member); exact shingle-Jaccard verify ON CANDIDATES ONLY; an
    incoming doc survives iff it has no verified >= threshold match.
    Oracle: the plain exact-Jaccard SQL with the identical drop rule —
    the LSH screen must be output-invisible (full recall at the
    threshold; the dedup_pipeline_at_scale precedent), so the driver
    hash-checks the screen, the verify join, and the keep rule at
    once."""
    d = _docs(spark, sf_dir)
    sig_key = F.concat_ws("_", *[F.col("sig")[i].cast("string")
                                 for i in range(MINHASH_PERMS)])
    sigs = memo.persist(minhash_signatures(d)
                        .select("doc_id", sig_key.alias("sk"), "sig"))
    qualify = ((F.col("p") % 2 == 0) | (F.col("p") < F.col("x")))
    # tier 1: identical signatures — one equi-join on sk, found once
    # (not once per band)
    t1 = (sigs.filter(F.col("doc_id") % 2 == 1).alias("i")
          .join(sigs.alias("q"), (F.col("i.sk") == F.col("q.sk"))
                & (F.col("q.doc_id") != F.col("i.doc_id")))
          .select(F.col("q.doc_id").alias("p"), F.col("i.doc_id").alias("x"))
          .filter(qualify))
    # tier 2: band the DISTINCT signatures (the committed index a real
    # pipeline persists bucketed on the band key), pair close
    # signatures, then expand to qualifying (partner, incoming) pairs
    buck = _band_keys(sigs.select("sk", "sig").distinct(), key="sk")
    close = (buck.alias("b1")
             .join(buck.alias("b2"),
                   (F.col("b1.band") == F.col("b2.band"))
                   & (F.col("b1.bh") == F.col("b2.bh"))
                   & (F.col("b1.sk") < F.col("b2.sk")))
             .select(F.col("b1.sk").alias("ka"), F.col("b2.sk").alias("kb"))
             .distinct())
    da = sigs.select(F.col("sk").alias("ka"), F.col("doc_id").alias("ida"))
    db = sigs.select(F.col("sk").alias("kb"), F.col("doc_id").alias("idb"))
    expanded = close.join(da, "ka").join(db, "kb").select("ida", "idb")
    t2 = (expanded.filter(F.col("idb") % 2 == 1)
          .select(F.col("ida").alias("p"), F.col("idb").alias("x"))
          .unionByName(
              expanded.filter(F.col("ida") % 2 == 1)
              .select(F.col("idb").alias("p"), F.col("ida").alias("x")))
          .filter(qualify))
    cand = (t1.unionByName(t2)
            .select(F.col("p").alias("doc1"), F.col("x").alias("doc2"))
            .distinct())
    dropped = (_verified_jaccard_pairs(d, cand)
               .select(F.col("doc2").alias("doc_id")).distinct())
    return (d.filter(F.col("doc_id") % 2 == 1)
            .join(dropped, "doc_id", "left_anti")
            .select("doc_id", "lang", "source"))


def _incremental_minhash_sql() -> str:
    """Exact drop rule over the verified pair set (doc1 < doc2): an
    incoming (odd) doc is dropped iff it is the larger member of ANY
    >= threshold pair (the smaller partner is committed or an earlier
    batch member either way), or the smaller member of a pair whose
    larger partner is committed (even)."""
    return f"""
WITH {_SH_CTES},
ver AS (
  SELECT doc1, doc2 FROM inter
  JOIN sizes s1 ON s1.doc_id = doc1
  JOIN sizes s2 ON s2.doc_id = doc2
  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= {JACCARD_THRESHOLD}
),
drops AS (
  SELECT doc2 AS doc_id FROM ver WHERE doc2 % 2 = 1
  UNION
  SELECT doc1 FROM ver WHERE doc1 % 2 = 1 AND doc2 % 2 = 0
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM drops)
"""


def _bloom_pos_sql(key_expr: str, i: int) -> str:
    return (f"(('0x' || substr(md5({key_expr} || 'bloom{i}'), 1, 15))::BIGINT"
            f" % {BLOOM_M})")


DEDUP_BLOOM_SQL = f"""
WITH committed AS (
  SELECT md5(lower(text)) AS content_key FROM documents WHERE doc_id % 2 = 0
),
bits AS (
  {" UNION ".join(f"SELECT DISTINCT {_bloom_pos_sql('content_key', i)} AS bit"
                  " FROM committed" for i in range(BLOOM_K))}
),
incoming AS (
  SELECT doc_id, md5(lower(text)) AS content_key
  FROM documents WHERE doc_id % 2 = 1
),
screened AS (
  SELECT doc_id, content_key,
         {" AND ".join(f"{_bloom_pos_sql('content_key', i)} IN"
                       " (SELECT bit FROM bits)" for i in range(BLOOM_K))}
           AS maybe_dup
  FROM incoming
)
SELECT s.doc_id, s.maybe_dup,
       s.maybe_dup AND EXISTS (SELECT 1 FROM committed c
                               WHERE c.content_key = s.content_key) AS is_dup
FROM screened s
"""


# ---------------------------------------------------------------------------
# Word-3-gram Jaccard pairwise dedup (exact; shingle inverted-index join)
# ---------------------------------------------------------------------------

def _shingle_array(col):
    """Distinct word-3-gram shingles from a pre-split TOKEN ARRAY
    column, pure JVM expressions (1-based element_at, mirrored exactly
    by the DuckDB list formulation). Takes the array, not the string:
    splitting inside the transform would re-split the whole document
    once per element (O(words²) per doc — measured 6 s of the minhash
    wall at sf0.1 before this was hoisted)."""
    n_sh = F.greatest(F.size(col) - 2, F.lit(0))
    shingles = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.concat_ws(" ", F.element_at(col, i),
                              F.element_at(col, i + 1),
                              F.element_at(col, i + 2)),
    )
    return F.array_distinct(shingles)


def _distinct_shingles(d: DataFrame, key: str = "doc_id") -> DataFrame:
    """(key, s) per-row-distinct word-3-gram shingles — the ONE
    tokenize/filter/shingle definition every dedup tier and sketch
    shares. `key` defaults to doc_id; the per-source HLL passes
    key='source' to build grouped sketches over identical shingle
    semantics."""
    toks = (d.select(key, F.split(F.col("text"), " ").alias("toks"))
            .filter(F.size("toks") >= 3))
    return toks.select(
        key, F.explode(_shingle_array(F.col("toks"))).alias("s"))


def _capped_shingles(d: DataFrame, cap: int = SHINGLE_DF_CAP) -> DataFrame:
    """Inverted-index shingles with the df cap applied: one map-side-
    combinable groupBy to count df, one equi-join to drop hot shingles.
    Bounds every self-join bucket at cap^2 rows regardless of corpus
    size — the property that keeps the exact-verify tier alive at
    10^12 docs."""
    sh = _distinct_shingles(d)
    ok = (sh.groupBy("s").agg(F.count("*").alias("df"))
          .filter(F.col("df") <= cap)
          .select("s"))
    return sh.join(ok, "s")


def _hashed_capped_shingles(d: DataFrame, cap: int = SHINGLE_DF_CAP) -> DataFrame:
    """(doc_id, k) where k = the first 60 bits of md5(shingle) — the
    shingle index every dedup tier joins/aggregates on. Hashing BEFORE
    the shuffles moves 8-byte longs instead of ~25-byte strings (the
    self-join is the engine's heaviest query; its shuffle volume is the
    cost that scales with the corpus). md5 keeps it reproducible in
    DuckDB (('0x'||substr(md5(s),1,15))::UBIGINT) and hashlib, so the
    identical (negligible, 60-bit) collisions happen on every engine
    and cross-engine equality is exact. df cap applied on k.

    The table feeds many plan branches (per-doc sizes, both self-join
    sides, the minhash aggregation, the verify joins) and Catalyst
    does not share the subtree across them, so it is persisted once
    and memoized per input files and cap: one scan/explode/md5 pass
    per query, not one per branch. ``d`` is the documents table as
    ``_docs`` reads it; every caller passes that."""
    from ..functions.hashing import md5_60bit

    def build():
        sh = memo.persist(_distinct_shingles(d).select(
            "doc_id", md5_60bit(F.col("s")).alias("k")))
        ok = (sh.groupBy("k").agg(F.count("*").alias("df"))
              .filter(F.col("df") <= cap)
              .select("k"))
        return memo.persist(sh.join(ok, "k"))
    files = tuple(f.removeprefix("file://") for f in d.inputFiles())
    return memo.get(d.sparkSession, "capped_shingles", files, build, (cap,))


def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All doc pairs with word-3-gram-shingle Jaccard >= 0.6 (doc1 < doc2).

    Distributed shape: inverted index (shingle -> docs) self-join gives
    per-pair intersection counts in one shuffle keyed by shingle; per-doc
    set sizes broadcast back. Shingles (not unigrams) keep the index
    selective: only genuinely overlapping docs meet in a bucket. At
    100 TB the self-join is pre-filtered by the LSH candidates below;
    here it doubles as the exact oracle."""
    d = _docs(spark, sf_dir)
    toks = _hashed_capped_shingles(d)
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    t1 = toks.alias("t1")
    t2 = toks.alias("t2")
    inter = (
        t1.join(t2, (F.col("t1.k") == F.col("t2.k"))
                & (F.col("t1.doc_id") < F.col("t2.doc_id")))
        .groupBy(F.col("t1.doc_id").alias("doc1"), F.col("t2.doc_id").alias("doc2"))
        .agg(F.count("*").alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("sz").alias("sz2"))
    jac = F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter"))
    return (
        # sizes has one row per doc (scales with the corpus): AQE-decided
        # joins, no forced broadcast at 10^12 docs
        inter.join(s1, "doc1").join(s2, "doc2")
        # filter on the RAW jaccard (the oracle does too); round only in
        # the projected output column
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc1", "doc2", F.round(jac, 4).alias("jaccard"))
    )


# Shared CTE prefix: the hashed shingle index with the df cap mirrored
# exactly (sh0 = raw distinct shingles hashed to 60-bit md5 keys, ok =
# keys under the cap) — byte-for-byte the Spark formulation.
_SH_CTES = f"""
shraw AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, GREATEST(len(string_split(text, ' ')) - 2, 0) + 1),
    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
         || ' ' || string_split(text, ' ')[i+2]
  ))) AS s
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh0 AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS k
  FROM shraw
),
ok AS (SELECT k FROM sh0 GROUP BY k HAVING COUNT(*) <= {SHINGLE_DF_CAP}),
sh AS (SELECT sh0.doc_id, sh0.k FROM sh0 JOIN ok USING (k)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.k = b.k AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

DEDUP_JACCARD_SQL = f"""
WITH {_SH_CTES}
SELECT doc1, doc2,
       ROUND(CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter), 4) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = doc1
JOIN sizes s2 ON s2.doc_id = doc2
WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH candidate generation (the at-scale path; JVM-side xxhash64)
# ---------------------------------------------------------------------------

# The textbook pairwise-independent permutation family over the prime
# field p = 2^31-1: perm_i(s) = (a_i * h(s) + b_i) mod p, h = the
# 60-bit md5 shingle key reduced mod p (the same key the whole dedup
# ladder joins on — one digest per shingle row). All intermediates stay
# < 2^62 (ANSI-safe long arithmetic), md5 keeps the signature
# *sequentially reproducible* (hashlib mirror -> VALUES oracle). Seeded
# coefficients; no wall clock, no global hash seed.
MINHASH_PRIME = (1 << 31) - 1
_coeff_rng = __import__("random").Random(0xA11CE)
MINHASH_COEFFS = [(1 + _coeff_rng.randrange(MINHASH_PRIME - 1),
                   _coeff_rng.randrange(MINHASH_PRIME))
                  for _ in range(MINHASH_PERMS)]


def minhash_signatures(d: DataFrame) -> DataFrame:
    """32-perm minhash over distinct word-3-gram shingles, entirely
    with built-in expressions (no Python, no UDF): one md5 per shingle,
    32 (a*h+b) mod p permutations, 32 min-aggregates."""
    # Explode shingles once, then 32 min-aggregates in a single hash
    # aggregation (map-side partial agg; one shuffle on doc_id). The
    # array-expression form (32 x transform over a rebuilt shingle
    # array) blows up codegen and runs ~50x slower. Same df-capped
    # shingle base as the exact tier, so LSH recall vs capped Jaccard
    # keeps its guarantee.
    sh = _hashed_capped_shingles(d)
    hashed = sh.select(
        "doc_id", F.pmod(F.col("k"), F.lit(MINHASH_PRIME)).alias("h"))
    aggs = [F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b),
                         F.lit(MINHASH_PRIME))).alias(f"m{i}")
            for i, (a, b) in enumerate(MINHASH_COEFFS)]
    wide = hashed.groupBy("doc_id").agg(*aggs)
    sig = F.array(*[F.col(f"m{i}") for i in range(MINHASH_PERMS)])
    return wide.select("doc_id", sig.alias("sig"))


def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: docs sharing any (band_id, band-hash) bucket are
    candidate near-dups; output is the candidate pair set (doc1 < doc2),
    deduped across bands.

    Same two-tier shape as the simhash candidate tier (and for the same
    reason — real corpora carry exact-duplicate clusters, and a K-doc
    cluster inside the band index costs LSH_BANDS x C(K,2) rows):
    identical SIGNATURES pair via one equi-join on the full signature
    string; banding runs on distinct signatures only, then close
    signature pairs expand back to doc pairs. At 10^12 docs buckets
    stay the shuffle key (uniform by hash) and the exact-Jaccard verify
    join runs only on candidates."""
    d = _docs(spark, sf_dir)
    # one string key per signature (32 x ~10-digit values joined):
    # equality-only uses below; cheaper to shuffle than array<long>
    sig_key = F.concat_ws("_", *[F.col("sig")[i].cast("string")
                                 for i in range(MINHASH_PERMS)])
    sigs = memo.persist(minhash_signatures(d)
                        .select("doc_id", sig_key.alias("sk"), "sig"))
    s1, s2 = sigs.alias("s1"), sigs.alias("s2")
    intra = (
        s1.join(s2, (F.col("s1.sk") == F.col("s2.sk"))
                & (F.col("s1.doc_id") < F.col("s2.doc_id")))
        .select(F.col("s1.doc_id").alias("doc1"),
                F.col("s2.doc_id").alias("doc2"))
    )
    uniq = sigs.select("sk", "sig").distinct()
    buck = _band_keys(uniq, key="sk")
    b1, b2 = buck.alias("b1"), buck.alias("b2")
    close = (
        b1.join(b2, (F.col("b1.band") == F.col("b2.band"))
                & (F.col("b1.bh") == F.col("b2.bh"))
                & (F.col("b1.sk") < F.col("b2.sk")))
        .select(F.col("b1.sk").alias("ka"), F.col("b2.sk").alias("kb"))
        .distinct()
    )
    d1 = sigs.select(F.col("sk").alias("ka"), F.col("doc_id").alias("da"))
    d2 = sigs.select(F.col("sk").alias("kb"), F.col("doc_id").alias("db"))
    inter = (close.join(d1, "ka").join(d2, "kb")
             .select(F.least("da", "db").alias("doc1"),
                     F.greatest("da", "db").alias("doc2")))
    return intra.unionByName(inter)


# ---------------------------------------------------------------------------
# SimHash (64-bit) near-dup signatures — vectorized pandas UDF
# ---------------------------------------------------------------------------

def simhash_of_text(t: str) -> int:
    """Sequential SimHash64 of one text (the oracle form; the
    vectorized UDF below is pinned against it bit-for-bit)."""
    import hashlib as _hl
    votes = [0] * 64
    for tok in set((t or "").split()):
        h = int.from_bytes(_hl.blake2b(tok.encode(), digest_size=8).digest(), "big")
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    v = 0
    for b in range(64):
        if votes[b] > 0:
            v |= 1 << b
    return v - (1 << 64) if v >= (1 << 63) else v


def simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash over unigram tokens, Arrow-batched pandas UDF.

    Fully batch-vectorized (round-1 version looped per row AND per
    token in Python): each distinct token of the batch is hashed once,
    its 64 bits come from one np.unpackbits over the concatenated
    digests, and the ±1 votes are segment-summed per row with
    np.add.at. Output is bit-identical to simhash_of_text (VALUES
    oracle + pytest pin)."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        n = len(texts)
        row_idx: list[int] = []
        toks: list[str] = []
        for i, t in enumerate(texts):
            for tok in set((t or "").split()):
                row_idx.append(i)
                toks.append(tok)
        if not toks:
            return pd.Series(np.zeros(n, dtype=np.int64))
        uniq, inv = np.unique(np.asarray(toks, dtype=object), return_inverse=True)
        digests = b"".join(
            hashlib.blake2b(u.encode(), digest_size=8).digest() for u in uniq)
        # unpackbits is MSB-first: column j holds bit (63-j) of the
        # big-endian uint64; reverse columns so column b == bit b
        bits = np.unpackbits(
            np.frombuffer(digests, dtype=np.uint8).reshape(-1, 8), axis=1)[:, ::-1]
        pm = bits.astype(np.int32) * 2 - 1                    # (U, 64) of ±1
        votes = np.zeros((n, 64), dtype=np.int64)
        np.add.at(votes, np.asarray(row_idx, dtype=np.int64), pm[inv])
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        packed = ((votes > 0).astype(np.uint64) * weights).sum(
            axis=1, dtype=np.uint64)
        return pd.Series(packed.view(np.int64))

    d = _docs(spark, sf_dir)
    return d.select("doc_id", _simhash(F.col("text")).alias("simhash"))


HAMMING_MAX = 3            # the near-dup contract: <=3 differing bits

# Manku block-combination construction (Manku/Jain/Sarma, WWW'07 §3):
# split the 64-bit signature into SIMHASH_BLOCKS=6 blocks (11/11/11/11/
# 10/10 bits); a pair within hamming distance 3 differs in at most 3
# blocks, so at least 3 blocks agree verbatim -> the pair shares the
# bucket key of SOME C(6,3)=20 block TRIPLE. Keys are therefore ~32
# bits wide (vs the 16-bit single-band keys of round 2, whose buckets
# held ~n/2^16 docs and made the self-join quadratic at the 10^12-doc
# design point): expected bucket occupancy drops to ~n/2^32 at 20x the
# tables, while the exact hamming<=3 pigeonhole guarantee is preserved.
SIMHASH_BLOCK_WIDTHS = (11, 11, 11, 11, 10, 10)
SIMHASH_BLOCK_OFFSETS = (0, 11, 22, 33, 44, 54)
SIMHASH_COMBOS = tuple(
    __import__("itertools").combinations(range(len(SIMHASH_BLOCK_WIDTHS)), 3))


def _block(col, i: int):
    mask = (1 << SIMHASH_BLOCK_WIDTHS[i]) - 1
    return (F.shiftrightunsigned(col, SIMHASH_BLOCK_OFFSETS[i])
            .bitwiseAND(F.lit(mask)))


def _manku_keys(sigs: DataFrame) -> DataFrame:
    """(simhash, bk): one row per block-triple bucket key, from any
    DataFrame carrying a ``simhash`` column (candidate generation runs
    on DISTINCT signatures). Key packing: (combo, v_i, v_j, v_k) into
    one long — 5 + 3*11 = 38 bits, ANSI-safe."""
    keys = F.array(*[
        (((F.lit(ci) * F.lit(1 << 11) + _block(F.col("simhash"), a))
          * F.lit(1 << 11) + _block(F.col("simhash"), b))
         * F.lit(1 << 11) + _block(F.col("simhash"), c)
         ).alias(f"k{ci}")
        for ci, (a, b, c) in enumerate(SIMHASH_COMBOS)
    ])
    return sigs.select("simhash", F.explode(keys).alias("bk"))


def _band16_keys(sigs: DataFrame) -> DataFrame:
    """(doc_id, simhash, bk) under the round-2 4 x 16-bit single-band
    scheme, packed into the same one-long key shape (band id in the
    high bits) so bucket-occupancy comparisons are like-for-like."""
    bands = F.array(*[
        (F.lit(b) * F.lit(1 << 16)
         + F.shiftrightunsigned(F.col("simhash"), 16 * b)
         .bitwiseAND(F.lit(0xFFFF))).alias(f"b{b}")
        for b in range(4)
    ])
    return sigs.select("doc_id", "simhash", F.explode(bands).alias("bk"))


def simhash_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Hamming<=HAMMING_MAX pairs from a (doc_id, simhash) DataFrame.

    Two tiers (Manku WWW'07 §4's duplicate-handling, which real web
    corpora force: sf0.1 already contains a 250-doc identical-text
    cluster, and a K-doc cluster would otherwise pay 20x its C(K,2)
    output rows inside the band index):

    1. *intra*: identical signatures pair directly — ONE equi-join on
       the full 64-bit value, so a duplicate cluster costs exactly its
       output size, never the 20x banded blowup.
    2. *inter*: the Manku block-combination index runs on DISTINCT
       signatures only (u << n under duplication; each key = combo id
       + three 11-bit block values packed into one long, < 2^38 so
       ANSI-safe) -> self equi-join -> distinct -> exact hamming verify
       -> expand each close signature pair back to its doc pairs
       (clusters are disjoint, so no post-expansion dedup is needed).

    The signature table feeds five plan branches, so it is persisted —
    at corpus scale signatures are checkpointed to a table anyway (one
    64-bit column; the simhash UDF never runs twice over 100 TB)."""
    sigs = memo.persist(sigs.select("doc_id", "simhash"))
    s1, s2 = sigs.alias("s1"), sigs.alias("s2")
    intra = (
        s1.join(s2, (F.col("s1.simhash") == F.col("s2.simhash"))
                & (F.col("s1.doc_id") < F.col("s2.doc_id")))
        .select(F.col("s1.doc_id").alias("doc1"),
                F.col("s2.doc_id").alias("doc2"),
                F.lit(0).cast("int").alias("hamming"))
    )
    uniq = sigs.select("simhash").distinct()
    k1 = _manku_keys(uniq).alias("k1")
    k2 = _manku_keys(uniq).alias("k2")
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
    close = (
        k1.join(k2, (F.col("k1.bk") == F.col("k2.bk"))
                & (F.col("k1.simhash") < F.col("k2.simhash")))
        .select(F.col("k1.simhash").alias("sa"), F.col("k2.simhash").alias("sb"))
        .distinct()
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= HAMMING_MAX)
    )
    d1 = sigs.select(F.col("simhash").alias("sa"), F.col("doc_id").alias("da"))
    d2 = sigs.select(F.col("simhash").alias("sb"), F.col("doc_id").alias("db"))
    inter = (close.join(d1, "sa").join(d2, "sb")
             .select(F.least("da", "db").alias("doc1"),
                     F.greatest("da", "db").alias("doc2"),
                     "hamming"))
    return intra.unionByName(inter)


def _band16_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Round-2 construction (4 x 16-bit single-band keys) — kept ONLY as
    the equivalence/bucket-width baseline for the pytest pin; both
    constructions are exact for hamming<=3, so their post-verify output
    is identical by the pigeonhole argument."""
    buck = _band16_keys(sigs)
    b1 = buck.alias("b1")
    b2 = buck.alias("b2")
    pairs = (
        b1.join(b2, (F.col("b1.bk") == F.col("b2.bk"))
                & (F.col("b1.doc_id") < F.col("b2.doc_id")))
        .select(F.col("b1.doc_id").alias("doc1"), F.col("b2.doc_id").alias("doc2"),
                F.col("b1.simhash").alias("s1"), F.col("b2.simhash").alias("s2"))
        .distinct()
    )
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (pairs.withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= HAMMING_MAX)
            .select("doc1", "doc2", "hamming"))


def dedup_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup tier: Manku block-combination bucket join (exact
    for hamming<=3 by pigeonhole) + JVM bit-count verify. No O(n^2):
    the only join is the packed-key equi-join."""
    return simhash_candidate_pairs(simhash64(spark, sf_dir))


def _simhash_connectivity_edges(sigs: DataFrame) -> DataFrame:
    """Connectivity-preserving REDUCTION of the simhash hamming<=3 pair
    graph, for consumers that only need CONNECTED COMPONENTS (the
    unified cluster graph): a K-doc identical-signature cluster
    contributes K-1 star edges (doc -> the cluster's min doc) instead
    of its C(K,2) clique, and each close signature pair contributes ONE
    representative edge (min doc of sig A -> min doc of sig B) instead
    of |A|x|B| cross pairs. The transitive closure is IDENTICAL — stars
    keep every same-signature doc connected, and any cross-signature
    pair is bridged via the two representatives — but the edge count
    drops from cluster-quadratic to cluster-linear. At sf0.1 the full
    pair tier is ~195k rows (one near-identical cluster), the reduced
    form ~2k; at web scale this is the difference between an edge list
    proportional to duplication^2 and one proportional to corpus size.
    The PAIRS query keeps the full expansion (its contract is every
    pair); the components oracle is unchanged (identical closure)."""
    # sigs feeds the intra join AND the rep aggregate; rep feeds three
    # further branches — persist both (tracked) or the simhash pandas
    # UDF re-scans the corpus once per branch
    sigs = memo.persist(sigs.select("doc_id", "simhash"))
    rep = memo.persist(
        sigs.groupBy("simhash").agg(F.min("doc_id").alias("rep")))
    intra = (sigs.join(rep, "simhash")
             .filter(F.col("doc_id") != F.col("rep"))
             .select(F.col("rep").alias("doc1"), F.col("doc_id").alias("doc2")))
    uniq = rep.select("simhash")
    k1 = _manku_keys(uniq).alias("k1")
    k2 = _manku_keys(uniq).alias("k2")
    close = (
        k1.join(k2, (F.col("k1.bk") == F.col("k2.bk"))
                & (F.col("k1.simhash") < F.col("k2.simhash")))
        .select(F.col("k1.simhash").alias("sa"), F.col("k2.simhash").alias("sb"))
        .distinct()
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= HAMMING_MAX)
    )
    r1 = rep.select(F.col("simhash").alias("sa"), F.col("rep").alias("ra"))
    r2 = rep.select(F.col("simhash").alias("sb"), F.col("rep").alias("rb"))
    inter = (close.join(r1, "sa").join(r2, "sb")
             .select(F.least("ra", "rb").alias("doc1"),
                     F.greatest("ra", "rb").alias("doc2")))
    return intra.unionByName(inter)


def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized dedup decision: documents surviving near-dup
    removal (greedy: a doc is dropped iff it appears as the larger
    doc_id of a >=0.6-Jaccard pair — deterministic, order-free)."""
    d = _docs(spark, sf_dir)
    pairs = dedup_jaccard_pairs(spark, sf_dir)
    drops = pairs.select(F.col("doc2").alias("doc_id")).distinct()
    return d.join(drops, "doc_id", "left_anti").select("doc_id", "lang", "source")


DEDUP_KEEP_SQL = f"""
WITH {_SH_CTES},
drops AS (
  SELECT DISTINCT doc2 AS doc_id
  FROM inter
  JOIN sizes s1 ON s1.doc_id = doc1
  JOIN sizes s2 ON s2.doc_id = doc2
  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= {JACCARD_THRESHOLD}
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM drops)
"""


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph — the cluster
    formation step real dedup pipelines run after pair generation
    (greedy doc2-dropping under-merges transitive chains A~B~C).

    Distributed shape: iterative min-label propagation to fixpoint —
    each round, every node takes the min label among itself and its
    neighbors; converges in <= diameter rounds (near-dup clusters are
    tiny, so 2-4 rounds in practice; at 10^12 docs the same loop runs
    with the large-star/small-star optimization halving rounds). The
    driver-side loop is the documented Spark pattern for iterative
    algorithms: each iteration is a bulk join+agg, only the 1-row
    convergence check (a monotone label sum) touches the driver."""
    d = _docs(spark, sf_dir).select("doc_id")
    pairs = dedup_jaccard_pairs(spark, sf_dir).select("doc1", "doc2")
    sym = pairs.union(
        pairs.select(F.col("doc2").alias("doc1"), F.col("doc1").alias("doc2"))
    ).persist()
    labels = d.select("doc_id", F.col("doc_id").alias("label")).persist()
    prev_sum = labels.agg(F.sum("label")).first()[0]
    converged = False
    for _ in range(32):          # propagation bound (1 hop/round)
        nbr = (sym.join(labels, sym.doc2 == labels.doc_id)
               .groupBy(F.col("doc1").alias("doc_id"))
               .agg(F.min("label").alias("nlabel")))
        # localCheckpoint, not persist: persist caches DATA but the
        # logical plan still nests per round — by round ~20 the plan
        # tree alone OOMs the driver. Checkpointing truncates lineage,
        # the required shape for any iterative DataFrame algorithm.
        new_labels = (labels.join(nbr, "doc_id", "left")
                      .select("doc_id",
                              F.least(F.col("label"),
                                      F.coalesce("nlabel", F.col("label")))
                              .alias("label"))
                      .localCheckpoint(eager=True))
        cur_sum = new_labels.agg(F.sum("label")).first()[0]
        labels.unpersist()
        labels = new_labels
        if cur_sum == prev_sum:   # labels only decrease -> fixpoint
            converged = True
            break
        prev_sum = cur_sum
    sym.unpersist()
    if not converged:
        # fail LOUD: returning 31-hop labels on a >32-diameter graph
        # would be silently wrong. Chains that long mean the corpus
        # needs the star variant below (O(log^2) rounds).
        raise RuntimeError(
            "dedup_components: min-label propagation did not converge in "
            "32 rounds (component diameter > 32) — use "
            "dedup_components_at_scale (large-star/small-star)")
    return labels.select("doc_id", F.col("label").alias("component"))


# Rounds taken by the most recent _star_components run (observability
# for the O(log^2 n) convergence bound; pinned by a hypothesis property
# against 10^4-node random graphs in tests/test_properties.py).
LAST_STAR_ROUNDS = 0


def _star_components(d: DataFrame, pairs: DataFrame) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    the 10^12-doc path: O(log^2 n) rounds regardless of component
    diameter, vs min-label propagation's O(diameter) (which the
    registered min-label loop bounds at 32 and fails loud past it).

    Each round is two groupBy+join passes over the edge list:

    * large-star(u): every neighbor v > u re-hangs onto
      m = min(N(u) ∪ {u})
    * small-star(u): every neighbor v < u (plus u itself) re-hangs
      onto m = min(N<(u) ∪ {u})

    Fixpoint: the edge multiset stops changing; edges then form stars
    rooted at each component's minimum. The convergence probe is a
    count per round (cheap: the edges are already checkpointed) with
    the xxhash multiset sum computed only when consecutive counts
    match — no driver-side edge materialization."""
    # localCheckpoint throughout this loop (not persist): each round's
    # edges build on the previous round's, so without lineage
    # truncation the logical plan doubles per iteration and the driver
    # dies generating plan trees long before any executor works.
    edges = (pairs.select(F.col("doc1").alias("a"), F.col("doc2").alias("b"))
             .filter(F.col("a") != F.col("b"))
             .select(F.least("a", "b").alias("lo"),
                     F.greatest("a", "b").alias("hi"))
             .distinct().localCheckpoint(eager=True))

    def _hash(e: DataFrame):
        # decimal sum: ANSI mode overflows a long sum of 2^63-range hashes
        return e.agg(F.sum(F.xxhash64("lo", "hi").cast("decimal(38,0)"))
                     .alias("h")).first()["h"]

    # Convergence probe (VERDICT r4 #4): the edge COUNT is the cheap
    # necessary condition — one job over already-checkpointed blocks,
    # no shuffle — and it changes every non-converged round in
    # practice. The multiset hash (which distinguishes same-count
    # different-edge rounds) is computed only when consecutive counts
    # match, so the extra full aggregation the old probe paid every
    # round is now paid ~twice per run, at the convergence tail.
    global LAST_STAR_ROUNDS
    LAST_STAR_ROUNDS = 0
    n_prev = edges.count()
    h_prev = None                 # hash of `edges`, lazily computed
    converged = False
    for _ in range(64):           # >> log^2 of any conceivable corpus
        LAST_STAR_ROUNDS += 1
        # -- large-star: group by u over BOTH directions ----------------
        sym = (edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
               .union(edges.select(F.col("hi").alias("u"),
                                   F.col("lo").alias("v"))))
        m = (sym.groupBy("u")
             .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        large = (sym.join(m, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
                 .filter(F.col("lo") != F.col("hi")))
        # eager checkpoint, NOT a lazy persist: e1 feeds two small-star
        # branches, and a lazily-persisted cache can be computed by
        # BOTH branch stages concurrently before it populates (AQE
        # schedules the branch stages together) — measured as a
        # consistent +2-3 s on the unified graph when this was briefly
        # a persist(). The eager job guarantees exactly one
        # materialization per round.
        e1 = large.distinct().localCheckpoint(eager=True)
        # -- small-star: group by the larger endpoint -------------------
        sm = (e1.groupBy("hi")
              .agg(F.min("lo").alias("m")))
        small = (e1.join(sm, "hi")
                 .select(F.col("m"),
                         F.col("lo").alias("v"), F.col("hi").alias("u")))
        # each smaller neighbor v AND u itself re-hang onto m
        new_edges = (small.select(F.col("m").alias("lo"), F.col("v").alias("hi"))
                     .union(small.select(F.col("m").alias("lo"),
                                         F.col("u").alias("hi")))
                     .filter(F.col("lo") != F.col("hi"))
                     .distinct().localCheckpoint(eager=True))
        e1.unpersist()
        n_cur = new_edges.count()
        if n_cur == n_prev:
            if h_prev is None:    # old edges still persisted here
                h_prev = _hash(edges)
            h_cur = _hash(new_edges)
            converged = h_cur == h_prev
            h_prev = h_cur
        else:
            h_prev = None
        n_prev = n_cur
        edges.unpersist()
        edges = new_edges
        if converged:
            break
    if not converged:
        raise RuntimeError("star components did not converge in 64 rounds")
    roots = edges.select(F.col("hi").alias("doc_id"), F.col("lo").alias("component"))
    out = (d.select("doc_id")
           .join(roots, "doc_id", "left")
           .select("doc_id",
                   F.coalesce("component", F.col("doc_id")).alias("component")))
    return out


def dedup_components_at_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup graph via alternating
    large-star/small-star — identical output contract (doc_id ->
    component minimum) to dedup_components, same recursive-CTE oracle;
    pytest pins equality between the two implementations and correct
    labeling of a 100-node path the min-label loop cannot finish."""
    d = _docs(spark, sf_dir, spread=False)
    pairs = dedup_jaccard_pairs(spark, sf_dir)
    return _star_components(d.select("doc_id"), pairs)


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE {_SH_CTES},
pairs AS (
  SELECT doc1, doc2
  FROM inter
  JOIN sizes s1 ON s1.doc_id = doc1
  JOIN sizes s2 ON s2.doc_id = doc2
  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc1 AS a, doc2 AS b FROM pairs
  UNION SELECT doc2, doc1 FROM pairs
),
walk(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a
),
lbl AS (SELECT a AS doc_id, MIN(b) AS m FROM walk GROUP BY a)
SELECT d.doc_id, LEAST(d.doc_id, COALESCE(lbl.m, d.doc_id)) AS component
FROM documents d LEFT JOIN lbl ON d.doc_id = lbl.doc_id
"""


def _verified_jaccard_pairs(d: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard >= threshold, computed ONLY on candidate
    pairs (the verify stage of every LSH pipeline): two corpus-scale
    equi-joins bring each candidate's surviving shingle keys together,
    one count-agg gives the intersection, sizes join in, filter on the
    exact ratio. Returns (doc1, doc2)."""
    sh = _hashed_capped_shingles(d)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    s1 = sh.select(F.col("doc_id").alias("doc1"), F.col("k").alias("k1"))
    s2 = sh.select(F.col("doc_id").alias("_d2"), F.col("k").alias("k2"))
    inter = (cand.join(s1, "doc1")
             .join(s2, (F.col("doc2") == F.col("_d2"))
                   & (F.col("k1") == F.col("k2")))
             .groupBy("doc1", "doc2").agg(F.count("*").alias("inter")))
    z1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("sz").alias("sz1"))
    z2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("sz").alias("sz2"))
    jac = F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter"))
    return (inter.join(z1, "doc1").join(z2, "doc2")  # per-doc sizes scale: AQE decides
            .filter(jac >= JACCARD_THRESHOLD)
            .select("doc1", "doc2"))


def dedup_pipeline_at_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed 100 TB dedup path: MinHash-LSH candidates (no O(n²))
    -> exact shingle-Jaccard verify ON CANDIDATES ONLY -> survivors.
    Rows-only driver check; pytest asserts it equals the exact keep
    list on this corpus (LSH recall property)."""
    d = _docs(spark, sf_dir)
    dups = (_verified_jaccard_pairs(d, dedup_minhash_candidates(spark, sf_dir))
            .select(F.col("doc2").alias("doc_id")).distinct())
    return d.join(dups, "doc_id", "left_anti").select("doc_id", "lang", "source")


# observability for tests: counts actual graph computations (memo misses)
UNIFIED_GRAPH_RUNS = 0


def dedup_components_unified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the UNION of all three near-dup signal
    tiers — the production "any-signal near-dup cluster" shape a real
    pipeline feeds to keep-list selection (VERDICT r3 #7):

    * lexical:  MinHash-LSH candidates -> exact Jaccard verify
      (_verified_jaccard_pairs — the scale path, recall pinned against
      the exhaustive inverted index)
    * bitwise:  SimHash hamming<=3 pairs (Manku block-combination
      buckets, exact by pigeonhole)
    * semantic: embedding-cosine >= NEAR_DUP_COS pairs (LSH buckets ->
      exact cosine verify on candidates; the embeddings table carries
      one vector per document, vec_id = doc_id)

    Every tier is its own candidates->verify pipeline with no O(n^2)
    join, the union is one distinct over (doc1, doc2), and the cluster
    formation is the large-star/small-star loop (O(log^2 n) rounds at
    any diameter). Oracle: recursive CTE over the identically unioned
    edges (COMPONENTS_UNIFIED SQL via components_unified_sql()).

    The labels are the suite's most expensive artifact and three
    registered queries consume them (this one, canonical_keep,
    cluster_sizes), so they are computed once per input and shared
    through an eager localCheckpoint — the stand-in for writing the
    labels table once at 100 TB. The checkpoint only truncates
    lineage; all three oracles pin the values."""
    from .similarity import embedding_near_dup_pairs_at_scale

    def build():
        global UNIFIED_GRAPH_RUNS
        d = _docs(spark, sf_dir)
        jac = _verified_jaccard_pairs(d, dedup_minhash_candidates(spark, sf_dir))
        # simhash tier: connectivity-preserving reduced edges (cluster-
        # linear), not the full pair expansion (cluster-quadratic) — the
        # closure, and hence every component, is identical
        sim = _simhash_connectivity_edges(simhash64(spark, sf_dir))
        emb = (embedding_near_dup_pairs_at_scale(spark, sf_dir)
               .select(F.col("id1").alias("doc1"), F.col("id2").alias("doc2")))
        # no .distinct() here: _star_components normalizes every edge to
        # (lo, hi) and distincts BEFORE its first round, so an outer
        # distinct was a second full exchange over the same edge set
        edges = jac.unionByName(sim).unionByName(emb)
        UNIFIED_GRAPH_RUNS += 1
        return (_star_components(d.select("doc_id"), edges)
                .localCheckpoint(eager=True))
    return memo.get(spark, "unified_labels",
                    (f"{sf_dir}/documents.parquet", f"{sf_dir}/embeddings.parquet"),
                    build)


def components_unified_production_embeddings(
        spark: SparkSession, sf_dir: str, *,
        cos_threshold: float = 0.9, bits: int = 14,
        tables: int = 40) -> DataFrame:
    """The PRODUCTION-shape unified components (VERDICT r5 #2): same
    three-tier union + star-CC as dedup_components_unified, but the
    embedding tier runs at the production near-dup threshold
    (cos >= 0.9, 14 bits x 40 tables — the config
    TestNearDupProductionThreshold pins at >=98% recall with >=99% of
    the non-pair space pruned). This is the configuration the engine
    actually claims to run at 100 TB; the sibling registered query
    keeps the recall-stress config (cos >= 0.4 on near-random vectors,
    full-recall oracle-pinned), where NO sign-LSH setting discriminates
    — the documented "ladder limit", not the scale plan. Registered as
    docs_dedup_components_production with a FULL sequential oracle
    (seq_oracles.seq_components_unified_production: minhash candidates
    -> exact Jaccard verify, exhaustive simhash pairs, numpy sign-LSH
    candidates -> exact fold-cosine verify, union-find) and measured on
    the 1x/10x growth ladder (bench.py _dedup_scale_section).
    Deliberately unmemoized (a timed ladder repeat must recompute)."""
    from .similarity import _cosine, _emb, lsh_bucket_signatures

    d = _docs(spark, sf_dir)
    jac = _verified_jaccard_pairs(d, dedup_minhash_candidates(spark, sf_dir))
    sim = _simhash_connectivity_edges(simhash64(spark, sf_dir))
    e = _emb(spark, sf_dir)
    # persist: the signature table feeds BOTH sides of the bucket
    # self-join — unpersisted, the Arrow-batched sign-projection pass
    # (and the corpus scan under it) runs once per side
    sigs = memo.persist(lsh_bucket_signatures(e, bits=bits, tables=tables,
                                              with_vectors=False))
    s1 = sigs.select(F.col("vec_id").alias("doc1"), "table", "bucket")
    s2 = sigs.select(F.col("vec_id").alias("doc2"), "table", "bucket")
    cand = (s1.join(s2, ["table", "bucket"])
            .filter(F.col("doc1") < F.col("doc2"))
            .select("doc1", "doc2").distinct())
    v1 = e.select(F.col("vec_id").alias("doc1"),
                  F.col("embedding").cast("array<double>").alias("v1"))
    v2 = e.select(F.col("vec_id").alias("doc2"),
                  F.col("embedding").cast("array<double>").alias("v2"))
    emb = (cand.join(v1, "doc1").join(v2, "doc2")
           .filter(_cosine(F.col("v1"), F.col("v2")) >= cos_threshold)
           .select("doc1", "doc2"))
    # no outer .distinct(): _star_components' (lo, hi) normalization +
    # distinct subsumes it (see dedup_components_unified)
    edges = jac.unionByName(sim).unionByName(emb)
    return _star_components(d.select("doc_id"), edges)


def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonicalization — the keep-list selection real
    pipelines run over the any-signal cluster graph: from each unified
    near-dup component keep the member with the highest quality score
    (ties -> lowest doc_id). ONE hash aggregate per component via
    max_by-style struct max (fully map-side combinable, no window, no
    per-cluster task skew): at 10^12 docs the shuffle carries one
    partial (quality, -doc_id) struct per (map task, component)."""
    from .textstats import quality_score

    comp = dedup_components_unified(spark, sf_dir)
    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    best = F.max(F.struct(F.col("quality"),
                          (-F.col("doc_id")).alias("neg_id"))).alias("m")
    return (comp.join(q, "doc_id")
            .groupBy("component")
            .agg(best, F.count("*").alias("n_members"))
            .select("component",
                    (-F.col("m.neg_id")).cast("long").alias("keep_id"),
                    F.col("m.quality").alias("quality"),
                    "n_members"))


def canonical_keep_sql() -> str:
    """Oracle: the unified components query as a nested CTE + the
    quality score REUSED from textstats.QUALITY_SQL as a subquery (one
    source of truth — a hand-copied formula would drift silently when
    the score changes), ROW_NUMBER per component ordered
    (quality DESC, doc_id). Both engines round quality to 4 places
    first, so the ordering key is bit-identical."""
    from .textstats import QUALITY_SQL

    return f"""
WITH comp AS ({components_unified_sql()}),
q AS (
  SELECT doc_id, quality FROM ({QUALITY_SQL})
),
sel AS (
  SELECT comp.component, comp.doc_id, q.quality,
         ROW_NUMBER() OVER (PARTITION BY comp.component
                            ORDER BY q.quality DESC, comp.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY comp.component) AS nm
  FROM comp JOIN q USING (doc_id)
)
SELECT component, doc_id AS keep_id, quality,
       CAST(nm AS BIGINT) AS n_members
FROM sel WHERE rn = 1
"""


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the unified any-signal near-dup graph —
    the observability panel a dedup pipeline watches (how much of the
    corpus sits in large duplicate clusters?). Two map-side-combinable
    aggregates over the components output; no new join shapes."""
    comp = dedup_components_unified(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (sizes.groupBy("cluster_size")
            .agg(F.count("*").alias("n_clusters"),
                 (F.count("*") * F.col("cluster_size")).alias("n_docs")))


def cluster_sizes_sql() -> str:
    return f"""
WITH comp AS ({components_unified_sql()}),
sizes AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY component
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
"""


def components_unified_sql() -> str:
    """Recursive-CTE oracle over the same three unioned edge tiers:
    exact Jaccard pairs in SQL, simhash hamming<=3 pairs as sequential
    VALUES (exhaustive all-pairs — pins the bucketed construction), and
    exact all-pairs embedding cosine in SQL (pins the LSH verify path's
    full recall at this corpus)."""
    from .. import seq_oracles
    from .similarity import NEAR_DUP_COS

    sim_values = seq_oracles.values_sql(
        [(a, b) for a, b, _ in seq_oracles.seq_simhash_candidates()],
        [("doc1", "BIGINT"), ("doc2", "BIGINT")])
    return f"""
WITH RECURSIVE {_SH_CTES},
jac AS (
  SELECT doc1, doc2 FROM inter
  JOIN sizes s1 ON s1.doc_id = doc1
  JOIN sizes s2 ON s2.doc_id = doc2
  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= {JACCARD_THRESHOLD}
),
sim AS ({sim_values}),
emb AS (
  SELECT a.vec_id AS doc1, b.vec_id AS doc2
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= {NEAR_DUP_COS}
),
pairs AS (
  SELECT doc1, doc2 FROM jac
  UNION SELECT doc1, doc2 FROM sim
  UNION SELECT doc1, doc2 FROM emb
),
edges AS (
  SELECT doc1 AS a, doc2 AS b FROM pairs
  UNION SELECT doc2, doc1 FROM pairs
),
walk(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a
),
lbl AS (SELECT a AS doc_id, MIN(b) AS m FROM walk GROUP BY a)
SELECT d.doc_id, LEAST(d.doc_id, COALESCE(lbl.m, d.doc_id)) AS component
FROM documents d LEFT JOIN lbl ON d.doc_id = lbl.doc_id
"""


QUERIES = {
    "docs_dedup_exact": dedup_exact,
    "docs_dedup_incremental": dedup_incremental,
    "docs_dedup_bloom_screen": dedup_bloom_screen,
    "docs_dedup_incremental_bloom": dedup_incremental_bloom,
    "docs_dedup_pipeline_at_scale": dedup_pipeline_at_scale,
    "docs_dedup_components_at_scale": dedup_components_at_scale,
    "docs_dedup_keep_list": dedup_keep_list,
    "docs_dedup_jaccard_pairs": dedup_jaccard_pairs,
    "docs_dedup_minhash_candidates": dedup_minhash_candidates,
    "docs_dedup_simhash_candidates": dedup_simhash_candidates,
    "docs_dedup_components": dedup_components,
    "docs_dedup_components_unified": dedup_components_unified,
    "docs_dedup_components_production": components_unified_production_embeddings,
    "docs_dedup_incremental_minhash": dedup_incremental_minhash,
    "docs_dedup_canonical_keep": dedup_canonical_keep,
    "docs_dedup_cluster_sizes": dedup_cluster_sizes,
    "docs_simhash64": simhash64,
}


def oracles() -> dict[str, str]:
    from .. import seq_oracles
    return {
        "docs_dedup_exact": DEDUP_EXACT_SQL,
        "docs_dedup_incremental": DEDUP_INCREMENTAL_SQL,
        "docs_dedup_bloom_screen": DEDUP_BLOOM_SQL,
        # the bloom-screened keep list must equal the plain anti-join's
        # answer exactly — same oracle, so the driver hash-checks the
        # screen's output-invisibility (no false negatives)
        "docs_dedup_incremental_bloom": DEDUP_INCREMENTAL_SQL,
        "docs_dedup_keep_list": DEDUP_KEEP_SQL,
        "docs_dedup_jaccard_pairs": DEDUP_JACCARD_SQL,
        # the at-scale pipeline must land on the exact keep list (LSH
        # recall; pytest pins the set equality at the same sf)
        "docs_dedup_pipeline_at_scale": DEDUP_KEEP_SQL,
        # minhash/simhash: recomputed sequentially (hashlib md5/blake2b)
        # and inlined as VALUES — full cross-engine hash checks
        "docs_dedup_minhash_candidates": seq_oracles.minhash_candidates_values_sql(),
        "docs_dedup_simhash_candidates": seq_oracles.simhash_candidates_values_sql(),
        "docs_dedup_components": DEDUP_COMPONENTS_SQL,
        # star components share the contract (and hence the oracle):
        # every doc labeled with its component's minimum doc_id
        "docs_dedup_components_at_scale": DEDUP_COMPONENTS_SQL,
        "docs_dedup_components_unified": components_unified_sql(),
        # production embedding threshold: full sequential mirror of all
        # three tiers + union-find, inlined as VALUES
        "docs_dedup_components_production":
            seq_oracles.components_unified_production_values_sql(),
        # LSH screen must be output-invisible: exact-Jaccard SQL with
        # the identical incremental drop rule
        "docs_dedup_incremental_minhash": _incremental_minhash_sql(),
        "docs_dedup_canonical_keep": canonical_keep_sql(),
        "docs_dedup_cluster_sizes": cluster_sizes_sql(),
        "docs_simhash64": seq_oracles.simhash_values_sql(),
    }
