"""Sequential (driver-side, Spark-free) oracles for the queries whose
semantics are not directly SQL-expressible in DuckDB.

Each function recomputes a query's expected output with plain Python /
numpy over the same parquet input the driver registers (read via
DuckDB), then serializes it as an inline ``VALUES`` table — the same
trick operators/extraction.py uses for the golden pipeline. The
driver's hash compare then becomes a genuine distributed-vs-sequential
equality check for minhash/LSH candidates, simhash, both ANN variants
and the full extraction pipeline over the documents table.

The driver runs correctness at sf0.01; ``ORACLE_SF_DIR`` pins the same
tables (override with $SPARK_GRAFT_ORACLE_SF_DIR if the harness ever
moves). All functions are deterministic; the table readers and the
trained indexes are cached per sf_dir and input fingerprint (see
``_per_input``), so a table rewritten in place is read again.

Float discipline: Spark-side cosine is a strict left fold of doubles
(``F.aggregate(zip_with(...), 0.0, acc+v)``); the oracles reproduce the
identical fold order in pure Python (IEEE doubles both sides), and
``spark_round`` mirrors ``F.round``'s HALF_UP-on-shortest-decimal
semantics, so equality is exact, not approximate.
"""

from __future__ import annotations

import hashlib
import math
import os
from decimal import ROUND_HALF_UP, Decimal
from functools import lru_cache, wraps

from .memo import fingerprint

ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                               "/root/testdata/sf0.01")


def _sql_quote(s: str) -> str:
    return "'" + str(s).replace("'", "''") + "'"


def values_sql(rows: list[tuple], cols: list[tuple[str, str]]) -> str:
    """Inline VALUES table with per-column casts.

    cols: list of (name, duckdb_type) where type ∈ {BIGINT, INTEGER,
    DOUBLE, VARCHAR}. Numeric cells are emitted as literals, strings
    quoted. Empty rows -> a typed WHERE-1=0 shell (valid, zero rows).
    """
    names = [c[0] for c in cols]
    if not rows:
        sel = ", ".join(f'CAST(NULL AS {t}) AS "{n}"' for n, t in cols)
        return f"SELECT {sel} WHERE 1=0"

    def lit(v, typ):
        if typ == "VARCHAR":
            return _sql_quote(v)
        if typ == "DOUBLE":
            return repr(float(v))
        if typ == "BOOLEAN":
            return "true" if v else "false"
        return str(int(v))

    body = ",\n".join(
        "(" + ", ".join(lit(v, t) for v, (_, t) in zip(row, cols)) + ")"
        for row in rows)
    col_list = ", ".join(f'"{n}"' for n in names)
    casts = ", ".join(f'CAST("{n}" AS {t}) AS "{n}"' for n, t in cols)
    return f"SELECT {casts} FROM (VALUES\n{body}\n) AS t({col_list})"


def spark_round(x: float, scale: int) -> float:
    """F.round semantics on DOUBLE: HALF_UP over the shortest decimal
    representation (java BigDecimal.valueOf + setScale(HALF_UP))."""
    if x != x or math.isinf(x):
        return x
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _per_input(table: str):
    """lru_cache per sf_dir AND the fingerprint of the table the
    function reads (``{sf_dir}/{table}.parquet``)."""
    def deco(fn):
        cached = lru_cache(maxsize=4)(lambda sf_dir, _fp: fn(sf_dir))

        @wraps(fn)
        def wrapper(sf_dir: str):
            return cached(sf_dir, fingerprint(f"{sf_dir}/{table}.parquet"))
        return wrapper
    return deco


@_per_input("documents")
def _documents(sf_dir: str) -> tuple[tuple[int, str], ...]:
    import duckdb
    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        "ORDER BY doc_id").fetchall()
    return tuple((int(d), t) for d, t in rows)


@_per_input("embeddings")
def _embeddings(sf_dir: str) -> tuple[tuple[int, tuple[float, ...], int], ...]:
    import duckdb
    rows = duckdb.connect().execute(
        f"SELECT vec_id, embedding, label FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id").fetchall()
    return tuple((int(v), tuple(float(x) for x in e), int(lb))
                 for v, e, lb in rows)


# ---------------------------------------------------------------------------
# MinHash-LSH candidate pairs (mirrors operators/dedup.py exactly)
# ---------------------------------------------------------------------------


def _doc_shingles(text: str) -> set[str]:
    toks = (text or "").split(" ")          # F.split(col, " ") semantics
    if len(toks) < 3:
        return set()
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def _shingle_key(s: str) -> int:
    """60-bit md5 shingle key — mirror of dedup._hashed_capped_shingles."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _capped_shingle_index(docs, cap: int) -> dict[int, set[int]]:
    """doc -> set of 60-bit shingle KEYS surviving the df cap (identical
    hashing, hence identical collisions, on every engine)."""
    per_doc = {d: {_shingle_key(s) for s in _doc_shingles(t)} for d, t in docs}
    df: dict[int, int] = {}
    for keys in per_doc.values():
        for k in keys:
            df[k] = df.get(k, 0) + 1
    hot = {k for k, n in df.items() if n > cap}
    return {d: keys - hot for d, keys in per_doc.items() if keys - hot}


def seq_minhash_candidates(sf_dir: str = ORACLE_SF_DIR) -> list[tuple[int, int]]:
    from .operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_COEFFS,
        MINHASH_PERMS,
        MINHASH_PRIME,
        SHINGLE_DF_CAP,
    )
    index = _capped_shingle_index(_documents(sf_dir), SHINGLE_DF_CAP)
    sigs: dict[int, list[int]] = {}
    for d, keys in index.items():
        sig = [None] * MINHASH_PERMS
        for k in keys:
            h = k % MINHASH_PRIME
            for i, (a, b) in enumerate(MINHASH_COEFFS):
                v = (a * h + b) % MINHASH_PRIME
                if sig[i] is None or v < sig[i]:
                    sig[i] = v
        sigs[d] = sig
    buckets: dict[tuple, list[int]] = {}
    for d, sig in sigs.items():
        for b in range(LSH_BANDS):
            key = (b, tuple(sig[b * LSH_ROWS: (b + 1) * LSH_ROWS]))
            buckets.setdefault(key, []).append(d)
    pairs: set[tuple[int, int]] = set()
    for members in buckets.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return sorted(pairs)


def minhash_candidates_values_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    return values_sql(seq_minhash_candidates(sf_dir),
                      [("doc1", "BIGINT"), ("doc2", "BIGINT")])


# ---------------------------------------------------------------------------
# SimHash64 (sequential form lives in operators/dedup.py: simhash_of_text)
# ---------------------------------------------------------------------------


def simhash_values_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    from .operators.dedup import simhash_of_text
    rows = [(d, simhash_of_text(t)) for d, t in _documents(sf_dir)]
    return values_sql(rows, [("doc_id", "BIGINT"), ("simhash", "BIGINT")])


def seq_simhash_candidates(sf_dir: str = ORACLE_SF_DIR) -> list[tuple[int, int, int]]:
    """EXHAUSTIVE all-pairs hamming<=3 over sequential simhashes — the
    semantic contract of the candidate tier. The Spark side only ever
    compares pairs that share a Manku block-combination bucket, so
    driver equality against this oracle pins the pigeonhole exactness
    of the bucketed construction (any pair within hamming 3 agrees on
    >=3 of 6 blocks, hence shares some block-triple key)."""
    from .operators.dedup import HAMMING_MAX, simhash_of_text
    m64 = (1 << 64) - 1
    sigs = sorted((d, simhash_of_text(t) & m64) for d, t in _documents(sf_dir))
    out = []
    for i in range(len(sigs)):
        d1, s1 = sigs[i]
        for j in range(i + 1, len(sigs)):
            d2, s2 = sigs[j]
            ham = bin(s1 ^ s2).count("1")
            if ham <= HAMMING_MAX:
                out.append((d1, d2, ham))
    return out


def simhash_candidates_values_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    return values_sql(seq_simhash_candidates(sf_dir),
                      [("doc1", "BIGINT"), ("doc2", "BIGINT"),
                       ("hamming", "INTEGER")])


# ---------------------------------------------------------------------------
# ANN (LSH + IVF): candidate generation in numpy (identical arithmetic),
# scoring with the exact Spark fold order in pure Python
# ---------------------------------------------------------------------------


def _fold_cosine(a: tuple[float, ...], b: tuple[float, ...]) -> float:
    """Bit-exact mirror of operators/similarity.py::_cosine — a strict
    left fold of IEEE doubles in array order on both engines."""
    dot = 0.0
    for x, y in zip(a, b):
        dot = dot + x * y
    na = 0.0
    for x in a:
        na = na + x * x
    nb = 0.0
    for y in b:
        nb = nb + y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def _topk_rows(cand_ids: dict[int, set[int]], emb: dict[int, tuple[float, ...]],
               top_k: int) -> list[tuple[int, int, float, int]]:
    rows = []
    for qid in sorted(cand_ids):
        scored = [(-_fold_cosine(emb[qid], emb[v]), v) for v in cand_ids[qid]]
        scored.sort()
        for rk, (neg, v) in enumerate(scored[:top_k], start=1):
            rows.append((qid, v, spark_round(-neg, 3), rk))
    return rows


def seq_ann_lsh_topk(sf_dir: str = ORACLE_SF_DIR) -> list[tuple[int, int, float, int]]:
    import numpy as np

    from .operators import similarity as sim
    data = _embeddings(sf_dir)
    emb = {v: e for v, e, _ in data}
    ids = np.array([v for v, _, _ in data], dtype=np.int64)
    v = np.array([e for _, e, _ in data], dtype=np.float64)
    planes = sim._hyperplanes().reshape(sim.LSH_TABLES * sim.LSH_BITS, -1)
    bits = (v @ planes.T) >= 0
    bits = bits.reshape(len(v), sim.LSH_TABLES, sim.LSH_BITS)
    weights = (1 << np.arange(sim.LSH_BITS)).astype(np.int64)
    buckets = (bits * weights).sum(axis=2)          # (n, tables)
    cand: dict[int, set[int]] = {int(q): set() for q in ids if q < sim.N_QUERIES}
    by_tb: dict[tuple[int, int], list[int]] = {}
    for row, vid in enumerate(ids):
        for t in range(sim.LSH_TABLES):
            by_tb.setdefault((t, int(buckets[row, t])), []).append(int(vid))
    for (t, b), members in by_tb.items():
        qs = [m for m in members if m < sim.N_QUERIES]
        for q in qs:
            for m in members:
                if m != q:
                    cand[q].add(m)
    return _topk_rows(cand, emb, sim.TOP_K)


def seq_ann_ivf_topk(sf_dir: str = ORACLE_SF_DIR) -> list[tuple[int, int, float, int]]:
    import numpy as np

    from .operators import similarity as sim
    data = _embeddings(sf_dir)
    emb = {v: e for v, e, _ in data}
    ids = np.array([v for v, _, _ in data], dtype=np.int64)
    v = np.array([e for _, e, _ in data], dtype=np.float64)
    cent = np.stack([np.asarray(emb[i], dtype=np.float64)
                     for i in range(sim._IVF_CENTROID_BASE,
                                    sim._IVF_CENTROID_BASE + sim.IVF_CELLS)])
    cn = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = vn @ cn.T
    corpus_cell = np.argsort(-sims, axis=1, kind="stable")[:, 0]
    cells: dict[int, list[int]] = {}
    for row, vid in enumerate(ids):
        cells.setdefault(int(corpus_cell[row]), []).append(int(vid))
    cand: dict[int, set[int]] = {}
    for row, vid in enumerate(ids):
        if vid >= sim.N_QUERIES:
            continue
        probe = np.argsort(-sims[row], kind="stable")[: sim.IVF_NPROBE]
        members = {m for c in probe for m in cells.get(int(c), ()) if m != vid}
        cand[int(vid)] = members
    return _topk_rows(cand, emb, sim.TOP_K)


def _ann_values_sql(rows) -> str:
    return values_sql(rows, [("qid", "BIGINT"), ("neighbor", "BIGINT"),
                             ("cos", "DOUBLE"), ("rk", "INTEGER")])


def ann_lsh_values_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    return _ann_values_sql(seq_ann_lsh_topk(sf_dir))


def ann_ivf_values_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    return _ann_values_sql(seq_ann_ivf_topk(sf_dir))


# ---------------------------------------------------------------------------
# PQ-ADC ANN: full sequential mirror of operators/similarity.py::
# ann_pq_topk — quantized per-subspace Lloyd training, code
# assignment, driver-LUT ADC arithmetic (the operator's own
# _adc_lut_sqdist, so the literals are bit-identical), shortlist by
# (adist, vec_id), exact-cosine re-rank
# ---------------------------------------------------------------------------


def _seq_pq_train(vmat, seed_vecs) -> tuple:
    """The quantized-Lloyd PQ training replay over a (n, 64) float64
    matrix (raw vectors or residuals): the operator's own
    sim._pq_sub_codes does the assignment (identical numpy distance
    reduction and argmin tie-break), per-(m, k) coordinate sums are
    exact int64 truncations — order-free, so the per-batch partial
    aggregation in Spark and this single pass reduce identically."""
    import numpy as np

    from .operators import similarity as sim
    books = [[[float(x) for x in seed_vecs[k][m * sim.PQ_DSUB:
                                              (m + 1) * sim.PQ_DSUB]]
              for k in range(sim.PQ_KSUB)] for m in range(sim.PQ_M)]
    for _ in range(sim.PQ_ITERS):
        books_np = np.asarray(books, dtype=np.float64)
        for m in range(sim.PQ_M):
            sub = vmat[:, m * sim.PQ_DSUB:(m + 1) * sim.PQ_DSUB]
            k = sim._pq_sub_codes(vmat, books_np, m)
            xq = (sub * float(sim.KMEANS_Q)).astype(np.int64)
            for kk in range(sim.PQ_KSUB):
                mask = k == kk
                n = int(mask.sum())
                if n:   # empty cells keep their previous codeword
                    s = xq[mask].sum(axis=0)
                    books[m][kk] = [int(s[j]) / (n * float(sim.KMEANS_Q))
                                    for j in range(sim.PQ_DSUB)]
    return tuple(tuple(tuple(cw) for cw in b) for b in books)


def _seq_pq_codes(vmat, books) -> "list[list[int]]":
    import numpy as np

    from .operators import similarity as sim
    books_np = np.asarray(books, dtype=np.float64)
    cols = [sim._pq_sub_codes(vmat, books_np, m) for m in range(sim.PQ_M)]
    return [[int(cols[m][i]) for m in range(sim.PQ_M)]
            for i in range(len(vmat))]


@_per_input("embeddings")
def _seq_pq_codebooks(sf_dir: str) -> tuple:
    import numpy as np

    from .operators import similarity as sim
    data = _embeddings(sf_dir)
    emb = {v: e for v, e, _ in data}
    vmat = np.array([e for _, e, _ in data], dtype=np.float64)
    seed_vecs = [emb[sim._PQ_SEED_BASE + k] for k in range(sim.PQ_KSUB)]
    return _seq_pq_train(vmat, seed_vecs)


def seq_ann_pq_topk(sf_dir: str = ORACLE_SF_DIR) -> list[tuple[int, int, float, int]]:
    import numpy as np

    from .operators import similarity as sim
    books = _seq_pq_codebooks(sf_dir)
    data = _embeddings(sf_dir)
    emb = {v: e for v, e, _ in data}
    vmat = np.array([e for _, e, _ in data], dtype=np.float64)
    code_rows = _seq_pq_codes(vmat, books)
    codes = {vid: code_rows[i] for i, (vid, _, _) in enumerate(data)}
    cand: dict[int, set[int]] = {}
    for qid in sorted(v for v in emb if v < sim.N_QUERIES):
        qe = emb[qid]
        lut = [[sim._adc_lut_sqdist(
                    [float(x) for x in qe[m * sim.PQ_DSUB:(m + 1) * sim.PQ_DSUB]],
                    list(books[m][k])) for k in range(sim.PQ_KSUB)]
               for m in range(sim.PQ_M)]
        scored = []
        for v in sorted(emb):
            if v == qid:
                continue
            acc = 0.0    # the operator's left-fold add order, m ascending
            for m in range(sim.PQ_M):
                acc = acc + lut[m][codes[v][m]]
            scored.append((acc, v))
        scored.sort()
        cand[qid] = {v for _, v in scored[: sim.PQ_RERANK]}
    return _topk_rows(cand, emb, sim.TOP_K)


def ann_pq_values_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    return _ann_values_sql(seq_ann_pq_topk(sf_dir))


# ---------------------------------------------------------------------------
# IVF-PQ: mirror of operators/similarity.py::ann_ivfpq_topk — numpy
# coarse assignment (identical formulation to _ivf_assign / the
# operator's driver-side probe math), python residuals (exact IEEE
# double subtraction, = the operator's zip_with), residual PQ training
# via the shared quantized-Lloyd replay, per-(query, cell) LUTs through
# the operator's own _adc_lut_sqdist, ADC fold, shortlist, re-rank
# ---------------------------------------------------------------------------


@_per_input("embeddings")
def _seq_ivfpq_index(sf_dir: str) -> tuple:
    import numpy as np

    from .operators import similarity as sim
    data = _embeddings(sf_dir)
    emb = {v: e for v, e, _ in data}
    cent = np.stack([np.asarray(emb[i], dtype=np.float64)
                     for i in range(sim._IVF_CENTROID_BASE,
                                    sim._IVF_CENTROID_BASE + sim.IVF_CELLS)])
    cn = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    v = np.array([e for _, e, _ in data], dtype=np.float64)
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    corpus_cell = np.argsort(-(vn @ cn.T), axis=1, kind="stable")[:, 0]
    cells = {int(vid): int(corpus_cell[row])
             for row, (vid, _, _) in enumerate(data)}
    resmat = v - cent[corpus_cell]    # exact IEEE subtraction, = the
    # operator's numpy residual in _pq_vec_batch
    # seed codewords: the seed vectors' own residuals, cells from the
    # same numpy assignment math (sim._ivfpq_index does this driver-side)
    sv = np.stack([np.asarray(emb[sim._PQ_SEED_BASE + k], dtype=np.float64)
                   for k in range(sim.PQ_KSUB)])
    svn = sv / np.linalg.norm(sv, axis=1, keepdims=True)
    seed_cells = np.argsort(-(svn @ cn.T), axis=1, kind="stable")[:, 0]
    books = _seq_pq_train(resmat, sv - cent[seed_cells])
    return cent, cells, resmat, books


def seq_ann_ivfpq_topk(sf_dir: str = ORACLE_SF_DIR) -> list[tuple[int, int, float, int]]:
    import numpy as np

    from .operators import similarity as sim
    cent, cells, resmat, books = _seq_ivfpq_index(sf_dir)
    data = _embeddings(sf_dir)
    emb = {v: e for v, e, _ in data}
    code_rows = _seq_pq_codes(resmat, books)
    codes = {vid: code_rows[i] for i, (vid, _, _) in enumerate(data)}
    cn = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    cand: dict[int, set[int]] = {}
    for qid in sorted(v for v in emb if v < sim.N_QUERIES):
        qv = np.asarray(emb[qid], dtype=np.float64)
        sims = (qv / np.linalg.norm(qv)) @ cn.T
        scored = []
        for cell in np.argsort(-sims, kind="stable")[: sim.IVF_NPROBE]:
            q_res = [float(x) for x in (qv - cent[int(cell)])]
            lut = [[sim._adc_lut_sqdist(
                        q_res[m * sim.PQ_DSUB:(m + 1) * sim.PQ_DSUB],
                        list(books[m][k])) for k in range(sim.PQ_KSUB)]
                   for m in range(sim.PQ_M)]
            for v in sorted(emb):
                if v == qid or cells[v] != int(cell):
                    continue
                acc = 0.0    # the operator's left-fold order, m ascending
                for m in range(sim.PQ_M):
                    acc = acc + lut[m][codes[v][m]]
                scored.append((acc, v))
        scored.sort()
        cand[qid] = {v for _, v in scored[: sim.IVFPQ_RERANK]}
    return _topk_rows(cand, emb, sim.TOP_K)


def ann_ivfpq_values_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    return _ann_values_sql(seq_ann_ivfpq_topk(sf_dir))


# ---------------------------------------------------------------------------
# Boundary-respecting bin packing: mirror of operators/textstats.py::
# pack_bins_nosplit — identical per-block greedy first-fit in doc_id
# order (blocks = doc_id DIV PACK_BIN_BLOCK; n = len(split-by-space))
# ---------------------------------------------------------------------------


def seq_pack_bins(sf_dir: str = ORACLE_SF_DIR) -> list[tuple[int, int, int, bool]]:
    from .operators.textstats import PACK_BIN_BLOCK, PACK_SEQ_LEN
    rows = []
    state: dict[int, tuple[int, int]] = {}   # block -> (bin, fill)
    for d_id, text in _documents(sf_dir):    # already doc_id-ordered
        n = len(text.split(" "))             # F.split(col, " ") semantics
        block = d_id // PACK_BIN_BLOCK
        n_eff = min(n, PACK_SEQ_LEN)
        b, fill = state.get(block, (-1, 0))
        if b < 0 or fill + n_eff > PACK_SEQ_LEN:
            b, fill = b + 1, n_eff
        else:
            fill += n_eff
        state[block] = (b, fill)
        rows.append((d_id, block * PACK_BIN_BLOCK + b, fill,
                     n > PACK_SEQ_LEN))
    return rows


def pack_bins_values_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    return values_sql(seq_pack_bins(sf_dir),
                      [("doc_id", "BIGINT"), ("bin_id", "BIGINT"),
                       ("fill_after", "BIGINT"), ("truncated", "BOOLEAN")])


# ---------------------------------------------------------------------------
# k-means (Lloyd) + SemDeDup: the full quantized centroid evolution and
# the within-cluster greedy pruning recomputed sequentially — mirrors of
# operators/similarity.py::_kmeans_centroids / emb_kmeans / emb_semdedup
# ---------------------------------------------------------------------------


def _fold_sqdist(a, b) -> float:
    """Mirror of _kmeans_assign's per-centroid fold: zip_with computes
    (a-b)^2 per element, aggregate left-folds acc + v in array order."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def _seq_assign(e, cent) -> tuple[float, int]:
    """(squared distance, cluster): strict < keeps the earliest k on
    ties — identical to array_min's lexicographic (d, k) struct order."""
    best = None
    for k, c in enumerate(cent):
        d = _fold_sqdist(e, c)
        if best is None or d < best[0]:
            best = (d, k)
    return best


@_per_input("embeddings")
def _seq_kmeans_centroids(sf_dir: str) -> tuple[tuple[float, ...], ...]:
    from .operators import similarity as sim
    data = _embeddings(sf_dir)
    emb = {v: e for v, e, _ in data}
    cent = [[float(x) for x in emb[sim.KMEANS_SEED_BASE + k]]
            for k in range(sim.KMEANS_K)]
    for _ in range(sim.KMEANS_ITERS):
        sums = [[0] * sim.KMEANS_DIM for _ in range(sim.KMEANS_K)]
        ns = [0] * sim.KMEANS_K
        for _v, e, _lb in data:
            k = _seq_assign(e, cent)[1]
            ns[k] += 1
            for j, x in enumerate(e):
                # int() truncates toward zero = Spark's double->long cast
                sums[k][j] += int(x * float(sim.KMEANS_Q))
        for k in range(sim.KMEANS_K):
            if ns[k]:   # empty clusters keep their previous centroid
                cent[k] = [sums[k][j] / (ns[k] * float(sim.KMEANS_Q))
                           for j in range(sim.KMEANS_DIM)]
    return tuple(tuple(c) for c in cent)


def seq_kmeans_rows(sf_dir: str = ORACLE_SF_DIR) -> list[tuple[int, int, float]]:
    cent = _seq_kmeans_centroids(sf_dir)
    return [(v, k, spark_round(d, 4))
            for v, e, _ in _embeddings(sf_dir)
            for d, k in [_seq_assign(e, cent)]]


def kmeans_values_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    return values_sql(seq_kmeans_rows(sf_dir),
                      [("vec_id", "BIGINT"), ("cluster", "INTEGER"),
                       ("dist", "DOUBLE")])


def seq_semdedup_rows(sf_dir: str = ORACLE_SF_DIR) -> list[tuple[int, int, bool]]:
    from .operators import similarity as sim
    cent = _seq_kmeans_centroids(sf_dir)
    data = _embeddings(sf_dir)
    emb = {v: e for v, e, _ in data}
    clusters: dict[int, list[int]] = {}
    assign: dict[int, int] = {}
    for v, e, _ in data:
        k = _seq_assign(e, cent)[1]
        assign[v] = k
        clusters.setdefault(k, []).append(v)
    dup: set[int] = set()
    for members in clusters.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                if _fold_cosine(emb[members[i]], emb[members[j]]) >= sim.SEMDEDUP_COS:
                    dup.add(members[j])
    return [(v, assign[v], v in dup) for v, _, _ in data]


def semdedup_values_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    return values_sql(seq_semdedup_rows(sf_dir),
                      [("vec_id", "BIGINT"), ("cluster", "INTEGER"),
                       ("semantic_dup", "BOOLEAN")])


# ---------------------------------------------------------------------------
# Unified components at the PRODUCTION embedding threshold (cos >= 0.9,
# 14 bits x 40 tables) — the full sequential mirror of
# operators/dedup.py::components_unified_production_embeddings:
#   * lexical tier: the minhash-LSH candidates above -> exact Jaccard
#     verify over the SAME df-capped 60-bit shingle key sets
#   * bitwise tier: exhaustive simhash hamming<=3 pairs (identical
#     transitive closure to the Spark side's connectivity-reduced edges)
#   * semantic tier: numpy sign-LSH candidates at (bits, tables) ->
#     exact fold-order cosine verify at the threshold
# then union-find over the union. Every arithmetic step reproduces the
# distributed computation exactly (same md5 keys, same seeded
# hyperplanes, same IEEE fold order), so the driver's hash compare is a
# genuine distributed-vs-sequential equality on the production config.
# ---------------------------------------------------------------------------


def seq_verified_jaccard_pairs(sf_dir: str = ORACLE_SF_DIR) -> list[tuple[int, int]]:
    """Exact shingle-Jaccard >= threshold computed ONLY on the minhash
    candidate pairs — the sequential mirror of dedup.py's
    _verified_jaccard_pairs(d, dedup_minhash_candidates(...))."""
    from .operators.dedup import JACCARD_THRESHOLD, SHINGLE_DF_CAP
    index = _capped_shingle_index(_documents(sf_dir), SHINGLE_DF_CAP)
    out = []
    for d1, d2 in seq_minhash_candidates(sf_dir):
        k1, k2 = index.get(d1, set()), index.get(d2, set())
        inter = len(k1 & k2)
        if inter and inter / (len(k1) + len(k2) - inter) >= JACCARD_THRESHOLD:
            out.append((d1, d2))
    return out


def seq_emb_lsh_verified_pairs(sf_dir: str = ORACLE_SF_DIR, *,
                               cos_threshold: float = 0.9, bits: int = 14,
                               tables: int = 40) -> list[tuple[int, int]]:
    """Sign-LSH bucket candidates (same seeded hyperplanes, same matmul
    sign arithmetic as lsh_bucket_signatures) -> exact fold-order cosine
    verify at the production threshold."""
    import numpy as np

    from .operators import similarity as sim
    data = _embeddings(sf_dir)
    emb = {v: e for v, e, _ in data}
    ids = [v for v, _, _ in data]
    v = np.array([e for _, e, _ in data], dtype=np.float64)
    flat = sim._hyperplanes(bits, tables).reshape(tables * bits, -1)
    b = (v @ flat.T) >= 0
    b = b.reshape(len(v), tables, bits)
    weights = (1 << np.arange(bits)).astype(np.int64)
    buckets = (b * weights).sum(axis=2)              # (n, tables)
    by_tb: dict[tuple[int, int], list[int]] = {}
    for row, vid in enumerate(ids):
        for t in range(tables):
            by_tb.setdefault((t, int(buckets[row, t])), []).append(vid)
    cand: set[tuple[int, int]] = set()
    for members in by_tb.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                cand.add((members[i], members[j]))
    return sorted((a, c) for a, c in cand
                  if _fold_cosine(emb[a], emb[c]) >= cos_threshold)


def seq_components_unified_production(sf_dir: str = ORACLE_SF_DIR) -> list[tuple[int, int]]:
    edges = (seq_verified_jaccard_pairs(sf_dir)
             + [(a, b) for a, b, _ in seq_simhash_candidates(sf_dir)]
             + seq_emb_lsh_verified_pairs(sf_dir))
    nodes = [d for d, _ in _documents(sf_dir)]
    lbl = seq_union_find(nodes, edges)
    return [(d, lbl[d]) for d in nodes]


def components_unified_production_values_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    return values_sql(seq_components_unified_production(sf_dir),
                      [("doc_id", "BIGINT"), ("component", "BIGINT")])


# ---------------------------------------------------------------------------
# Full extraction pipeline over the documents table (sequential kernels)
# ---------------------------------------------------------------------------


def training_corpus_values_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    """Sequential mirror of operators/extraction.pipeline_training_corpus:
    extract -> render -> token gate -> exact dedup -> md5-bucket split."""
    from . import kernels, synth
    by_txt: dict[str, tuple[str, int]] = {}
    for d, t in _documents(sf_dir):
        doc_id = f"doc-{d:08d}"
        tuples = kernels.extract_document(doc_id, synth.spans_from_flat_doc(d, t))
        if not tuples:
            continue
        txt = "\n".join(tt for (_, tt, _, _) in tuples)
        n_tokens = sum(1 for w in txt.replace("\n", " ").split(" ") if w)
        if n_tokens < 30:
            continue
        cur = by_txt.get(txt)
        if cur is None or doc_id < cur[0]:
            by_txt[txt] = (doc_id, n_tokens)
    rows = []
    for doc_id, n_tokens in sorted(by_txt.values()):
        b = int(hashlib.md5(doc_id.encode()).hexdigest()[:8], 16) % 100
        split = "train" if b < 80 else ("valid" if b < 90 else "test")
        rows.append((doc_id, n_tokens, split))
    return values_sql(rows, [("doc_id", "VARCHAR"), ("n_tokens", "INTEGER"),
                             ("split", "VARCHAR")])


def extract_from_documents_values_sql(sf_dir: str = ORACLE_SF_DIR) -> str:
    from . import kernels, synth
    rows: list[tuple] = []
    for d, t in _documents(sf_dir):
        spans = synth.spans_from_flat_doc(d, t)
        for kind, text, ref, off in kernels.extract_document(f"doc-{d:08d}", spans):
            rows.append((f"doc-{d:08d}", kind, text, ref, off))
    return values_sql(rows, [("doc_id", "VARCHAR"), ("kind", "VARCHAR"),
                             ("text", "VARCHAR"), ("media_ref", "VARCHAR"),
                             ("offset", "INTEGER")])


# ---------------------------------------------------------------------------
# Sequential union-find (the connected-components ground truth for the
# distributed star loop; hypothesis drives 10^4-node random graphs
# through both in tests/test_properties.py)
# ---------------------------------------------------------------------------


def seq_union_find(nodes, edges) -> dict:
    """Path-compressed + rank union-find; returns node -> the MINIMUM
    member of its component (the same label contract every components
    operator in operators/dedup.py exposes)."""
    parent = {n: n for n in nodes}
    rank = {n: 0 for n in nodes}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:          # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rank[ra] < rank[rb]:
            ra, rb = rb, ra
        parent[rb] = ra
        if rank[ra] == rank[rb]:
            rank[ra] += 1

    comp_min: dict = {}
    for n in nodes:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    return {n: comp_min[find(n)] for n in nodes}
