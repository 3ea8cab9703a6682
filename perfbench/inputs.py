"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``--seed`` and is written under the
run's work directory; the program only ever sees the generated files.

* :func:`write_extract_corpus` - the interleaved ``(doc_id, spans)``
  corpus of ``synth.gen_corpus(skew=True)``: every synth document family
  plus a 1% tail of documents with 50x the spans.
* :func:`write_documents` / :func:`write_embeddings` - flat tables in
  the shape of the scale-factor test tables' ``documents`` and
  ``embeddings`` parquet files (same columns, vocabulary, language mix,
  near-duplicate rate, 64-d unit vectors in 10 labelled clusters), with
  ids relabelled by a seeded bijection.
* :func:`write_ingest_batches` - jsonl feed batches of flat web docs in
  disjoint id ranges; every batch after the first replays ~10% of the
  ids already sent, as an at-least-once feed does.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sf test tables' vocabulary and language mix (measured on sf0.1).
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("de", 0.14), ("fr", 0.15), ("es", 0.15))
DUP_RATE = 0.05
EMB_DIM = 64
EMB_LABELS = 10

_SPAN_TYPE = pa.struct([
    pa.field("kind", pa.string(), nullable=False),
    pa.field("text", pa.string(), nullable=False),
    pa.field("media_ref", pa.string(), nullable=False),
    pa.field("offset", pa.int32(), nullable=False),
])
_DOCS_ARROW = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(pa.field("element", _SPAN_TYPE, nullable=False)),
             nullable=False),
])


def fingerprint(rows: int, paths: list[str]) -> dict:
    """Input fingerprint recorded with every run: row count plus a hash
    of the input files, so a change to the generators is visible."""
    h = hashlib.blake2b(digest_size=8)
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return {"rows": rows, "hash": h.hexdigest()}


def write_extract_corpus(corpus, path: str) -> dict:
    table = pa.Table.from_pylist(
        [{"doc_id": d, "spans": spans} for d, spans in corpus], schema=_DOCS_ARROW)
    pq.write_table(table, path)
    return fingerprint(len(corpus), [path])


def _doc_texts(rng: random.Random, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < DUP_RATE:
            words = texts[rng.randrange(i)].split()
            if words[-1] == "dup":
                words = words[:-1]
            if rng.random() < 0.5:          # near (not exact) duplicate
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(VOCAB)
                                  for _ in range(rng.randint(10, 89))))
    return texts


def documents_rows(seed: int, n: int, id_base: int = 0) -> list[dict]:
    """``documents``-shaped rows; ids are a seeded permutation of
    ``id_base .. id_base + n - 1``."""
    rng = random.Random(seed * 1_000_003 + id_base)
    ids = list(range(id_base, id_base + n))
    rng.shuffle(ids)
    names, weights = zip(*LANGS)
    langs = rng.choices(names, weights=weights, k=n)
    return [{"doc_id": ids[i], "text": t, "lang": langs[i],
             "source": f"src{i % 20}", "n_chars": len(t)}
            for i, t in enumerate(_doc_texts(rng, n))]


def write_documents(rows: list[dict], path: str) -> dict:
    table = pa.Table.from_pylist(rows, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]))
    pq.write_table(table, path)
    return fingerprint(len(rows), [path])


def write_embeddings(seed: int, vec_ids: list[int], path: str) -> dict:
    """Unit vectors around 10 weak cluster centres, with ~2% near-copies
    of earlier vectors so the near-duplicate tiers find pairs."""
    rng = np.random.default_rng(seed + 7919)
    n = len(vec_ids)
    centres = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, size=n)
    vecs = 0.6 * centres[labels] + rng.normal(size=(n, EMB_DIM))
    for i in np.flatnonzero(rng.random(n) < 0.02):
        if i:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(scale=0.01, size=EMB_DIM)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    pq.write_table(table, path)
    return fingerprint(n, [path])


def write_ingest_batches(seed: int, n_batches: int, batch_docs: int,
                         replay_frac: float, out_dir: str) -> tuple[list[dict], dict]:
    """Returns one descriptor per batch (path, fresh and replayed doc
    counts, bytes) and the fingerprint over all batch files."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    sent: list[dict] = []
    batches = []
    for b in range(n_batches):
        fresh = documents_rows(seed, batch_docs, id_base=b * 10 * batch_docs)
        replay = rng.sample(sent, int(replay_frac * batch_docs)) if sent else []
        rows = fresh + replay
        rng.shuffle(rows)
        path = os.path.join(out_dir, f"batch-{b:03d}.jsonl")
        with open(path, "w", encoding="utf-8") as f:
            for r in rows:
                f.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
        batches.append({"path": path, "fresh": len(fresh), "replayed": len(replay),
                        "bytes": os.path.getsize(path)})
        sent.extend(fresh)
    fp = fingerprint(sum(b["fresh"] + b["replayed"] for b in batches),
                     [b["path"] for b in batches])
    return batches, fp
