"""One registry for the state the operators reuse across plan branches
and queries: trained indexes (PQ/IVF-PQ codebooks, k-means centroids,
CMS cells), probes (corpus counts, scan partition counts, parquet
schemas) and shared subtrees (the persisted shingle index, the
checkpointed component labels).

An entry is keyed on (Spark application, name, input fingerprint,
params). The fingerprint is each input path with the
``(st_mtime_ns, st_size)`` of the file, or of every entry of a
Spark-written parquet directory, so a table rewritten in place misses
and is rebuilt; a rebuilt entry replaces the one for the old contents.
Entries of another application are dropped on the next access.

``persist`` is the one tracked cache: at most ``MAX_PERSISTED`` frames
stay persisted, and evicting one also drops every entry that hands it
out, so no entry serves an unpersisted frame. ``release()`` unpersists
the tracked frames and drops their entries; entries holding plain
values or checkpointed frames stay warm. ``clear()`` drops everything,
for cold timings.

Spark-free at import: the sequential oracles share ``fingerprint``.
"""

from __future__ import annotations

import os
import stat

# the deepest single-query chain (the composed training pipeline:
# shingle table + capped index + minhash, simhash and embedding
# signatures + perplexity bins + ...) must not evict its own frames
MAX_PERSISTED = 12

_app: str | None = None
_entries: dict[tuple, tuple[tuple, object]] = {}   # slot -> (fingerprint, value)
_persisted: list = []                               # oldest first


def _stat(path: str):
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return st.st_mtime_ns, st.st_size
    with os.scandir(path) as it:
        return tuple(sorted((e.name, _stat(e.path)) for e in it))


def fingerprint(*paths: str) -> tuple:
    """Each path with the (mtime_ns, size) of the file, or of every
    entry of the directory, recursively; None for a missing path."""
    return tuple((p, _stat(p) if os.path.exists(p) else None) for p in paths)


def _own(spark) -> None:
    global _app
    app = spark.sparkContext.applicationId
    if app != _app:     # the old application's frames died with it
        _entries.clear()
        _persisted.clear()
        _app = app


def get(spark, name: str, inputs: tuple[str, ...], build, params: tuple = ()):
    """The value ``build()`` returned for this name, params and the
    current contents of ``inputs``; built on a miss."""
    _own(spark)
    slot = (name, inputs, params)
    fp = fingerprint(*inputs)
    hit = _entries.get(slot)
    if hit is not None and hit[0] == fp:
        return hit[1]
    value = build()
    _entries[slot] = (fp, value)
    return value


def _unpersist(df, blocking: bool) -> None:
    df.unpersist(blocking)
    for slot in [s for s, (_, v) in _entries.items() if v is df]:
        del _entries[slot]


def persist(df):
    """``df.persist()``, tracked; evicts the oldest tracked frame past
    MAX_PERSISTED."""
    _own(df.sparkSession)
    df = df.persist()
    _persisted.append(df)
    while len(_persisted) > MAX_PERSISTED:
        _unpersist(_persisted.pop(0), False)
    return df


def release(blocking: bool = False) -> int:
    """Unpersist every tracked frame and drop the entries that hand
    one out. Returns the number of frames released."""
    n = len(_persisted)
    while _persisted:
        _unpersist(_persisted.pop(), blocking)
    return n


def clear() -> None:
    """Release every tracked frame and drop every entry."""
    release()
    _entries.clear()
