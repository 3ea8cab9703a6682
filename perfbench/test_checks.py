"""The benchmark's output checks must fail on a wrong answer.

    python3 -m pytest perfbench/test_checks.py -q

Spark-free: the checks compare committed results with values computed
by the program's own sequential kernels.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import workloads  # noqa: E402
from local_pdftodocx_ocr_spark import kernels, synth  # noqa: E402


def _committed(outputs) -> dict:
    """What run_job reports for per-document outputs it committed."""
    sums = [kernels.doc_checksum(d, t) for d, t in outputs if t]
    return {"checksum": kernels.combine_checksums(sums),
            "docs_in": len(outputs), "docs_out": len(sums)}


def _outputs():
    corpus = synth.gen_corpus(60, seed=3, skew=True)
    return corpus, [(d, kernels.extract_document(d, spans)) for d, spans in corpus]


def test_extract_check_accepts_the_right_answer():
    corpus, outputs = _outputs()
    assert workloads.extract_matches(_committed(outputs),
                                     workloads.sequential_result(corpus))


def test_extract_check_rejects_a_corrupted_span():
    corpus, outputs = _outputs()
    d, tuples = next((d, t) for d, t in outputs if t)
    kind, text, ref, off = tuples[0]
    bad = [(d, [(kind, text + "x", ref, off)] + tuples[1:]) if dd == d else (dd, t)
           for dd, t in outputs]
    assert not workloads.extract_matches(_committed(bad),
                                         workloads.sequential_result(corpus))


def test_extract_check_rejects_a_dropped_doc():
    corpus, outputs = _outputs()
    res = _committed(outputs[1:])
    res["docs_in"] = len(corpus)        # the doc was read but never committed
    assert not workloads.extract_matches(res, workloads.sequential_result(corpus))


def test_ingest_check_is_exactly_once():
    assert workloads.exactly_once(100, 100, 100)
    assert not workloads.exactly_once(101, 100, 100)    # a replay committed twice
    assert not workloads.exactly_once(99, 99, 100)      # a doc dropped


def test_result_hash_ignores_order_only():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y")]
    base = workloads.result_hash(rows, cols)
    assert workloads.result_hash(rows[::-1], cols) == base
    assert workloads.result_hash([(r[1], r[0]) for r in rows], ["a", "b"]) == base
    assert workloads.result_hash([(1, "x"), (2, "z")], cols) != base
    assert workloads.result_hash(rows[:1], cols) != base
