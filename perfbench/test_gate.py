"""Tests of the benchmark's own correctness gate and generators.

    python3 -m pytest perfbench/test_gate.py -q

Run from the repository root. No Spark session is started.
"""

from __future__ import annotations

import numpy as np

import check
import gen
from record import Run
from tests.oracle import tokenize


def _run() -> Run:
    return Run(spark=None, seed=0, seconds=0.0, tracer=None, work="")


def test_identical_answer_passes():
    want = [(3, 2.5), (1, 1.25)]
    run = _run()
    run.verify("q", check.compare_topk(list(want), want))
    assert (run.attempted, run.failed) == (1, 0)


def test_one_ulp_score_difference_is_a_failed_operation():
    want = [(3, 2.5), (1, 1.25)]
    off = float(np.nextafter(np.float32(1.25), np.float32(0)))
    run = _run()
    run.verify("q", check.compare_topk([(3, 2.5), (1, off)], want))
    assert (run.attempted, run.failed) == (1, 1)
    assert "score" in run.problems[0]


def test_swapped_tied_docs_are_a_failed_operation():
    scores = {4: np.float32(1.5), 2: np.float32(1.5), 9: np.float32(0.5)}
    want = check.rank(scores, 10)
    assert [d for d, _ in want] == [2, 4, 9]  # ties break on doc id
    run = _run()
    run.verify("q", check.compare_topk([(4, 1.5), (2, 1.5), (9, 0.5)], want))
    assert (run.attempted, run.failed) == (1, 1)


def test_missing_row_is_a_failed_operation():
    run = _run()
    run.verify("q", check.compare_topk([(3, 2.5)], [(3, 2.5), (1, 1.25)]))
    assert run.failed == 1


def test_build_with_wrong_doc_count_is_a_failed_operation():
    digests = {"a": "x", "b": "y"}
    run = _run()
    run.verify("build", check.compare_build(
        {"n_docs": 3, "sum_ttf": 10}, 2, 10, digests, dict(digests)
    ))
    assert (run.attempted, run.failed) == (1, 1)


def test_build_with_changed_digest_is_a_failed_operation():
    run = _run()
    run.verify("build", check.compare_build(
        {"n_docs": 2, "sum_ttf": 10}, 2, 10, {"a": "x", "b": "z"}, {"a": "x", "b": "y"}
    ))
    assert run.failed == 1


def test_rank_respects_allowed_docs():
    scores = {1: np.float32(3.0), 2: np.float32(2.0), 3: np.float32(1.0)}
    assert check.rank(scores, 2, allowed={2, 3}) == [(2, 2.0), (3, 1.0)]


def test_generator_token_counts_match_the_tokenizer():
    pdf = gen.corpus(7, gen.CorpusSpec(n_docs=200, min_tokens=5, max_tokens=60))
    assert [len(tokenize(c)) for c in pdf["content"]] == pdf["n_tokens"].tolist()


def test_same_seed_same_inputs():
    spec = gen.CorpusSpec(n_docs=50, min_tokens=5, max_tokens=30)
    a, b = gen.corpus(3, spec), gen.corpus(3, spec)
    assert a.equals(b)
    assert not a.equals(gen.corpus(4, spec))
    bands = {"rare": ["r1", "r2"], "mid": ["m1", "m2"], "hot": ["h1"]}
    docs = [["a", "b", "c"]]
    assert gen.query_mix(3, bands, docs, 30) == gen.query_mix(3, bands, docs, 30)


def test_batches_have_distinct_keys():
    spec = gen.CorpusSpec(n_docs=20, min_tokens=5, max_tokens=10)
    a, b = gen.corpus(1, spec, id_base=0), gen.corpus(1, spec, id_base=20)
    assert not set(a["path"]) & set(b["path"])
