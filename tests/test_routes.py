"""The single-segment Searcher's two execution routes (operators/search.py
#score_buckets): the driver route (terms dict on the driver, one Arrow
fetch, the per-bucket leaves run on the driver) and the distributed
applyInPandas / cogroup plan. LOCAL_ROW_BUDGET is pinned to 0 (no terms
dict, every query distributed) and to infinity (every query on the
driver) on a multi-bucket fixture; both routes must return identical
ranks and float32 scores, equal to the scalar oracle, with WAND ==
exhaustive."""

from __future__ import annotations

import logging
import math
from collections import Counter

import numpy as np
import pytest

from lucene_solr_spark.corpus import synth_corpus
from lucene_solr_spark.operators import search
from lucene_solr_spark.operators.indexer import assign_doc_ids, build_index
from lucene_solr_spark.operators.phrase import phrase_topk
from lucene_solr_spark.operators.query import Bool, Phrase, Term
from lucene_solr_spark.operators.search import Searcher, score_postings

from .oracle import OracleIndex

N_DOCS = 300
K = 10
FQ = "lang = 'python'"
BUDGETS = {"distributed": 0, "driver": math.inf}


@pytest.fixture(scope="module")
def corpus(spark):
    c = synth_corpus(spark, N_DOCS, partitions=4)
    return assign_doc_ids(c, ["repo", "path", "commit"]).persist()


@pytest.fixture(scope="module")
def seg(spark, corpus):
    seg = build_index(spark, corpus, out_dir=None, bucket_docs=64, with_positions=True)
    assert seg.stats.max_doc_id // seg.stats.bucket_docs >= 3  # multi-bucket
    return seg


@pytest.fixture(scope="module")
def oracle(corpus):
    rows = corpus.select("doc_id", "content").collect()
    return OracleIndex([(int(r["doc_id"]), r["content"]) for r in rows])


@pytest.fixture(scope="module")
def python_docs(corpus):
    return {int(r["doc_id"]) for r in corpus.filter(FQ).select("doc_id").collect()}


@pytest.fixture(scope="module")
def vocab(oracle):
    """Two common terms, one in about a quarter of the docs, a rare one
    and the most frequent adjacent pair."""
    counts = Counter(t for toks in oracle.tokens.values() for t in toks)
    common = [t for t, _ in counts.most_common(2)]
    common.append(min(sorted(oracle.tf), key=lambda t: abs(len(oracle.tf[t]) - N_DOCS // 4)))
    rare = min(sorted(counts), key=lambda t: len(oracle.tf[t]))
    pairs = Counter(
        (a, b) for toks in oracle.tokens.values() for a, b in zip(toks, toks[1:]) if a != b
    )
    return common, rare, pairs.most_common(1)[0][0]


def _rank(scores: dict, allowed=None, k: int = K) -> list:
    hits = [(d, np.float32(s)) for d, s in scores.items() if allowed is None or d in allowed]
    return sorted(hits, key=lambda h: (-float(h[1]), h[0]))[:k]


def _cases(vocab, oracle):
    """name -> (run(searcher, fq), the oracle's {doc: score})."""
    (c1, c2, c3), rare, pair = vocab
    or_text, and_text = f"{c1} {c2} {rare}", f"{c1} {c2}"
    and_docs = set(oracle.tf[c1]) & set(oracle.tf[c2])
    and_scores = {d: s for d, s in oracle.score_disjunction(and_text).items() if d in and_docs}
    must_not = Bool(should=(Term(c1), Term(c2)), must_not=(Term(c3),))
    in_tree = Bool(must=(Phrase(pair),), should=(Term(c1),))
    phrase_text = " ".join(pair)
    cases = {}
    for mode in ("wand", "exhaustive"):
        cases[f"or_{mode}"] = (
            lambda s, fq, m=mode: s.topk(or_text, k=K, mode=m, op="or", fq=fq),
            oracle.score_disjunction(or_text),
        )
        cases[f"and_{mode}"] = (
            lambda s, fq, m=mode: s.topk(and_text, k=K, mode=m, op="and", fq=fq),
            and_scores,
        )
    cases["tree_must_not"] = (
        lambda s, fq: s.topk_query(must_not, k=K, fq=fq), oracle.eval_bool(must_not)[1]
    )
    cases["phrase_in_tree"] = (
        lambda s, fq: s.topk_query(in_tree, k=K, fq=fq), oracle.eval_bool(in_tree)[1]
    )
    cases["pure_phrase"] = (
        lambda s, fq: s.search(f'"{phrase_text}"', k=K, fq=fq),
        dict(oracle.topk_phrase(phrase_text, k=N_DOCS)),
    )
    return cases


CASES = [
    "or_wand", "or_exhaustive", "and_wand", "and_exhaustive",
    "tree_must_not", "phrase_in_tree", "pure_phrase",
]


def _run(spark, seg, route, fn, caplog):
    """Rows of ``fn(searcher)`` under the route's budget, and the routes
    the scorer logged."""
    with pytest.MonkeyPatch.context() as mp, caplog.at_level(
        logging.DEBUG, logger="lucene_solr_spark"
    ):
        mp.setattr(search, "LOCAL_ROW_BUDGET", BUDGETS[route])
        caplog.clear()
        s = Searcher(spark, seg)
        assert (s.term_dict is None) == (route == "distributed")
        rows = [(int(r["doc_id"]), np.float32(r["score"])) for r in fn(s).collect()]
        logged = {
            m.split("route=")[1].split()[0] for m in caplog.messages if "route=" in m
        }
    return rows, logged


@pytest.mark.parametrize("fq", [None, FQ], ids=["nofq", "fq"])
@pytest.mark.parametrize("name", CASES)
def test_routes_agree_with_oracle(spark, seg, oracle, vocab, python_docs, caplog, name, fq):
    run, want_scores = _cases(vocab, oracle)[name]
    want = _rank(want_scores, python_docs if fq else None)
    assert want, f"{name}: vacuous fixture"
    for route in BUDGETS:
        got, logged = _run(spark, seg, route, lambda s: run(s, fq), caplog)
        assert logged == {route}, f"{name} ran {logged}, pinned to {route}"
        assert got == want, f"{name} on {route}: {got[:3]} vs {want[:3]}"


def test_deleted_on_both_routes(spark, seg, oracle, vocab, caplog):
    """Tombstones passed as a ``deleted`` array are excluded on either
    route, by the phrase scorer and by the postings scorer."""
    (c1, c2, _), _, pair = vocab
    phrase_text = " ".join(pair)
    phrase_all = dict(oracle.topk_phrase(phrase_text, k=N_DOCS))
    or_all = oracle.score_disjunction(f"{c1} {c2}")
    dead = np.array(sorted([d for d, _ in _rank(phrase_all, k=3)] + [d for d, _ in _rank(or_all, k=3)]))
    live = set(oracle.tokens) - set(dead.tolist())

    def postings(s):
        idfs = {t: np.float32(st.idf) for t, st in sorted(s.term_stats([c1, c2]).items())}
        return score_postings(
            s.postings, idfs, s._cache, K, "or", 2, s.stats.avgdl, True,
            deleted=dead, fetch_rows=s._fetch_rows(sorted(idfs)),
        )

    def phrase(s):
        return phrase_topk(
            spark, s.segment, phrase_text, k=K, deleted=dead, term_dict=s.term_dict
        )

    for fn, scores in ((postings, or_all), (phrase, phrase_all)):
        want = _rank(scores, live)
        for route in BUDGETS:
            got, logged = _run(spark, seg, route, fn, caplog)
            assert logged == {route}
            assert got == want, f"{fn.__name__} on {route}"


def _jobs(spark, fn, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, "jobs of one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_route_job_count(spark, seg, oracle, vocab):
    """With the terms dict loaded, term stats launch no job; a driver-route
    topk launches at most 2 (the postings fetch), and a phrase-in-tree
    query with a cached fq at most 2 (postings + positions fetches). An
    empty answer collects with no job, so a query's job count does not
    depend on whether it has hits."""
    (c1, c2, _), rare, pair = vocab
    s = Searcher(spark, seg)
    assert s.term_dict is not None and len(s.term_dict) == seg.stats.n_terms
    assert _jobs(spark, lambda: s.term_stats([c1, c2, rare, "zzzabsent"]), "stats") == 0
    assert _jobs(spark, lambda: s.topk(f"{c1} {rare}", k=K).collect(), "topk") <= 2
    assert _jobs(spark, lambda: s.topk("zzzabsent", k=K).collect(), "absent") == 0
    other = next(t for t in sorted(oracle.tf) if not set(oracle.tf[t]) & set(oracle.tf[rare]))
    hits = _jobs(spark, lambda: s.topk(f"{c1} {rare}", k=K, op="and").collect(), "and")
    none = _jobs(spark, lambda: s.topk(f"{other} {rare}", k=K, op="and").collect(), "none")
    assert none == hits
    s.fq_docs(FQ)  # builds the filter and its driver copy
    q = Bool(must=(Phrase(pair),), should=(Term(c1),))
    assert _jobs(spark, lambda: s.topk_query(q, k=K, fq=FQ).collect(), "tree") <= 2


def test_over_budget_query_runs_distributed(spark, seg, vocab, caplog, monkeypatch):
    """A query whose postings blocks exceed the budget takes the
    distributed plan, with the terms dict still answering its stats."""
    (c1, c2, c3), _, _ = vocab
    s = Searcher(spark, seg)
    text = f"{c1} {c2} {c3}"
    monkeypatch.setattr(search, "LOCAL_ROW_BUDGET", s._fetch_rows([c1, c2, c3]) - 1)
    with caplog.at_level(logging.DEBUG, logger="lucene_solr_spark"):
        got = [(r["doc_id"], r["score"]) for r in s.topk(text, k=K).collect()]
    assert any("route=distributed" in m for m in caplog.messages)
    monkeypatch.setattr(search, "LOCAL_ROW_BUDGET", math.inf)
    assert got == [(r["doc_id"], r["score"]) for r in s.topk(text, k=K).collect()]
