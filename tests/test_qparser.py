"""Classic query-string parser: structure tests + end-to-end rank/score
identity through the engine vs the scalar oracle on the parsed tree."""

from __future__ import annotations

import numpy as np
import pytest

from lucene_solr_spark.corpus import documents_as_corpus
from lucene_solr_spark.operators.indexer import build_index
from lucene_solr_spark.operators.query import Bool, Term
from lucene_solr_spark.operators.search import Searcher
from lucene_solr_spark.plans.qparser import (
    QueryParseError,
    parse,
    resolve_multi_terms,
)

from . import oracle
from .conftest import SF_DIR


# ---- pure structure ---------------------------------------------------------

def test_parse_bare_term():
    assert parse("spark") == Term("spark")


def test_parse_default_or():
    q = parse("spark join")
    assert q == Bool(should=(Term("spark"), Term("join")))


def test_parse_must_prohibit():
    q = parse("+spark -window join")
    assert q == Bool(
        must=(Term("spark"),), must_not=(Term("window"),), should=(Term("join"),)
    )


def test_parse_and_marks_both_required():
    q = parse("spark AND join")
    assert q == Bool(must=(Term("spark"), Term("join")))


def test_parse_not():
    q = parse("spark NOT window")
    assert q == Bool(should=(Term("spark"),), must_not=(Term("window"),))


def test_parse_boost():
    assert parse("spark^2.5") == Term("spark", 2.5)


def test_parse_group_msm_boost():
    q = parse("+spark (join order batch)~2^3")
    assert q.must == (Term("spark"),)
    g = q.should[0]
    assert isinstance(g, Bool) and g.min_should_match == 2 and g.boost == 3.0
    assert g.should == (Term("join"), Term("order"), Term("batch"))


def test_parse_group_with_modifier():
    q = parse("+(join order) -window")
    assert isinstance(q.must[0], Bool)
    assert q.must_not == (Term("window"),)


def test_parse_phrase_and_slop():
    assert parse('"key order"') == ("phrase", ["key", "order"], 0, 1.0, None)
    assert parse('"key order"~2') == ("phrase", ["key", "order"], 2, 1.0, None)


def test_parse_wildcard_fuzzy_range():
    assert parse("sp*k") == ("wildcard", "sp*k", 1.0, None)
    assert parse("sart~1") == ("fuzzy", "sart", 1, 1.0, None)
    assert parse("[scan TO stream]") == ("range", "scan", "stream", True, True, None)
    assert parse("{scan TO stream}") == ("range", "scan", "stream", False, False, None)


def test_parse_analyzer_applies_to_terms():
    # camelCase input token splits under the pinned analyzer -> phrase
    assert parse("getNode") == ("phrase", ["get", "node"], 0, 1.0, None)
    assert parse("SPARK") == Term("spark")


def test_parse_errors():
    with pytest.raises(QueryParseError):
        parse("(a b")
    with pytest.raises(QueryParseError):
        parse("a) b")


# ---- end-to-end through the engine -----------------------------------------

QSTRINGS = [
    "spark join order",
    "+spark join -window",
    "spark AND join",
    "table AND scan AND filter",
    "+spark (join order)~1",
    "merge^2 batch",
    "+table (scan filter sort)~2",
    "spark NOT dup",
]


@pytest.fixture(scope="module")
def built(spark):
    corpus = documents_as_corpus(spark, SF_DIR)
    seg = build_index(spark, corpus, out_dir=None, bucket_docs=128, with_positions=True)
    searcher = Searcher(spark, seg)
    docs = [
        (int(r["doc_id"]), r["text"])
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ]
    return searcher, oracle.OracleIndex(docs)


@pytest.mark.parametrize("q", QSTRINGS)
def test_parsed_query_matches_oracle(built, q):
    searcher, ora = built
    node = resolve_multi_terms(parse(q), searcher)
    got = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.search(q, k=10).collect()
    ]
    want = [(d, np.float32(s)) for d, s in ora.topk_bool(node, k=10)]
    assert got == want, f"{q!r}: {got[:3]} vs {want[:3]}"


def test_search_wildcard_and_range(built):
    searcher, ora = built
    # wildcard resolves via the terms dict into a disjunction
    node = resolve_multi_terms(parse("s*k"), searcher)
    terms = {t.term for t in node.should}
    assert "spark" in terms
    got = [r["doc_id"] for r in searcher.search("s*k", k=5).collect()]
    want = [d for d, _ in ora.topk_bool(node, k=5)]
    assert got == want
    # inclusive range endpoints
    node_r = resolve_multi_terms(parse("[scan TO sort]"), searcher)
    rng = sorted(t.term for t in node_r.should)
    assert rng[0] == "scan" and rng[-1] == "sort" and "small" in rng


def test_search_phrase_string(built):
    """A quoted query string routes through the positional phrase matcher
    and matches the oracle's phrase scoring."""
    searcher, ora = built
    got = [
        (int(r["doc_id"]), np.float32(r["score"]))
        for r in searcher.search('"key order"', k=10).collect()
    ]
    want = [(d, np.float32(s)) for d, s in ora.topk_phrase("key order", k=10)]
    assert got == want
    sloppy = [
        (int(r["doc_id"]), np.float32(r["score"]))
        for r in searcher.search('"key order"~2', k=10).collect()
    ]
    want2 = [(d, np.float32(s)) for d, s in ora.topk_phrase("key order", k=10, slop=2)]
    assert sloppy == want2


# ---- MatchAllDocsQuery (`*:*`) and boost validation -------------------------

def test_match_all_star_colon_star(built, spark):
    searcher, _ = built
    n = searcher.segment.stats.n_docs
    rows = searcher.search("*:*", k=n + 10).collect()
    assert len(rows) == n  # every doc
    assert all(r.score == 1.0 for r in rows)  # constant score
    ids = [r.doc_id for r in rows]
    assert ids == sorted(ids)  # docID tie-break order
    # fq composes: the match-all scan respects the filter
    en = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter("lang = 'en'")
        .count()
    )
    assert searcher.search("*:*", k=n + 10, fq="lang = 'en'").count() == en


def test_match_all_nested_refused(built):
    searcher, _ = built
    with pytest.raises(QueryParseError, match="entire query"):
        searcher.search("order *:*", k=3)


def test_match_all_boosted_and_parenthesized(built):
    """`*:*^2` is a boosted MatchAllDocsQuery (constant score = boost)
    and `(*:*)` collapses to the same fast path; fq='' is no filter."""
    searcher, _ = built
    rows = searcher.search("*:*^2", k=3).collect()
    assert [r.score for r in rows] == [2.0, 2.0, 2.0]
    assert parse("(*:*)") == ("matchall", 1.0)
    assert parse("*:*^2.5") == ("matchall", 2.5)
    with pytest.raises(QueryParseError, match="invalid boost"):
        parse("*:*^-3")
    n = searcher.segment.stats.n_docs
    assert searcher.search("*:*", k=n + 1, fq="").count() == n


def test_match_all_multisearcher_fq(built, spark):
    """MultiSearcher's matchall path composes fq per segment (the CLI
    classic branch passes --fq here)."""
    from lucene_solr_spark.operators.search import MultiSearcher

    searcher, _ = built
    ms = MultiSearcher(spark, [searcher.segment])
    en = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter("lang = 'en'")
        .count()
    )
    got = ms.search("*:*", k=10**6, fq="lang = 'en'")
    assert got.count() == en
    assert ms.search("*:*^3", k=1).collect()[0].score == 3.0


def test_invalid_boost_refused():
    with pytest.raises(QueryParseError, match="invalid boost"):
        parse("order^-2")
    with pytest.raises(QueryParseError, match="invalid boost"):
        parse("order^")
    assert parse("order^2.5") == Term("order", 2.5)


# ---- Lucene-parity fixes: wildcard/regexp/fuzzy/field-guard ------------------

def test_wildcard_escapes_like_metachars(spark):
    """'_'/'%' in a wildcard pattern are literals (only * and ? wild)."""
    from lucene_solr_spark.corpus import stamp_sha256

    schema = (
        "doc_id long, repo string, path string, commit string, "
        "lang string, content string"
    )
    df = spark.createDataFrame(
        [(0, "r", "a", "c", "en", "abcd fooxbar acbd")], schema
    )
    seg = build_index(spark, stamp_sha256(df), out_dir=None)
    s = Searcher(spark, seg)
    assert s.expand_terms(wildcard="foo_bar*") == []  # '_' literal, no match
    assert s.expand_terms(wildcard="foo?bar") == ["fooxbar"]  # '?' wild


def test_wildcard_backslash_escapes(spark):
    """Lucene's WildcardQuery escapes: '\\*' / '\\?' match a literal '*' /
    '?', '\\\\' a literal backslash, and a trailing lone '\\' is literal."""
    from lucene_solr_spark.operators.search import _apply_term_patterns

    terms = spark.createDataFrame(
        [("a*b",), ("axb",), ("a?b",), ("a\\b",), ("ab\\",), ("abc",)], "term string"
    )

    def expand(pattern):
        t = _apply_term_patterns(terms, None, pattern, None, None, None)
        return sorted(r["term"] for r in t.collect())

    assert expand("a\\*b") == ["a*b"]
    assert expand("a\\?b") == ["a?b"]
    assert expand("a?b") == ["a*b", "a?b", "a\\b", "axb"]
    assert expand("a\\\\b") == ["a\\b"]
    assert expand("ab\\") == ["ab\\"]
    assert expand("a*\\*") == []


def test_regexp_matches_entire_term(built):
    """RegexpQuery semantics: the pattern must match the WHOLE term."""
    searcher, _ = built
    assert searcher.expand_terms(regexp="mer") == []  # substring would hit 'merge'
    assert "merge" in searcher.expand_terms(regexp="mer.*")


def test_parser_fuzzy_uses_transpositions(spark):
    """`term~1` through the classic parser uses Lucene's default OSA
    metric: a transposition counts as ONE edit."""
    from lucene_solr_spark.corpus import stamp_sha256

    schema = (
        "doc_id long, repo string, path string, commit string, "
        "lang string, content string"
    )
    df = spark.createDataFrame(
        [(0, "r", "a", "c", "en", "abcd"), (1, "r", "b", "c", "en", "zzzz")],
        schema,
    )
    seg = build_index(spark, stamp_sha256(df), out_dir=None)
    s = Searcher(spark, seg)
    assert [r.doc_id for r in s.search("acbd~1", k=5).collect()] == [0]
    # the plain-Levenshtein 2-tuple form stays plain (oracle-row pin)
    assert s.expand_terms(fuzzy=("acbd", 1)) == []


def test_multisearcher_field_guard(built, spark):
    from lucene_solr_spark.operators.search import MultiSearcher

    searcher, _ = built
    ms = MultiSearcher(spark, [searcher.segment])
    with pytest.raises(ValueError, match="single-field MultiSearcher"):
        ms.topk_query(Term("order", 1.0, "title"), k=3)


def test_sorted_topk_accepts_numpy_deleted(spark):
    """sorted_index_topk takes the same ndarray tombstone shape as its
    sibling APIs."""
    import numpy as np

    from lucene_solr_spark.corpus import documents_as_corpus
    from lucene_solr_spark.operators.search import sorted_index_topk

    corpus = documents_as_corpus(spark, SF_DIR).drop("doc_id")
    seg = build_index(spark, corpus, out_dir=None, index_sort=["path"])
    rows = sorted_index_topk(
        spark, seg, k=3, sort=["path"], deleted=np.array([0, 1])
    ).collect()
    assert [r.doc_id for r in rows] == [2, 3, 4]  # ids ARE the sort order


def test_exhaustive_and_with_absent_term(built):
    """exhaustive_scores(op='and') agrees with topk: an absent query term
    empties the conjunction."""
    from lucene_solr_spark.operators.search import exhaustive_scores

    searcher, _ = built
    assert exhaustive_scores(searcher, "order zzzznotaterm", op="and").count() == 0
    assert searcher.topk("order zzzznotaterm", k=5, op="and").count() == 0
