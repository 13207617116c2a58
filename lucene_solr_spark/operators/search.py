"""Top-k BM25 search over segment tables — IndexSearcher analog, Spark-first.

Reference lifecycle being re-expressed (SURVEY.md §3.1):
  IndexSearcher#search -> Weight (stats pre-pass) -> per-leaf Scorer DAG
  (TermScorer / WANDScorer + ImpactsDISI block skipping)
  -> TopScoreDocCollector per leaf -> TopDocs#merge

Spark restatement:
  * stats pre-pass: query-term rows from the ``terms`` table — a single
    segment's Searcher holds (term -> df, n_blocks) on the driver, loaded
    at open (BlockTreeTermsReader's on-heap terms index), so it launches
    no job; MultiSearcher runs a tiny collect (ExactStatsCache analog is
    free because our stats are global by construction).
  * postings scan: ``postings.filter(term.isin(...))`` — the postings table
    is range-partitioned + sorted by term, so parquet row-group min/max stats
    prune everything else (the FST terms-index analog).
  * per-leaf scoring: applyInPandas grouped by ``bucket`` (the doc-space
    bucket fixed at build time — every term's blocks are aligned to it, so a
    bucket is a self-contained "leaf"). Inside: numpy decode + float32 BM25,
    optionally with block-max pruning (WAND analog — see ``_score_bucket``).
  * merge: per-bucket top-k -> global ``orderBy(score desc, doc_id asc)
    .limit(k)`` — TopDocs#merge with the pinned tie-break.
  * route (``score_buckets``): a single-segment query whose rows fit
    LOCAL_ROW_BUDGET skips the Python-UDF job — one Arrow fetch, the same
    per-bucket leaves on the driver, the same merge in numpy — a cost-based
    plan choice; larger queries run the distributed plan above.
  * late materialization: display fields joined from ``docmap`` only AFTER
    the limit (QueryComponent#distributedProcess two-phase retrieval analog).

Float32 parity (SURVEY.md §4.3): per-doc scores are accumulated in float32
in lexicographic term order in BOTH paths; WAND pruning uses float64 upper
bounds with a safety factor, then re-accumulates survivors in the pinned
order, so pruning never changes a reported score.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import log
from ..functions.analysis import tokenize_text
from ..functions.packing import delta_decode, unpack_ints
from ..sources.catalog import Segment
from . import bm25

_TOPK_SCHEMA = "doc_id long, score float"

# Row budget of every driver-side fetch a single-segment Searcher makes:
# the terms dict it loads at open (skipped above this many terms), the
# driver copy of a cached fq set, and the postings/positions rows of a
# query routed to the driver scorer (postings blocks + positions rows,
# summed from the terms dict). A query over it runs the distributed
# applyInPandas plan. Sized from the measured crossover of the two routes
# for 2-41-term queries on a 200k-doc, 25-bucket index at local[4]: ~14k
# postings rows for OR, ~16k for AND (README "Query path").
LOCAL_ROW_BUDGET = 14_000


@dataclass
class TermStats:
    term: str
    df: int
    idf: float


def osa_distance(a: str, b: str) -> int:
    """Optimal string alignment distance — Levenshtein + adjacent
    transposition, each substring transposed at most once. This is the
    metric of Lucene's LevenshteinAutomata with transpositions=true
    (FuzzyQuery's default), NOT unrestricted Damerau."""
    la, lb = len(a), len(b)
    prev2 = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[lb]


def _osa_udf(query_term: str):
    """Vectorized OSA distance to ``query_term`` (runs only on the
    Levenshtein-pre-filtered sliver of the terms dict)."""
    import pandas as pd

    @F.pandas_udf("int")
    def dist(terms):
        return terms.map(lambda t: osa_distance(t, query_term)).astype("int32")

    return dist


def _apply_term_patterns(t, prefix, wildcard, fuzzy, regexp, term_range):
    """Shared MultiTermQuery predicate set over a terms-dict DataFrame
    (used by Searcher.expand_terms and MultiSearcher.expand_terms)."""
    if prefix is not None:
        t = t.filter(F.col("term").startswith(prefix))
    if wildcard is not None:
        t = t.filter(F.col("term").like(_wildcard_to_like(wildcard)))
    if fuzzy is not None:
        # FuzzyQuery (search/FuzzyQuery.java): Lucene's metric is OSA
        # (Damerau with transpositions, the LevenshteinAutomata default,
        # transpositions=true). 2-tuple keeps the legacy plain-Levenshtein
        # behavior; 3-tuple (term, max_edits, True) enables transpositions:
        # a sound JVM-side Levenshtein pre-filter (osa <= lev <= 2*osa, so
        # lev <= 2k contains every osa <= k term) narrows the dictionary
        # before the exact OSA check runs vectorized on the sliver.
        if len(fuzzy) == 3:
            term, max_edits, transpositions = fuzzy
        else:
            term, max_edits = fuzzy
            transpositions = False
        if not transpositions:
            t = t.filter(F.levenshtein(F.col("term"), F.lit(term)) <= max_edits)
        else:
            t = t.filter(
                F.levenshtein(F.col("term"), F.lit(term)) <= 2 * max_edits
            )
            t = t.filter(_osa_udf(term)(F.col("term")) <= max_edits)
    if regexp is not None:
        # RegexpQuery (search/RegexpQuery.java) matches the ENTIRE term;
        # Spark rlike is a substring search, so anchor the pattern
        # (idempotent for already-anchored patterns)
        t = t.filter(F.col("term").rlike(f"^(?:{regexp})$"))
    if term_range is not None:
        # TermRangeQuery (search/TermRangeQuery.java): [lo, hi) over the
        # sorted terms dict — maps straight onto parquet min/max pruning
        lo, hi = term_range
        if lo is not None:
            t = t.filter(F.col("term") >= lo)
        if hi is not None:
            t = t.filter(F.col("term") < hi)
    return t


def _wildcard_to_like(pattern: str) -> str:
    """WildcardQuery pattern (search/WildcardQuery.java) -> SQL LIKE
    pattern (escape character '\\'). Only '*' and '?' are wildcards;
    '\\' escapes the next character, so '\\*' and '\\?' match a literal
    '*' / '?' (WILDCARD_ESCAPE), and a trailing lone '\\' is a literal
    backslash, as in WildcardQuery#toAutomaton. LIKE's own metacharacters
    '%', '_' and '\\' stay literal."""
    out = []
    chars = iter(pattern)
    for c in chars:
        if c == "*":
            out.append("%")
        elif c == "?":
            out.append("_")
        else:
            if c == "\\":
                c = next(chars, "\\")
            out.append("\\" + c if c in "%_\\" else c)
    return "".join(out)


class FilterCache:
    """Searcher-level filter cache — the LRUQueryCache analog
    (search/LRUQueryCache.java): caches the MATERIALIZED doc-id set of a
    filter per searcher, keyed by the filter's canonical form. Cached
    entries are persisted DataFrames, so a repeated filter skips the
    postings decode entirely (Lucene caches the built bitset the same
    way). LRU-bounded; evicted entries are unpersisted."""

    def __init__(self, max_entries: int = 32):
        from collections import OrderedDict

        # key -> (persisted set, its driver copy or None)
        self._entries: "OrderedDict[tuple, tuple[DataFrame, pd.DataFrame | None]]" = (
            OrderedDict()
        )
        self.max_entries = max_entries
        self.hits = 0
        self.misses = 0

    def get_or_build(self, key: tuple, builder, driver_copy: bool = False) -> DataFrame:
        """The cached set for ``key``, built on a miss. ``driver_copy``:
        on a miss, also keep the set's (bucket, doc_id) rows on the driver,
        sorted by doc_id, when its count fits LOCAL_ROW_BUDGET — taken
        here, once, so the queries that use it fetch nothing more."""
        if key in self._entries:
            self.hits += 1
            self._entries.move_to_end(key)
            return self._entries[key][0]
        self.misses += 1
        df = builder().persist()
        n = df.count()  # materialize now (cache the bitset, not the plan)
        rows = None
        if driver_copy and n <= LOCAL_ROW_BUDGET:
            rows = df.toPandas().sort_values("doc_id", ignore_index=True)
        self._entries[key] = (df, rows)
        while len(self._entries) > self.max_entries:
            _, (old, _) = self._entries.popitem(last=False)
            old.unpersist()
        return df

    def driver_rows(self, key: tuple) -> pd.DataFrame | None:
        """The driver copy kept for ``key`` by get_or_build, if any."""
        ent = self._entries.get(key)
        return None if ent is None else ent[1]


class QueryResultCache:
    """Searcher-level ranked-result cache — the queryResultCache +
    queryResultWindowSize analog (solr/core/.../search/SolrIndexSearcher
    .java): caches the COLLECTED (doc_id, score) prefix of a ranked
    result keyed by the query's canonical form. A later request for
    k <= cached-window is answered from the driver-side entry with no
    postings scan (Solr serves follow-up pages inside the window the
    same way); a larger k misses, re-executes with the window applied,
    and refreshes the entry. ``complete`` marks results the index
    exhausted (fewer hits than the window) — those serve ANY k."""

    def __init__(self, max_entries: int = 64, window: int = 50):
        from collections import OrderedDict

        self._entries: "OrderedDict[tuple, tuple[list, bool]]" = OrderedDict()
        self.max_entries = max_entries
        self.window = window
        self.hits = 0
        self.misses = 0

    def lookup(self, key: tuple, k: int):
        ent = self._entries.get(key)
        if ent is None:
            self.misses += 1
            return None
        rows, complete = ent
        if len(rows) >= k or complete:
            self.hits += 1
            self._entries.move_to_end(key)
            return rows[:k]
        self.misses += 1  # window too small — treat as miss, will refresh
        return None

    def put(self, key: tuple, rows: list, complete: bool) -> None:
        self._entries[key] = (list(rows), complete)
        self._entries.move_to_end(key)
        while len(self._entries) > self.max_entries:
            self._entries.popitem(last=False)


class Searcher:
    def __init__(self, spark: SparkSession, segment: Segment):
        self.spark = spark
        self.segment = segment
        self.stats = segment.stats
        self.postings = segment.table(spark, "postings")
        self.terms = segment.table(spark, "terms")
        self.docmap = segment.table(spark, "docmap")
        self._cache = bm25.norm_cache(self.stats.avgdl)
        self.filter_cache = FilterCache()
        self.result_cache: QueryResultCache | None = None
        # term -> (df, n_blocks) on the driver — the on-heap terms index
        # (BlockTreeTermsReader analog): term stats and query routing read
        # it with no Spark job. None above LOCAL_ROW_BUDGET terms.
        self.term_dict: dict[str, tuple[int, int]] | None = None
        if self.stats.n_terms <= LOCAL_ROW_BUDGET:
            pdf = self.terms.select("term", "df", "n_blocks").toPandas()
            self.term_dict = dict(
                zip(pdf["term"], zip(pdf["df"].tolist(), pdf["n_blocks"].tolist()))
            )

    def enable_result_cache(
        self, max_entries: int = 64, window: int = 50
    ) -> QueryResultCache:
        """Turn on the queryResultCache (off by default — a Searcher over
        a mutating catalog must invalidate by building a new Searcher,
        exactly Solr's new-searcher-per-commit discipline)."""
        self.result_cache = QueryResultCache(max_entries, window)
        return self.result_cache

    def _cached_topk(self, key: tuple, k: int, run):
        """Route a ranked query through the result cache when enabled:
        serve k <= window from the driver-side entry (zero postings
        scans), otherwise execute with the window applied and refresh."""
        rc = self.result_cache
        if rc is None:
            return run(k)
        rows = rc.lookup(key, k)
        if rows is None:
            wk = max(k, rc.window)
            fetched = run(wk).collect()
            rc.put(key, fetched, complete=len(fetched) < wk)
            rows = fetched[:k]
        return topk_frame(
            self.spark, [r["doc_id"] for r in rows], [r["score"] for r in rows]
        )

    def _fetch_rows(self, postings_terms, positions_terms=()) -> float:
        """Rows a query would fetch to the driver, from the terms dict: the
        blocks of each postings term plus one positions row per (term, doc)
        of each positions term. inf without a terms dict (distributed)."""
        d = self.term_dict
        if d is None:
            return math.inf
        return sum(d.get(t, (0, 0))[1] for t in postings_terms) + sum(
            d.get(t, (0, 0))[0] for t in positions_terms
        )

    def _filter(self, fq: str | None) -> tuple[DataFrame | None, pd.DataFrame | None]:
        """An fq's cached (bucket, doc_id) set and its driver copy (None
        when the set is over LOCAL_ROW_BUDGET); (None, None) without fq."""
        if not fq:
            return None, None
        docs = self.fq_docs(fq)
        return docs, self.filter_cache.driver_rows(("fq", fq))

    # -- Weight#createWeight analog: per-query stats pre-pass ---------------
    def attach_bloom(self, bloom=None, fp: float = 0.01):
        """Attach a terms bloom filter (functions/bloom.py — the
        BloomFilteringPostingsFormat analog): absent-term queries then skip
        the terms-dict scan AND the scoring job entirely, answered on the
        driver. Build one if not given."""
        if bloom is None:
            from ..functions.bloom import TermBloom

            bloom = TermBloom.build(self.spark, self.segment, fp=fp)
        self.bloom = bloom
        return bloom

    def term_stats(self, terms: list[str]) -> dict[str, TermStats]:
        if not terms:
            return {}
        if self.term_dict is not None:
            dfs = {t: self.term_dict[t][0] for t in terms if t in self.term_dict}
        else:
            bloom = getattr(self, "bloom", None)
            if bloom is not None:
                terms = [t for t in terms if bloom.might_contain(t)]
                if not terms:  # no false negatives -> truly absent, zero jobs
                    return {}
            rows = self.terms.filter(F.col("term").isin(terms)).collect()
            dfs = {r["term"]: int(r["df"]) for r in rows}
        return {
            t: TermStats(term=t, df=df, idf=bm25.idf(self.stats.n_docs, df))
            for t, df in dfs.items()
        }

    def fq_docs(self, fq: str) -> DataFrame:
        """Materialize (and cache) the doc-id set of a filter query over
        the stored fields — Solr's fq / Lucene's LRUQueryCache bitset.
        ``fq`` is a SQL predicate over docmap columns (e.g.
        ``"lang = 'python'"``); the set is keyed per bucket so the scorer
        cogroups it without ever collecting it to the driver. Predicates
        touching only stored columns run against the raw stored-fields
        table (join-free plan); only dl/norm_byte predicates pay the lazy
        norms join. A set within LOCAL_ROW_BUDGET docs also keeps a driver
        copy for the driver route, taken here with the set."""
        return self.filter_cache.get_or_build(
            ("fq", fq),
            lambda: build_fq_docs(self.spark, self.segment, fq),
            driver_copy=True,
        )

    def topk(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "wand",
        op: str = "or",
        fq: str | None = None,
    ) -> DataFrame:
        """Top-k BM25. ``mode``: 'wand' (block-max pruning) or 'exhaustive'.
        ``op``: 'or' (disjunction, sum of matching terms) or 'and'
        (conjunction: doc must contain every query term). ``fq``: optional
        filter query — SQL predicate over stored fields; restricts matches
        without touching scores or corpus stats (Solr fq semantics)."""
        if mode not in ("wand", "exhaustive"):
            raise ValueError(f"mode must be 'wand' or 'exhaustive', got {mode!r}")
        if op not in ("or", "and"):
            raise ValueError(f"op must be 'or' or 'and', got {op!r}")
        if self.result_cache is not None:
            key = ("topk", query_text, mode, op, fq)
            return self._cached_topk(
                key, k, lambda kk: self._topk_run(query_text, kk, mode, op, fq)
            )
        return self._topk_run(query_text, k, mode, op, fq)

    def _topk_run(
        self, query_text: str, k: int, mode: str, op: str, fq: str | None
    ) -> DataFrame:
        q_terms = sorted(set(tokenize_text(query_text)))
        stats = self.term_stats(q_terms)
        matched = sorted(stats)  # lexicographic — pinned summation order
        if not matched or (op == "and" and len(matched) < len(q_terms)):
            return topk_frame(self.spark)

        idfs = {t: np.float32(stats[t].idf) for t in matched}
        use_wand = mode == "wand"  # "and" routes to the BlockMaxConjunction branch
        filter_docs, filter_local = self._filter(fq)
        return score_postings(
            self.postings,
            idfs,
            self._cache,
            k,
            op,
            len(q_terms),
            self.stats.avgdl,
            use_wand,
            filter_docs=filter_docs,
            filter_local=filter_local,
            fetch_rows=self._fetch_rows(matched),
        )

    def topk_query(self, q, k: int = 10, fq: str | None = None) -> DataFrame:
        """Top-k BM25 for a Boolean query tree (operators/query.py) — the
        IndexSearcher#search(BooleanQuery) analog. The tree (nested bool,
        minShouldMatch, per-clause boost, MUST_NOT, FILTER, Phrase clauses)
        is evaluated vectorized inside the per-bucket leaf; same
        merge/tie-break as the flat path. Reference: search/BooleanQuery.java,
        Boolean2ScorerSupplier.java, MinShouldMatchSumScorer.java,
        PhraseQuery.java (phrase as a BooleanClause)."""
        if self.result_cache is not None:
            # frozen-dataclass trees have a stable canonical repr
            key = ("tree", repr(q), fq)
            return self._cached_topk(
                key, k, lambda kk: self._topk_query_run(q, kk, fq)
            )
        return self._topk_query_run(q, k, fq)

    def _topk_query_run(self, q, k: int, fq: str | None) -> DataFrame:
        from .query import (
            collect_fields,
            collect_phrases,
            collect_synonyms,
            collect_term_leaves,
            collect_terms,
            rewrite,
        )

        q = rewrite(q)
        if collect_fields(q) - {None}:
            raise ValueError(
                "field-scoped query on a single-field Searcher — use "
                "operators.fields.FieldedSearcher"
            )
        phrases = collect_phrases(q)
        stats = self.term_stats(sorted(collect_terms(q)))
        if not stats:
            return topk_frame(self.spark)
        leaf_terms = collect_term_leaves(q)
        idfs = {
            t: np.float32(stats[t].idf) for t in sorted(stats) if t in leaf_terms
        }
        # Synonym leaves: blended idf from max member df (SynonymQuery.java);
        # leaves with no present member are omitted -> match nothing.
        syn_idfs: dict = {}
        for sq in set(collect_synonyms(q)):
            dfs = [stats[t].df for t in set(sq.terms) if t in stats]
            if dfs:
                syn_idfs[sq] = np.float32(bm25.idf(self.stats.n_docs, max(dfs)))
        positions = None
        phrase_idfs: dict = {}
        if phrases:
            assert self.segment.has_table("positions"), (
                "phrase clauses need a positional index "
                "(build_index(with_positions=True))"
            )
            for p in set(phrases):
                if all(t in stats for t in p.terms):
                    # idf summed over ALL phrase positions, duplicates counted
                    # (BM25Similarity#idfExplain over the terms array)
                    phrase_idfs[p] = np.float32(
                        sum(stats[t].idf for t in p.terms)
                    )
            positions = self.segment.table(self.spark, "positions")
        filter_docs, filter_local = self._filter(fq)
        return score_query_postings(
            self.postings, q, idfs, self._cache, k,
            positions=positions, phrase_idfs=phrase_idfs,
            filter_docs=filter_docs, filter_local=filter_local,
            syn_idfs=syn_idfs,
            fetch_rows=self._fetch_rows(
                set(idfs) | {t for sq in syn_idfs for t in sq.terms},
                {t for p in phrase_idfs for t in p.terms},
            ),
        )

    def search(self, query_string: str, k: int = 10, fq: str | None = None) -> DataFrame:
        """Parse a classic Lucene query string (plans/qparser.py —
        queryparser/classic/QueryParser.jj analog) and execute it: pure
        phrases route to the positional matcher, multi-term leaves
        (wildcard/fuzzy/range) rewrite against the terms dict, phrases
        inside a Boolean expression become Phrase clauses of the tree
        (cogrouped postings+positions scorer), everything else runs
        through the Boolean-tree scorer."""
        from ..plans.qparser import _contains_tuple, parse, resolve_multi_terms

        node = parse(query_string)
        if isinstance(node, tuple) and node[0] == "matchall":
            # MatchAllDocsQuery (`*:*`, optionally boosted): every doc,
            # constant score = boost, docID tie-break — a stored-fields
            # id scan (no norms join, no postings touched)
            out = self.segment.stored_fields(self.spark).select(
                "doc_id", F.lit(float(node[1])).cast("float").alias("score")
            )
            if fq:
                out = out.join(
                    self.fq_docs(fq).select("doc_id"), "doc_id", "left_semi"
                )
            return out.orderBy(F.asc("doc_id")).limit(k)
        if isinstance(node, tuple) and node[0] == "phrase":
            if fq is None:
                return self._phrase_tuple_topk(node, k)
            # fq-ed pure phrase: route through the tree scorer (identical
            # scores; the tree path carries the filter cogroup)
            from .query import Phrase

            node = Phrase(tuple(node[1]), node[2], node[3], node[4])
        else:
            node = resolve_multi_terms(node, self)
            assert not _contains_tuple(node), "unresolved leaf after rewrite"
        return self.topk_query(node, k=k, fq=fq)

    def _phrase_tuple_topk(self, node: tuple, k: int) -> DataFrame:
        """Standalone phrase fast path — skips the Boolean tree entirely
        (identical scores: same freq kernel, same float32 formula)."""
        from .phrase import phrase_topk

        _, terms, slop, boost, field = node
        if field is not None:
            raise ValueError(
                "field-scoped phrase on a single-field Searcher — use "
                "operators.fields.FieldedSearcher"
            )
        hits = phrase_topk(
            self.spark, self.segment, " ".join(terms), k=k, slop=slop,
            term_dict=self.term_dict,
        )
        if boost != 1.0:
            hits = hits.select(
                "doc_id",
                (F.col("score") * F.lit(float(boost))).cast("float").alias("score"),
            )
        return hits

    def search_synonyms(
        self, query_text: str, rules, k: int = 10, fq: str | None = None
    ) -> DataFrame:
        """QUERY-TIME synonym search (SynonymGraphFilter in the query
        analyzer — the deployment that lets synonyms change without
        reindexing): the analyzed query rewrites through ``rules``
        (functions/synonyms.py#expand_query_synonyms) into Synonym /
        Phrase / Term leaves, then runs the ordinary Boolean-tree scorer
        against this PLAIN index."""
        from ..functions.analysis import tokenize_text
        from ..functions.synonyms import expand_query_synonyms

        node = expand_query_synonyms(tokenize_text(query_text), rules)
        return self.topk_query(node, k=k, fq=fq)

    def topk_multi_phrase(self, slots: list, k: int = 10, slop: int = 0) -> DataFrame:
        """MultiPhraseQuery (search/MultiPhraseQuery.java): slot i of the
        phrase accepts any member of ``slots[i]``; ``slop`` enables sloppy
        matching over slot-union legs. See phrase.py#multi_phrase_topk for
        the pinned semantics."""
        from .phrase import multi_phrase_topk

        return multi_phrase_topk(self.spark, self.segment, slots, k=k, slop=slop)

    def topk_with_fields(self, query_text: str, k: int = 10, **kw) -> DataFrame:
        """Two-phase retrieval: ids+scores first, docmap fields after limit."""
        hits = self.topk(query_text, k, **kw)
        return hits.join(self.docmap, "doc_id", "left").orderBy(
            F.desc("score"), F.asc("doc_id")
        )

    def topk_after(
        self,
        query_text: str,
        after: tuple[float, int],
        k: int = 10,
        mode: str = "wand",
        op: str = "or",
        fq: str | None = None,
    ) -> DataFrame:
        """searchAfter deep paging (search/IndexSearcher.java#searchAfter,
        Solr cursorMark): return the k hits strictly after the cursor
        ``(score, doc_id)`` in (score desc, doc_id asc) order — keyset
        pagination, no offset scan. The cursor predicate is applied INSIDE
        the per-bucket scorer before its local top-k, so each bucket emits
        at most k rows (any doc past the cursor beyond a bucket's best k
        can never enter the page) — per-page cost stays proportional to k,
        not corpus size. WAND stays off: its threshold prunes exactly the
        below-cursor region a page request needs."""
        after_score, after_doc = float(after[0]), int(after[1])
        q_terms = sorted(set(tokenize_text(query_text)))
        stats = self.term_stats(q_terms)
        matched = sorted(stats)
        if not matched or (op == "and" and len(matched) < len(q_terms)):
            return topk_frame(self.spark)
        idfs = {t: np.float32(stats[t].idf) for t in matched}
        filter_docs, filter_local = self._filter(fq)
        return score_postings(
            self.postings,
            idfs,
            self._cache,
            k,
            op,
            len(q_terms),
            self.stats.avgdl,
            use_wand=False,
            after=(after_score, after_doc),
            filter_docs=filter_docs,
            filter_local=filter_local,
            fetch_rows=self._fetch_rows(matched),
        )

    def explain(self, query_text: str, doc_id: int) -> dict:
        """IndexSearcher#explain analog: per-term score breakdown for one
        doc — idf, freq, quantized dl, tf_part, contribution — summing (in
        lexicographic float32 order) to the reported score."""
        q_terms = sorted(set(tokenize_text(query_text)))
        stats = self.term_stats(q_terms)
        bucket = doc_id // self.stats.bucket_docs
        rows = self.postings.filter(
            F.col("term").isin(sorted(stats))
            & (F.col("bucket") == bucket)
            & (F.col("first_doc") <= doc_id)
            & (F.col("last_doc") >= doc_id)
        ).collect()
        details = []
        total = np.float32(0.0)
        for term in sorted(stats):
            for r in (x for x in rows if x["term"] == term):
                ids, freqs, norms = _decode_block(r)
                hit = np.nonzero(ids == doc_id)[0]
                if hit.size == 0:
                    continue
                i = int(hit[0])
                freq = int(freqs[i])
                nb = int(norms[i])
                contrib = bm25.score_block(
                    freqs[i : i + 1], norms[i : i + 1], stats[term].idf, self._cache
                )[0]
                total = np.float32(total + contrib)
                from ..functions.smallfloat import BYTE4_DECODE_TABLE

                details.append(
                    {
                        "term": term,
                        "df": stats[term].df,
                        "idf": stats[term].idf,
                        "freq": freq,
                        "dl_quantized": int(BYTE4_DECODE_TABLE[nb]),
                        "contribution": float(contrib),
                    }
                )
        return {
            "doc_id": doc_id,
            "score": float(total),
            "matched_terms": len(details),
            "details": details,
        }

    # -- alternative similarities (search/similarities/*.java) --------------

    def topk_sim(
        self, query_text: str, similarity, k: int = 10, op: str = "or", deleted=None
    ) -> DataFrame:
        """Top-k under a pluggable Similarity (operators/similarity.py).
        Always exhaustive: block-max impacts bound only the BM25 formula
        (see similarity.py docstring), so WAND stays a BM25 feature.
        ``deleted``: optional tombstoned doc_id array (liveDocs)."""
        from .similarity import SIMILARITIES

        sim = SIMILARITIES[similarity]() if isinstance(similarity, str) else similarity
        sim.prepare(self.stats.n_docs, self.stats.avgdl)
        q_terms = sorted(set(tokenize_text(query_text)))
        if not q_terms:
            return topk_frame(self.spark)
        rows = self.terms.filter(F.col("term").isin(q_terms)).collect()
        states = {
            r["term"]: sim.weight(int(r["df"]), int(r["ttf"]), self.stats.sum_ttf)
            for r in rows
        }
        if not states or (op == "and" and len(states) < len(q_terms)):
            return topk_frame(self.spark)
        n_req = len(q_terms)

        def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            return _score_bucket_sim(pdf, states, sim, k, op, n_req, deleted)

        rows_df = self.postings.filter(F.col("term").isin(sorted(states)))
        per_bucket = rows_df.groupBy("bucket").applyInPandas(
            score_bucket, _TOPK_SCHEMA
        )
        return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # -- multi-term query rewrites (MultiTermQuery CONSTANT_SCORE_REWRITE) --

    def expand_terms(
        self,
        prefix: str | None = None,
        wildcard: str | None = None,
        fuzzy: tuple[str, int] | None = None,
        regexp: str | None = None,
        term_range: tuple[str | None, str | None] | None = None,
        max_expansions: int = 1024,
    ) -> list[str]:
        """Expand a pattern against the terms dictionary — the automaton
        walk of PrefixQuery/WildcardQuery/FuzzyQuery/RegexpQuery, expressed
        as predicates on the sorted terms table (parquet min/max stats are
        the FST index analog). Capped at ``max_expansions`` terms like
        the reference's BooleanQuery#maxClauseCount discipline."""
        t = _apply_term_patterns(
            self.terms.select("term"), prefix, wildcard, fuzzy, regexp,
            term_range,
        )
        return [r["term"] for r in t.orderBy("term").limit(max_expansions).collect()]

    def topk_constant(
        self,
        terms: list[str],
        k: int = 10,
        boost: float = 1.0,
        deleted=None,
    ) -> DataFrame:
        """ConstantScoreQuery over a term-set union (the default rewrite of
        prefix/wildcard/regexp queries in the reference): every matching
        doc scores ``boost``, tie-break doc_id asc -> top-k = first k ids.
        ``deleted``: optional tombstoned doc_id array, excluded (liveDocs)."""
        if not terms:
            return topk_frame(self.spark)
        from .merge import decode_postings

        docs = self.filter_cache.get_or_build(
            ("term_set", tuple(sorted(terms))),
            lambda: decode_postings(
                self.postings.filter(F.col("term").isin(terms))
            )
            .select("doc_id")
            .distinct(),
        )
        if deleted is not None and len(deleted):
            tomb = self.spark.createDataFrame(
                [(int(d),) for d in deleted], "doc_id long"
            )
            docs = docs.join(F.broadcast(tomb), "doc_id", "left_anti")
        return (
            docs.orderBy("doc_id")
            .limit(k)
            .select("doc_id", F.lit(float(boost)).cast("float").alias("score"))
        )

    def match_docs(
        self, query_text: str, op: str = "or", fq: str | None = None
    ) -> DataFrame:
        """All matching doc ids, unscored — the Solr DocSet analog
        (search/DocSetCollector.java): the input to faceting/stats over a
        result set. No BM25 work: postings decode + distinct, optional
        conjunction count, optional fq semi-join."""
        from .merge import decode_postings

        q_terms = sorted(set(tokenize_text(query_text)))
        if not q_terms:
            return self.spark.createDataFrame([], "doc_id long")
        rows = decode_postings(
            self.postings.filter(F.col("term").isin(q_terms))
        ).select("doc_id", "term")
        if op == "and":
            docs = (
                rows.distinct()
                .groupBy("doc_id")
                .agg(F.count("*").alias("nt"))
                .filter(F.col("nt") == len(q_terms))
                .select("doc_id")
            )
        else:
            docs = rows.select("doc_id").distinct()
        if fq:
            docs = docs.join(
                self.fq_docs(fq).select("doc_id"), "doc_id", "left_semi"
            )
        return docs

    def facet_field(
        self,
        query_text: str,
        field: str,
        k_buckets: int = 10,
        op: str = "or",
        fq: str | None = None,
    ) -> DataFrame:
        """facet.field over the q+fq RESULT SET (Solr SimpleFacets /
        handler/component/FacetComponent.java): bucket counts of a stored
        field among matching docs, ordered count desc then value asc
        (facet.sort=count with the index tie-break)."""
        docs = self.match_docs(query_text, op=op, fq=fq)
        return (
            docs.join(self.docmap.select("doc_id", field), "doc_id")
            .groupBy(field)
            .agg(F.count("*").alias("count"))
            .orderBy(F.desc("count"), F.asc(field))
            .limit(k_buckets)
        )

    def spell_suggest(
        self, term: str, max_edits: int = 2, k: int = 5, min_df: int = 1
    ) -> DataFrame:
        """DirectSpellChecker analog (suggest/DirectSpellChecker.java /
        solr SpellCheckComponent): candidate corrections from the terms
        dictionary within ``max_edits`` Levenshtein edits, ranked the way
        the reference breaks ties — closer first, then more frequent
        (df desc), then lexicographic."""
        return (
            self.terms.select("term", "df")
            .filter(F.col("term") != term)
            .withColumn("distance", F.levenshtein(F.col("term"), F.lit(term)))
            .filter((F.col("distance") <= max_edits) & (F.col("df") >= min_df))
            .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
            .limit(k)
        )

    def suggest_prefix(self, prefix: str, k: int = 10) -> DataFrame:
        """Autocomplete suggester (suggest/analyzing/AnalyzingInfixSuggester
        shape, weight = collection frequency): top terms with the prefix,
        ranked ttf desc — the sorted terms dict IS the suggest index
        (parquet min/max prune to the prefix range)."""
        return (
            self.terms.select("term", "ttf")
            .filter(F.col("term").startswith(prefix))
            .orderBy(F.desc("ttf"), F.asc("term"))
            .limit(k)
        )

    def topk_prefix(self, prefix: str, k: int = 10) -> DataFrame:
        return self.topk_constant(self.expand_terms(prefix=prefix), k)

    def topk_wildcard(self, pattern: str, k: int = 10) -> DataFrame:
        return self.topk_constant(self.expand_terms(wildcard=pattern), k)

    def topk_fuzzy(
        self,
        term: str,
        max_edits: int = 2,
        k: int = 10,
        transpositions: bool = False,
    ) -> DataFrame:
        """FuzzyQuery rewrite + constant-score top-k. ``transpositions``
        selects the OSA metric (Lucene's FuzzyQuery default); the plain
        Levenshtein default here is kept for the pinned oracle rows."""
        fz = (term, max_edits, True) if transpositions else (term, max_edits)
        return self.topk_constant(self.expand_terms(fuzzy=fz), k)

    def topk_regexp(self, pattern: str, k: int = 10) -> DataFrame:
        return self.topk_constant(self.expand_terms(regexp=pattern), k)

    def topk_term_range(
        self, lo: str | None, hi: str | None, k: int = 10
    ) -> DataFrame:
        """TermRangeQuery [lo, hi) -> constant-score union."""
        return self.topk_constant(self.expand_terms(term_range=(lo, hi)), k)


def topk_frame(spark: SparkSession, doc_ids=(), scores=()) -> DataFrame:
    """A top-k answer already on the driver as a (doc_id, score)
    DataFrame. Built from pandas through Arrow, so it plans as a local
    table scan: collecting it launches no Spark job."""
    pdf = pd.DataFrame(
        {
            "doc_id": np.asarray(doc_ids, dtype=np.int64),
            "score": np.asarray(scores, dtype=np.float32),
        }
    )
    df = spark.createDataFrame(pdf, _TOPK_SCHEMA)
    # an empty frame plans as an RDD scan (a job to collect); limit(0)
    # folds it into an empty local relation
    return df if len(pdf) else df.limit(0)


def score_buckets(
    left: DataFrame,
    leaf,
    k: int,
    right: DataFrame | None = None,
    fetch_rows: float | None = None,
    right_local=None,
) -> DataFrame:
    """Run a per-bucket scoring leaf — ``leaf(pdf)``, or ``leaf(left,
    right)`` cogrouped on ``bucket`` when ``right`` is given — and pick its
    execution route. Every scorer runs its buckets through here.

    ``fetch_rows`` None: the distributed plan (groupBy("bucket")
    .applyInPandas, or cogroup), returning each bucket's local top-k
    un-merged, for callers that merge across segments themselves.

    Otherwise the caller wants the final top-k, and ``fetch_rows`` is the
    rows the query would fetch (from the searcher's terms dict). When it
    fits LOCAL_ROW_BUDGET and the right side, if any, can be built on the
    driver (``right_local``: a callable returning it as pandas, or None
    when it cannot be within the budget), the query runs on the driver:
    one Arrow toPandas fetches ``left`` (``right_local`` makes at most one
    more fetch), the same leaf runs once per bucket, and the results merge
    by (score desc, doc_id asc) into a local DataFrame — no Python-UDF
    job, no orderBy/limit on top. Else the distributed plan runs with the
    global orderBy/limit (TopDocs#merge)."""
    if fetch_rows is None:
        return _distributed_buckets(left, leaf, right)
    local = fetch_rows <= LOCAL_ROW_BUDGET and (right is None or right_local is not None)
    log.debug(
        "bucket scorer route=%s rows=%s budget=%s",
        "driver" if local else "distributed", fetch_rows, LOCAL_ROW_BUDGET,
    )
    if not local:
        per_bucket = _distributed_buckets(left, leaf, right)
        return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    lpdf = left.toPandas()
    groups = {b: g.reset_index(drop=True) for b, g in lpdf.groupby("bucket")}
    if right is None:
        outs = [leaf(groups[b]) for b in sorted(groups)]
    else:
        rpdf = right_local()
        rgroups = {b: g.reset_index(drop=True) for b, g in rpdf.groupby("bucket")}
        outs = [
            leaf(groups.get(b, lpdf.iloc[:0]), rgroups.get(b, rpdf.iloc[:0]))
            for b in sorted(groups.keys() | rgroups.keys())
        ]
    if not outs:
        return topk_frame(left.sparkSession)
    out = pd.concat(outs, ignore_index=True)
    ids = out["doc_id"].to_numpy(dtype=np.int64)
    scores = out["score"].to_numpy(dtype=np.float32)
    order = np.lexsort((ids, -scores))[:k]
    return topk_frame(left.sparkSession, ids[order], scores[order])


def _distributed_buckets(left: DataFrame, leaf, right: DataFrame | None) -> DataFrame:
    if right is None:
        return left.groupBy("bucket").applyInPandas(leaf, _TOPK_SCHEMA)
    return left.groupBy("bucket").cogroup(right.groupBy("bucket")).applyInPandas(
        leaf, _TOPK_SCHEMA
    )


def build_fq_docs(spark: SparkSession, segment: Segment, fq: str) -> DataFrame:
    """(bucket, doc_id) set of one segment's docs passing an fq predicate.
    Stored-column predicates run join-free against the raw stored-fields
    table; dl/norm_byte predicates fall back to the composed docmap view."""
    from pyspark.errors.exceptions.base import AnalysisException

    bd = segment.stats.bucket_docs
    base = segment.stored_fields(spark)
    try:
        out = base.filter(F.expr(fq))
        out.schema  # force analysis: unknown column -> fall back
    except AnalysisException:
        out = segment.table(spark, "docmap").filter(F.expr(fq))
    return out.select(
        F.floor(F.col("doc_id") / bd).cast("long").alias("bucket"),
        "doc_id",
    )


def score_postings(
    postings: DataFrame,
    idfs: dict[str, np.float32],
    cache: np.ndarray,
    k: int,
    op: str,
    n_query_terms: int,
    avgdl: float,
    use_wand: bool,
    deleted: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    filter_docs: DataFrame | None = None,
    deleted_docs: DataFrame | None = None,
    filter_local: pd.DataFrame | None = None,
    fetch_rows: float | None = None,
) -> DataFrame:
    """Per-bucket scoring plan over a postings table (per-leaf Scorer DAG +
    TopScoreDocCollector analog). Without ``fetch_rows``, returns an
    un-merged DataFrame of local top-k (doc_id, score) rows and the caller
    applies the global merge/limit; with it, the merged top-k on the
    route score_buckets picks (``filter_local``: the driver copy of
    ``filter_docs``, needed for the driver route).
    ``deleted``: optional sorted int64 array of this segment's tombstoned
    doc_ids, masked out BEFORE local top-k selection (liveDocs analog).
    ``after``: optional (score, doc_id) cursor applied before the local
    top-k (searchAfter paging).
    ``filter_docs``: optional (bucket, doc_id) DataFrame of docs passing a
    filter query (fq). Cogrouped with the postings per bucket, so the
    filter set never leaves the executors (the LRUQueryCache bitset
    analog, distributed) — a bucket with no filter rows matches nothing.
    ``deleted_docs``: optional (bucket, doc_id) DataFrame of tombstones —
    the DISTRIBUTED liveDocs path (index/PendingDeletes.java analog): the
    delete set rides the same cogroup slot as fq (tagged ``neg=true``) and
    never touches the driver, so a 100 TB-scale delete backlog stays
    per-(segment, bucket) on the executors."""
    matched = sorted(idfs)

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        return _score_bucket(
            pdf, idfs, cache, k, op, n_query_terms, avgdl, use_wand, deleted, after
        )

    rows = postings.filter(F.col("term").isin(matched))
    if filter_docs is None and deleted_docs is None:
        return score_buckets(rows, score_bucket, k, fetch_rows=fetch_rows)

    has_filter = filter_docs is not None  # closures must not capture the DFs
    right_df = None
    if filter_docs is not None:
        right_df = filter_docs.select(
            "bucket", "doc_id", F.lit(False).alias("neg")
        )
    if deleted_docs is not None:
        neg = deleted_docs.select("bucket", "doc_id", F.lit(True).alias("neg"))
        right_df = neg if right_df is None else right_df.unionByName(neg)

    def score_bucket_filtered(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left):
            return pd.DataFrame(
                {"doc_id": np.array([], dtype=np.int64),
                 "score": np.array([], dtype=np.float32)}
            )
        base = int(left["first_doc"].min())
        allowed_rel = None
        if has_filter:
            allowed_rel = (
                right.loc[~right["neg"], "doc_id"].to_numpy(dtype=np.int64)
                - base
            )
        dele = deleted
        extra = right.loc[right["neg"], "doc_id"].to_numpy(dtype=np.int64)
        if extra.size:
            # absolute ids, sorted — same contract as the `deleted` array;
            # merged INSIDE the kernel so WAND's theta never holds a
            # tombstoned doc (same guarantee as the driver-side path)
            dele = np.sort(extra) if dele is None else np.union1d(dele, extra)
        return _score_bucket(
            left, idfs, cache, k, op, n_query_terms, avgdl, use_wand,
            dele, after, allowed_rel=allowed_rel,
        )

    return score_buckets(
        rows, score_bucket_filtered, k, right_df, fetch_rows,
        _filter_side(filter_local, deleted_docs),
    )


def _filter_side(filter_local: pd.DataFrame | None, deleted_docs):
    """The driver route's cogroup side for an fq: its driver copy tagged
    ``neg=False``. None when it has no driver copy or tombstones ride the
    same side (they stay on the executors)."""
    if filter_local is None or deleted_docs is not None:
        return None
    return lambda: filter_local.assign(neg=False)


def score_query_postings(
    postings: DataFrame,
    q,
    idfs: dict[str, np.float32],
    cache: np.ndarray,
    k: int,
    deleted: np.ndarray | None = None,
    positions: DataFrame | None = None,
    phrase_idfs: dict | None = None,
    caches: dict | None = None,
    phrase_caches: dict | None = None,
    filter_docs: DataFrame | None = None,
    syn_idfs: dict | None = None,
    deleted_docs: DataFrame | None = None,
    filter_local: pd.DataFrame | None = None,
    fetch_rows: float | None = None,
) -> DataFrame:
    """Per-bucket Boolean-tree scoring plan (Boolean2ScorerSupplier analog).
    ``filter_docs``: optional (bucket, doc_id) fq set — same semantics as
    score_postings: mask-only, stats untouched. Without phrases it rides
    the free cogroup slot; with phrases its rows join the positions side
    tagged with the impossible term '' and are split back in the leaf.
    ``deleted_docs``: optional (bucket, doc_id) tombstone set — distributed
    liveDocs (PendingDeletes analog): rides the cogroup slot tagged
    ``neg=true`` (or, with phrases, the positions side tagged with the
    impossible term '\\x00') so the delete backlog never reaches the driver.
    ``caches``/``phrase_caches``: optional per-term / per-Phrase norm-cache
    overrides (FieldedSearcher: each field has its own avgdl, so tagged
    terms score with their field's cache; default = ``cache``).
    Same shape as score_postings: one leaf per bucket, local top-k out,
    caller merges globally — or, with ``fetch_rows``, the merged top-k on
    the route score_buckets picks (``filter_local`` as in score_postings).

    Phrase clauses (operators/query.py#Phrase — PhraseQuery as a
    BooleanClause, search/PhraseWeight.java): pass the segment's
    ``positions`` table and ``phrase_idfs`` (Phrase node -> summed idf,
    float32; phrases with any absent term are simply omitted and match
    nothing). The plan becomes a COGROUP of postings and positions on
    ``bucket`` — both tables share the build-time doc-space bucketing, so
    each leaf still sees a self-contained doc range and no shuffle joins
    appear anywhere; phrase freqs are computed by the same vectorized
    bucket kernel as phrase_topk (phrase.py#bucket_phrase_freqs)."""
    from .phrase import bucket_phrase_freqs, phrase_offsets
    from .query import eval_node

    matched = sorted(idfs)
    phrase_idfs = phrase_idfs or {}
    # per-phrase leg layout + distinct terms, computed once driver-side
    phrase_meta = {
        p: (phrase_offsets(p.terms), sorted(set(p.terms))) for p in phrase_idfs
    }
    syn_idfs = syn_idfs or {}
    # Synonym leaves (query.py#Synonym): member terms must be scanned even
    # when they are not Term leaves; the kernel keeps their raw (tf, norm)
    # dense arrays and blends them into one pseudo-term score per node.
    syn_meta = {s: sorted(set(s.terms)) for s in syn_idfs}
    syn_members = frozenset(t for ms in syn_meta.values() for t in ms)
    has_filter = filter_docs is not None  # closures must not capture the DFs
    has_del = deleted_docs is not None

    def term_dense(pdf: pd.DataFrame, base: int, span: int):
        tscores: dict[str, np.ndarray] = {}
        tmasks: dict[str, np.ndarray] = {}
        traw: dict[str, tuple] = {}
        for t, g in pdf.groupby("term", sort=False):
            decoded = [_decode_block(row) for row in g.itertuples()]
            if t in idfs:
                cch = caches.get(t, cache) if caches else cache
                sarr = np.zeros(span, dtype=np.float32)
                marr = np.zeros(span, dtype=bool)
                for ids, freqs, norms in decoded:
                    rel = ids - base
                    sarr[rel] = bm25.score_block(freqs, norms, idfs[t], cch)
                    marr[rel] = True
                tscores[t] = sarr
                tmasks[t] = marr
            if t in syn_members:
                farr = np.zeros(span, dtype=np.float32)
                narr = np.zeros(span, dtype=np.uint8)
                for ids, freqs, norms in decoded:
                    rel = ids - base
                    farr[rel] = freqs
                    narr[rel] = norms
                traw[t] = (farr, narr)
        return tscores, tmasks, traw

    def syn_dense(traw: dict, span: int):
        """Blend member (tf, norm) arrays per Synonym node: freq = sum of
        member tfs, one BM25 saturation at the blended idf (SynonymScorer)."""
        sscores: dict = {}
        smasks: dict = {}
        for node, members in syn_meta.items():
            fsum = np.zeros(span, dtype=np.float32)
            narr = np.zeros(span, dtype=np.uint8)
            m = np.zeros(span, dtype=bool)
            for t in members:
                fr = traw.get(t)
                if fr is None:
                    continue
                fsum += fr[0]
                np.maximum(narr, fr[1], out=narr)
                m |= fr[0] > 0
            sarr = np.zeros(span, dtype=np.float32)
            nz = np.nonzero(m)[0]
            if nz.size:
                cch = caches.get(members[0], cache) if caches else cache
                sarr[nz] = bm25.score_block(
                    fsum[nz], narr[nz], syn_idfs[node], cch
                )
            sscores[node] = sarr
            smasks[node] = m
        return sscores, smasks

    def local_topk(
        mask: np.ndarray,
        score: np.ndarray,
        base: int,
        allowed_rel: np.ndarray | None = None,
        rel_deleted: np.ndarray | None = None,
    ) -> pd.DataFrame:
        if allowed_rel is not None:
            allow = np.zeros(mask.size, dtype=bool)
            ok = allowed_rel[(allowed_rel >= 0) & (allowed_rel < mask.size)]
            allow[ok] = True
            mask = mask & allow
        if rel_deleted is not None and rel_deleted.size:
            okd = rel_deleted[(rel_deleted >= 0) & (rel_deleted < mask.size)]
            mask[okd] = False
        if deleted is not None and deleted.size:
            span = mask.size
            rel_del = deleted[(deleted >= base) & (deleted < base + span)] - base
            mask[rel_del] = False
        nz = np.nonzero(mask)[0]
        if nz.size == 0:
            return pd.DataFrame(
                {"doc_id": np.array([], dtype=np.int64),
                 "score": np.array([], dtype=np.float32)}
            )
        scores = score[nz]
        order = np.lexsort((nz, -scores))[: min(k, nz.size)]
        return pd.DataFrame(
            {"doc_id": (nz[order] + base).astype(np.int64),
             "score": scores[order]}
        )

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        base = int(pdf["first_doc"].min())
        span = int(pdf["last_doc"].max()) - base + 1
        tscores, tmasks, traw = term_dense(pdf, base, span)
        sscores, smasks = syn_dense(traw, span)
        mask, score = eval_node(
            q, tscores, tmasks, span, sscores=sscores, smasks=smasks
        )
        return local_topk(mask, score, base)

    def score_bucket_cogrouped(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # bucket doc range from whichever side has rows (a pure-phrase tree
        # has no Term-leaf postings; a term-only bucket has no positions)
        lo, hi = [], []
        if len(left):
            lo.append(int(left["first_doc"].min()))
            hi.append(int(left["last_doc"].max()))
        if len(right):
            lo.append(int(right["doc_id"].min()))
            hi.append(int(right["doc_id"].max()))
        if not lo:
            return pd.DataFrame(
                {"doc_id": np.array([], dtype=np.int64),
                 "score": np.array([], dtype=np.float32)}
            )
        base = min(lo)
        span = max(hi) - base + 1
        rel_extra_del = None
        if has_del:
            dmask = right["term"] == "\x00"
            rel_extra_del = (
                right.loc[dmask, "doc_id"].to_numpy(dtype=np.int64) - base
            )
            right = right.loc[~dmask]
        allowed_rel = None
        if has_filter:
            fmask = right["term"] == ""
            allowed_rel = right.loc[fmask, "doc_id"].to_numpy(dtype=np.int64) - base
            right = right.loc[~fmask]
        tscores, tmasks, traw = term_dense(left, base, span)
        sscores, smasks = syn_dense(traw, span)
        pscores: dict = {}
        pmasks: dict = {}
        for p, (offs, dterms) in phrase_meta.items():
            sarr = np.zeros(span, dtype=np.float32)
            marr = np.zeros(span, dtype=bool)
            if len(right):
                sub = right[right["term"].isin(dterms)]
                ids, freqs, norms = bucket_phrase_freqs(sub, offs, p.slop)
                if ids.size:
                    pcch = phrase_caches.get(p, cache) if phrase_caches else cache
                    f = freqs.astype(np.float32)
                    rel = ids - base
                    # float32 op order pinned to phrase.py/_phrase_score_bucket
                    sarr[rel] = (
                        phrase_idfs[p] * (f / (f + pcch[norms]))
                    ).astype(np.float32)
                    marr[rel] = True
            pscores[p] = sarr
            pmasks[p] = marr
        mask, score = eval_node(
            q, tscores, tmasks, span, pscores, pmasks, sscores, smasks
        )
        return local_topk(mask, score, base, allowed_rel, rel_extra_del)

    def score_bucket_filtered(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # no phrases: the free cogroup slot carries the fq / tombstone sets
        if not len(left):
            return pd.DataFrame(
                {"doc_id": np.array([], dtype=np.int64),
                 "score": np.array([], dtype=np.float32)}
            )
        base = int(left["first_doc"].min())
        span = int(left["last_doc"].max()) - base + 1
        tscores, tmasks, traw = term_dense(left, base, span)
        sscores, smasks = syn_dense(traw, span)
        mask, score = eval_node(
            q, tscores, tmasks, span, sscores=sscores, smasks=smasks
        )
        allowed_rel = None
        if has_filter:
            allowed_rel = (
                right.loc[~right["neg"], "doc_id"].to_numpy(dtype=np.int64)
                - base
            )
        rel_extra_del = None
        if has_del:
            rel_extra_del = (
                right.loc[right["neg"], "doc_id"].to_numpy(dtype=np.int64)
                - base
            )
        return local_topk(mask, score, base, allowed_rel, rel_extra_del)

    scan_terms = sorted(set(matched) | set(syn_members))
    rows = postings.filter(F.col("term").isin(scan_terms))
    if positions is None or not phrase_meta:
        if filter_docs is None and deleted_docs is None:
            return score_buckets(rows, score_bucket, k, fetch_rows=fetch_rows)
        right_df = None
        if filter_docs is not None:
            right_df = filter_docs.select(
                "bucket", "doc_id", F.lit(False).alias("neg")
            )
        if deleted_docs is not None:
            negs = deleted_docs.select(
                "bucket", "doc_id", F.lit(True).alias("neg")
            )
            right_df = negs if right_df is None else right_df.unionByName(negs)
        return score_buckets(
            rows, score_bucket_filtered, k, right_df, fetch_rows,
            _filter_side(filter_local, deleted_docs),
        )
    pos_terms = sorted({t for _, dterms in phrase_meta.values() for t in dterms})
    posrows = positions.filter(F.col("term").isin(pos_terms))
    has_graph = "end_bin" in positions.columns  # synonym-graph index

    def _markers(docs: DataFrame, tag: str) -> DataFrame:
        cols = [
            F.lit(tag).alias("term"),
            F.col("bucket"),
            F.col("doc_id"),
            F.lit(0).alias("norm_byte"),
            F.lit(None).cast("binary").alias("pos_bin"),
        ]
        if has_graph:
            cols.append(F.lit(None).cast("binary").alias("end_bin"))
        return docs.select(*cols)

    right_df = posrows
    if filter_docs is not None or deleted_docs is not None:
        posrows = posrows.select(
            "term", "bucket", "doc_id", "norm_byte", "pos_bin",
            *(["end_bin"] if has_graph else []),
        )
        right_df = posrows
        if filter_docs is not None:
            right_df = right_df.unionByName(_markers(filter_docs, ""))
        if deleted_docs is not None:
            right_df = right_df.unionByName(_markers(deleted_docs, "\x00"))

    def right_local() -> pd.DataFrame:
        # the positions rows fetched, the fq markers from the driver copy
        pos = posrows.toPandas()
        if filter_docs is None:
            return pos
        marks = filter_local.assign(term="", norm_byte=0, pos_bin=None)
        if has_graph:
            marks = marks.assign(end_bin=None)
        return pd.concat([pos, marks[pos.columns]], ignore_index=True)

    can_local = deleted_docs is None and (filter_docs is None or filter_local is not None)
    return score_buckets(
        rows, score_bucket_cogrouped, k, right_df, fetch_rows,
        right_local if can_local else None,
    )


def _decode_bins(doc_bin, freq_bin, norm_bin) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    ids = delta_decode(unpack_ints(doc_bin)).astype(np.int64)
    freqs = unpack_ints(freq_bin)
    norms = np.frombuffer(norm_bin, dtype=np.uint8)
    return ids, freqs, norms


def _decode_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    return _decode_bins(row.doc_bin, row.freq_bin, row.norm_bin)


def _term_arrays(g: pd.DataFrame, base: int) -> dict:
    """One-time pandas->numpy extraction for a term's blocks in a bucket,
    sorted by first_doc (block ranges are disjoint), so the scoring loops
    touch no pandas objects."""
    firsts = g["first_doc"].to_numpy() - base
    order = np.argsort(firsts, kind="stable")
    docs = g["doc_bin"].to_list()
    freqs = g["freq_bin"].to_list()
    norms = g["norm_bin"].to_list()
    return {
        "first": firsts[order],
        "last": g["last_doc"].to_numpy()[order] - base,
        "maxf": g["max_freq"].to_numpy()[order],
        "mind": g["min_dl"].to_numpy()[order],
        "doc": [docs[i] for i in order],
        "freq": [freqs[i] for i in order],
        "norm": [norms[i] for i in order],
        "ndocs": int(g["n_docs"].sum()),
    }


def _score_bucket(
    pdf: pd.DataFrame,
    idfs: dict[str, np.float32],
    cache: np.ndarray,
    k: int,
    op: str,
    n_query_terms: int,
    avgdl: float,
    use_wand: bool,
    deleted: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    allowed_rel: np.ndarray | None = None,
) -> pd.DataFrame:
    """Score one doc-space bucket (a 'leaf'). Returns its local top-k.
    ``allowed_rel``: optional bucket-relative doc ids passing a filter
    query (fq) — docs outside it are treated exactly like tombstones
    (never match, never hold a pruning-threshold slot; corpus stats are
    untouched, matching Solr's fq semantics)."""
    base = int(pdf["first_doc"].min())
    span = int(pdf["last_doc"].max()) - base + 1
    acc = np.zeros(span, dtype=np.float32)
    hit = np.zeros(span, dtype=np.int16)
    if deleted is not None and deleted.size:
        rel_deleted = deleted[(deleted >= base) & (deleted < base + span)] - base
    else:
        rel_deleted = np.array([], dtype=np.int64)
    if allowed_rel is not None:
        # fq mask -> excluded rel ids, merged into the tombstone set
        allow_mask = np.zeros(span, dtype=bool)
        ok = allowed_rel[(allowed_rel >= 0) & (allowed_rel < span)]
        allow_mask[ok] = True
        excluded = np.nonzero(~allow_mask)[0]
        rel_deleted = np.union1d(rel_deleted, excluded)
    terms_sorted = sorted(idfs)  # lexicographic accumulation order (pinned)
    by_term = {t: g for t, g in pdf.groupby("term", sort=False)}

    decoded: dict[str, list[tuple[np.ndarray, np.ndarray]]] = {t: [] for t in terms_sorted}

    if not use_wand:
        for t in terms_sorted:
            g = by_term.get(t)
            if g is None:
                continue
            ta = _term_arrays(g, base)
            for j in range(len(ta["first"])):
                rel, freqs, norms = _decode_bins(
                    ta["doc"][j], ta["freq"][j], ta["norm"][j]
                )
                decoded[t].append(
                    (rel - base, bm25.score_block(freqs, norms, idfs[t], cache))
                )
    elif op == "and":
        # ---- BlockMaxConjunction analog (search/BlockMaxConjunctionScorer
        # .java): lead with the term that has the fewest postings in this
        # bucket; every other term only decodes blocks whose [first_doc,
        # last_doc] range contains a surviving candidate. Exact: a doc in
        # the final conjunction is a candidate at every stage, so each of
        # its blocks is decoded for every term — hit counts stay complete.
        # (Lucene's score-based minCompetitiveScore feedback is doc-at-a-
        # time; in this term-at-a-time columnar layout the candidate range
        # skip is the safe equivalent — partial-sum thresholds are NOT
        # valid lower bounds under AND because a partially-scored doc can
        # still fail the conjunction.)
        if any(by_term.get(t) is None for t in terms_sorted):
            return pd.DataFrame(
                {"doc_id": np.array([], dtype=np.int64),
                 "score": np.array([], dtype=np.float32)}
            )
        arrs = {t: _term_arrays(by_term[t], base) for t in terms_sorted}
        by_rarity = sorted(terms_sorted, key=lambda t: int(arrs[t]["ndocs"]))
        cand: np.ndarray | None = None  # sorted rel doc ids still alive
        for t in by_rarity:
            ta = arrs[t]
            if cand is None:
                keep_idx = range(len(ta["first"]))
            else:
                # vectorized skip decision over ALL blocks of this term:
                # keep a block iff any surviving candidate falls in range
                a = np.searchsorted(cand, ta["first"], "left")
                b = np.searchsorted(cand, ta["last"], "right")
                keep_idx = np.nonzero(a < b)[0]
            seen = []
            for j in keep_idx:
                rel, freqs, norms = _decode_bins(
                    ta["doc"][j], ta["freq"][j], ta["norm"][j]
                )
                rel = rel - base
                decoded[t].append((rel, bm25.score_block(freqs, norms, idfs[t], cache)))
                seen.append(rel)
            if not seen:
                cand = np.array([], dtype=np.int64)
            else:
                got = np.concatenate(seen)
                got.sort()
                cand = got if cand is None else cand[np.isin(cand, got, assume_unique=True)]
            if cand.size == 0:
                return pd.DataFrame(
                    {"doc_id": np.array([], dtype=np.int64),
                     "score": np.array([], dtype=np.float32)}
                )
    else:
        # ---- block-max WAND (columnar variant) -----------------------------
        # Upper bounds in float64 with a safety factor so float32 scoring can
        # never exceed them; process terms by descending bound; a block is
        # decoded only if (max partial in its doc range) + (its bound) +
        # (bound of all unprocessed terms) can reach the current threshold
        # theta = k-th largest partial accumulated so far. Survivor blocks are
        # re-accumulated afterwards in lexicographic order (exact float32).
        # Skip decisions are vectorized per term: per-block max of the
        # partial array via np.maximum.reduceat over the (disjoint, sorted)
        # block ranges, one comparison for all blocks at once.
        SAFETY = 1.0 + 1e-5
        term_rows = []
        for t in terms_sorted:
            g = by_term.get(t)
            if g is None:
                continue
            ta = _term_arrays(g, base)
            bub = (
                float(idfs[t])
                * (ta["maxf"] /
                   (ta["maxf"]
                    + bm25.K1 * (1 - bm25.B + bm25.B * ta["mind"] / max(avgdl, 1e-9))))
            ) * SAFETY
            term_rows.append((t, ta, bub, float(bub.max())))
        term_rows.sort(key=lambda x: -x[3])
        ubs = [x[3] for x in term_rows]
        suffix = np.concatenate([np.cumsum(ubs[::-1])[::-1], [0.0]])
        # span+1 so maximum.reduceat can take last_doc+1 == span boundaries
        wacc = np.zeros(span + 1, dtype=np.float64)  # pruning-side partials
        # tombstoned docs must never hold a top-k slot in the pruning
        # threshold theta, else a live doc could be pruned wrongly
        wacc[rel_deleted] = -np.inf
        for i, (t, ta, bub, _) in enumerate(term_rows):
            if span > 2 * k:
                theta = np.partition(wacc[:span], span - k)[span - k]
            else:
                theta = 0.0
            rem = suffix[i + 1]
            if theta > 0.0:
                idx = np.empty(2 * len(ta["first"]), dtype=np.int64)
                idx[0::2] = ta["first"]
                idx[1::2] = ta["last"] + 1
                block_max = np.maximum.reduceat(wacc, idx)[0::2]
                keep_idx = np.nonzero(block_max + bub + rem >= theta)[0]
            else:
                keep_idx = range(len(ta["first"]))
            for j in keep_idx:
                rel, freqs, norms = _decode_bins(
                    ta["doc"][j], ta["freq"][j], ta["norm"][j]
                )
                rel = rel - base
                sc = bm25.score_block(freqs, norms, idfs[t], cache)
                decoded[t].append((rel, sc))
                wacc[rel] += sc.astype(np.float64)

    # ---- final accumulation: lexicographic term order, float32 ------------
    for t in terms_sorted:
        for rel, sc in decoded[t]:
            acc[rel] += sc  # float32 in-place
            hit[rel] += 1

    if op == "and":
        mask = hit == n_query_terms
    else:
        mask = hit > 0
    mask[rel_deleted] = False  # liveDocs exclusion (stats untouched, as Lucene)
    nz = np.nonzero(mask)[0]
    if nz.size == 0:
        return pd.DataFrame({"doc_id": np.array([], dtype=np.int64), "score": np.array([], dtype=np.float32)})
    scores = acc[nz]
    if after is not None:
        # searchAfter cursor: keep only hits strictly after (score, doc_id)
        # in (score desc, doc_id asc) order — BEFORE the local top-k cap
        a_s, a_d = np.float32(after[0]), int(after[1])
        keep = (scores < a_s) | ((scores == a_s) & (nz + base > a_d))
        nz, scores = nz[keep], scores[keep]
        if nz.size == 0:
            return pd.DataFrame(
                {"doc_id": np.array([], dtype=np.int64),
                 "score": np.array([], dtype=np.float32)}
            )
    kk = min(k, nz.size)
    # top-k by (-score, doc_id): lexsort on (doc_id asc) then stable by -score
    order = np.lexsort((nz, -scores))[:kk]
    return pd.DataFrame(
        {"doc_id": (nz[order] + base).astype(np.int64), "score": scores[order]}
    )


def _score_bucket_sim(
    pdf: pd.DataFrame,
    states: dict[str, dict],
    sim,
    k: int,
    op: str,
    n_query_terms: int,
    deleted=None,
) -> pd.DataFrame:
    """Per-bucket scoring under a pluggable Similarity (exhaustive).
    Same accumulation contract as the BM25 path: float32, lexicographic
    term order, tie-break (score desc, doc_id asc)."""
    base = int(pdf["first_doc"].min())
    span = int(pdf["last_doc"].max()) - base + 1
    acc = np.zeros(span, dtype=np.float32)
    hit = np.zeros(span, dtype=np.int16)
    by_term = {t: g for t, g in pdf.groupby("term", sort=False)}
    for t in sorted(states):
        g = by_term.get(t)
        if g is None:
            continue
        st = states[t]
        for row in g.itertuples():
            ids, freqs, norms = _decode_block(row)
            rel = ids - base
            acc[rel] += sim.score_block(freqs, norms, st)
            hit[rel] += 1
    mask = (hit == n_query_terms) if op == "and" else (hit > 0)
    if deleted is not None and len(deleted):
        dele = np.asarray(deleted, dtype=np.int64)
        rel_del = dele[(dele >= base) & (dele < base + span)] - base
        mask[rel_del] = False  # liveDocs exclusion
    nz = np.nonzero(mask)[0]
    if nz.size == 0:
        return pd.DataFrame(
            {"doc_id": np.array([], dtype=np.int64), "score": np.array([], dtype=np.float32)}
        )
    scores = acc[nz]
    order = np.lexsort((nz, -scores))[: min(k, nz.size)]
    return pd.DataFrame(
        {"doc_id": (nz[order] + base).astype(np.int64), "score": scores[order]}
    )


class MultiSearcher:
    """Search across a catalog of segments — the Solr distributed-select
    analog (SURVEY.md §3.2: QueryComponent#distributedProcess + mergeIds)
    and Lucene's MultiReader/TopDocs#merge.

    Semantics pinned to Lucene:
    - corpus stats are GLOBAL: N = sum of segment docCounts, avgdl from the
      summed totals, df(t) = sum of per-segment df — the ExactStatsCache
      analog, free here because the terms tables are just unioned+summed.
    - deleted docs are EXCLUDED from results but still counted in stats
      until a merge rewrites the segment (liveDocs semantics).
    - merge tie-break: score desc, then global doc order = (segment order,
      local doc_id) — Lucene's leaf-ordered docBase + docID.

    Result columns: (segment_id, doc_id, gdoc_id, score) where gdoc_id =
    segment docBase + local doc_id.
    """

    def __init__(self, spark: SparkSession, segments: list[Segment], deletes: DataFrame | None = None):
        assert segments, "empty segment list"
        self.spark = spark
        self.segments = segments
        n_docs = sum(s.stats.n_docs for s in segments)
        sum_ttf = sum(s.stats.sum_ttf for s in segments)
        self.n_docs = n_docs
        self.avgdl = sum_ttf / n_docs if n_docs else 0.0
        self._cache = bm25.norm_cache(self.avgdl)
        self.doc_base = {}
        acc = 0
        for s in segments:
            self.doc_base[s.segment_id] = acc
            acc += s.stats.n_docs
        # Tombstones stay a DataFrame end-to-end (PendingDeletes analog,
        # distributed): per-(segment, bucket) slices are cogrouped into the
        # scorers exactly like fq_docs — never collected to the driver, so
        # a 100 TB-scale delete backlog costs O(1) driver memory. isEmpty()
        # is a limit-1 probe so delete-free catalogs skip the cogroup
        # entirely (the common fast path).
        self._deletes: DataFrame | None = None
        if deletes is not None and not deletes.isEmpty():
            self._deletes = deletes
        # shards.tolerant bookkeeping (set by from_catalog(tolerant=True))
        self.skipped: list[tuple[str, str]] = []
        self.partial_results = False
        # per-(segment, fq) materialized DocSets (the Searcher FilterCache
        # analog): repeated filters skip the stored-fields scan per query
        self.filter_cache = FilterCache()

    def _fq_docs(self, s: Segment, fq: str) -> DataFrame:
        return self.filter_cache.get_or_build(
            (s.segment_id, fq), lambda: build_fq_docs(self.spark, s, fq)
        )

    def _deleted_docs(self, s: Segment) -> DataFrame | None:
        """This segment's tombstones as a (bucket, doc_id) DataFrame sharing
        the build-time doc-space bucketing, or None when the catalog has no
        deletes at all."""
        if self._deletes is None:
            return None
        bd = s.stats.bucket_docs
        return self._deletes.filter(
            F.col("segment_id") == s.segment_id
        ).select(
            F.floor(F.col("doc_id") / bd).cast("long").alias("bucket"),
            "doc_id",
        )

    @classmethod
    def from_catalog(
        cls, spark: SparkSession, catalog, tolerant: bool = False
    ) -> "MultiSearcher":
        """``tolerant`` is solr's shards.tolerant=true
        (HttpShardHandler/SearchHandler: a failed shard is skipped and the
        response carries partialResults=true instead of propagating the
        error; the default re-raises like shards.tolerant=false). A
        segment "fails" when a required table's completeness marker is
        missing — the per-table _SUCCESS marker is this engine's analog
        of the reference's per-file checksum validation at reader-open
        (index/SegmentInfos.java read path). Skipped segments are listed
        on ``.skipped`` (segment_id, reason) and ``.partial_results`` is
        set — surfaced, not logged."""
        segs = catalog.segments()
        if not tolerant:
            return cls(spark, segs, deletes=catalog.deletes(spark))
        ok: list[Segment] = []
        skipped: list[tuple[str, str]] = []
        for s in segs:
            reason = cls._validate_segment(s)
            if reason is None:
                ok.append(s)
            else:
                skipped.append((s.segment_id, reason))
        if not ok:
            raise RuntimeError(
                "shards.tolerant: every segment failed validation: "
                + "; ".join(f"{sid}: {r}" for sid, r in skipped)
            )
        ms = cls(spark, ok, deletes=catalog.deletes(spark))
        ms.skipped = skipped
        ms.partial_results = bool(skipped)
        return ms

    @staticmethod
    def _validate_segment(s: Segment) -> str | None:
        """None when servable; else the skip reason. In-memory (NRT)
        segments are live by construction."""
        for t in ("terms", "postings", "docmap"):
            if not s.has_table(t):
                return f"missing table {t!r}"
        return None

    def _all_terms(self) -> DataFrame:
        """Every segment's terms dict as ONE scan: all on-disk segments go
        through a single multi-path parquet read (one FileScan node — plan
        size constant in segment count, the index/MultiTermsEnum.java merged
        enum), with only in-memory (NRT, unflushed) segments unioned on top.
        At a thousand segments this keeps plan compilation O(1) instead of
        O(segments) union nodes."""
        disk_paths = []
        mem_parts = []
        for s in self.segments:
            if "terms" in s.dfs or not s.path:
                mem_parts.append(
                    s.table(self.spark, "terms").select("term", "df")
                )
            else:
                disk_paths.append(os.path.join(s.path, "terms"))
        parts = []
        if disk_paths:
            parts.append(
                self.spark.read.parquet(*disk_paths).select("term", "df")
            )
        parts.extend(mem_parts)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u

    def attach_bloom(self, bloom=None, fp: float = 0.01):
        """Catalog-level terms bloom (functions/bloom.py): one filter over
        the UNION of the segments' terms; all-absent queries then skip the
        scatter-gather stats pre-pass and every per-segment job."""
        if bloom is None:
            from ..functions.bloom import TermBloom

            class _U:  # duck-typed segment view over the merged terms dict
                stats = type("S", (), {"n_terms": 0})()

                def table(_self, spark, name):
                    assert name == "terms"
                    return self._all_terms()

            bloom = TermBloom.build(self.spark, _U(), fp=fp)
        self.bloom = bloom
        return bloom

    def term_stats(self, terms: list[str]) -> dict[str, TermStats]:
        """Global df per query term: one grouped read over the merged terms
        dict, summed — a tiny scatter-gather pre-pass (phase 0)."""
        if not terms:
            return {}
        bloom = getattr(self, "bloom", None)
        if bloom is not None:
            terms = [t for t in terms if bloom.might_contain(t)]
            if not terms:  # no false negatives -> absent in EVERY segment
                return {}
        u = self._all_terms().filter(F.col("term").isin(terms))
        out = {}
        for r in u.groupBy("term").agg(F.sum("df").alias("df")).collect():
            out[r["term"]] = TermStats(
                term=r["term"], df=int(r["df"]), idf=bm25.idf(self.n_docs, int(r["df"]))
            )
        return out

    def topk(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "wand",
        op: str = "or",
        fq: str | None = None,
    ) -> DataFrame:
        q_terms = sorted(set(tokenize_text(query_text)))
        stats = self.term_stats(q_terms)
        matched = sorted(stats)
        if not matched or (op == "and" and len(matched) < len(q_terms)):
            return self.spark.createDataFrame(
                [], "segment_id string, doc_id long, gdoc_id long, score float"
            )
        idfs = {t: np.float32(stats[t].idf) for t in matched}
        use_wand = mode == "wand"  # "and" routes to the BlockMaxConjunction branch

        per_seg = []
        for s in self.segments:
            scored = score_postings(
                s.table(self.spark, "postings"),
                idfs,
                self._cache,
                k,
                op,
                len(q_terms),
                self.avgdl,
                use_wand,
                deleted_docs=self._deleted_docs(s),
                filter_docs=self._fq_docs(s, fq) if fq else None,
            )
            base = self.doc_base[s.segment_id]
            per_seg.append(
                scored.select(
                    F.lit(s.segment_id).alias("segment_id"),
                    "doc_id",
                    (F.col("doc_id") + F.lit(base)).alias("gdoc_id"),
                    "score",
                )
            )
        u = per_seg[0]
        for p in per_seg[1:]:
            u = u.unionByName(p)
        return u.orderBy(F.desc("score"), F.asc("gdoc_id")).limit(k)

    def topk_query(self, q, k: int = 10, fq: str | None = None) -> DataFrame:
        """Boolean-tree (and Phrase-clause) search across the catalog —
        the distributed IndexSearcher#search(BooleanQuery) analog. Global
        stats (summed df / N / avgdl) feed EVERY segment's leaf scorer, so
        scores are identical to a single merged index (ExactStatsCache);
        per-segment liveDocs excluded; merge tie-break (score desc,
        gdoc_id asc) as in topk."""
        from .query import (
            collect_fields,
            collect_phrases,
            collect_synonyms,
            collect_term_leaves,
            collect_terms,
            rewrite,
        )

        if collect_fields(q) - {None}:
            # same guard as Searcher: a field-scoped leaf would silently
            # score against the single indexed text field (wrong field,
            # wrong results) — refuse like FieldedSearcher expects
            raise ValueError(
                "field-scoped query on a single-field MultiSearcher — "
                "use operators.fields.FieldedSearcher"
            )
        q = rewrite(q)
        phrases = collect_phrases(q)
        stats = self.term_stats(sorted(collect_terms(q)))
        out_schema = "segment_id string, doc_id long, gdoc_id long, score float"
        if not stats:
            return self.spark.createDataFrame([], out_schema)
        leaf_terms = collect_term_leaves(q)
        idfs = {
            t: np.float32(stats[t].idf) for t in sorted(stats) if t in leaf_terms
        }
        # blended synonym idf from GLOBAL dfs — identical to a merged index
        syn_idfs: dict = {}
        for sq in set(collect_synonyms(q)):
            dfs = [stats[t].df for t in set(sq.terms) if t in stats]
            if dfs:
                syn_idfs[sq] = np.float32(bm25.idf(self.n_docs, max(dfs)))
        phrase_idfs: dict = {}
        if phrases:
            assert all(s.has_table("positions") for s in self.segments), (
                "phrase clauses need positional indexes in every segment"
            )
            for p in set(phrases):
                if all(t in stats for t in p.terms):
                    phrase_idfs[p] = np.float32(
                        sum(stats[t].idf for t in p.terms)
                    )
        per_seg = []
        for s in self.segments:
            positions = (
                s.table(self.spark, "positions") if phrase_idfs else None
            )
            scored = score_query_postings(
                s.table(self.spark, "postings"),
                q,
                idfs,
                self._cache,
                k,
                deleted_docs=self._deleted_docs(s),
                positions=positions,
                phrase_idfs=phrase_idfs,
                filter_docs=self._fq_docs(s, fq) if fq else None,
                syn_idfs=syn_idfs,
            )
            base = self.doc_base[s.segment_id]
            per_seg.append(
                scored.select(
                    F.lit(s.segment_id).alias("segment_id"),
                    "doc_id",
                    (F.col("doc_id") + F.lit(base)).alias("gdoc_id"),
                    "score",
                )
            )
        u = per_seg[0]
        for p in per_seg[1:]:
            u = u.unionByName(p)
        return u.orderBy(F.desc("score"), F.asc("gdoc_id")).limit(k)

    def expand_terms(
        self,
        prefix: str | None = None,
        wildcard: str | None = None,
        fuzzy: tuple[str, int] | None = None,
        regexp: str | None = None,
        term_range: tuple[str | None, str | None] | None = None,
        max_expansions: int = 1024,
    ) -> list[str]:
        """Multi-segment MultiTermQuery rewrite: the same automaton-walk
        predicates as Searcher.expand_terms, over the UNION of every
        segment's terms dictionary (index/MultiTermsEnum.java's merged
        enum). Predicates push into the single multi-path scan; the
        ``max_expansions`` cap applies to the merged, distinct result."""
        u = self._all_terms().select("term")
        u = _apply_term_patterns(
            u, prefix, wildcard, fuzzy, regexp, term_range
        ).distinct()
        return [
            r["term"] for r in u.orderBy("term").limit(max_expansions).collect()
        ]

    def matchall_topk(
        self, k: int = 10, fq: str | None = None, boost: float = 1.0
    ) -> DataFrame:
        """MatchAllDocsQuery across the catalog: every LIVE doc, constant
        score = boost, global doc order (docBase + local id); fq composes
        per segment like every scored path. Shared by the classic-parser
        `*:*` route and the CLI's local-params branch."""
        parts = []
        for s in self.segments:
            base = self.doc_base[s.segment_id]
            dm = s.stored_fields(self.spark).select("doc_id")
            dd = self._deleted_docs(s)
            if dd is not None:
                dm = dm.join(dd.select("doc_id"), "doc_id", "left_anti")
            if fq:
                dm = dm.join(
                    self._fq_docs(s, fq).select("doc_id"),
                    "doc_id",
                    "left_semi",
                )
            parts.append(
                dm.select(
                    F.lit(s.segment_id).alias("segment_id"),
                    "doc_id",
                    (F.col("doc_id") + F.lit(base)).alias("gdoc_id"),
                    F.lit(float(boost)).cast("float").alias("score"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy(F.asc("gdoc_id")).limit(k)

    def search(self, query_string: str, k: int = 10, fq: str | None = None) -> DataFrame:
        """Classic query string against the whole catalog — mirrors
        Searcher.search: multi-term leaves rewrite against the merged
        terms dict, pure phrases become a Phrase clause of the tree
        (MultiSearcher.topk_query scores Phrase leaves with global stats,
        bit-identical to a single merged segment)."""
        from ..plans.qparser import _contains_tuple, parse, resolve_multi_terms
        from .query import Phrase

        node = parse(query_string)
        if isinstance(node, tuple) and node[0] == "matchall":
            return self.matchall_topk(k=k, fq=fq, boost=float(node[1]))
        if isinstance(node, tuple) and node[0] == "phrase":
            node = Phrase(tuple(node[1]), node[2], node[3], node[4])
        else:
            node = resolve_multi_terms(node, self)
            assert not _contains_tuple(node), "unresolved leaf after rewrite"
        return self.topk_query(node, k=k, fq=fq)


def exhaustive_scores(searcher: Searcher, query_text: str, op: str = "or") -> DataFrame:
    """All matching docs with scores (no top-k) — for tests/debug."""
    q_terms = sorted(set(tokenize_text(query_text)))
    stats = searcher.term_stats(q_terms)
    matched = sorted(stats)
    if not matched or (op == "and" and len(matched) < len(q_terms)):
        # conjunction with an absent query term matches nothing — mirror
        # topk()'s early return so this debug oracle agrees with it
        return topk_frame(searcher.spark)
    idfs = {t: np.float32(stats[t].idf) for t in matched}
    cache = searcher._cache
    big_k = searcher.stats.n_docs  # no truncation

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        return _score_bucket(pdf, idfs, cache, big_k, op, len(matched), searcher.stats.avgdl, False)

    rows = searcher.postings.filter(F.col("term").isin(matched))
    return score_buckets(rows, score_bucket, big_k)


def sorted_index_topk(
    spark, segment, k: int, sort: list[str] | None = None, deleted=None
) -> DataFrame:
    """Early-terminated top-k over an index-sorted segment.

    Reference semantics (SURVEY §2.G index sort):
      index/IndexWriterConfig.java#setIndexSort + LUCENE-6766 and
      search/TopFieldCollector.java early termination (solr:
      'segmentTerminateEarly') — when the query sort is a prefix of the
      index sort, collection stops after the first k competitive LIVE
      docs in index order instead of scoring/sorting the whole segment.

    Spark restatement: the segment's doc ids ARE the sort order
    (``build_index(index_sort=...)`` ranks ids by the sort key and
    records the sort in the segment stats, Lucene's SegmentInfo sort), so
    the top-k is the first k live docs of the doc-id space — a bounded
    prefix of doc-space buckets of the docmap. On a disk-backed segment
    the docmap is range-partitioned by doc_id at write time, so the
    predicate prunes every other file (min/max parquet stats); at 10^12
    docs the job reads one bucket prefix regardless of corpus size, the
    literal early-termination win.

    ``sort``: the query sort keys; must equal the recorded index sort
    (Lucene rejects a SortField mismatch — a segment with no recorded
    sort is insertion-ordered and refused). ``deleted``: optional
    tombstone doc ids (liveDocs complement); the scan window widens by
    the tombstone count so the k-th live doc is always inside it.
    """
    recorded = segment.stats.index_sort
    if sort is not None:
        want = ",".join(sort)
        if recorded != want:
            raise ValueError(
                f"query sort [{want}] does not match the segment's recorded "
                f"index sort [{recorded or 'none: insertion order'}] — "
                "early termination would return wrong results "
                "(IndexWriterConfig#setIndexSort mismatch)"
            )
    elif not recorded:
        raise ValueError(
            "segment records no index sort (insertion-ordered); "
            "build with build_index(index_sort=[...]) to enable "
            "early-terminated sorted top-k"
        )
    bd = segment.stats.bucket_docs
    if k > bd:
        raise ValueError(
            f"early termination reads a one-bucket prefix; k={k} exceeds "
            f"bucket_docs={bd} (widen buckets or page with search_after)"
        )
    # accept list/tuple OR numpy array (the tombstone shape sibling APIs
    # take) — `deleted or ()` would raise on a multi-element ndarray
    dead = sorted(int(d) for d in (() if deleted is None else deleted))
    # the k-th live doc id is at most k-1 + |tombstones|: widen the bucket
    # prefix just enough (still O(k + deletes), never O(corpus))
    need = k + len(dead)
    window = ((need - 1) // bd + 1) * bd
    dm = segment.table(spark, "docmap").filter(F.col("doc_id") < window)
    if dead:
        dm = dm.filter(~F.col("doc_id").isin(dead))
    return dm.orderBy("doc_id").limit(k)
