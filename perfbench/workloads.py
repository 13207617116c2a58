"""The benchmark's workloads: ``search-small`` and ``ingest-nrt``.

One client, closed loop: the next operation starts when the previous one
has returned. Each workload builds its inputs from the seed, runs an
untimed warm-up, then times operations until ``seconds`` have passed
(search-small: and its query cycle is complete; ingest-nrt: and its
round of ingest, delete and compaction is complete).
Every answer is checked against the scalar oracle after the timed window.

Both runs call the engine's entry points (``Searcher.topk``,
``Searcher.search``, ``MultiSearcher.topk``, ``ingest_batch``) the same
way. In the traced run, operations inside ``Tracer.instrumented()`` have
the engine's layer calls timed as they happen; queries also run plain
(search-small alternates, ingest-nrt repeats each read on a twin
searcher), and the two give ``trace.overhead_pct``.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np
import pandas as pd

import check
import gen
from record import Run, timed_phase
from replay import kernel_replay, packing_replay, tokenize_replay

from lucene_solr_spark.functions.analysis import tokenize_text
from lucene_solr_spark.operators import merge
from lucene_solr_spark.operators.checker import check_segment
from lucene_solr_spark.operators.indexer import assign_doc_ids, build_index
from lucene_solr_spark.operators.search import MultiSearcher, Searcher
from lucene_solr_spark.plans.qparser import parse, resolve_multi_terms
from lucene_solr_spark.sources.catalog import Catalog, Segment
from lucene_solr_spark.streaming.ingest import ingest_batch
from tests.oracle import OracleIndex, tokenize

K = 10
# Document lengths follow the sf0.1 documents.parquet test table: 10-100
# tokens per doc, spread evenly (quartiles 32 / 54 / 76).
SMALL = gen.CorpusSpec(n_docs=5000, min_tokens=10, max_tokens=100)
NRT_BATCH = gen.CorpusSpec(n_docs=500, min_tokens=10, max_tokens=100)
WARMUP_QUERIES = len(gen.CYCLE)  # every query shape runs once untimed
NRT_DELETES = 25  # docs of the previous batch deleted by key each round
KEY_COLS = ["repo", "path", "commit"]
CORPUS_COLS = ["repo", "path", "commit", "lang", "content"]
TABLES = ("postings", "terms", "docmap", "norms", "positions")


def dir_bytes(path: str) -> dict[str, int]:
    """Every regular file under ``path`` with its size."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def table_bytes(segments: list[Segment]) -> dict[str, int]:
    out = {t: 0 for t in TABLES}
    for s in segments:
        for t in TABLES:
            out[t] += sum(dir_bytes(os.path.join(s.path, t)).values())
    return out


# ---------------------------------------------------------------------------
# Oracle answers
# ---------------------------------------------------------------------------


def oracle_scores(ora: OracleIndex, q: gen.Query) -> dict:
    """{doc: float32 score} of every doc matching ``q`` under the oracle."""
    if q.kind == "or":
        return ora.score_disjunction(q.text)
    if q.kind == "and":
        terms = set(tokenize_text(q.text))
        docs = set.intersection(*(set(ora.tf.get(t, {})) for t in terms))
        return {d: s for d, s in ora.score_disjunction(q.text).items() if d in docs}
    node = parse(q.text)
    if isinstance(node, tuple) and node[0] == "phrase":
        _, terms, slop, _boost, _field = node
        return dict(ora.topk_phrase(" ".join(terms), k=len(ora.tokens), slop=slop))
    return ora.eval_bool(resolve_multi_terms(node, None))[1]


# ---------------------------------------------------------------------------
# Query execution
# ---------------------------------------------------------------------------


def run_query(tr, searcher, q: gen.Query) -> list:
    """One query through the engine's entry point, collected on the driver."""
    if q.kind == "classic":
        plan = searcher.search(q.text, k=K, fq=q.fq)
    else:
        plan = searcher.topk(q.text, k=K, mode="wand", op=q.kind, fq=q.fq)
    with tr.layer("search.score_collect"):
        return plan.collect()


def query_shape(q: gen.Query) -> str:
    return f"{q.kind}.{q.form}.fq-{q.fq is not None}"


# ---------------------------------------------------------------------------
# search-small
# ---------------------------------------------------------------------------


def search_small(run: Run) -> None:
    """Read-only queries on an on-disk one-segment index with positions."""
    spark, tr = run.spark, run.tracer
    with timed_phase(run, "corpus"):
        pdf = gen.corpus(run.seed, SMALL)
        pdf["doc_id"] = np.arange(len(pdf), dtype=np.int64)
        src = os.path.join(run.work, "small.parquet")
        pdf[["doc_id"] + CORPUS_COLS].to_parquet(src, index=False)
        content_bytes = int(pdf["content"].str.encode("utf-8").str.len().sum())
    out_dir = os.path.join(run.work, "small-index")
    with timed_phase(run, "index"):
        t_hand = time.perf_counter()
        with tr.span("indexer.build", op_id=tr.new_op()) as sp:
            build_index(
                spark, spark.read.parquet(src), out_dir=out_dir,
                with_positions=True, segment_id="small",
            )
        run.layer("indexer.build_s", sp.ms / 1e3)
        run.e2e["build_docs_per_s"] = SMALL.n_docs / (sp.ms / 1e3)
        run.layer("indexer.build_jobs", sp.jobs)
        run.layer("indexer.build_stages", sp.stages)
        with tr.span("search.reopen", op_id=tr.new_op()) as sp:
            searcher = Searcher(spark, Segment.load(os.path.join(out_dir, "small")))
        run.layer("search.reopen_ms", sp.ms)
    with timed_phase(run, "warmup"):
        terms_pdf = searcher.terms.select("term", "df", "n_blocks").toPandas()
        bands = gen.df_bands(terms_pdf, SMALL.n_docs)
        docs_tokens = [tokenize(c) for c in pdf["content"].iloc[::7]]
        queries = gen.query_mix(run.seed, bands, docs_tokens, 2000)
        warm, queries = queries[:WARMUP_QUERIES], queries[WARMUP_QUERIES:]
        # the first answer from the new index closes the freshness interval
        first = run_query(tr, searcher, warm[0])
        run.e2e["freshness_s"] = [time.perf_counter() - t_hand]
        answers = [(warm[0], first)]
        for q in warm[1:]:
            answers.append((q, run_query(tr, searcher, q)))
        # every lang filter is cached before timing starts: search-small
        # measures filter-cache hits (ingest-nrt measures misses)
        for lang in gen.LANGS:
            searcher.fq_docs(f"lang = '{lang}'")

    n_blocks = dict(zip(terms_pdf["term"], terms_pdf["n_blocks"]))
    cycle = len(gen.CYCLE)
    t_start = time.perf_counter()
    t_end = t_start + run.seconds
    i = 0
    # whole cycles only, so every run times the same mix of query shapes
    while i % cycle or time.perf_counter() < t_end:
        q = queries[i % len(queries)]
        shape = query_shape(q)
        # every other query is instrumented, the parity flipping each cycle
        # so each query shape is seen both ways
        traced = tr.enabled and (i + i // cycle) % 2 == 0
        with tr.span("query", op_id=tr.new_op()) as sp:
            if traced:
                with tr.instrumented():
                    rows = run_query(tr, searcher, q)
            else:
                rows = run_query(tr, searcher, q)
        run.note_jobs(("traced." if traced else "") + shape, sp.jobs)
        run.samples.append((shape, traced, round(sp.ms, 1)))
        if traced:
            run.latencies_ms.append(sp.ms)
            run.layer("spark.jobs_per_query", sp.jobs)
            run.layer("spark.stages_per_query", sp.stages)
            hits = max(len(rows), 1)
            blocks = sum(int(n_blocks.get(t, 0)) for t in set(tokenize_text(q.text)))
            run.layer("search.blocks_per_hit", blocks / hits)
        else:
            run.untraced_ms.append(sp.ms)
        answers.append((q, rows))
        i += 1
    run.end_window(t_start)

    # ---- checks, outside the timed window --------------------------------
    varying = {s: sorted(c) for s, c in run.jobs_by_shape.items() if len(c) > 1}
    run.verify("Spark jobs per query shape constant", [
        f"{s}: {c} jobs (recomputation?)" for s, c in sorted(varying.items())
    ])
    ora = OracleIndex(list(zip(pdf["doc_id"].tolist(), pdf["content"].tolist())))
    for q, rows in answers:
        allowed = set(pdf.index[pdf["lang"] == fq_lang(q)]) if q.fq else None
        want = check.rank(oracle_scores(ora, q), K, allowed)
        got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        run.verify(f"{q.kind} {q.text!r} fq={q.fq}", check.compare_topk(got, want))
    seg = searcher.segment
    verify_build(run, spark, seg, pdf)
    run.facts.update(
        docs=SMALL.n_docs, content_bytes=content_bytes,
        buckets=seg.stats.max_doc_id // seg.stats.bucket_docs + 1,
        queries_timed=i, query_mix=mix_counts(queries[:i]),
    )
    index_bytes = sum(dir_bytes(seg.path).values())
    run.e2e["index_bytes_per_content_byte"] = index_bytes / content_bytes
    run.e2e["write_amplification"] = sum(dir_bytes(out_dir).values()) / content_bytes
    run.layer("catalog.segment_count", 1)
    run.layer("search.filter_cache_hit_ratio", cache_ratio([searcher.filter_cache]))
    if tr.enabled:
        # the two halves ran the same query shapes
        ratio = statistics.median(run.latencies_ms) / statistics.median(run.untraced_ms)
        run.layer("trace.overhead_pct", 100.0 * (ratio - 1))
        layer_breakdown(run)
        build_layers(run, spark, [seg], pdf)
        kernel_replay(run, searcher, run.seed)


def mix_counts(queries: list) -> dict:
    out: dict[str, int] = {}
    for q in queries:
        key = q.kind + ("+fq" if q.fq else "")
        out[key] = out.get(key, 0) + 1
    return out


def cache_ratio(caches: list) -> float:
    hits = sum(c.hits for c in caches)
    total = hits + sum(c.misses for c in caches)
    return hits / total if total else 0.0


def verify_build(run: Run, spark, seg: Segment, pdf: pd.DataFrame, full: bool = True) -> None:
    """A built segment against the docs ``pdf`` it should hold: doc count,
    token total and per-row content digests, and with ``full`` the
    segment's own invariants (``check_segment``, several Spark jobs)."""
    problems = []
    if full:
        try:
            check_segment(spark, seg)
        except AssertionError as e:
            problems.append(f"check_segment: {e}")
    stored = pd.read_parquet(os.path.join(seg.path, "docmap"), columns=["path", "content_sha256"])
    problems += check.compare_build(
        {"n_docs": seg.stats.n_docs, "sum_ttf": seg.stats.sum_ttf},
        len(pdf), int(pdf["n_tokens"].sum()),
        dict(zip(stored["path"], stored["content_sha256"])),
        dict(zip(pdf["path"], pdf["content_sha256"])),
    )
    run.verify(f"build {seg.segment_id}", problems)


def layer_breakdown(run: Run) -> None:
    """Per-query self times of the traced queries' layers, and their
    coverage of the traced query latency."""
    tr = run.tracer
    names = {
        "qparser.parse": "qparser.parse_ms",
        "search.term_stats": "search.term_stats_ms",
        "search.plan": "search.plan_ms",
        "search.score_collect": "search.score_collect_ms",
    }
    kids = tr.children()
    for root in tr.roots("query"):
        spans = tr.descendants(root, kids)
        if not spans:
            continue  # an uninstrumented query
        ms = dict.fromkeys(names, 0.0)
        jobs = {n: [0, 0] for n in names}
        for sp in spans:
            ms[sp.name] += tr.self_ms(sp, kids)
            j, st = tr.self_jobs(sp, kids)
            jobs[sp.name][0] += j
            jobs[sp.name][1] += st
        for span_name, metric in names.items():
            run.layer(metric, ms[span_name])
        run.layer("search.term_stats_jobs", jobs["search.term_stats"][0])
        run.layer("search.score_jobs", jobs["search.score_collect"][0])
        run.layer("search.score_stages", jobs["search.score_collect"][1])
        run.layer("trace.layer_sum_pct", 100.0 * sum(ms.values()) / root.ms)


def build_layers(run: Run, spark, segments: list[Segment], pdf: pd.DataFrame) -> None:
    """Build-side layers measured once, after the timed window."""
    tr = run.tracer
    corpus = spark.createDataFrame(pdf[CORPUS_COLS])
    with tr.span("indexer.assign_doc_ids", op_id=tr.new_op()) as sp:
        assign_doc_ids(corpus, KEY_COLS).count()
    run.layer("indexer.assign_doc_ids_s", sp.ms / 1e3)
    run.layer("indexer.assign_doc_ids_jobs", sp.jobs)
    for t, n in table_bytes(segments).items():
        run.layer(f"catalog.bytes.{t}", n)
    packed = sum(s.stats.packed_bytes for s in segments)
    run.layer("indexer.packed_bytes_per_posting", packed / sum(s.stats.n_postings for s in segments))
    tokenize_replay(run, pdf["content"])
    packing_replay(run, spark, segments)


# ---------------------------------------------------------------------------
# ingest-nrt
# ---------------------------------------------------------------------------


class NrtState:
    """What the generator says the catalog holds: every ingested doc, and
    the keys deleted so far."""

    def __init__(self, seed: int):
        self.seed = seed
        self.batches: list[pd.DataFrame] = []
        self.ingested = 0
        self.deleted: set[str] = set()

    def batch(self, b: int) -> pd.DataFrame:
        while len(self.batches) <= b:
            n = len(self.batches)
            self.batches.append(gen.corpus(self.seed, NRT_BATCH, id_base=n * NRT_BATCH.n_docs))
        return self.batches[b]

    def docs(self) -> pd.DataFrame:
        """Every doc handed to the indexer so far, indexed by path."""
        done = self.batches[: self.ingested]
        return pd.concat(done, ignore_index=True).set_index("path", drop=False)


def catalog_view(spark, ms: MultiSearcher, catalog: Catalog):
    """(gdoc_id -> path) of every doc stored in the searcher's segments,
    and the gdoc_ids tombstoned. Read from the segment files directly."""
    gdoc = {}
    for s in ms.segments:
        dm = pd.read_parquet(os.path.join(s.path, "docmap"), columns=["doc_id", "path"])
        base = ms.doc_base[s.segment_id]
        gdoc.update(zip((dm["doc_id"] + base).tolist(), dm["path"].tolist()))
    dead = {
        ms.doc_base[r["segment_id"]] + int(r["doc_id"])
        for r in catalog.deletes(spark).collect()
        if r["segment_id"] in ms.doc_base
    }
    return gdoc, dead


def ingest_nrt(run: Run) -> None:
    """Micro-batches in through ingest_batch, deletes by key, compaction,
    and reads from a reopened MultiSearcher after every commit."""
    spark, tr = run.spark, run.tracer
    state = NrtState(run.seed)
    root = os.path.join(run.work, "catalog")
    catalog = Catalog(root)
    written: dict[str, int] = {}
    reads: list = []      # (query, rows, searcher view) checked at the end
    views: dict = {}      # id(searcher) -> (searcher, its catalog_view)
    caches: list = []
    pairs: list = []      # traced run: (twin ran first, traced / plain latency)
    compact_s, delete_s, batch_s, fresh_s = [], [], [], []

    def snapshot_writes() -> None:
        written.update(dir_bytes(root))

    def reopen() -> MultiSearcher:
        with tr.span("search.reopen", op_id=tr.new_op()) as sp:
            ms = MultiSearcher.from_catalog(spark, catalog)
        run.layer("search.reopen_ms", sp.ms)
        run.layer("catalog.segment_count", len(ms.segments))
        caches.append(ms.filter_cache)
        return ms

    def view(ms: MultiSearcher):
        if id(ms) not in views:  # the searcher is kept, so its id stays unique
            views[id(ms)] = (ms, catalog_view(spark, ms, catalog))
        return views[id(ms)][1]

    def query(ms: MultiSearcher, q: gen.Query, traced: bool, seen_as) -> tuple[float, float]:
        """One query on ``ms``, instrumented or plain: (when its rows were
        collected, its latency in ms). ``seen_as`` is the searcher whose
        catalog view checks the answer."""
        with tr.span("query", op_id=tr.new_op()) as sp:
            if traced:
                with tr.instrumented():
                    rows = run_query(tr, ms, q)
            else:
                rows = run_query(tr, ms, q)
        done = time.perf_counter()
        run.samples.append((query_shape(q), traced, round(sp.ms, 1)))
        if traced:
            run.latencies_ms.append(sp.ms)
            run.layer("spark.jobs_per_query", sp.jobs)
            run.layer("spark.stages_per_query", sp.stages)
        else:
            run.untraced_ms.append(sp.ms)
        reads.append((q, rows, view(seen_as)))
        return done, sp.ms

    def read(ms: MultiSearcher, q: gen.Query) -> float:
        """One query on ``ms``; returns when its rows were collected. In
        the traced run the query also runs plain on a twin searcher opened
        on the same commit, before or after the instrumented one in turn,
        for ``trace.overhead_pct``. Spark's cache is cleared between the
        two: the twin's filters would otherwise hit the data the first
        searcher cached for the same plan, and only one of them would
        start cold."""
        if not tr.enabled:
            return query(ms, q, False, ms)[0]
        twin_first = len(pairs) % 2 == 0
        if twin_first:
            _, plain = query(MultiSearcher.from_catalog(spark, catalog), q, False, ms)
            spark.catalog.clearCache()
        done, traced = query(ms, q, True, ms)
        if not twin_first:
            spark.catalog.clearCache()
            _, plain = query(MultiSearcher.from_catalog(spark, catalog), q, False, ms)
        pairs.append((twin_first, traced / plain))
        return done

    def ingest(b: int) -> None:
        pdf = state.batch(b)
        fresh = fresh_query(state, b)
        df = spark.createDataFrame(pdf[CORPUS_COLS])
        t0 = time.perf_counter()
        with tr.span("ingest.batch", op_id=tr.new_op()) as sp:
            if tr.enabled:
                with tr.instrumented():
                    ingest_batch(catalog, df, b)
            else:
                ingest_batch(catalog, df, b)
        state.ingested = b + 1
        batch_s.append(sp.ms / 1e3)
        for c in tr.children().get(sp.span_id, []):
            if c.name == "indexer.build":
                run.layer("indexer.build_s", c.ms / 1e3)
                run.layer("indexer.build_jobs", c.jobs)
                run.layer("indexer.build_stages", c.stages)
        seg = next(s for s in catalog.segments() if s.segment_id == f"batch{b:08d}")
        ms = reopen()
        fresh_s.append(read(ms, fresh) - t0)
        _, rows, (gdoc, _) = reads[-1]
        seen = {gdoc[int(r["gdoc_id"])] for r in rows} & set(pdf["path"])
        run.verify(f"batch {b} visible", [] if seen else ["no doc of the batch in the answer"])
        verify_build(run, spark, seg, pdf, full=False)
        snapshot_writes()

    with timed_phase(run, "corpus"):
        state.batch(1)
    with timed_phase(run, "warmup"):
        ingest(0)
    # the warm-up's answers are checked, its timings dropped
    for samples in (fresh_s, batch_s, caches, pairs, run.untraced_ms, run.latencies_ms, run.samples):
        samples.clear()
    run.layers.clear()
    tr.spans.clear()

    t_start = time.perf_counter()
    t_end = t_start + run.seconds
    b = 0
    while True:
        b += 1
        # after each commit a reopened searcher answers an OR query; the
        # one with fq finds a cold filter cache
        ingest(b)
        # delete by key: the first NRT_DELETES docs of the previous batch
        keys = state.batch(b - 1).iloc[:NRT_DELETES]
        with tr.span("merge.delete_by_key", op_id=tr.new_op()) as sp:
            merge.delete_by_key(spark, catalog, spark.createDataFrame(keys[KEY_COLS]))
        delete_s.append(sp.ms / 1e3)
        run.layer("merge.delete_jobs", sp.jobs)
        state.deleted.update(keys["path"])
        snapshot_writes()
        read(reopen(), deleted_query(state, keys))
        # compaction with the default policy
        before = set(dir_bytes(root))
        with tr.span("merge.compact", op_id=tr.new_op()) as sp:
            merge.maybe_compact(spark, catalog)
        compact_s.append(sp.ms / 1e3)
        after = dir_bytes(root)
        run.layer("merge.bytes_rewritten", sum(n for p, n in after.items() if p not in before))
        snapshot_writes()
        read(reopen(), mid_query(state, run.seed, b, fq=True))
        if time.perf_counter() >= t_end:
            break
    run.end_window(t_start)

    # ---- checks, outside the timed window --------------------------------
    docs = state.docs()
    oracles: dict = {}
    for q, rows, (gdoc, dead) in reads:
        key = id(gdoc)
        if key not in oracles:
            oracles[key] = OracleIndex([(g, docs.at[p, "content"]) for g, p in sorted(gdoc.items())])
        ora = oracles[key]
        live = set(gdoc) - dead
        want = check.rank(oracle_scores(ora, q), K, nrt_allowed(q, gdoc, docs, live))
        got = [(int(r["gdoc_id"]), float(r["score"])) for r in rows]
        run.verify(f"nrt {q.kind} {q.text!r} fq={q.fq}", check.compare_topk(got, want))
    # the live docs are exactly the ingested docs minus the deleted keys
    gdoc, dead = reads[-1][2]
    live_paths = sorted(gdoc[g] for g in set(gdoc) - dead)
    want_paths = sorted(set(docs["path"]) - state.deleted)
    run.verify("nrt live docs", [] if live_paths == want_paths else [
        f"{len(live_paths)} live docs, generator says {len(want_paths)}"
    ])
    # check_segment on what survived: the merge outputs hold every batch's
    # postings (each batch segment got the cheap checks when it landed)
    segments = catalog.segments()
    for s in segments:
        stored = pd.read_parquet(os.path.join(s.path, "docmap"), columns=["path"])["path"]
        verify_build(run, spark, s, docs.loc[stored.tolist()].reset_index(drop=True))

    stored_paths = set(gdoc.values())
    content_bytes = int(docs["content"].str.encode("utf-8").str.len().sum())
    live_content = int(docs.loc[sorted(stored_paths), "content"].str.encode("utf-8").str.len().sum())
    run.e2e["freshness_s"] = fresh_s
    run.e2e["build_docs_per_s"] = NRT_BATCH.n_docs / statistics.median(batch_s)
    run.e2e["index_bytes_per_content_byte"] = (
        sum(sum(dir_bytes(s.path).values()) for s in segments) / live_content
    )
    run.e2e["write_amplification"] = sum(written.values()) / content_bytes
    run.layer("search.filter_cache_hit_ratio", cache_ratio(caches))
    for name, vals in (
        ("ingest.batch_s", batch_s), ("merge.delete_by_key_s", delete_s),
        ("merge.compact_s", compact_s),
    ):
        for v in vals:
            run.layer(name, v)
    run.facts.update(
        batches=b + 1, docs_per_batch=NRT_BATCH.n_docs, deletes_per_round=NRT_DELETES,
        content_bytes=content_bytes, segments_at_end=len(segments),
        policy="per round: ingest_batch, reopen, read fresh doc; delete_by_key "
        f"{NRT_DELETES} docs of previous batch, reopen, read deleted doc; "
        "maybe_compact (default policy), reopen, read (fq)",
    )
    if tr.enabled:
        # the first query on a new commit is slower on either side: average
        # the log ratio within each order, then over the two orders
        logs = [[math.log(r) for first, r in pairs if first == o] for o in (True, False)]
        ratio = math.exp(statistics.mean(statistics.mean(v) for v in logs if v))
        run.layer("trace.overhead_pct", 100.0 * (ratio - 1))
        layer_breakdown(run)
        build_layers(run, spark, segments, docs.loc[sorted(stored_paths)].reset_index(drop=True))
        biggest = max(segments, key=lambda s: s.stats.n_docs)
        kernel_replay(run, Searcher(spark, biggest), run.seed)


def fq_lang(q: gen.Query) -> str:
    """The language of a generated ``lang = '<x>'`` filter."""
    return q.fq.split("'")[1]


def nrt_allowed(q: gen.Query, gdoc: dict, docs: pd.DataFrame, live: set) -> set:
    if not q.fq:
        return live
    return {g for g in live if docs.at[gdoc[g], "lang"] == fq_lang(q)}


def _tokens(pdf: pd.DataFrame) -> list[list[str]]:
    return [tokenize(c) for c in pdf["content"]]


def fresh_query(state: NrtState, b: int) -> gen.Query:
    """OR of a hot term and the batch's rarest term over all docs so far,
    so the top k holds a doc of batch ``b``."""
    df: dict[str, int] = {}
    for pdf in state.batches[: b + 1]:
        for toks in _tokens(pdf):
            for t in set(toks):
                df[t] = df.get(t, 0) + 1
    mine = {t for toks in _tokens(state.batch(b)) for t in toks}
    rare = min(sorted(mine), key=lambda t: df[t])
    return gen.Query("or", f"import {rare}", None, "fresh")


def mid_query(state: NrtState, seed: int, b: int, fq: bool) -> gen.Query:
    """OR of a hot term and two terms of batch ``b``'s first docs."""
    rng = np.random.default_rng([seed, 4, b])
    toks = _tokens(state.batch(b).iloc[:50])
    words = sorted({t for d in toks for t in d})
    a, c = (words[int(i)] for i in rng.integers(0, len(words), 2))
    lang = gen.LANGS[int(rng.integers(len(gen.LANGS)))]
    return gen.Query("or", f"return {a} {c}", f"lang = '{lang}'" if fq else None, "mid")


def deleted_query(state: NrtState, keys: pd.DataFrame) -> gen.Query:
    """OR over terms of a just-deleted doc: the doc must not come back."""
    toks = tokenize(keys["content"].iloc[0])[:3]
    return gen.Query("or", " ".join(toks), None, "deleted")


WORKLOADS = {"search-small": search_small, "ingest-nrt": ingest_nrt}
