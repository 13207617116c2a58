"""Driver-side replays for the traced run: the bucket kernel, block
packing and the tokenizer, timed outside any Spark job.

The kernel replay follows ``bench_wand.py#kernel_bench``: it fetches the
hottest bucket's postings for a query to pandas and runs the engine's
bucket kernel on them, counting block decodes by wrapping the kernel's
decode helper for the length of the replay. Both are private names of
``operators/search.py``; a refactor that moves them must move this too.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
from pyspark.sql import functions as F

import check
import gen
from lucene_solr_spark.functions.analysis import tokenize_pandas
from lucene_solr_spark.functions.packing import (
    delta_decode,
    delta_encode,
    pack_ints,
    unpack_ints,
)
from lucene_solr_spark.operators import bm25
from lucene_solr_spark.operators import search as S

ROUNDS = 7
K = 10


def _median_s(fn, rounds: int) -> float:
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def replay_terms(searcher, seed: int) -> dict[str, list[str]]:
    """One OR query (every hot token plus a rare term, the block-max WAND
    regime) and one AND query (a hot and a mid term) for ``searcher``."""
    terms = searcher.terms.select("term", "df").toPandas()
    bands = gen.df_bands(terms, searcher.stats.n_docs)
    rng = np.random.default_rng([seed, 5])
    every = sorted(terms["term"])

    def pick(band: str) -> str:
        words = bands[band] or every
        return words[int(rng.integers(len(words)))]

    hot = [t for t in gen.HOT_TOKENS if t in set(every)]
    return {"or": sorted(set(hot + [pick("rare")])), "and": sorted({hot[0], pick("mid")})}


def kernel_replay(run, searcher, seed: int) -> None:
    cache = bm25.norm_cache(searcher.stats.avgdl)
    avgdl = searcher.stats.avgdl
    decoded = {}
    kernel_ms = []
    for op, terms in replay_terms(searcher, seed).items():
        stats = searcher.term_stats(terms)
        idfs = {t: np.float32(s.idf) for t, s in sorted(stats.items())}
        rows = searcher.postings.filter(F.col("term").isin(sorted(idfs)))
        hot = rows.groupBy("bucket").count().orderBy(F.desc("count"), "bucket").first()["bucket"]
        pdf = rows.filter(F.col("bucket") == hot).toPandas()

        def kernel(use_wand: bool):
            return S._score_bucket(pdf, idfs, cache, K, op, len(terms), avgdl, use_wand)

        plain = S._decode_bins
        answers = {}
        for use_wand in (True, False):
            n = [0]

            def counting(*a):
                n[0] += 1
                return plain(*a)

            S._decode_bins = counting
            try:
                out = kernel(use_wand)
            finally:
                S._decode_bins = plain
            decoded[(op, use_wand)] = n[0]
            answers[use_wand] = check.rank(dict(zip(out["doc_id"], out["score"])), K)
        run.verify(f"kernel {op}: wand == exhaustive", check.compare_topk(answers[True], answers[False]))
        kernel_ms.append(_median_s(lambda: kernel(True), ROUNDS) * 1e3)
    wand = sum(v for (_, w), v in decoded.items() if w)
    full = sum(v for (_, w), v in decoded.items() if not w)
    run.layer("search.kernel_ms", statistics.mean(kernel_ms))
    run.layer("search.blocks_decoded", wand)
    run.layer("search.blocks_skipped_ratio", 1.0 - wand / full if full else 0.0)


def packing_replay(run, spark, segments) -> None:
    """Decode and re-encode every posting block of ``segments``; the
    re-encoded bytes must equal the stored ones."""
    blocks = []
    for s in segments:
        pdf = s.table(spark, "postings").select("doc_bin", "freq_bin").toPandas()
        blocks += list(zip(pdf["doc_bin"].map(bytes), pdf["freq_bin"].map(bytes)))
    packed = sum(len(d) + len(f) for d, f in blocks)

    t0 = time.perf_counter()
    decoded = [(delta_decode(unpack_ints(d)), unpack_ints(f)) for d, f in blocks]
    t1 = time.perf_counter()
    again = [(pack_ints(delta_encode(ids)), pack_ints(fr)) for ids, fr in decoded]
    t2 = time.perf_counter()
    run.verify("packing round trip", [] if again == blocks else ["re-encoded blocks differ"])
    run.layer("packing.unpack_mb_per_s", packed / 1e6 / (t1 - t0))
    run.layer("packing.pack_mb_per_s", packed / 1e6 / (t2 - t1))


def tokenize_replay(run, contents, n: int = 2000) -> None:
    sample = contents.iloc[:n].reset_index(drop=True)
    mb = sample.str.encode("utf-8").str.len().sum() / 1e6
    run.layer("analysis.tokenize_mb_per_s", mb / _median_s(lambda: tokenize_pandas(sample), 3))
