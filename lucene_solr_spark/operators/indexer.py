"""Distributed inverted-index build — the IndexWriter/DWPT analog, Spark-first.

Reference pipeline being re-expressed (SURVEY.md §3.3):
  DocumentsWriterPerThread -> DefaultIndexingChain#processDocument
  -> TermsHashPerField#add -> FreqProxTermsWriter#flush
  -> Lucene84PostingsWriter (128-doc FOR blocks + impacts)
  -> BlockTreeTermsWriter (terms dict) / NormsConsumer (byte norms)

Spark restatement (one wide shuffle for the whole postings build):

  Stage A (narrow, per input partition — the DWPT analog):
    mapInPandas: tokenize (pinned spec) -> per-doc term counts. Each doc
    lives in exactly one partition, so per-batch pandas value_counts gives
    COMPLETE (term, doc) freqs with no shuffle; also emits one doc-summary
    row (dl, norm byte) per doc.

  Stage B (the only token-stream shuffle):
    groupBy(term, bucket) -> applyInPandas block builder. ``bucket`` =
    doc_id // bucket_docs partitions the doc space, so even a stopword-grade
    hot term ('import', 'return') never forms a group larger than
    bucket_docs docs — this is the skew answer demanded by north_star
    (two-phase/salted aggregation with a *deterministic* salt that block
    layout can exploit: blocks never cross bucket boundaries, so buckets
    are independently scorable and mergeable).

  terms dict  = agg over block rows (cheap, post-compression).
  docmap      = original rows joined with doc summaries (narrow join).
  stats       = one tiny agg (docCount, sumTotalTermFreq -> avgdl).

Determinism: doc_ids are dense ranks over (repo, path, commit) — see
``assign_doc_ids`` — so any parallelism yields identical ids, postings and
scores (Lucene index-sort analog, SURVEY.md §1.3).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import log
from ..functions import packing
from ..functions.analysis import tokenize_offsets, tokenize_pandas
from ..functions.smallfloat import byte4_to_int_np, int_to_byte4_np
from ..sources.catalog import (
    Catalog,
    Segment,
    SegmentStats,
    new_segment_id,
    phase_complete,
    write_table,
)

DEFAULT_BUCKET_DOCS = 8192  # 64 full 128-doc blocks per term per bucket

_TF_SCHEMA = "doc_id long, term string, freq int, norm_byte int, pos_bin binary"

_BLOCK_SCHEMA = (
    "term string, bucket long, block_idx int, first_doc long, last_doc long, "
    "n_docs int, sum_freq long, max_freq int, min_dl long, "
    "doc_bin binary, freq_bin binary, norm_bin binary"
)


def assign_doc_ids(
    df: DataFrame,
    keys: list[str],
    partitions: int = 64,
    broadcast_max_rows: int = 1_000_000,
) -> DataFrame:
    """Deterministic dense doc_id = global rank over ``keys`` ordering.
    ``keys`` must uniquely identify rows (ties would make the rank — and
    therefore doc ids — nondeterministic under any scheme).

    Scalable two-pass scheme (no global single-partition window), run over
    a NARROW keys-only projection so the wide payload (content) is never
    range-shuffled, sorted, or cached: range-partition the keys, count rows
    per range partition, convert counts to offsets, doc_id = offset(pid) +
    row_number within pid; finally one hash join attaches ids to the full
    rows. The keys intermediate is persisted so both passes see identical
    range bounds.

    ``partitions`` is a volume knob (callers size it to the input — see
    ``build_index``'s shuffle sizing); the exact total row count falls out
    of the offsets pass for free, so when it is small
    (``broadcast_max_rows``) the id-attach join broadcasts the narrow
    ranked side instead of shuffling the wide payload rows — at bench scale
    that removes the only content-column shuffle in the build, while a
    10^12-row corpus keeps the hash join.
    """
    k = (
        df.select(*keys)
        .repartitionByRange(partitions, *[F.col(c) for c in keys])
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in k.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    # guard the id-attach equi-join's blind spots on the CACHED narrow
    # keys (one tiny agg): a NULL key row would silently vanish from the
    # join (NULL never equals NULL) and duplicate keys would fan out to
    # multiple ids per row — both are corpus-contract violations that
    # must fail loudly, not corrupt the segment
    chk = k.agg(
        F.count("*").alias("n"),
        *[
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"_null_{i}")
            for i, c in enumerate(keys)
        ],
        F.count_distinct(*[F.col(c) for c in keys]).alias("nd"),
    ).collect()[0]
    for i, c in enumerate(keys):
        if chk[f"_null_{i}"]:
            raise ValueError(
                f"corpus key column {c!r} has {chk[f'_null_{i}']} NULL "
                "rows — doc-id keys must be non-null"
            )
    if int(chk["nd"]) != int(chk["n"]):
        raise ValueError(
            f"corpus keys {keys} are not unique: {chk['n']} rows but "
            f"{chk['nd']} distinct keys — ids would be ambiguous"
        )
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = df.sparkSession.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _off long"
    )
    w = Window.partitionBy("_pid").orderBy(*keys)
    ranked = (
        k.withColumn("_rn", F.row_number().over(w) - 1)
        .join(F.broadcast(off_df), "_pid")
        .withColumn("doc_id", (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )
    if acc <= broadcast_max_rows:
        ranked = F.broadcast(ranked)
    return df.join(ranked, keys)


def _doclen_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Posting-block partitions -> per-doc (dl partial, norm_byte) rows.
    Decodes only the int arrays (numpy) and pre-aggregates within the
    partition, so the following groupBy shuffles a few ints per (doc,
    partition) — the NormsConsumer stream re-derived from the index."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        ids_l, fr_l, nb_l = [], [], []
        for row in pdf.itertuples():
            ids_l.append(
                packing.delta_decode(packing.unpack_ints(row.doc_bin)).astype(np.int64)
            )
            fr_l.append(packing.unpack_ints(row.freq_bin).astype(np.int64))
            nb_l.append(np.frombuffer(row.norm_bin, dtype=np.uint8))
        ids = np.concatenate(ids_l)
        fr = np.concatenate(fr_l)
        nb = np.concatenate(nb_l).astype(np.int32)
        order = np.argsort(ids, kind="stable")
        ids, fr, nb = ids[order], fr[order], nb[order]
        first = np.empty(len(ids), dtype=bool)
        first[0] = True
        first[1:] = ids[1:] != ids[:-1]
        starts = np.flatnonzero(first)
        yield pd.DataFrame(
            {
                "doc_id": ids[starts],
                "dl_part": np.add.reduceat(fr, starts),
                "norm_byte": nb[starts],
            }
        )


def _norms_from_postings(postings: DataFrame) -> DataFrame:
    """Per-doc (dl, norm_byte) derived from the finished posting blocks —
    the NormsConsumer analog, kept as its OWN narrow table (the .nvd/.nvm
    files). Deliberately NOT joined into the stored-fields docmap at build
    time: that join would shuffle the wide content column, which at the
    500k-doc scaling level measurably wrecks weak-scaling efficiency on a
    shared memory bus (and at 100 TB is pure wasted IO). Readers that need
    dl/norm_byte get the lazily-joined view from Segment.table("docmap")."""
    return (
        postings.select("doc_bin", "freq_bin", "norm_bin")
        .mapInPandas(_doclen_partials, "doc_id long, dl_part long, norm_byte int")
        .groupBy("doc_id")
        .agg(
            F.sum("dl_part").alias("dl"), F.max("norm_byte").alias("norm_byte")
        )
    )


def _tf_stage_fn(with_positions: bool, synonyms=None, with_offsets: bool = False):
    """Tokenize + per-doc term counting (complete, not partial — each doc is
    wholly inside one batch), the DWPT/TermsHashPerField analog.

    Fully numpy: per batch, factorize the flat token stream to int codes,
    stable-lexsort by (doc, code), run-length encode for freqs. Terms leave
    as a pandas Categorical -> Arrow dictionary array, so the dominant cost
    of this stage — serializing millions of repeated term strings to the
    JVM — shrinks to one dictionary per batch plus int codes. No pandas
    groupby, no per-group dispatch.

    With positions enabled, each tf row also carries the term's in-doc
    token positions, delta+FOR packed (the .pos/prox file analog).

    With ``with_offsets`` (requires positions; the
    IndexOptions.DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS analog), each
    tf row additionally packs the occurrences' character offsets into the
    source text, aligned with pos_bin order: ``soff_bin`` (delta-encoded
    start chars — ascending because positions ascend) and ``eoff_bin``
    (token char lengths, end = start + len). Tokenization switches to the
    offset-aware scanner (tokenize_offsets — identical token sequence,
    pinned by tests/test_offsets.py).

    With ``synonyms`` (a functions/synonyms.py SynonymRules), tokens become
    token-GRAPH edges: injected synonym tokens span their rule's input
    region (SynonymGraphFilter.java analog, see synonyms.py), positions are
    explicit start nodes and each row additionally packs end nodes
    (``end_bin``). Norms keep Lucene's discountOverlaps contract — the
    byte4 norm counts ORIGINAL tokens only — while freqs (hence
    sumTotalTermFreq/avgdl) count injected tokens too, exactly as Lucene's
    collection stats do."""

    def _tf(doc_batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in doc_batches:
            if len(pdf) == 0:
                continue
            flat_soff = flat_elen = None
            if with_offsets:
                trip = [tokenize_offsets(t) for t in pdf["content"]]
                toks = pd.Series([t[0] for t in trip], index=pdf.index)
                if any(len(t[1]) for t in trip):
                    flat_soff = np.concatenate(
                        [t[1] for t in trip if len(t[1])]
                    )
                    flat_elen = np.concatenate(
                        [t[2] - t[1] for t in trip if len(t[1])]
                    )
            else:
                toks = tokenize_pandas(pdf["content"])
            if synonyms is not None:
                yield from _tf_graph_batch(pdf, toks, synonyms, with_positions)
                continue
            lens = toks.map(len).to_numpy(dtype=np.int64)
            if lens.sum() == 0:
                continue
            norm = int_to_byte4_np(lens).astype(np.int32)
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            flat_terms = np.concatenate(
                [np.asarray(t, dtype=object) for t in toks if t]
            )
            flat_docs = np.repeat(doc_ids, lens)
            flat_norms = np.repeat(norm, lens)
            codes, uniques = pd.factorize(flat_terms, sort=False)
            order = np.lexsort((codes, flat_docs))  # stable: doc asc, code asc
            d, c = flat_docs[order], codes[order]
            first = np.empty(len(d), dtype=bool)
            first[0] = True
            first[1:] = (d[1:] != d[:-1]) | (c[1:] != c[:-1])
            starts = np.flatnonzero(first)
            freqs = np.diff(np.append(starts, len(d))).astype(np.int32)
            out = pd.DataFrame(
                {
                    "doc_id": d[starts],
                    "term": pd.Categorical.from_codes(
                        c[starts], categories=pd.Index(uniques)
                    ),
                    "freq": freqs,
                    "norm_byte": flat_norms[order][starts],
                }
            )
            if with_positions:
                # stable sort keeps in-doc order within each (doc, term)
                # group, so group slices are ascending positions
                flat_pos = np.concatenate(
                    [np.arange(n, dtype=np.uint64) for n in lens if n]
                )[order]
                ends = np.append(starts[1:], len(d))
                out["pos_bin"] = [
                    packing.pack_ints(packing.delta_encode(flat_pos[s:e]))
                    for s, e in zip(starts, ends)
                ]
                if with_offsets:
                    so = flat_soff[order].astype(np.uint64)
                    el = flat_elen[order].astype(np.uint64)
                    out["soff_bin"] = [
                        packing.pack_ints(packing.delta_encode(so[s:e]))
                        for s, e in zip(starts, ends)
                    ]
                    out["eoff_bin"] = [
                        packing.pack_ints(el[s:e])
                        for s, e in zip(starts, ends)
                    ]
            else:
                out["pos_bin"] = None
            yield out

    return _tf


def _tf_graph_batch(
    pdf: pd.DataFrame, toks: pd.Series, synonyms, with_positions: bool
) -> Iterator[pd.DataFrame]:
    """Synonym-graph variant of the tf kernel: per doc the tokenizer output
    runs through apply_synonym_graph (per-doc Python like the stemmer UDFs
    — synonym injection is opt-in), then the flatten/factorize/run-length
    flow is the same numpy discipline as the fast path. Emits the extra
    ``end_bin`` column (packed end nodes, aligned with pos_bin starts)."""
    from ..functions.synonyms import apply_synonym_graph

    doc_ids_all = pdf["doc_id"].to_numpy(dtype=np.int64)
    terms_l: list[list[str]] = []
    starts_l: list[np.ndarray] = []
    ends_l: list[np.ndarray] = []
    emit_lens = np.zeros(len(pdf), dtype=np.int64)
    orig_lens = np.zeros(len(pdf), dtype=np.int64)
    for i, tok_list in enumerate(toks):
        orig_lens[i] = len(tok_list)
        if not tok_list:
            continue
        t, s, e = apply_synonym_graph(tok_list, synonyms)
        emit_lens[i] = len(t)
        if t:
            terms_l.append(t)
            starts_l.append(s)
            ends_l.append(e)
    if emit_lens.sum() == 0:
        return
    norm = int_to_byte4_np(orig_lens).astype(np.int32)
    flat_terms = np.concatenate(
        [np.asarray(t, dtype=object) for t in terms_l]
    )
    flat_docs = np.repeat(doc_ids_all, emit_lens)
    flat_norms = np.repeat(norm, emit_lens)
    flat_starts = np.concatenate(starts_l).astype(np.int64)
    flat_ends = np.concatenate(ends_l).astype(np.int64)

    codes, uniques = pd.factorize(flat_terms, sort=False)
    order = np.lexsort((codes, flat_docs))  # stable: doc asc, code asc
    d, c = flat_docs[order], codes[order]
    first = np.empty(len(d), dtype=bool)
    first[0] = True
    first[1:] = (d[1:] != d[:-1]) | (c[1:] != c[:-1])
    starts_idx = np.flatnonzero(first)
    freqs = np.diff(np.append(starts_idx, len(d))).astype(np.int32)
    out = pd.DataFrame(
        {
            "doc_id": d[starts_idx],
            "term": pd.Categorical.from_codes(
                c[starts_idx], categories=pd.Index(uniques)
            ),
            "freq": freqs,
            "norm_byte": flat_norms[order][starts_idx],
        }
    )
    if with_positions:
        # emission is sorted by start per doc (apply_synonym_graph contract),
        # and the stable lexsort keeps that order inside each (doc, term)
        # group, so group slices are non-decreasing starts (delta >= 0)
        g_starts = flat_starts[order]
        g_ends = flat_ends[order]
        ends_idx = np.append(starts_idx[1:], len(d))
        out["pos_bin"] = [
            packing.pack_ints(packing.delta_encode(g_starts[s:e].astype(np.uint64)))
            for s, e in zip(starts_idx, ends_idx)
        ]
        out["end_bin"] = [
            packing.pack_ints(g_ends[s:e].astype(np.uint64))
            for s, e in zip(starts_idx, ends_idx)
        ]
    else:
        out["pos_bin"] = None
        out["end_bin"] = None
    yield out


def _build_blocks_partition(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """One shuffle partition of tf rows (hash-partitioned by (term, bucket),
    so every group is complete here) -> FOR-packed 128-doc posting blocks
    with impacts. Lucene84PostingsWriter + CompetitiveImpactAccumulator
    analog.

    Deliberately mapInPandas over the WHOLE partition, not applyInPandas
    per group: a code corpus has millions of (term, bucket) groups of a few
    postings each, and per-group pandas dispatch dominates runtime at that
    shape. Here the partition is sorted once with numpy (term codes via
    factorize — group identity only, no ordering contract) and group/block
    boundaries are sliced vectorized; per-block Python is just the two
    pack_ints calls. Memory is bounded by the shuffle partition size, which
    is the knob north_rule says to size explicitly (shuffle_n)."""
    chunks = [pdf for pdf in batches if len(pdf)]
    if not chunks:
        return
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    codes, uniques = pd.factorize(pdf["term"], sort=False)
    buckets = pdf["bucket"].to_numpy(dtype=np.int64)
    doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    freqs = pdf["freq"].to_numpy(dtype=np.int64)
    norms = pdf["norm_byte"].to_numpy(dtype=np.uint8)
    order = np.lexsort((doc_ids, buckets, codes))
    codes, buckets = codes[order], buckets[order]
    doc_ids = doc_ids[order].astype(np.uint64)
    freqs_u = freqs[order].astype(np.uint64)
    norms = norms[order]
    dls = byte4_to_int_np(norms).astype(np.int64)

    n = len(pdf)
    grp_change = np.empty(n, dtype=bool)
    grp_change[0] = True
    grp_change[1:] = (codes[1:] != codes[:-1]) | (buckets[1:] != buckets[:-1])
    starts = np.flatnonzero(grp_change)
    ends = np.append(starts[1:], n)
    terms_arr = uniques.to_numpy(dtype=object) if hasattr(uniques, "to_numpy") else np.asarray(uniques, dtype=object)

    out: dict[str, list] = {k: [] for k in (
        "term", "bucket", "block_idx", "first_doc", "last_doc", "n_docs",
        "sum_freq", "max_freq", "min_dl", "doc_bin", "freq_bin", "norm_bin",
    )}
    for s, e in zip(starts, ends):
        term = terms_arr[codes[s]]
        bucket = int(buckets[s])
        for bi, lo in enumerate(range(s, e, packing.BLOCK_SIZE)):
            hi = min(lo + packing.BLOCK_SIZE, e)
            ids = doc_ids[lo:hi]
            fr = freqs_u[lo:hi]
            out["term"].append(term)
            out["bucket"].append(bucket)
            out["block_idx"].append(bi)
            out["first_doc"].append(int(ids[0]))
            out["last_doc"].append(int(ids[-1]))
            out["n_docs"].append(int(hi - lo))
            out["sum_freq"].append(int(fr.sum()))
            out["max_freq"].append(int(fr.max()))
            out["min_dl"].append(int(dls[lo:hi].min()))
            out["doc_bin"].append(packing.pack_ints(packing.delta_encode(ids)))
            out["freq_bin"].append(packing.pack_ints(fr))
            out["norm_bin"].append(norms[lo:hi].tobytes())
    yield pd.DataFrame(out)


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str | None = None,
    bucket_docs: int = DEFAULT_BUCKET_DOCS,
    term_partitions: int | None = None,
    segment_id: str | None = None,
    with_positions: bool = False,
    synonyms=None,
    with_offsets: bool = False,
    index_sort: list[str] | None = None,
) -> Segment:
    """Build one immutable segment from a corpus DataFrame.

    ``corpus`` must have (repo, path, commit, lang, content[, content_sha256,
    doc_id]). Missing doc_id -> deterministic dense-rank assignment; missing
    sha -> stamped here (ingest is the stamping point per input_hint).

    ``out_dir=None`` -> in-memory segment (DataFrames persisted);
    otherwise staged, phase-resumable parquet writes under
    ``{out_dir}/{segment_id}/`` with a JSON manifest (lineage + metrics).

    ``with_positions=True`` additionally stores per-(term, doc) token
    positions (IndexOptions.DOCS_AND_FREQS_AND_POSITIONS analog), enabling
    phrase queries (operators/phrase.py).

    ``synonyms`` (functions/synonyms.py SynonymRules) enables index-time
    SynonymGraphFilter injection: the positions table gains an ``end_bin``
    column (token-graph end nodes) and phrase matching goes through the
    graph-aware path-chaining kernel (phrase.py#_exact_freqs_graph).

    ``with_offsets=True`` (requires ``with_positions``, plain chain only —
    the DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS analog) additionally
    stores each occurrence's character offsets into the source text
    (``soff_bin``/``eoff_bin`` in the positions table), enabling
    offset-based highlighting (operators/highlight.py#highlight_offsets)
    and tv.offsets term vectors.

    ``index_sort`` (IndexWriterConfig#setIndexSort analog): doc ids are
    assigned as the global rank over these corpus columns (the keys must
    uniquely identify rows), and the sort is recorded in the segment
    stats/manifest like Lucene's SegmentInfo sort — early-termination
    readers (search.py#sorted_index_topk) verify against it. Mutually
    exclusive with a pre-assigned ``doc_id`` column: the sort DEFINES the
    ids.
    """
    if with_offsets and not with_positions:
        raise ValueError("with_offsets requires with_positions")
    if with_offsets and synonyms is not None:
        raise ValueError(
            "with_offsets supports the plain analysis chain only "
            "(synonym-graph builds carry end_bin instead)"
        )
    if index_sort:
        if "doc_id" in corpus.columns:
            raise ValueError(
                "index_sort requires unassigned doc ids (the sort defines "
                "them); drop the doc_id column first"
            )
        corpus = assign_doc_ids(corpus, list(index_sort))
    if "content_sha256" not in corpus.columns:
        corpus = corpus.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    if "doc_id" not in corpus.columns:
        corpus = assign_doc_ids(corpus, ["repo", "path", "commit"])

    seg_id = segment_id or new_segment_id()
    seg_path = os.path.join(out_dir, seg_id) if out_dir else None
    if seg_path:
        os.makedirs(seg_path, exist_ok=True)

    # ---- scale-aware shuffle sizing (north_rule: explicit shuffle-partition
    # tuning). Explicit term_partitions always wins; otherwise start from the
    # session conf and cap by input VOLUME, never executor width — a too-wide
    # local JVM (the driver's 32-thread config) then degrades gracefully
    # instead of paying per-partition dispatch on near-empty shuffle tasks,
    # while a 100 TB input keeps the operator-chosen conf (the cap only ever
    # lowers). Parquet-backed corpora: ~32 MB of file bytes per shuffle
    # partition (floor 8) — a 5k-doc bench corpus then pays 8 partition
    # dispatches instead of 64 (measured 1.8x on the warm build). Non-file
    # sources (synthetic generators, streaming batches, local relations):
    # one narrow column-pruned agg estimates raw content volume at ~2 MB raw
    # per partition ≈ the 32 MB parquet target at typical zstd text ratios
    # (measured at 32 threads on the 34 MB synth corpus: 64 -> 17 partitions
    # is 6.1 s -> 4.5 s warm).
    shuffle_n = term_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if term_partitions is None:
        sized = False
        try:
            files = corpus.inputFiles()
            if files:
                from urllib.parse import unquote, urlparse

                nbytes = sum(
                    os.path.getsize(
                        unquote(urlparse(f).path)
                        if f.startswith("file:")
                        else f
                    )
                    for f in files
                )
                shuffle_n = max(8, min(shuffle_n, nbytes // (32 << 20) + 1))
                sized = True
        except Exception as e:
            log.info(
                "shuffle sizing: input file sizes unreadable (%s: %s); "
                "sizing from content volume instead", type(e).__name__, e,
            )
        if not sized:
            try:
                nbytes = int(
                    corpus.agg(F.sum(F.length("content"))).first()[0] or 0
                )
                shuffle_n = max(8, min(shuffle_n, nbytes // (2 << 20) + 1))
            except Exception as e:
                log.info(
                    "shuffle sizing: content volume unmeasurable (%s: %s); "
                    "keeping spark.sql.shuffle.partitions=%d",
                    type(e).__name__, e, shuffle_n,
                )

    if "_version_" not in corpus.columns:
        # optimistic-concurrency version (update/processor/
        # DistributedUpdateProcessor.java#versionAdd): fresh docs start at 1;
        # operators/updates.py bumps it on atomic updates
        corpus = corpus.withColumn("_version_", F.lit(1).cast("long"))
    docs = corpus.select(
        "doc_id", "repo", "path", "commit", "lang", "content",
        "content_sha256", "_version_"
    )

    # ---- Phase A: ONE tokenize pass. The tf stream is not cached or
    # staged — it flows straight into the Phase-B shuffle. Doc lengths /
    # norms are NOT computed here: with no stopword removal, dl == sum of a
    # doc's term freqs, so assemble_segment derives them from the (persisted,
    # packed) posting blocks — the same stream Lucene's NormsConsumer taps.
    # Caching the exploded tf rows (millions of short strings, deserialized
    # on-heap) costs more than the cheap decode it would save, and at 100 TB
    # it simply doesn't fit anywhere.
    tf_input = docs.select("doc_id", "content")
    src_parts = tf_input.rdd.getNumPartitions()
    default_par = spark.sparkContext.defaultParallelism
    if src_parts < default_par:
        # underpartitioned source (e.g. one small parquet file): fan the
        # tokenize stage out to the cluster — without this the whole
        # DWPT-analog stage runs in ONE task. At scale the source arrives
        # pre-split and this branch never fires (no content shuffle).
        tf_input = tf_input.repartition(default_par)
    tf_schema = _TF_SCHEMA
    if synonyms is not None:
        tf_schema += ", end_bin binary"
    elif with_offsets:
        tf_schema += ", soff_bin binary, eoff_bin binary"
    tf = tf_input.mapInPandas(
        _tf_stage_fn(with_positions, synonyms, with_offsets), tf_schema
    )

    # docmap KEEPS content — the stored-fields store (index/StoredFields
    # Writer.java analog): enables field retrieval after top-k and the
    # read-modify-write of atomic updates. The tokenize path above still
    # reads (doc_id, content) once and shuffles only narrow tf rows; the
    # wide column rides only the docmap range-partition write (the .fdt
    # write in Lucene terms), not the posting build.
    return assemble_segment(
        spark,
        docs,
        tf,
        seg_id=seg_id,
        seg_path=seg_path,
        bucket_docs=bucket_docs,
        shuffle_n=shuffle_n,
        with_positions=with_positions,
        index_sort=",".join(index_sort or []),
    )


@contextmanager
def _volume_scoped_shuffle(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` DOWN to the volume-sized cap
    for the jobs executed inside (terms/norms groupBys, docmap range
    writes): their exchange width is read at execution time, so without
    this they run at executor width even when the build's own
    (term, bucket) shuffle is volume-capped. Only ever lowers — a real
    cluster whose conf is already volume-sized is untouched. Restored on
    exit (the engine is single-driver-threaded per build; builds are
    sequential)."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    if int(old) <= n:
        yield
        return
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def assemble_segment(
    spark: SparkSession,
    docmap: DataFrame,
    tf: DataFrame,
    seg_id: str,
    seg_path: str | None,
    bucket_docs: int,
    shuffle_n: int,
    extra_phases: dict | None = None,
    with_positions: bool = False,
    index_sort: str = "",
) -> Segment:
    with _volume_scoped_shuffle(spark, max(8, shuffle_n)):
        return _assemble_segment(
            spark, docmap, tf, seg_id, seg_path, bucket_docs, shuffle_n,
            extra_phases=extra_phases, with_positions=with_positions,
            index_sort=index_sort,
        )


def _assemble_segment(
    spark: SparkSession,
    docmap: DataFrame,
    tf: DataFrame,
    seg_id: str,
    seg_path: str | None,
    bucket_docs: int,
    shuffle_n: int,
    extra_phases: dict | None = None,
    with_positions: bool = False,
    index_sort: str = "",
) -> Segment:
    """Phase B onward: (docmap, tf rows) -> finished segment.
    Shared by the fresh build (``build_index``) and the segment merger
    (operators/merge.py — FreqProxTermsWriter#flush and SegmentMerger#merge
    both end in Lucene84PostingsWriter; this is that shared tail).

    ``docmap`` may arrive without dl/norm_byte (fresh build): they are then
    derived from the finished posting blocks (dl == sum of the doc's term
    freqs — no stopword removal, so this is exact; Lucene's NormsConsumer
    taps the same stream). Docs with zero tokens get dl=0/norm 0.
    ``tf`` may carry a ``pos_bin`` column; with ``with_positions`` those
    rows also land in a ``positions`` table (term, bucket, doc_id,
    norm_byte, pos_bin) range-partitioned by term."""
    if "pos_bin" not in tf.columns:
        tf = tf.withColumn("pos_bin", F.lit(None).cast("binary"))
    tf = tf.withColumn("bucket", (F.col("doc_id") / F.lit(bucket_docs)).cast("long"))

    positions = None
    if with_positions:
        # two consumers (positions table + posting blocks) -> cache tf once;
        # non-positional builds have a single consumer and skip the cache
        tf = tf.persist()
        pos_cols = ["term", "bucket", "doc_id", "norm_byte", "pos_bin"]
        if "end_bin" in tf.columns:  # synonym-graph build (see build_index)
            pos_cols.append("end_bin")
        if "soff_bin" in tf.columns:  # offsets build (see build_index)
            pos_cols.extend(["soff_bin", "eoff_bin"])
        positions = tf.filter(F.col("pos_bin").isNotNull()).select(*pos_cols)

    # ---- Phase B: postings blocks (the one token-stream shuffle) ----------
    blocks = (
        tf.drop("pos_bin", "end_bin", "soff_bin", "eoff_bin")
        .repartition(shuffle_n, "term", "bucket")
        .mapInPandas(_build_blocks_partition, _BLOCK_SCHEMA)
    )

    # ---- terms dictionary (BlockTreeTermsWriter analog: sorted + stats) ---
    def _terms_from(blocks_df: DataFrame) -> DataFrame:
        return blocks_df.groupBy("term").agg(
            F.sum("n_docs").cast("long").alias("df"),
            F.sum("sum_freq").cast("long").alias("ttf"),
            F.max("max_freq").alias("max_freq"),
            F.min("min_dl").alias("min_dl"),
            F.count("*").cast("long").alias("n_blocks"),
            F.sum(
                F.length("doc_bin") + F.length("freq_bin") + F.length("norm_bin")
            ).cast("long").alias("packed_bytes"),
        )

    if seg_path:
        if not phase_complete(seg_path, "postings"):
            write_table(
                blocks.repartitionByRange(shuffle_n, "term").sortWithinPartitions(
                    "term", "bucket", "block_idx"
                ),
                seg_path,
                "postings",
            )
        postings = spark.read.parquet(os.path.join(seg_path, "postings"))
        norms = None
        if "dl" not in docmap.columns:
            if not phase_complete(seg_path, "norms"):
                write_table(
                    _norms_from_postings(postings)
                    .repartitionByRange(max(shuffle_n // 4, 1), "doc_id")
                    .sortWithinPartitions("doc_id"),
                    seg_path,
                    "norms",
                )
            norms = spark.read.parquet(os.path.join(seg_path, "norms"))
        if not phase_complete(seg_path, "terms"):
            write_table(
                _terms_from(postings).repartitionByRange(
                    max(shuffle_n // 4, 1), "term"
                ).sortWithinPartitions("term"),
                seg_path,
                "terms",
            )
        terms = spark.read.parquet(os.path.join(seg_path, "terms"))
        if not phase_complete(seg_path, "docmap"):
            write_table(
                docmap.repartitionByRange(max(shuffle_n // 4, 1), "doc_id")
                .sortWithinPartitions("doc_id"),
                seg_path,
                "docmap",
            )
        docmap = spark.read.parquet(os.path.join(seg_path, "docmap"))
        if positions is not None:
            if not phase_complete(seg_path, "positions"):
                write_table(
                    positions.repartitionByRange(shuffle_n, "term")
                    .sortWithinPartitions("term", "bucket", "doc_id"),
                    seg_path,
                    "positions",
                )
            positions = spark.read.parquet(os.path.join(seg_path, "positions"))
    else:
        postings = blocks.persist()
        norms = None
        if "dl" not in docmap.columns:
            norms = _norms_from_postings(postings).persist()
        terms = _terms_from(postings).persist()
        # count BEFORE the persist mark: column pruning makes this a narrow
        # scan of the source rows; marking persist first would force the
        # whole stored-fields cache (content column) to materialize inside
        # the build — the cache fills lazily on first docmap read instead
        # (the disk path pays its stored-fields cost as the docmap parquet
        # write above, exactly like Lucene's .fdt flush)
        n_docs_pre = docmap.count()
        docmap = docmap.persist()
        if positions is not None:
            positions = positions.persist()

    # ---- stats + manifest (lineage/metrics) --------------------------------
    # all postings-derived stats come off the small cached terms dict
    # (n_postings == sum of per-term df; sum_ttf == sum of per-term ttf ==
    # sum of doc lengths) — no scan ever touches the wide stored fields
    n_docs = n_docs_pre if not seg_path else docmap.count()
    # doc-id range: a narrow column-pruned agg; lets multi-segment servers
    # verify flat doc-id spaces are disjoint (catalog.py#SegmentStats).
    # The distinct count rides the same agg to refuse duplicate
    # pre-assigned doc ids up front — Lucene doc ids are unique by
    # construction, and a collision here would silently merge two docs'
    # postings/norms into one id.
    id_rng = docmap.agg(
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.countDistinct("doc_id").alias("nd"),
    ).collect()[0]
    if id_rng["nd"] is not None and int(id_rng["nd"]) != int(n_docs):
        if seg_path:
            # every phase was built from the corrupt corpus — remove the
            # staged dir so a rerun with the fixed corpus rebuilds instead
            # of resuming onto the bad phases and re-raising forever
            import shutil

            shutil.rmtree(seg_path, ignore_errors=True)
        raise ValueError(
            f"corpus doc_id column has duplicates: {n_docs} rows but "
            f"{int(id_rng['nd'])} distinct ids — doc ids must be unique"
        )
    pagg = terms.agg(
        F.sum("n_blocks").alias("nblocks"),
        F.sum("df").alias("n_postings"),
        F.sum("ttf").alias("sum_ttf"),
        F.sum("packed_bytes").alias("packed"),
        F.count("*").alias("nterms"),
    ).collect()[0]
    nterms = int(pagg["nterms"] or 0)
    stats = SegmentStats(
        n_docs=int(n_docs),
        sum_ttf=int(pagg["sum_ttf"] or 0),
        n_terms=int(nterms),
        n_postings=int(pagg["n_postings"] or 0),
        packed_bytes=int(pagg["packed"] or 0),
        bucket_docs=bucket_docs,
        min_doc_id=int(id_rng["lo"]) if id_rng["lo"] is not None else -1,
        max_doc_id=int(id_rng["hi"]) if id_rng["hi"] is not None else -1,
        index_sort=index_sort,
    )
    seg = Segment(segment_id=seg_id, stats=stats, path=seg_path)
    seg.dfs = {"docmap": docmap, "terms": terms, "postings": postings}
    if norms is not None:
        seg.dfs["norms"] = norms
    if positions is not None:
        seg.dfs["positions"] = positions
    if seg_path:
        seg.save_manifest(
            phases={
                **(extra_phases or {}),
                "postings": f"complete ({int(pagg['nblocks'])} blocks)",
                "terms": "complete",
                "docmap": "complete",
                **({"norms": "complete"} if norms is not None else {}),
                **({"positions": "complete"} if positions is not None else {}),
                "metrics": {
                    "docs_indexed": stats.n_docs,
                    "postings_written": stats.n_postings,
                    "bytes_compressed": stats.packed_bytes,
                },
            }
        )
    return seg


def build_catalog_segment(
    spark: SparkSession, corpus: DataFrame, catalog: Catalog, **kw
) -> Segment:
    return build_index(spark, corpus, out_dir=catalog.root, **kw)
