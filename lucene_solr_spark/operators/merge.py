"""Segment merge / compaction — the SegmentMerger + TieredMergePolicy analog.

Reference path being re-expressed (SURVEY.md §2.G "Segment merge"):
  index/SegmentMerger.java     — k-way merge of term streams, re-encode postings
  index/DocIDMerger.java       — old (segment, docID) -> new dense docID remap
  index/MultiTermsEnum.java    — term-stream union
  index/TieredMergePolicy.java — which segments to merge (size tiers)
  index/PendingDeletes.java    — deleted docs are dropped (and their
                                 tombstones purged) at merge time

Spark restatement: a merge is *re-aggregation*. Decode every source
segment's posting blocks back to (term, doc, freq, norm) rows (mapInPandas,
numpy — cheap vs. the original tokenize), drop deleted docs, remap doc ids
to a new dense ordering (deterministic two-pass rank — the DocIDMerger
analog), then run the exact same Phase-B block builder the fresh build uses
(``assemble_segment``). Lucene's merger also ends in Lucene84PostingsWriter;
sharing the tail is the faithful shape, and re-tokenization is never needed.

Scale note: the remap join shuffles on (seg_order, old_doc_id) and the block
rebuild shuffles on (term, bucket) — the same two hash dimensions as the
fresh build, so a 1000-executor merge behaves like a (cheaper) rebuild with
no new skew surface. Size-tiered scheduling keeps any single merge bounded.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.packing import delta_decode, pack_ints, unpack_ints
from ..sources.catalog import Catalog, Segment, new_segment_id
from .indexer import DEFAULT_BUCKET_DOCS, assemble_segment, assign_doc_ids

_DECODED_SCHEMA = "doc_id long, term string, freq int, norm_byte int"


def _ends_from_starts_udf():
    """end_bin for a PLAIN (non-graph) positions row: every token is the
    trivial edge (i -> i+1), so ends = starts + 1. Used when merging a
    plain segment into a synonym-graph index so the merged segment stays
    graph-aware. (Built lazily: pandas_udf needs an active session to
    parse its return type.)"""

    def one(b):
        starts = delta_decode(unpack_ints(b)).astype(np.uint64)
        return pack_ints(starts + np.uint64(1))

    def _map(pos_bin):
        return pos_bin.map(one)

    return F.pandas_udf(_map, "binary")


def decode_postings(postings: DataFrame) -> DataFrame:
    """Posting blocks -> (doc_id, term, freq, norm_byte) rows.
    Inverse of the Phase-B block builder (Lucene84PostingsReader analog),
    numpy-vectorized per Arrow batch."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_l, terms_l, freqs_l, norms_l = [], [], [], []
            for row in pdf.itertuples():
                ids = delta_decode(unpack_ints(row.doc_bin)).astype(np.int64)
                freqs = unpack_ints(row.freq_bin).astype(np.int32)
                norms = np.frombuffer(row.norm_bin, dtype=np.uint8)
                ids_l.append(ids)
                freqs_l.append(freqs)
                norms_l.append(norms.astype(np.int32))
                terms_l.append(np.repeat(row.term, ids.size))
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids_l),
                    "term": np.concatenate(terms_l),
                    "freq": np.concatenate(freqs_l),
                    "norm_byte": np.concatenate(norms_l),
                }
            )

    return postings.select(
        "term", "doc_bin", "freq_bin", "norm_bin"
    ).mapInPandas(_decode, _DECODED_SCHEMA)


def merge_segments(
    spark: SparkSession,
    segments: list[Segment],
    catalog: Catalog | None = None,
    out_dir: str | None = None,
    bucket_docs: int = DEFAULT_BUCKET_DOCS,
    term_partitions: int | None = None,
    segment_id: str | None = None,
    drop_sources: bool = True,
) -> Segment:
    """Merge ``segments`` (in the given order) into one new segment.

    Doc-id remap: new ids are a dense rank over (segment order, old doc_id)
    restricted to live (non-deleted) docs — deterministic at any parallelism.
    If ``catalog`` is given, its tombstones for the source segments are
    applied, the source segments are dropped (``drop_sources``) and their
    tombstones purged, mirroring Lucene's merge commit.
    """
    assert segments, "nothing to merge"
    shuffle_n = term_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    deletes = catalog.deletes(spark) if catalog else None
    has_pos = all(s.has_table("positions") for s in segments)
    # synonym-graph indexes carry token-graph end nodes (indexer.py) — the
    # payloads are doc-relative like pos_bin, so they ride the merge intact.
    # ANY graph segment makes the merged segment graph-aware: a plain
    # segment's tokens are the trivial edges (i -> i+1), so end_bin is
    # synthesized for it (silently dropping end_bin while keeping fresh
    # start nodes would corrupt phrase semantics on the merged segment).
    has_graph = has_pos and any(
        "end_bin" in s.table(spark, "positions").columns for s in segments
    )
    # char offsets (soff_bin/eoff_bin, indexer.py with_offsets) are
    # doc-internal like pos_bin, so they too ride the remap intact — but
    # only when EVERY source stores them (FieldInfos merging keeps the
    # lowest common IndexOptions; a positions-only source can't have
    # offsets synthesized without its original text)
    has_offsets = has_pos and all(
        "soff_bin" in s.table(spark, "positions").columns for s in segments
    )

    docmaps, decoded, positions = [], [], []
    for order, seg in enumerate(segments):
        dm = seg.table(spark, "docmap").withColumn("_seg_order", F.lit(order))
        dec = decode_postings(seg.table(spark, "postings")).withColumn(
            "_seg_order", F.lit(order)
        )
        if has_pos:
            pos_tbl = seg.table(spark, "positions")
            if has_graph and "end_bin" not in pos_tbl.columns:
                pos_tbl = pos_tbl.withColumn(
                    "end_bin", _ends_from_starts_udf()(F.col("pos_bin"))
                )
            pos = pos_tbl.select(
                "term", "doc_id", "pos_bin",
                *(["end_bin"] if has_graph else []),
                *(["soff_bin", "eoff_bin"] if has_offsets else []),
            ).withColumn("_seg_order", F.lit(order))
        if deletes is not None:
            seg_del = deletes.filter(
                F.col("segment_id") == seg.segment_id
            ).select("doc_id")
            dm = dm.join(F.broadcast(seg_del), "doc_id", "left_anti")
            dec = dec.join(F.broadcast(seg_del), "doc_id", "left_anti")
            if has_pos:
                pos = pos.join(F.broadcast(seg_del), "doc_id", "left_anti")
        docmaps.append(dm)
        decoded.append(dec)
        if has_pos:
            positions.append(pos)

    all_docs = docmaps[0]
    for dm in docmaps[1:]:
        all_docs = all_docs.unionByName(dm)
    all_tf = decoded[0]
    for d in decoded[1:]:
        all_tf = all_tf.unionByName(d)
    if has_pos:
        # positions ride along as a pos_bin column on the tf rows (they are
        # doc-relative, so remap leaves the payload untouched)
        all_pos = positions[0]
        for p in positions[1:]:
            all_pos = all_pos.unionByName(p)
        all_tf = all_tf.join(all_pos, ["_seg_order", "term", "doc_id"], "left")

    # ---- DocIDMerger analog: dense remap over (segment order, old id) -----
    remap_src = all_docs.withColumnRenamed("doc_id", "old_doc_id")
    remapped_docs = assign_doc_ids(
        remap_src, ["_seg_order", "old_doc_id"], partitions=shuffle_n
    )
    remap = remapped_docs.select("_seg_order", "old_doc_id", "doc_id")

    new_docmap = remapped_docs.drop("old_doc_id", "_seg_order")
    tf_cols = ["doc_id", "term", "freq", "norm_byte"] + (
        ["pos_bin"] if has_pos else []
    ) + (["end_bin"] if has_graph else []) + (
        ["soff_bin", "eoff_bin"] if has_offsets else []
    )
    new_tf = (
        all_tf.withColumnRenamed("doc_id", "old_doc_id")
        .join(remap, ["_seg_order", "old_doc_id"])
        .select(*tf_cols)
    )

    seg_id = segment_id or new_segment_id()
    import os

    root = out_dir or (catalog.root if catalog else None)
    # one directory may be spelled several ways (trailing slash, relative
    # path, symlink): compare where the paths lead, not their text
    staged = catalog is not None and os.path.realpath(root) == os.path.realpath(
        catalog.root
    )
    if catalog is not None and not staged:
        # a merged segment written OUTSIDE the catalog cannot be committed
        # by the swap below, yet drop_sources would still delete the
        # sources — refuse the combination instead of losing the docs
        raise ValueError(
            "catalog merges must write into catalog.root "
            f"({catalog.root!r}); got out_dir={out_dir!r} — "
            "pass catalog=None for a detached merge"
        )
    # merge commit protocol (SegmentInfos analog): build the merged segment
    # under an underscore-prefixed STAGING dir (never listed by the catalog),
    # rename it to its final name, then publish merged-in/sources-out with
    # ONE atomic commit-file swap — a concurrent reader sees either the old
    # segment set or the new one, never merged docs twice. Physical source
    # cleanup + tombstone purge happen after the commit (a crash in between
    # leaves only unlisted orphan dirs / stale tombstones of dead ids).
    seg_path = (
        os.path.join(root, f"_stage-{seg_id}" if staged else seg_id)
        if root
        else None
    )
    if seg_path:
        os.makedirs(seg_path, exist_ok=True)

    src_ids = [s.segment_id for s in segments]
    lineage = sorted(
        set(src_ids) | {a for s in segments for a in (s.lineage or [])}
    )
    merged = assemble_segment(
        spark,
        new_docmap,
        new_tf,
        seg_id=seg_id,
        seg_path=seg_path,
        bucket_docs=bucket_docs,
        shuffle_n=shuffle_n,
        extra_phases={
            "merged_from": lineage,
        },
        with_positions=has_pos,
    )
    merged.lineage = lineage

    if staged:
        final_path = os.path.join(root, seg_id)
        os.replace(seg_path, final_path)
        merged.path = final_path
        # cached DataFrames still reference the staging path that was
        # just renamed away — drop them so Segment.table() re-reads from
        # the final path instead of crashing on the vanished dir
        merged.dfs = {}
        if drop_sources:
            catalog.commit_swap(add=[seg_id], remove=src_ids)
        else:
            catalog.commit_swap(add=[seg_id])
    if catalog and drop_sources:
        for sid in src_ids:
            catalog.drop(sid)
        catalog.purge_deletes(spark, src_ids)
    return merged


# ---------------------------------------------------------------------------
# Merge policy — TieredMergePolicy analog (size-tiered selection).
# ---------------------------------------------------------------------------


def find_merges(
    segments: list[Segment],
    max_merge_at_once: int = 10,
    size_ratio: float = 2.0,
    min_group: int = 2,
) -> list[list[Segment]]:
    """Size-tiered merge selection (index/TieredMergePolicy.java analog,
    simplified): sort segments by doc count ascending; group consecutive
    segments while the next is within ``size_ratio`` of the group mean and
    the group is under ``max_merge_at_once``. Groups of >= ``min_group``
    are returned as merge candidates (smallest tiers first)."""
    segs = sorted(segments, key=lambda s: s.stats.n_docs)
    groups: list[list[Segment]] = []
    cur: list[Segment] = []
    for s in segs:
        if not cur:
            cur = [s]
            continue
        mean = sum(x.stats.n_docs for x in cur) / len(cur)
        if s.stats.n_docs <= max(mean, 1) * size_ratio and len(cur) < max_merge_at_once:
            cur.append(s)
        else:
            if len(cur) >= min_group:
                groups.append(cur)
            cur = [s]
    if len(cur) >= min_group:
        groups.append(cur)
    return groups


def maybe_compact(
    spark: SparkSession,
    catalog: Catalog,
    bucket_docs: int = DEFAULT_BUCKET_DOCS,
    **policy_kw,
) -> list[Segment]:
    """Run one round of background-compaction logic: apply ``find_merges``
    to the catalog and execute each selected merge (ConcurrentMergeScheduler
    analog — except scheduling is the caller's loop / streaming batch)."""
    merged = []
    for group in find_merges(catalog.segments(), **policy_kw):
        merged.append(
            merge_segments(spark, group, catalog=catalog, bucket_docs=bucket_docs)
        )
    return merged


# ---------------------------------------------------------------------------
# Delete resolution helpers (delete-by-id / delete-by-query analogs:
# solr/core/.../update/DirectUpdateHandler2.java).
# ---------------------------------------------------------------------------


def _write_new_tombstones(spark, catalog, seg, hits) -> int:
    """Append only NOT-yet-tombstoned hits for one segment (idempotent
    deletes: Lucene marks liveDocs bits once; re-deleting is a no-op).
    The hits plan is cached so the count and the append share one
    execution. Returns tombstones actually written."""
    existing = catalog.deletes(spark).filter(
        F.col("segment_id") == seg.segment_id
    ).select("segment_id", "doc_id")
    fresh = hits.join(
        existing, ["segment_id", "doc_id"], "left_anti"
    ).persist()
    try:
        n = fresh.count()
        if n:
            catalog.add_deletes(fresh)
        return n
    finally:
        fresh.unpersist(blocking=False)


def delete_by_key(
    spark: SparkSession, catalog: Catalog, keys: DataFrame
) -> int:
    """Delete docs matching (repo, path, commit) key rows across all
    segments. Returns tombstones written (already-deleted docs are not
    re-tombstoned or re-counted)."""
    total = 0
    for seg in catalog.segments():
        dm = seg.table(spark, "docmap")
        hits = dm.join(
            F.broadcast(keys.select("repo", "path", "commit")),
            ["repo", "path", "commit"],
            "left_semi",
        ).select(F.lit(seg.segment_id).alias("segment_id"), "doc_id")
        total += _write_new_tombstones(spark, catalog, seg, hits)
    return total


def delete_by_query(spark: SparkSession, catalog: Catalog, predicate) -> int:
    """Delete docs whose docmap row matches a Column predicate
    (idempotent; returns NEW tombstones only)."""
    total = 0
    for seg in catalog.segments():
        dm = seg.table(spark, "docmap")
        hits = dm.filter(predicate).select(
            F.lit(seg.segment_id).alias("segment_id"), "doc_id"
        )
        total += _write_new_tombstones(spark, catalog, seg, hits)
    return total
