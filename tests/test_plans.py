"""Physical-plan guards — the scan-pruning contracts that make the design
scale (SURVEY.md §4.2): the query-term filter must reach the parquet scan
(row-group min/max stats over the term-sorted postings table are our FST
terms-index analog), and the scorer plan must stay narrow until after the
top-k limit (two-phase retrieval / late materialization)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.corpus import synth_corpus
from lucene_solr_spark.operators import search
from lucene_solr_spark.operators.indexer import build_index
from lucene_solr_spark.operators.search import Searcher


@pytest.fixture(scope="module")
def disk_seg(spark, tmp_path_factory):
    c = synth_corpus(spark, 80, partitions=4)
    return build_index(
        spark, c, out_dir=str(tmp_path_factory.mktemp("plans")), bucket_docs=64
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def distributed(monkeypatch):
    """Pin Searcher queries to the distributed applyInPandas plan, whose
    shape these tests assert (small queries otherwise run on the driver)."""
    monkeypatch.setattr(search, "LOCAL_ROW_BUDGET", 0)


def test_term_filter_pushed_to_parquet_scan(spark, disk_seg):
    plan = _plan(
        disk_seg.table(spark, "postings").filter(
            F.col("term").isin(["import", "return"])
        )
    )
    assert "PushedFilters: [In(term, [import,return])]" in plan


def test_topk_plan_is_narrow_until_limit(spark, disk_seg, distributed):
    """The scoring plan reads only postings columns (no docmap fields) and
    ends in a TakeOrderedAndProject — display fields join after the limit."""
    s = Searcher(spark, disk_seg)
    plan = _plan(s.topk("import return", k=5))
    assert "TakeOrderedAndProject" in plan
    # the only table scanned is postings — no docmap/terms scan in the
    # scoring plan (terms stats were a collected pre-pass)
    assert "/postings" in plan
    assert "/docmap" not in plan and "/terms" not in plan
    for docmap_col in ("repo#", "lang#", "content_sha256#"):
        assert docmap_col not in plan, f"docmap column {docmap_col} in scorer plan"


def test_docmap_scan_prunes_columns(spark, disk_seg):
    """Column pruning: selecting two docmap columns must not read the rest."""
    plan = _plan(disk_seg.table(spark, "docmap").select("doc_id", "lang"))
    i = plan.find("ReadSchema")
    schema = plan[i : i + 200]
    assert "doc_id" in schema and "lang" in schema
    assert "content_sha256" not in schema


@pytest.fixture(scope="module")
def disk_seg_pos(spark, tmp_path_factory):
    c = synth_corpus(spark, 80, partitions=4)
    return build_index(
        spark,
        c,
        out_dir=str(tmp_path_factory.mktemp("plansp")),
        bucket_docs=64,
        with_positions=True,
    )


def test_span_plan_prunes_positions_scan(spark, disk_seg_pos):
    """Span queries filter the positions table on its sorted term column —
    the predicate must reach the parquet scan (row-group pruning)."""
    from lucene_solr_spark.operators.spans import SpanNear, SpanTerm, span_topk

    plan = _plan(
        span_topk(
            spark, disk_seg_pos,
            SpanNear((SpanTerm("import"), SpanTerm("return")), slop=2), k=5,
        )
    )
    assert "PushedFilters: [In(term, [import,return])]" in plan
    assert "/positions" in plan and "/docmap" not in plan


def test_phrase_tree_cogroup_single_exchange_per_side(spark, disk_seg_pos, distributed):
    """The cogrouped postings+positions tree scorer shuffles each side
    exactly once (hash on bucket) — no join, no extra exchange."""
    from lucene_solr_spark.operators.query import Bool, Phrase, Term
    from lucene_solr_spark.operators.search import Searcher

    s = Searcher(spark, disk_seg_pos)
    q = Bool(must=(Phrase(("import", "return")),), should=(Term("public"),))
    plan = _plan(s.topk_query(q, k=5))
    assert plan.count("Exchange hashpartitioning(bucket") == 2  # one per side
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan


def test_fq_plan_no_join_and_pruned_scan(spark, disk_seg_pos, distributed):
    """fq cogroups the filter set by bucket: no join operator appears, and
    the docmap scan for the filter reads only the predicate+id columns."""
    from lucene_solr_spark.operators.search import Searcher

    s = Searcher(spark, disk_seg_pos)
    plan = _plan(s.topk("import return", k=5, fq="lang = 'python'"))
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan
    i = plan.find("/docmap")
    window = plan[max(0, i - 1200): i + 300]
    assert "PushedFilters" in window and "lang" in window
    assert "content" not in window.split("ReadSchema")[-1][:200]


def test_fielded_union_keeps_pruned_scans(spark, disk_seg_pos, tmp_path_factory):
    """FieldedSearcher unions per-field postings AFTER each side's term
    filter — both scans carry their own pushed In(term,...) predicate."""
    from lucene_solr_spark.corpus import synth_corpus as sc
    from lucene_solr_spark.operators.fields import FieldedSearcher
    from lucene_solr_spark.operators.query import Bool, Term

    title = build_index(
        spark,
        sc(spark, 80, partitions=4).withColumn(
            "content", F.substring("content", 1, 40)
        ),
        out_dir=str(tmp_path_factory.mktemp("planst")),
        bucket_docs=64,
    )
    fs = FieldedSearcher(
        spark, {"body": disk_seg_pos, "title": title}, default_field="body"
    )
    q = Bool(should=(Term("import", field="body"), Term("return", field="title")))
    df = fs.topk_query(q, k=5)
    plan = _plan(df)
    assert "Union" in plan
    # long FileScan lines truncate in toString — use formatted explain for
    # the per-scan PushedFilters assertion
    fmt = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pushed = [ln for ln in fmt.splitlines() if "PushedFilters" in ln]
    assert (
        sum("In(term" in ln or "EqualTo(term" in ln for ln in pushed) == 2
    ), "\n".join(pushed)
