"""In-memory spans for the traced run.

A span records its name, start, end, parent and the id of the operation
it belongs to, plus the Spark jobs and stages that ran inside it. Jobs are
attributed with ``setJobGroup`` around the call and read back from
``statusTracker()``. Spans are kept in memory and written out once, when
the run ends.

Layer spans come from the engine's own calls: inside ``instrumented()``
the public functions named in ``LAYERS`` are wrapped so that each call
records a span, and the benchmark calls the engine's entry points
(``Searcher.topk``, ``Searcher.search``, ``ingest_batch``) unchanged.
Outside it the engine runs unwrapped.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass

from lucene_solr_spark.operators import phrase, search
from lucene_solr_spark.plans import qparser
from lucene_solr_spark.sources.catalog import Catalog
from lucene_solr_spark.streaming import ingest

# (owner, attribute, span name): the calls timed as layers. Module-level
# functions are wrapped where their callers look them up: ``search`` and
# ``ingest`` bind their imports at module load, ``Searcher.search`` and
# ``_phrase_tuple_topk`` import from ``qparser`` / ``phrase`` at call time.
LAYERS = [
    (qparser, "parse", "qparser.parse"),
    (qparser, "resolve_multi_terms", "qparser.parse"),
    (search, "tokenize_text", "qparser.parse"),  # query analysis of topk
    (search.Searcher, "term_stats", "search.term_stats"),
    (search.MultiSearcher, "term_stats", "search.term_stats"),
    (search, "score_postings", "search.plan"),
    (search, "score_query_postings", "search.plan"),
    (phrase, "phrase_topk", "search.plan"),
    (ingest, "build_index", "indexer.build"),
    (Catalog, "commit_swap", "catalog.commit"),
]


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    span_id: int
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only counts the
    Spark jobs of the call (cheap, and needed for the recomputation guard)."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self._op = 0
        self._active = False

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name,
            op_id=op_id if op_id is not None else (parent.op_id if parent else 0),
            parent=parent.span_id if parent else None,
            span_id=next(self._ids),
            start=0.0,
        )
        group = f"perfbench-{sp.span_id}"
        self.sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._restore_group()
            self._count_jobs(sp, group)
            if parent is not None:
                parent.jobs += sp.jobs
                parent.stages += sp.stages
            if self.enabled:
                self.spans.append(sp)

    def layer(self, name: str):
        """A span inside ``instrumented()``, nothing outside it."""
        return self.span(name) if self._active else nullcontext()

    @contextmanager
    def instrumented(self):
        """Wrap the ``LAYERS`` calls in spans for the length of the block."""
        saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _ in LAYERS]
        for owner, attr, name in LAYERS:
            setattr(owner, attr, self._wrap(owner.__dict__[attr], name))
        self._active = True
        try:
            yield
        finally:
            self._active = False
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # a recursive call (resolve_multi_terms walks the tree) stays
            # inside its caller's span
            if self._stack and self._stack[-1].name == name:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _restore_group(self) -> None:
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"perfbench-{top.span_id}", top.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _count_jobs(self, sp: Span, group: str) -> None:
        st = self.sc.statusTracker()
        for job in st.getJobIdsForGroup(group):
            sp.jobs += 1
            info = st.getJobInfo(job)
            if info is not None:
                sp.stages += len(info.stageIds)

    def children(self) -> dict[int, list[Span]]:
        """span_id -> its direct child spans."""
        kids = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                kids[sp.parent].append(sp)
        return kids

    def descendants(self, sp: Span, kids: dict) -> list[Span]:
        out = []
        for c in kids.get(sp.span_id, []):
            out += [c] + self.descendants(c, kids)
        return out

    @staticmethod
    def self_ms(sp: Span, kids: dict) -> float:
        """Span duration minus its direct children's (children run one
        after another, so their union is their sum)."""
        return sp.ms - sum(c.ms for c in kids.get(sp.span_id, []))

    @staticmethod
    def self_jobs(sp: Span, kids: dict) -> tuple[int, int]:
        """(jobs, stages) of the span minus those of its children."""
        cs = kids.get(sp.span_id, [])
        return sp.jobs - sum(c.jobs for c in cs), sp.stages - sum(c.stages for c in cs)

    def roots(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.parent is None]

    def dump(self, path: str) -> None:
        kids = self.children()
        with open(path, "w") as f:
            for sp in self.spans:
                row = asdict(sp)
                row["self_ms"] = self.self_ms(sp, kids)
                f.write(json.dumps(row) + "\n")
