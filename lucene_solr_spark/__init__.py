"""lucene_solr_spark — a brand-new PySpark-native full-text index + BM25 engine.

Re-expresses the capabilities of the jpountz/lucene-solr reference
(inverted-index build, block-compressed postings, BM25 top-k with block-max
WAND pruning, Solr-style distributed query/aggregation patterns) as idiomatic
Spark DataFrame / Arrow-vectorized stages. NOT a port: the reference tells us
WHAT to compute (see SURVEY.md); Spark/Catalyst decides HOW.

Layout
------
functions/   pinned analysis chain (tokenizer), SmallFloat norm quantization,
             FOR bit-packing, text-statistics column functions
operators/   index builder, BM25 scorers (exhaustive + WAND), query operators,
             dedup / ANN training-data ops, segment merge, invariant checker
sources/     segment-table catalog (parquet in an Iceberg-shaped layout),
             per-partition build manifest (lineage + resume), multimodal stubs
plans/       tiny query-DSL -> plan rewrite layer (Lucene Query#rewrite analog)
streaming/   incremental ingest (NRT-segment analog) via Structured Streaming
"""

import logging

__version__ = "0.1.0"

# The package's one logger: fallbacks and query-route decisions report here.
log = logging.getLogger(__name__)
