"""elasticsearch_osmosis_plugin_spark — a from-scratch PySpark-native
fulltext index engine.

Re-expresses the *role* of ncolomer/elasticsearch-osmosis-plugin (an
ingest pipeline that turns an entity stream into a queryable fulltext
index backed by Elasticsearch) as a Spark-first engine that owns the
index itself:

- SPIMI-style distributed inverted-index build (``plans.build``)
- delta + varbyte posting compression with block-max metadata
  (``functions.varbyte``)
- top-k BM25 (k1=1.2, b=0.75) query engine: per-posting-segment
  top-k in one Arrow kernel, merged k x n_segments (``operators.query``)
- doc-store DAO ops mirroring the reference's EntityDao
  (``operators.dao``; reference: EntityDao.java)
- the ES API surface: JSON query-DSL compiler (``operators.dsl``),
  ES|QL (``operators.esql``; streaming twin ``streaming.esql``),
  ES SQL (``operators.essql``), EQL (``operators.eql``),
  classic TF-IDF similarity, percolator (``operators.percolate``),
  aggregations/facets (``operators.intersect``, ``operators.scorefn``),
  aliases/snapshot/restore/fsck (``plans.catalog``, ``plans.merge``),
  TSDS + _downsample (``plans.tsds``), change-point detection
  (``operators.changepoint``), and a spark-submit CLI (``__main__``)
- training-data pipeline ops: dedup, similarity search, text analysis,
  sampling/mixture/packing, multimodal plumbing (``functions.*``)

Everything is DataFrame/Catalyst-native except explicitly-vectorized
Arrow/pandas UDF kernels (tokenizer, varbyte codec, scorer). No
per-row Python anywhere.
"""

from elasticsearch_osmosis_plugin_spark.config import EngineConfig

__version__ = "0.1.0"
__build_date__ = "2026-08-20"   # SHOW INFO build identity

__all__ = ["EngineConfig", "__version__", "__build_date__"]
