"""Learned sparse retrieval: ES rank_features / sparse_vector scoring
(the ELSER-shaped surface) re-expressed Spark-first.

A document carries a sparse feature map (token -> weight, e.g. SPLADE
/ ELSER expansion weights or plain tf/dl impacts); a query is a small
{token: weight} dict; score(d) = sum over the intersection of
q[t] * d[t] (the dot product of two sparse vectors).

Two physical paths, same semantics:

- :func:`sparse_topk` — map-lookup over a ``map<string,float>``
  column: the query folds into m literal ``element_at`` lookups, so
  the whole score is ONE whole-stage-codegen expression per row; no
  shuffle, no explode; top-k is a TakeOrderedAndProject. Right when
  the features already live with the doc row (scan-everything cost).
- :func:`sparse_topk_inverted` — over the EXPLODED impact layout
  (doc_id, term, weight), the sparse analog of an inverted index:
  filter to the query's terms (partition/row-group prunable when the
  table is written partitioned by term — the 100 TB path: only the
  query terms' rows are ever read), broadcast the tiny (term, qw)
  map, one groupBy(doc_id) sum. :func:`write_impact_layout` writes
  that layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_osmosis_plugin_spark.operators.topk import deterministic_topk


def sparse_score_col(query_weights: dict[str, float],
                     features_col: str = "features"):
    """score = sum_t q[t] * features[t] as ONE column expression
    (m map lookups for an m-term query, null-safe)."""
    parts = [
        F.coalesce(F.element_at(F.col(features_col), F.lit(t)), F.lit(0.0))
        * F.lit(float(w))
        for t, w in sorted(query_weights.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out + p
    return out


def sparse_topk(df: DataFrame, query_weights: dict[str, float], k: int = 10,
                id_col: str = "doc_id",
                features_col: str = "features") -> DataFrame:
    """Top-k sparse dot-product over a feature-map column. Docs
    matching none of the query's tokens are excluded (ES: a
    rank_feature clause on an absent feature contributes nothing and
    a pure sparse_vector query returns only docs sharing a token)."""
    if not query_weights:
        raise ValueError("sparse_topk: empty query")
    s = sparse_score_col(query_weights, features_col)
    scores = (df.select(F.col(id_col).alias("doc_id"), s.alias("score"))
              .filter(F.col("score") > 0.0))
    return deterministic_topk(scores, k)


def sparse_topk_inverted(exploded: DataFrame,
                         query_weights: dict[str, float], k: int = 10,
                         id_col: str = "doc_id", term_col: str = "term",
                         weight_col: str = "weight") -> DataFrame:
    """Top-k sparse dot-product over the exploded impact layout
    (doc_id, term, weight) — rank-identical to :func:`sparse_topk` on
    the equivalent map column (pinned by test).

    Plan: IN-filter on the query terms (pushed to the scan; partition
    pruning when the layout is term-partitioned), broadcast the
    m-row (term, qw) table, multiply, ONE groupBy(doc_id) sum with
    map-side partial aggregation, TakeOrderedAndProject."""
    if not query_weights:
        raise ValueError("sparse_topk_inverted: empty query")
    spark = exploded.sparkSession
    qdf = spark.createDataFrame(
        sorted(query_weights.items()), f"{term_col} string, _qw double")
    scores = (exploded
              .filter(F.col(term_col).isin(*query_weights.keys()))
              .join(F.broadcast(qdf), term_col)
              .groupBy(F.col(id_col).alias("doc_id"))
              .agg(F.sum(F.col(weight_col) * F.col("_qw")).alias("score"))
              .filter(F.col("score") > 0.0))
    return deterministic_topk(scores, k)


def write_impact_layout(exploded: DataFrame, path: str,
                        term_col: str = "term",
                        n_buckets: int = 64) -> None:
    """Persist the exploded impact layout hash-bucketed by term
    (``impact_bkt=B`` partitions; rows are in no order within a file:
    Spark's planned write sorts each task by the partition column).
    Query-time IN-filters on the term column prune to the touched
    buckets."""
    bkt = F.pmod(F.xxhash64(F.col(term_col)), F.lit(n_buckets)).alias(
        "impact_bkt")
    (exploded.withColumn("impact_bkt", bkt)
     .repartition("impact_bkt")
     .write.mode("overwrite").partitionBy("impact_bkt").parquet(path))


def read_impact_layout(spark: SparkSession, path: str,
                       query_weights: dict[str, float],
                       term_col: str = "term",
                       n_buckets: int = 64) -> DataFrame:
    """Read back only the buckets the query's terms hash into —
    PartitionFilters do the pruning; the caller's term filter then
    picks the rows inside each bucket."""
    df = spark.read.parquet(path)
    bkts = sorted({b["b"] for b in
                   spark.createDataFrame([(t,) for t in query_weights],
                                         f"{term_col} string")
                   .select(F.pmod(F.xxhash64(F.col(term_col)),
                                  F.lit(n_buckets)).alias("b"))
                   .collect()})
    return df.filter(F.col("impact_bkt").isin(bkts))
