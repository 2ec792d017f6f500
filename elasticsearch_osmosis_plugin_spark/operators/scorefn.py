"""Score-shaping queries over the persisted index: ES function_score
and dis_max analogs.

Both compose the existing pruned scoring path (`operators.query`):
posting decode happens ONCE per unique term, the doc-store is read
only for the columns a score function needs, and the final ranking is
a TakeOrderedAndProject — no extra shuffle beyond the score
aggregation the plain match query already pays.

Scale notes (100 TB design point):
- function_score scores every matching posting: a bounded function
  weight (gauss/linear decay <= 1, log1p of a bounded field) would
  allow WAND-style pruning (ub' = ub * w_max), but correctness across
  arbitrary user functions cannot assume a bound — ES itself rescopes
  function_score out of WAND for the same reason.
- dis_max shares one postings decode across all subqueries; the
  per-(query, doc) partial sums and the per-doc max/sum reuse the SAME
  shuffle exchange (groupBy doc_id follows groupBy (query, doc_id) on
  a superset key — Catalyst keeps the partitioning).
"""

from __future__ import annotations

import functools
import math
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
from elasticsearch_osmosis_plugin_spark.operators.query import (
    _pruned_postings,
    _scored,
    allowed_docs,
    dictionary_rows,
    idf,
    live_docs,
    match_scores,
    query_terms,
    raw_postings,
    summed,
    term_idfs,
)
from elasticsearch_osmosis_plugin_spark.operators.topk import deterministic_topk
from elasticsearch_osmosis_plugin_spark.plans import catalog
from elasticsearch_osmosis_plugin_spark.plans.build import load_meta


def field_value_factor(field: str, factor: float = 1.0,
                       modifier: str = "none"):
    """ES field_value_factor function: weight = modifier(factor * v).

    ``modifier``: "none" | "log1p" (ln(1 + x), ES's log1p) | "sqrt".
    Returns a Column over the doc-store row."""
    v = F.col(field).cast("double") * float(factor)
    if modifier == "none":
        return v
    if modifier == "log1p":
        return F.log(F.lit(1.0) + v)
    if modifier == "sqrt":
        return F.sqrt(v)
    raise ValueError(f"unknown modifier: {modifier}")


def distance_feature(field: str, origin: float, pivot: float,
                     weight: float = 1.0):
    """ES distance_feature query's boost as a doc-store Column:
    weight * pivot / (pivot + |v - origin|). Unlike decay functions
    it is ADDED to the relevance score (use boost_mode="sum"), which
    keeps it a static WAND-compatible bound (<= weight) — exactly why
    ES introduced it as a fast alternative to function_score."""
    dist = F.abs(F.col(field).cast("double") - F.lit(float(origin)))
    return F.lit(float(weight)) * F.lit(float(pivot)) / (F.lit(float(pivot)) + dist)


def rank_feature(field: str, function: str = "saturation", *,
                 pivot: float = 1.0, scaling_factor: float = 1.0,
                 exponent: float = 1.0, weight: float = 1.0):
    """ES rank_feature query's boost as a doc-store Column — the
    static-feature relevance signal (pagerank / url_length / ELSER
    impact shapes), ES's exact parameterizations:

    - ``saturation``: w * x / (x + pivot)   (bounded by w — WAND-safe
      like distance_feature, exactly why ES recommends it);
    - ``log``: w * ln(scaling_factor + x)   (unbounded);
    - ``sigmoid``: w * x^exp / (x^exp + pivot^exp).

    Negative/absent features score 0 (ES: the clause contributes
    nothing). Combine with the relevance score via
    ``function_score_topk(..., boost_mode="sum")`` — the
    distance_feature pattern."""
    x = F.greatest(F.lit(0.0), F.col(field).cast("double"))
    if function == "saturation":
        s = x / (x + F.lit(float(pivot)))
    elif function == "log":
        s = F.log(F.lit(float(scaling_factor)) + x)
    elif function == "sigmoid":
        xp = F.pow(x, F.lit(float(exponent)))
        s = xp / (xp + F.lit(float(pivot) ** float(exponent)))
    else:
        raise ValueError(f"rank_feature: unknown function {function!r}")
    return F.lit(float(weight)) * s


def decay_fn(field: str, origin: float, scale: float, *,
             offset: float = 0.0, decay: float = 0.5,
             kind: str = "gauss"):
    """ES decay functions (gauss / exp / linear) over a numeric
    doc-store column, exactly ES's parameterization: the weight is 1
    within ``offset`` of ``origin`` and reaches ``decay`` at distance
    ``offset + scale``."""
    dist = F.greatest(F.lit(0.0),
                      F.abs(F.col(field).cast("double") - F.lit(float(origin)))
                      - F.lit(float(offset)))
    if kind == "gauss":
        # exp(ln(decay) * (dist/scale)^2) — sigma^2 = -scale^2/(2 ln d)
        return F.exp(F.lit(math.log(decay)) * (dist / scale) * (dist / scale))
    if kind == "exp":
        return F.exp(F.lit(math.log(decay)) * dist / scale)
    if kind == "linear":
        return F.greatest(F.lit(0.0),
                          (F.lit(float(scale)) - dist) / float(scale))
    raise ValueError(f"unknown decay kind: {kind}")


def function_score_topk(spark: SparkSession, index_path: str, query: str,
                        k: int = 10, *, functions: Sequence = (),
                        boost_mode: str = "multiply") -> DataFrame:
    """ES function_score analog: BM25 relevance reshaped by document
    features -> deterministic top-k (doc_id, score).

    ``functions``: Columns over doc-store rows (build them with
    :func:`field_value_factor` / :func:`decay_fn`); multiple functions
    multiply (ES score_mode=multiply default). ``boost_mode``:
    "multiply" | "sum" | "replace" — how the function weight combines
    with the BM25 score.

    Plan: pruned scoreall BM25 (one postings decode, corpus-global
    idf/avgdl) -> join the hit stream against the doc-store (hit
    stream is the small side at any realistic selectivity; the store
    scan reads only doc_id + the referenced feature columns) ->
    Catalyst column expressions for the weights -> top-k."""
    scores = match_scores(spark, index_path, query, load_meta(index_path))
    if scores is None:
        return spark.createDataFrame([], "doc_id long, score double")
    if not functions:
        return deterministic_topk(scores, k)
    scores = scores.withColumnRenamed("score", "_bm25")
    w = functions[0]
    for fn in functions[1:]:
        w = w * fn
    ds = catalog.read_table(spark, index_path, "docstats")
    joined = ds.join(scores, "doc_id").withColumn("_w", w)
    if boost_mode == "multiply":
        score = F.col("_bm25") * F.col("_w")
    elif boost_mode == "sum":
        score = F.col("_bm25") + F.col("_w")
    elif boost_mode == "replace":
        score = F.col("_w")
    else:
        raise ValueError(f"unknown boost_mode: {boost_mode}")
    return deterministic_topk(
        joined.select("doc_id", score.alias("score")), k)


def dis_max_topk(spark: SparkSession, index_path: str,
                 queries: Sequence[str], k: int = 10,
                 tie_breaker: float = 0.0) -> DataFrame:
    """ES dis_max analog over N match subqueries on the same field:

        score(doc) = max_q s_q(doc) + tie_breaker * sum_{q != argmax} s_q

    (best_fields semantics when the subqueries target per-field
    indexes — see :func:`multi_match_best_fields`). One postings
    decode for the UNION of all subquery terms; a tiny broadcast
    (query_id, term) map fans partials out to their subqueries."""
    meta = load_meta(index_path)
    per_q = {f"q{i}": query_terms(q, meta) for i, q in enumerate(queries)}
    uniq = sorted({t for ts in per_q.values() for t in ts})
    idf_by_term = term_idfs(dictionary_rows(spark, index_path, uniq, meta),
                            meta)
    if not idf_by_term:
        return spark.createDataFrame([], "doc_id long, score double")
    slots = spark.createDataFrame(
        [(qid, t) for qid, ts in per_q.items() for t in ts
         if t in idf_by_term],
        "query_id string, term string")
    per_query = summed(_scored(spark, index_path, meta, idf_by_term)
                       .join(F.broadcast(slots), "term"),
                       keys=("query_id", "doc_id"))
    return deterministic_topk(_dis_max(per_query, tie_breaker), k)


def _dis_max(scores: DataFrame, tie_breaker: float) -> DataFrame:
    """Per-doc max of (doc_id, score) rows + tie_breaker * the rest."""
    return (scores.groupBy("doc_id")
            .agg(F.max("score").alias("_mx"), F.sum("score").alias("_sm"))
            .select("doc_id",
                    (F.col("_mx") + F.lit(float(tie_breaker))
                     * (F.col("_sm") - F.col("_mx"))).alias("score")))


def multi_match_best_fields(spark: SparkSession,
                            field_indexes: dict[str, str], query: str,
                            k: int = 10,
                            tie_breaker: float = 0.0) -> DataFrame:
    """ES multi_match type=best_fields analog: the query runs against
    one persisted index PER FIELD (ES keeps one inverted index per
    field the same way); per-field BM25 scores combine dis_max-style.

    Each field's index contributes its own df/avgdl statistics —
    exactly per-field BM25 as ES computes it. Per-field scoring uses
    that index's pruned scoreall path; the cross-field combine is a
    union + one groupBy on doc_id."""
    per_field = _per_field_scores(spark, field_indexes, query)
    if per_field is None:
        return SparkSession.getActiveSession().createDataFrame(
            [], "doc_id long, score double")
    return deterministic_topk(_dis_max(per_field, tie_breaker), k)


def _per_field_scores(spark: SparkSession, field_indexes: dict[str, str],
                      query: str) -> DataFrame | None:
    """Union of each field index's scoreall (doc_id, score) rows, or
    None when no field indexes a query term."""
    scored = [s for s in (match_scores(spark, path, query, load_meta(path))
                          for path in field_indexes.values())
              if s is not None]
    return functools.reduce(DataFrame.unionByName, scored) if scored \
        else None


def multi_match_most_fields(spark: SparkSession,
                            field_indexes: dict[str, str], query: str,
                            k: int = 10) -> DataFrame:
    """ES multi_match type=most_fields: per-field BM25 scores SUM
    (best_fields takes the max) — the "same text analyzed different
    ways" combine. Same per-field pruned scoring plan as best_fields;
    only the final aggregate differs."""
    per_field = _per_field_scores(spark, field_indexes, query)
    if per_field is None:
        return SparkSession.getActiveSession().createDataFrame(
            [], "doc_id long, score double")
    return deterministic_topk(summed(
        per_field.withColumnRenamed("score", "partial")), k)


def multi_match_cross_fields(spark: SparkSession,
                             field_indexes: dict[str, str], query: str,
                             k: int = 10,
                             operator: str = "or") -> DataFrame:
    """ES multi_match type=cross_fields: TERM-centric blending — each
    query term is looked up in every field and scored with a BLENDED
    document frequency (Lucene's BlendedTermQuery: df = max over the
    fields, so a term common in `title` but rare in `body` is not
    spuriously rare), then each (doc, term) takes its best field's
    partial and a doc sums over terms. ``operator="and"`` requires
    every query term to match in AT LEAST ONE field (exactly ES's
    cross_fields AND: per-term cross-field disjunction, conjunction
    across terms).

    Plan: one pruned per-field decode sharing the blended idf map; the
    cross-field max and the per-doc sum are two groupBys on
    (doc_id[, term]) — the second reuses the first's hash partitioning
    (superset key), no extra exchange."""
    metas = {f: load_meta(p) for f, p in field_indexes.items()}
    if not metas:
        return SparkSession.getActiveSession().createDataFrame(
            [], "doc_id long, score double")
    # blended df: max over fields, idf from the (shared) corpus size
    df_by_term: dict[str, int] = {}
    dics = {}
    n_docs = 0
    for f, p in field_indexes.items():
        meta = metas[f]
        n_docs = max(n_docs, int(meta["n_docs"]))
        dic = dictionary_rows(spark, p, query_terms(query, meta), meta)
        dics[f] = dic
        for r in dic.itertuples():
            df_by_term[r.term] = max(df_by_term.get(r.term, 0), int(r.df))
    if not df_by_term:
        return SparkSession.getActiveSession().createDataFrame(
            [], "doc_id long, score double")
    blended_idf = {t: idf(n_docs, d) for t, d in df_by_term.items()}
    parts = []
    for f, p in field_indexes.items():
        terms = sorted(set(dics[f]["term"]))
        if not terms:
            continue
        parts.append(
            _scored(spark, p, metas[f], {t: blended_idf[t] for t in terms})
            .select("doc_id", "term", "partial"))
    u = parts[0]
    for s in parts[1:]:
        u = u.unionByName(s)
    per_term = (u.groupBy("doc_id", "term")
                .agg(F.max("partial").alias("p")))
    agg = per_term.groupBy("doc_id").agg(
        F.sum("p").alias("score"),
        F.countDistinct("term").alias("_nt"))
    if operator.lower() == "and":
        n_terms = len({t for m in metas.values()
                       for t in query_terms(query, m)})
        agg = agg.filter(F.col("_nt") == n_terms)
    return deterministic_topk(agg.select("doc_id", "score"), k)


def boosting_topk(spark: SparkSession, index_path: str, positive: str,
                  negative: str, k: int = 10, *,
                  negative_boost: float = 0.5) -> DataFrame:
    """ES boosting query: rank by the positive query's BM25, but any
    hit ALSO matching the negative query (OR over its terms) keeps
    only ``negative_boost`` of its score — demotion without exclusion
    (the soft must_not). One scored decode for the positive terms +
    one constant-score decode for the negative set joined as a flag;
    the k-cut happens after scaling, so demoted docs can still rank."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        match_any_terms,
    )

    meta = load_meta(index_path)
    primary = match_scores(spark, index_path, positive, meta)
    if primary is None:
        return spark.createDataFrame([], "doc_id long, score double")
    neg = match_any_terms(spark, index_path, negative) \
        .withColumn("_neg", F.lit(True))
    scored = (primary.join(neg, "doc_id", "left")
              .select("doc_id",
                      F.when(F.col("_neg"),
                             F.col("score") * float(negative_boost))
                      .otherwise(F.col("score")).alias("score")))
    return deterministic_topk(scored, k)


def collapse_topk(spark: SparkSession, index_path: str, query: str,
                  collapse_col: str, k: int = 10) -> DataFrame:
    """ES field-collapsing analog (``collapse`` on a keyword field):
    the BM25 ranking with only the BEST hit per distinct value of a
    doc-store field retained, then the usual top-k cut -> one row per
    group, ordered by that representative's score.

    Plan: one pruned postings decode; the hit stream joins the
    doc-store for the collapse column only; the per-group argmax is
    ``row_number() OVER (PARTITION BY field ORDER BY score DESC,
    doc_id) = 1`` — Spark's WindowGroupLimit pushes the 1-per-group
    cut below the exchange, so a mega-group (the collapse skew case:
    one field value matching millions of docs) ships one row per map
    partition, not its whole hit set. The final k-cut is a
    TakeOrderedAndProject over <= |distinct values| rows."""
    from pyspark.sql import Window

    meta = load_meta(index_path)
    scores = match_scores(spark, index_path, query, meta)
    if scores is None:
        return spark.createDataFrame(
            [], f"{collapse_col} string, doc_id long, score double")
    ds = catalog.read_table(spark, index_path, "docstats") \
        .select("doc_id", collapse_col)
    w = Window.partitionBy(collapse_col).orderBy(
        F.desc("score"), F.asc("doc_id"))
    best = (scores.join(ds, "doc_id")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(collapse_col, "doc_id", "score"))
    return best.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def rescore_topk(spark: SparkSession, index_path: str, query: str,
                 rescore_query: str, k: int = 10, *,
                 window_size: int = 50, query_weight: float = 1.0,
                 rescore_query_weight: float = 1.0) -> DataFrame:
    """ES rescore analog: re-rank the top ``window_size`` hits of a
    cheap first-pass query with a second (typically more selective)
    query, combining

        score = query_weight * primary + rescore_query_weight * secondary

    (ES's default ``score_mode=total``). Docs outside the window are
    never rescored; docs in the window that miss every rescore term
    keep secondary = 0. The secondary idf/avgdl stay CORPUS-global
    (dictionary stats), exactly as ES computes rescore scores.

    Plan: first pass = pruned scoreall + TakeOrderedAndProject (the
    window cut); the window id set (<= window_size rows) broadcasts
    into the secondary decode as a semi-join, so the second pass
    decodes only the rescore terms' postings and keeps only window
    docs — at 100 TB the rescore cost is bounded by window_size, not
    corpus size."""
    meta = load_meta(index_path)
    primary = match_scores(spark, index_path, query, meta)
    if primary is None:
        return spark.createDataFrame([], "doc_id long, score double")
    # materialize the window ONCE (<= window_size rows — the same
    # bounded set an ES shard holds in memory while rescoring); it
    # feeds both the secondary semi-join and the final combine, and
    # a local DataFrame avoids re-running the first pass per consumer
    win_rows = deterministic_topk(primary, window_size).collect()
    window = spark.createDataFrame(
        [(int(r["doc_id"]), float(r["score"])) for r in win_rows],
        "doc_id long, _p double")
    secondary = match_scores(spark, index_path, rescore_query, meta,
                             allowed=F.broadcast(window.select("doc_id")))
    if secondary is None:
        combined = window.select(
            "doc_id",
            (F.lit(float(query_weight)) * F.col("_p")).alias("score"))
        return deterministic_topk(combined, k)
    secondary = secondary.withColumnRenamed("score", "_r")
    combined = (window.join(secondary, "doc_id", "left")
                .select("doc_id",
                        (F.lit(float(query_weight)) * F.col("_p")
                         + F.lit(float(rescore_query_weight))
                         * F.coalesce(F.col("_r"), F.lit(0.0))).alias("score")))
    return deterministic_topk(combined, k)


def top_hits(spark: SparkSession, index_path: str, query: str,
             bucket_col: str, n_hits: int = 3) -> DataFrame:
    """ES terms-aggregation + top_hits sub-aggregation analog: for
    every value of a doc-store field, the top ``n_hits`` matching docs
    by BM25 score -> (bucket, rank, doc_id, score).

    Plan: one postings decode for the query terms; the hit stream
    joins the doc-store for the bucket column only; per-bucket ranking
    is ``row_number() OVER (PARTITION BY bucket ORDER BY score DESC,
    doc_id)`` with ``rank <= n`` — Spark's WindowGroupLimit pushes the
    n-per-group cut below the shuffle, so only n_hits rows per bucket
    per map partition ever move."""
    from pyspark.sql import Window

    meta = load_meta(index_path)
    scores = match_scores(spark, index_path, query, meta)
    if scores is None:
        return spark.createDataFrame(
            [], f"{bucket_col} string, rank int, doc_id long, score double")
    ds = catalog.read_table(spark, index_path, "docstats") \
        .select("doc_id", bucket_col)
    w = Window.partitionBy(bucket_col).orderBy(
        F.desc("score"), F.asc("doc_id"))
    return (scores.join(ds, "doc_id")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= n_hits)
            .select(bucket_col, "rank", "doc_id", "score")
            .orderBy(bucket_col, "rank"))


def rrf_fuse(rankings: dict[str, DataFrame], k: int = 10, rrf_k: int = 60,
             id_col: str = "doc_id", score_col: str = "score_x1e4",
             window: int | None = None) -> DataFrame:
    """Reciprocal-rank fusion of N ranked retrievals (hybrid search:
    modern ES's `rrf` retriever — lexical BM25 fused with a
    vector-similarity ranking; Cormack et al. 2009 formula
    ``sum_s 1/(rrf_k + rank_s(d))``).

    Each input DataFrame carries (id_col, score_col); ranks are
    assigned per source by (score desc, id asc) — pass FIXED-POINT
    scores (x1e4) so rank boundaries are engine-deterministic. A doc
    absent from a source contributes nothing for it. ``window`` caps
    each source's contribution to its top-N rows (ES rank_window_size);
    default: everything the caller retrieved.

    Returns (doc_id, rrf_x1e6, n_sources) ordered by fused score.

    Scale: inputs are already top-k' slices (bounded rows), so the
    union + window-rank + groupBy all run on k'-sized data — the
    expensive retrievals stay in their own pruned plans; fusion adds
    no corpus-sized work.
    """
    from pyspark.sql import Window as W

    tagged = []
    for name, df in sorted(rankings.items()):
        w = W.partitionBy(F.lit(name)).orderBy(F.desc("_s"), F.asc("doc_id"))
        r = (df.select(F.col(id_col).alias("doc_id"),
                       F.col(score_col).alias("_s"))
             .withColumn("rank", F.row_number().over(w))
             .withColumn("src", F.lit(name)))
        if window is not None:
            r = r.filter(F.col("rank") <= window)
        tagged.append(r.select("doc_id", "rank", "src"))
    allr = tagged[0]
    for t in tagged[1:]:
        allr = allr.unionByName(t)
    fused = (allr.groupBy("doc_id")
             .agg(F.floor(F.sum(1.0 / (F.lit(float(rrf_k)) + F.col("rank")))
                          * 1e6 + F.lit(0.5)).cast("long").alias("rrf_x1e6"),
                  F.count(F.lit(1)).alias("n_sources")))
    return fused.orderBy(F.desc("rrf_x1e6"), F.asc("doc_id")).limit(k)


def linear_fuse(rankings: dict[str, DataFrame],
                weights: dict[str, float] | None = None, k: int = 10,
                normalizer: str = "minmax", window: int | None = None,
                id_col: str = "doc_id",
                score_col: str = "score_x1e4") -> DataFrame:
    """Weighted score fusion of N ranked retrievals — modern ES's
    ``linear`` retriever (the score-based sibling of ``rrf``): each
    source's top-``window`` scores are normalized, scaled by the
    source's weight, and summed per doc.

    ``normalizer``: ``"minmax"`` ((s-min)/(max-min) within the
    source's window; a degenerate window where max==min normalizes to
    1.0 — every doc IS the max), ``"l2_norm"`` (s / ||window scores||),
    or ``"none"`` (raw scores — only sane when the sources share a
    scale); pass a dict {source: normalizer} for ES's per-retriever
    form. Pass FIXED-POINT scores (x1e4) so the min/max/norm
    constants — and thus every fused value — are engine-deterministic.

    Returns (doc_id, linear_x1e6, n_sources) ordered by fused score.

    Scale: like rrf_fuse, fusion runs on the k'-sized top slices; the
    per-source normalization constants are one tiny agg broadcast back
    over its own slice. No corpus-sized work."""
    from pyspark.sql import Window as W

    weights = weights or {}
    tagged = []
    for name, df in sorted(rankings.items()):
        wt = float(weights.get(name, 1.0))
        nz = (normalizer.get(name, "minmax")
              if isinstance(normalizer, dict) else normalizer)
        w = W.partitionBy(F.lit(name)).orderBy(F.desc("_s"), F.asc("doc_id"))
        r = (df.select(F.col(id_col).alias("doc_id"),
                       F.col(score_col).cast("double").alias("_s"))
             .withColumn("_rank", F.row_number().over(w)))
        if window is not None:
            r = r.filter(F.col("_rank") <= window)
        if nz == "minmax":
            c = r.agg(F.min("_s").alias("_lo"), F.max("_s").alias("_hi"))
            norm = F.when(F.col("_hi") > F.col("_lo"),
                          (F.col("_s") - F.col("_lo"))
                          / (F.col("_hi") - F.col("_lo"))) \
                    .otherwise(F.lit(1.0))
        elif nz == "l2_norm":
            c = r.agg(F.sqrt(F.sum(F.col("_s") * F.col("_s"))).alias("_n2"))
            norm = F.when(F.col("_n2") > 0, F.col("_s") / F.col("_n2")) \
                    .otherwise(F.lit(0.0))
        elif nz == "none":
            c, norm = None, F.col("_s")
        else:
            raise ValueError(f"linear_fuse: unknown normalizer {nz!r}")
        if c is not None:
            r = r.crossJoin(F.broadcast(c))
        tagged.append(r.select(
            "doc_id", (norm * F.lit(wt)).alias("_contrib")))
    allr = tagged[0]
    for t in tagged[1:]:
        allr = allr.unionByName(t)
    fused = (allr.groupBy("doc_id")
             .agg(F.floor(F.sum("_contrib") * 1e6 + F.lit(0.5))
                  .cast("long").alias("linear_x1e6"),
                  F.count(F.lit(1)).alias("n_sources")))
    return fused.orderBy(F.desc("linear_x1e6"), F.asc("doc_id")).limit(k)


def common_terms_topk(spark: SparkSession, index_path: str, query: str,
                      k: int = 10, cutoff_frequency: float = 0.01,
                      *, post_filter=None) -> DataFrame:
    """ES `common` terms query (the 0.90/1.x-era dynamic-stopword
    query): split the query's terms by document frequency at
    ``cutoff_frequency`` (df/N). Low-frequency terms SELECT documents
    (OR — a doc must match at least one); high-frequency terms never
    select on their own, they only add their BM25 partial to docs the
    low-freq terms already matched. If EVERY term is above the cutoff,
    ES rewrites the query to a conjunction of the high-freq terms —
    mirrored here (doc must match all terms).

    One postings decode for the term union, one aggregation: the
    low-freq match count falls out of the same groupBy that sums the
    score (a conditional countDistinct), so the selection predicate
    costs no extra pass. Scores are corpus-global BM25 — identical to
    what scoreall would assign the same (doc, terms).
    """
    meta = load_meta(index_path)
    terms = query_terms(query, meta)
    dic = dictionary_rows(spark, index_path, terms, meta)
    if dic.empty:
        return spark.createDataFrame([], "doc_id long, score double")
    low = sorted(r.term for r in dic.itertuples()
                 if float(r.df) / float(meta["n_docs"]) <= cutoff_frequency)
    live = sorted(dic["term"])
    per_doc = (_scored(spark, index_path, meta, term_idfs(dic, meta),
                       allowed=allowed_docs(spark, index_path, post_filter))
               .groupBy("doc_id")
               .agg(F.sum("partial").alias("score"),
                    F.count_distinct(
                        F.when(F.col("term").isin(low), F.col("term")))
                     .alias("_n_low"),
                    F.count_distinct("term").alias("_n_t")))
    sel = (per_doc.filter(F.col("_n_low") >= 1) if low
           else per_doc.filter(F.col("_n_t") >= len(live)))
    return deterministic_topk(sel.select("doc_id", "score"), k)


def _fp_ranked_sample(scores: DataFrame, shard_size: int) -> DataFrame:
    """Top ``shard_size`` hits by the x1e4 fixed-point score (desc,
    doc_id asc) — the deterministic boundary rule every engine twin
    can reproduce. TakeOrderedAndProject-sized: shard_size rows move."""
    fp = F.floor(F.col("score") * 10000.0 + F.lit(0.5)).cast("long")
    return (scores.select("doc_id", fp.alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id"))
            .limit(int(shard_size)))


def sampler_agg(spark: SparkSession, index_path: str, query: str,
                facet_col: str, shard_size: int = 100) -> DataFrame:
    """ES sampler aggregation: restrict sub-aggregations to the
    ``shard_size`` best-scoring hits, then bucket those by
    ``facet_col`` -> (facet, n_docs), count desc then value.

    Plan: the usual pruned scoreall pass -> fixed-point top-shard_size
    cut (TakeOrderedAndProject) -> semi-join prunes the doc-store read
    to (doc_id, facet_col) of the sample -> a tiny groupBy. Sub-agg
    cost is bounded by shard_size regardless of corpus size — exactly
    the knob's purpose in ES."""
    meta = load_meta(index_path)
    scores = match_scores(spark, index_path, query, meta)
    if scores is None:
        return spark.createDataFrame([], f"{facet_col} string, n_docs long")
    sample = _fp_ranked_sample(scores, shard_size)
    ds = catalog.read_table(spark, index_path, "docstats") \
        .select("doc_id", facet_col)
    return (ds.join(sample.select("doc_id"), "doc_id", "left_semi")
            .groupBy(facet_col)
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc(facet_col)))


def diversified_sampler_agg(spark: SparkSession, index_path: str,
                            query: str, facet_col: str, dedup_col: str,
                            shard_size: int = 100,
                            max_docs_per_value: int = 1) -> DataFrame:
    """ES diversified_sampler aggregation: like ``sampler_agg`` but at
    most ``max_docs_per_value`` docs per distinct ``dedup_col`` value
    survive into the sample (de-biasing a dominant source before the
    best-hits cut — ES's anti-"single noisy domain" knob).

    Plan: scoreall -> join the dedup field in -> per-value window
    row_number over the fixed-point order keeps the top
    max_docs_per_value of each value (WindowGroupLimit pushes this cut
    below the exchange) -> global top-shard_size -> facet groupBy."""
    from pyspark.sql import Window

    meta = load_meta(index_path)
    scores = match_scores(spark, index_path, query, meta)
    if scores is None:
        return spark.createDataFrame([], f"{facet_col} string, n_docs long")
    ds = catalog.read_table(spark, index_path, "docstats") \
        .select("doc_id", facet_col, dedup_col)
    fp = F.floor(F.col("score") * 10000.0 + F.lit(0.5)).cast("long")
    scored = scores.join(ds, "doc_id").select(
        "doc_id", facet_col, dedup_col, fp.alias("score_x1e4"))
    w = Window.partitionBy(dedup_col).orderBy(
        F.desc("score_x1e4"), F.asc("doc_id"))
    diversified = (scored.withColumn("_rn", F.row_number().over(w))
                   .filter(F.col("_rn") <= int(max_docs_per_value))
                   .drop("_rn"))
    sample = (diversified
              .orderBy(F.desc("score_x1e4"), F.asc("doc_id"))
              .limit(int(shard_size)))
    return (sample.groupBy(facet_col)
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc(facet_col)))


def random_score(seed: int = 0, field: str = "doc_id"):
    """ES random_score function: a reproducible pseudo-random weight in
    [0, 1) from (seed, field value) — ES hashes the seed with the
    field (default _seq_no/_id) for exactly this determinism. Here the
    hash is the engine's standard cross-engine md5 fold ("<v>:<seed>"
    -> 60 bits -> [0, 1e6) / 1e6), identical in Spark SQL and the
    DuckDB twins, stable under any repartitioning. Compose it into
    ``function_score_topk(functions=[...])``."""
    h = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.col(field).cast("string"),
                          F.lit(str(seed)))), 2, 15), 16, 10).cast("long")
    return F.pmod(h, F.lit(1_000_000)).cast("double") / F.lit(1_000_000.0)


def script_score_topk(spark: SparkSession, index_path: str, query: str,
                      script, k: int = 10) -> DataFrame:
    """ES script_score query: score = script(_score, doc) — full
    control over the final score, relevance available as ``_score``.

    Spark-first reading: the "script" IS a Catalyst Column expression
    over the doc-store row with the BM25 relevance bound to the
    ``_score`` column (the painless-to-Catalyst translation a user
    does by hand: ``F.col("_score") * F.log1p(F.col("n_likes"))``).
    It stays whole-stage-codegen JVM-side — no interpreter, no UDF —
    which is the entire point of re-expressing painless as columns.

    ES requires script scores to be non-negative; negative results
    raise there, here they are clamped to 0 with the same user-visible
    intent (documented deviation: clamp, not error — a distributed
    assert would cost an extra action).

    Plan: identical to function_score (one decode -> doc-store join ->
    expression -> deterministic top-k)."""
    scores = match_scores(spark, index_path, query, load_meta(index_path))
    if scores is None:
        return spark.createDataFrame([], "doc_id long, score double")
    ds = catalog.read_table(spark, index_path, "docstats")
    joined = ds.join(scores.withColumnRenamed("score", "_score"), "doc_id")
    return deterministic_topk(
        joined.select("doc_id",
                      F.greatest(script.cast("double"), F.lit(0.0))
                      .alias("score")), k)


def pinned_topk(spark: SparkSession, index_path: str, ids: Sequence[int],
                organic: str, k: int = 10) -> DataFrame:
    """ES pinned query: the listed doc ids rank FIRST, in list order,
    ahead of every organic hit; the organic ranking (BM25 over
    ``organic``) follows with the promoted ids excluded. ES implements
    this with synthetic scores counting down from above any possible
    organic score (PinnedQueryBuilder), and so does this: pinned doc i
    scores ``1e9 - i``. Pinned ids must exist and be live (ES returns
    pinned docs even when they don't match the organic query — but
    never deleted ones); missing ids are dropped, not errors.

    Plan: the pin list is query-literal-sized (a broadcast), the
    organic side is the usual pruned scoreall decode; one anti-join
    drops promoted ids from the organic stream."""
    meta = load_meta(index_path)
    pin = spark.createDataFrame(
        [(int(d), i) for i, d in enumerate(ids)], "doc_id long, _pos int")
    ds = live_docs(spark, index_path, catalog.read_table(
        spark, index_path, "docstats").select("doc_id"), meta)
    pinned = (ds.join(F.broadcast(pin), "doc_id")
              .select("doc_id",
                      (F.lit(1.0e9) - F.col("_pos")).alias("score")))
    org = match_scores(spark, index_path, organic, meta)
    if org is not None:
        org = org.join(F.broadcast(pin.select("doc_id")),
                       "doc_id", "left_anti")
        pinned = pinned.unionByName(org)
    return deterministic_topk(pinned, k)


def match_bool_prefix_topk(spark: SparkSession, index_path: str, text: str,
                           k: int = 10,
                           max_expansions: int = 50) -> DataFrame:
    """ES match_bool_prefix: the input's terms become SHOULD clauses of
    a bool query — every term but the last scored with BM25, the last
    treated as a prefix query under its constant-score rewrite
    (contributing 1.0, the same rewrite this engine's query_string
    applies to ``win*``). Union semantics (minimum_should_match=1):
    a doc matching only the prefix still ranks.

    One scored decode for the full terms + one capped dictionary
    expansion for the prefix; a full-outer combine sums the parts."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        match_expanded,
    )

    meta = load_meta(index_path)
    toks = tokenize_py(text, meta["analyzer"],
                       min_len=meta.get("min_token_len", 1),
                       max_len=meta.get("max_token_len", 64))
    if not toks:
        return spark.createDataFrame([], "doc_id long, score double")
    *full, prefix = toks
    org = (match_scores(spark, index_path, " ".join(full), meta)
           if full else None)
    pref = (match_expanded(spark, index_path, prefix, mode="prefix",
                           max_expansions=max_expansions)
            .select("doc_id", F.lit(1.0).alias("_p")))
    if org is None:
        return deterministic_topk(
            pref.select("doc_id", F.col("_p").alias("score")), k)
    merged = (org.withColumnRenamed("score", "_s")
              .join(pref, "doc_id", "full_outer")
              .select("doc_id",
                      (F.coalesce(F.col("_s"), F.lit(0.0))
                       + F.coalesce(F.col("_p"), F.lit(0.0))).alias("score")))
    return deterministic_topk(merged, k)


def combined_fields_topk(spark: SparkSession,
                         field_indexes: dict[str, str], query: str,
                         k: int = 10,
                         field_weights: dict[str, float] | None = None) \
        -> DataFrame:
    """ES combined_fields (Lucene CombinedFieldQuery / BM25F-lite):
    TERM-CENTRIC multi-field scoring — the fields blend into one
    pseudo-field BEFORE BM25, instead of combining per-field scores
    after (that's multi_match best_fields). Per term t and doc d:

        tf_c(t,d)  = sum_f w_f * tf_f(t,d)
        dl_c(d)    = sum_f w_f * dl_f(d)
        avgdl_c    = mean_d dl_c(d)
        df_c(t)    = |{d : tf_c(t,d) > 0}|        (exact union df)

    and score(d) = sum_t idf(df_c) * BM25(tf_c, dl_c, avgdl_c).
    Lucene approximates df_c with max_f df_f; the distributed engine
    can afford the EXACT union df (one groupBy over the decoded term
    rows, which the scoring pass needs anyway), so it uses it — same
    monotone family, better calibrated, and cheap here. Fields must
    share the analyzer (ES requires this too).

    Plan: one pruned raw-tf decode per field index (no per-field
    scoring), a union + (term, doc) groupBy builds tf_c; dl_c is a
    union + doc groupBy over the docstats dl columns (column-pruned
    scans); df_c comes from the tf_c frame itself (tiny, per-term) and
    broadcast-joins back. At the 100 TB design point dl_c/avgdl_c are
    build-time artifacts; query-time computation here keeps the
    operator self-contained over the existing per-field layout."""
    w = [float((field_weights or {}).get(f, 1.0)) for f in field_indexes]
    metas = {f: load_meta(p) for f, p in field_indexes.items()}
    analyzers = {m["analyzer"] for m in metas.values()}
    if len(analyzers) != 1:
        raise ValueError(f"combined_fields needs one analyzer: {analyzers}")
    k1 = float(next(iter(metas.values()))["k1"])
    b = float(next(iter(metas.values()))["b"])
    n_docs = max(m["n_docs"] for m in metas.values())

    tf_parts, dl_parts = [], []
    for i, (f, path) in enumerate(field_indexes.items()):
        meta = metas[f]
        terms = query_terms(query, meta)
        dic = dictionary_rows(spark, path, terms, meta)
        if not dic.empty:
            raw = raw_postings(_pruned_postings(spark, path,
                                                list(dic["term"]), meta),
                               with_dl=False)
            raw = live_docs(spark, path, raw, meta)
            tf_parts.append(raw.select("term", "doc_id",
                                       F.lit(i).alias("_f"), "tf"))
        dl_parts.append(catalog.read_table(spark, path, "docstats")
                        .select("doc_id", F.lit(i).alias("_f"), "dl"))
    if not tf_parts:
        return spark.createDataFrame([], "doc_id long, score double")

    # Every float sum below runs in a fixed order (fields in the given
    # order, terms sorted), so repeated calls agree bit for bit: each
    # (key, field) value lands in its own pivot column and the weighted
    # blend adds the columns in field order.
    fields = list(range(len(w)))

    def by_field(parts, keys, col):
        return (functools.reduce(DataFrame.unionByName, parts)
                .groupBy(*keys).pivot("_f", fields).agg(F.first(col)))

    def blend():
        return functools.reduce(lambda a, c: a + c, [
            F.coalesce(F.col(str(i)), F.lit(0)) * F.lit(w[i])
            for i in fields])

    tfc = by_field(tf_parts, ("term", "doc_id"), "tf").select(
        "term", "doc_id", blend().alias("tfc"))
    dls = by_field(dl_parts, ("doc_id",), "dl")
    dlc = dls.select("doc_id", blend().alias("dlc"))
    # avgdl_c = sum_f w_f * (exact integer dl total of f) / union docs
    tot = dls.agg(F.count(F.lit(1)),
                  *[F.sum(F.col(str(i))) for i in fields]).collect()[0]
    avgdl_c = (sum(w[i] * float(tot[i + 1] or 0) for i in fields) / tot[0]
               if tot[0] else 0.0) or 1.0

    dfc = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    idf_c = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("dfc")
                                + F.lit(0.5)) / (F.col("dfc") + F.lit(0.5)))
    partial = (F.col("tfc") * F.lit(k1 + 1.0)
               / (F.col("tfc") + F.lit(k1) * (F.lit(1.0 - b)
                  + F.lit(b) * F.col("dlc") / F.lit(avgdl_c)))) * idf_c
    per_term = F.array_sort(F.collect_list(F.struct("term",
                                                    partial.alias("p"))))
    scored = (tfc.join(F.broadcast(dfc), "term")
              .join(dlc, "doc_id")
              .groupBy("doc_id")
              .agg(F.aggregate(per_term, F.lit(0.0),
                               lambda acc, x: acc + x["p"]).alias("score")))
    return deterministic_topk(scored, k)
