"""ES Graph explore API (``POST /index/_graph/explore``) re-expressed
Spark-first: iterative discovery of significant terms (vertices) and
their co-occurrence edges (connections), hop by hop from a seed query.

The reference plugin delegates every query to Elasticsearch
(``ESNodeITest.java`` exercises only the core search surface); the
Graph API is part of the ES surface its users reach through the same
client, so it belongs to this engine's native query layer.

Semantics (ES's documented model, with the determinism choices this
sandbox needs called out explicitly):

- **seed**: ``body["query"]`` — ``match`` (or/and), ``term``,
  ``terms`` or ``match_all`` — resolves to a doc-id set via the
  inverted index (posting union/intersection, metadata-pruned).
- **vertices**: ``[{"field": f, "size": 5, "min_doc_count": 3,
  "include": [...], "exclude": [...]}]``. This engine indexes one
  text field per index, so every spec's field must name the indexed
  field (multi-field explores run one explore per field index).
  ``include``/``exclude`` are term lists (ES also allows regex —
  rejected here, never silently approximated).
- **controls**: ``use_significance`` (default true: JLH score, the
  same formula as :func:`~...intersect.significant_terms`; false:
  plain foreground doc_count) and ``sample_size`` (default 100; each
  hop's doc set is capped at the first ``sample_size`` docs by
  ``doc_id`` ascending — a deterministic variant of ES's
  best-matching-per-shard sampling, documented divergence).
- **connections**: nested ``{"vertices": [...], "connections":
  {...}}`` hops. Hop *i*'s doc set = docs containing >= 1 of hop
  *i-1*'s vertex terms (posting union, then the sample cap); new
  vertices are scored over that doc set and EXCLUDE every previously
  discovered term (ES behavior); edges connect a frontier vertex to a
  new vertex when they co-occur in a sampled doc, weighted by the
  co-occurring doc count.

Output: ``(vertices, connections)`` DataFrames —
``vertices(field, term, depth, doc_count, weight)`` ordered by
(depth, weight desc, term) and
``connections(source, target, doc_count)`` ordered by (source,
target), source/target being vertex TERMS (ES's response uses array
indices into its vertex list; terms are the same identity, join-able).

Plan shape at 100 TB: each hop touches only the frontier terms'
postings (dictionary-pruned scan), the doc-store rows of the sampled
docs (semi-join, sample-capped), and the dictionary for background
frequencies (metadata-only). The edge join is keyed on doc_id over at
most ``sample_size`` docs with per-doc term lists already filtered to
the <= |frontier| + size*|specs| surviving terms — bounded on both
sides, broadcastable. Frontier terms collected to the driver are
k-bounded (size x specs per hop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_osmosis_plugin_spark.operators.intersect import (
    match_all_terms,
    match_any_terms,
)
from elasticsearch_osmosis_plugin_spark.operators.query import (
    dictionary_rows,
    live_docs,
    term_docs,
    term_vector_store,
)
from elasticsearch_osmosis_plugin_spark.plans import catalog
from elasticsearch_osmosis_plugin_spark.plans.build import (
    dictionary_df,
    load_meta,
)

VERTICES_SCHEMA = ("field string, term string, depth int, "
                   "doc_count long, weight double")
EDGES_SCHEMA = "source string, target string, doc_count long"


def docs_with_terms(spark: SparkSession, index_path: str,
                    terms: list[str]) -> DataFrame:
    """doc_ids containing >= 1 of the given ALREADY-ANALYZED terms
    (the hop expansion primitive — :func:`match_any_terms` would
    re-tokenize, which is wrong for terms lifted from the index)."""
    meta = load_meta(index_path)
    dic = dictionary_rows(spark, index_path, sorted(set(terms)), meta)
    if dic.empty:
        return spark.createDataFrame([], "doc_id long")
    return (term_docs(spark, index_path, list(dic["term"]), meta)
            .select("doc_id").distinct())


def _seed_ids(spark: SparkSession, index_path: str, query: dict) -> DataFrame:
    (kind, spec), = query.items()
    if kind == "match_all":
        ds = catalog.read_table(spark, index_path, "docstats")
        return live_docs(spark, index_path, ds.select("doc_id"))
    if kind == "match":
        (_, mspec), = spec.items()
        if isinstance(mspec, dict):
            text = str(mspec["query"])
            op = mspec.get("operator", "or")
        else:
            text, op = str(mspec), "or"
        fn = match_all_terms if op == "and" else match_any_terms
        return fn(spark, index_path, text)
    if kind == "term":
        (_, val), = spec.items()
        if isinstance(val, dict):
            val = val["value"]
        return docs_with_terms(spark, index_path, [str(val)])
    if kind == "terms":
        (_, vals), = spec.items()
        return docs_with_terms(spark, index_path, [str(v) for v in vals])
    raise ValueError(f"graph explore seed supports match / term / terms "
                     f"/ match_all queries, not {kind!r}")


def _jlh(n_fg, n_docs):
    fg_rate = F.col("doc_count") / F.lit(float(n_fg))
    bg_rate = F.col("df_bg") / F.lit(float(n_docs))
    return (fg_rate - bg_rate) * (fg_rate / bg_rate)


def _sample(ids: DataFrame, sample_size: int) -> DataFrame:
    return ids.orderBy("doc_id").limit(int(sample_size))


def _hop_vertices(spark: SparkSession, index_path: str,
                  sample_ids: DataFrame, specs: list[dict],
                  seen: set[str], depth: int, use_significance: bool,
                  n_docs: int, field: str) -> DataFrame:
    """Top vertices of one hop: fg doc counts over the sampled docs'
    term vectors, bg from the dictionary (metadata-only), JLH or raw
    doc_count weight; previously-seen terms excluded."""
    ds = term_vector_store(spark, index_path, "graph explore")
    fg_docs = (ds.select("doc_id", "tokens")
               .join(sample_ids, "doc_id", "left_semi"))
    n_fg = fg_docs.count()
    if n_fg == 0:
        return spark.createDataFrame([], VERTICES_SCHEMA)
    fg = (fg_docs
          .select(F.explode(F.array_distinct("tokens")).alias("term"))
          .groupBy("term").agg(F.count(F.lit(1)).alias("doc_count")))
    bg = (dictionary_df(spark, index_path)
          .groupBy("term").agg(F.sum("df").alias("df_bg")))
    scored = fg.join(bg, "term")
    out = []
    for spec in specs:
        if spec.get("field", field) != field:
            raise ValueError(
                f"vertex field {spec.get('field')!r} is not this index's "
                f"field {field!r} — run one explore per field index")
        if any(isinstance(spec.get(k2), str) for k2 in ("include",
                                                        "exclude")):
            raise ValueError("include/exclude must be term LISTS here "
                             "(regex forms are not supported)")
        cand = scored.filter(F.col("doc_count")
                             >= int(spec.get("min_doc_count", 3)))
        if seen:
            cand = cand.filter(~F.col("term").isin(*sorted(seen)))
        if spec.get("include"):
            cand = cand.filter(
                F.col("term").isin(*[str(t) for t in spec["include"]]))
        if spec.get("exclude"):
            cand = cand.filter(
                ~F.col("term").isin(*[str(t) for t in spec["exclude"]]))
        weight = (_jlh(n_fg, n_docs) if use_significance
                  else F.col("doc_count").cast("double"))
        out.append(cand
                   .select(F.lit(field).alias("field"), "term",
                           F.lit(depth).alias("depth"), "doc_count",
                           weight.alias("weight"))
                   .orderBy(F.desc("weight"), F.asc("term"))
                   .limit(int(spec.get("size", 5))))
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res.dropDuplicates(["term"])


def _hop_edges(spark: SparkSession, index_path: str,
               sample_ids: DataFrame, frontier: list[str],
               new_terms: list[str]) -> DataFrame:
    """(frontier term, new term) co-occurrence doc counts within the
    hop's sampled docs. Both sides are exploded from the SAME pruned
    doc-store rows (one scan), joined on doc_id — each side carries at
    most |frontier| resp. |new_terms| rows per doc."""
    if not frontier or not new_terms:
        return spark.createDataFrame([], EDGES_SCHEMA)
    ds = catalog.read_table(spark, index_path, "docstats")
    keep = sorted(set(frontier) | set(new_terms))
    tokd = (ds.select("doc_id", "tokens")
            .join(sample_ids, "doc_id", "left_semi")
            .select("doc_id",
                    F.explode(F.array_intersect(
                        F.array_distinct("tokens"),
                        F.array(*[F.lit(t) for t in keep]))).alias("term")))
    tokd = tokd.persist()
    src = (tokd.filter(F.col("term").isin(*sorted(set(frontier))))
           .withColumnRenamed("term", "source"))
    dst = (tokd.filter(F.col("term").isin(*sorted(set(new_terms))))
           .withColumnRenamed("term", "target"))
    return (src.join(dst, "doc_id")
            .groupBy("source", "target")
            .agg(F.count(F.lit(1)).alias("doc_count")))


def explore(spark: SparkSession, index_path: str, body: dict,
            field: str = "content") -> tuple[DataFrame, DataFrame]:
    """Run an ES graph-explore body; returns ``(vertices, edges)``.

    Hops run as a driver-side loop over declarative per-hop plans (the
    nesting depth of ``connections`` bounds the loop; each hop's
    frontier collect is k-bounded at size x specs terms)."""
    controls = body.get("controls", {})
    use_sig = bool(controls.get("use_significance", True))
    sample_size = int(controls.get("sample_size", 100))
    meta = load_meta(index_path)
    n_docs = int(meta["n_docs"]) - int(meta.get("tombstones_n") or 0)

    seed = _seed_ids(spark, index_path,
                     body.get("query", {"match_all": {}}))
    sample = _sample(seed, sample_size)
    verts = _hop_vertices(spark, index_path, sample, body["vertices"],
                          set(), 0, use_sig, n_docs, field)
    vrows = verts.collect()
    seen = {r["term"] for r in vrows}
    frontier = sorted(seen)
    all_verts = [verts]
    all_edges = [spark.createDataFrame([], EDGES_SCHEMA)]

    conn = body.get("connections")
    depth = 1
    while conn is not None and frontier:
        hop_ids = _sample(
            docs_with_terms(spark, index_path, frontier), sample_size)
        nv = _hop_vertices(spark, index_path, hop_ids, conn["vertices"],
                           seen, depth, use_sig, n_docs, field)
        nrows = nv.collect()
        new_terms = sorted({r["term"] for r in nrows})
        all_verts.append(nv)
        all_edges.append(_hop_edges(spark, index_path, hop_ids,
                                    frontier, new_terms))
        seen |= set(new_terms)
        frontier = new_terms
        conn = conn.get("connections")
        depth += 1

    vertices = all_verts[0]
    for v in all_verts[1:]:
        vertices = vertices.unionByName(v)
    edges = all_edges[0]
    for e in all_edges[1:]:
        edges = edges.unionByName(e)
    return (vertices.orderBy("depth", F.desc("weight"), F.asc("term")),
            edges.orderBy("source", "target"))
