"""ES JSON query-DSL compiler: the API surface the reference's users
actually speak.

The reference queries Elasticsearch through Java ``QueryBuilders`` /
``FilterBuilders`` (``ESNodeITest.java:184-193`` builds
``matchAllQuery``/``termQuery``/geo filters), and those builders
serialize to exactly this JSON search-body dialect. ``search`` accepts
the body dict and compiles it onto the engine's native operators, so a
user of the reference can port their queries by pasting the JSON they
already have.

Scope (compiles to existing, individually-gated operators — each DSL
form is tested equal to its direct operator call):

- query: match_all, match (+ operator=and / minimum_should_match),
  match_phrase (+ slop), match_phrase_prefix, match_bool_prefix, term,
  terms (+ terms LOOKUP: list fetched from a stored doc), prefix,
  wildcard, regexp, fuzzy (+ transpositions), ids, range,
  constant_score, exists, query_string (Lucene classic syntax via
  ``operators.querystring``), bool (must/should/must_not/filter +
  minimum_should_match; ranked must-of-match uses ES clause semantics
  via ``query.topk_clauses``), boosting, function_score, dis_max,
  pinned, wrapper (base64 body), multi_match / combined_fields (per-
  field indexes via ``field_indexes``), span_near (+ span_or clauses),
  span_first, span_not, span_containing / span_within, intervals
  (match / any_of / all_of proximity rules), more_like_this (stored-
  doc and free-text like)
- APIs: msearch (N bodies), count (_count), field_caps,
  search_template / render_template (mustache subset), validate_query
- top-level: size, from, sort, search_after, post_filter, collapse
  (+ inner_hits), rescore, min_score, explain (per-hit breakdown),
  _source (fetch-phase hydration), script_fields, aggs,
  runtime_mappings (query-time computed fields: filterable + sortable,
  script source is a SQL expression — the painless-to-Catalyst
  contract), knn.filter / knn.similarity (ES 8 pre-filtering + floor)
- aggs: terms (+ top_hits OR metric sub-aggs), stats, histogram,
  date_histogram (calendar/fixed_interval, + terms sub-bucket), range,
  percentiles, cardinality, significant_terms, significant_text,
  boxplot
- filter contexts (post_filter / bool.filter on carry columns): term,
  terms, range (gt/gte/lt/lte), exists, geo_distance,
  geo_bounding_box, geo_shape (envelope, all four relations),
  and/or/not via bool

post_filter semantics: applied before the size cut everywhere. Query
forms whose operators cannot honor it (collapse, rescore, boosting,
function_score, dis_max, more_like_this) REJECT it with ValueError
rather than silently dropping the filter.

Scoring notes mirroring ES: unscored retrieval forms (term/terms/
prefix/fuzzy/bool-of-filters, span_near) return constant_score hits
(score 1.0) exactly like ES's filter-context / constant-score rewrite
of multi-term queries; ``match`` forms rank with BM25 (ES >= 5 default;
``operators.query.topk_classic`` covers the 0.90-era TF-IDF).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from elasticsearch_osmosis_plugin_spark.operators.query import (
    allowed_docs,
    live_docs,
)

_CONST_SCORE = "doc_id long, score double"


def _one_entry(d: dict, what: str) -> tuple[str, Any]:
    if not isinstance(d, dict) or len(d) != 1:
        raise ValueError(f"{what} must be a single-key dict, got: {d!r}")
    return next(iter(d.items()))


def _match_args(spec) -> tuple[str, dict]:
    """'text' or {'query': 'text', ...options} -> (text, options)."""
    if isinstance(spec, dict):
        spec = dict(spec)
        return spec.pop("query"), spec
    return spec, {}


def _span_multi_terms(spark, index_path: str, spec: dict) -> list[str]:
    """Lucene SpanMultiTermQueryWrapper (ES ``span_multi``): expand the
    wrapped multi-term query — prefix / wildcard / regexp / fuzzy —
    against the DICTIONARY (metadata-only, never postings) and rewrite
    to a span_or of span_terms, Lucene's SpanRewriteMethod with ES's
    deterministic term-order expansion cap."""
    from elasticsearch_osmosis_plugin_spark.operators import intersect

    mk, mspec = _one_entry(spec["match"], "span_multi match")
    if mk not in ("prefix", "wildcard", "regexp", "fuzzy"):
        raise ValueError(f"unsupported span_multi wrapped query: {mk}")
    _fld, val = _one_entry(mspec, f"span_multi {mk}")
    maxx, fuzz, transp = 50, 1, False
    if isinstance(val, dict):
        maxx = int(val.get("max_expansions", 50))
        fuzz = int(val.get("fuzziness", 1))
        transp = bool(val.get("transpositions", False))
        val = val["value"]
    val = str(val)
    if mk == "prefix":
        return intersect.expand_terms(spark, index_path, val,
                                      mode="prefix", max_expansions=maxx)
    if mk in ("wildcard", "regexp"):
        pat = _wildcard_regex(val) if mk == "wildcard" else val
        return intersect.expand_terms(spark, index_path, pat,
                                      mode="regex", max_expansions=maxx)
    if mk == "fuzzy":
        return intersect.expand_fuzzy(spark, index_path, val,
                                      max_edits=fuzz, max_expansions=maxx,
                                      transpositions=transp)
    raise ValueError(f"unsupported span_multi wrapped query: {mk}")


def _span_clause_terms(c: dict) -> list[str]:
    """A span clause -> its alternative terms: ``span_term`` yields one,
    ``span_or`` of span_terms yields the union (one slot, many
    alternatives — Lucene's SpanOrQuery under a SpanNearQuery)."""
    kind, spec = _one_entry(c, "span clause")
    if kind == "span_term":
        return [str(_one_entry(spec, "span_term")[1])]
    if kind == "span_or":
        out: list[str] = []
        for sub in spec["clauses"]:
            out.extend(_span_clause_terms(sub))
        return out
    raise ValueError(f"unsupported span clause: {kind}")


# slop stand-in for ES intervals' max_gaps=-1 (unbounded width)
_UNBOUNDED_SLOP = 1 << 30


def _intervals_ids(spark: SparkSession, index_path: str,
                   ispec: dict) -> DataFrame:
    """ES intervals query rules -> matching doc ids.

    Supported rules (the proximity subset the engine's span operators
    express): ``match`` (ordered / max_gaps -> span_near; max_gaps=-1
    unordered degenerates to the conjunction), ``any_of`` (union of its
    sub-rules), ``all_of`` whose sources are single-term matches or
    any_of of single-term matches (-> per-slot alternatives via
    span_or_near). Scripted filters / prefix rules are not supported."""
    from elasticsearch_osmosis_plugin_spark.operators import intersect

    kind, spec = _one_entry(ispec, "intervals rule")
    if kind == "match":
        q = str(spec["query"])
        gaps = int(spec.get("max_gaps", -1))
        ordered = bool(spec.get("ordered", False))
        if len(q.split()) == 1 or (gaps < 0 and not ordered):
            return intersect.match_all_terms(spark, index_path, q)
        return intersect.span_near(
            spark, index_path, q,
            slop=_UNBOUNDED_SLOP if gaps < 0 else gaps, in_order=ordered)
    if kind == "any_of":
        subs = [_intervals_ids(spark, index_path, s)
                for s in spec["intervals"]]
        out = subs[0]
        for s in subs[1:]:
            out = out.unionByName(s)
        return out.distinct().orderBy("doc_id")
    if kind == "all_of":
        slots: list[list[str]] = []
        for s in spec["intervals"]:
            k2, sp2 = _one_entry(s, "intervals rule")
            if k2 == "match" and len(str(sp2["query"]).split()) == 1:
                slots.append([str(sp2["query"])])
            elif k2 == "any_of":
                alts: list[str] = []
                for sub in sp2["intervals"]:
                    k3, sp3 = _one_entry(sub, "intervals rule")
                    if k3 != "match" or len(str(sp3["query"]).split()) != 1:
                        raise ValueError("all_of sources must be single-"
                                         "term matches (or any_of of them)")
                    alts.append(str(sp3["query"]))
                slots.append(alts)
            else:
                raise ValueError("all_of sources must be single-term "
                                 "matches (or any_of of them)")
        gaps = int(spec.get("max_gaps", -1))
        return intersect.span_or_near(
            spark, index_path, slots,
            slop=_UNBOUNDED_SLOP if gaps < 0 else gaps,
            in_order=bool(spec.get("ordered", False)))
    raise ValueError(f"unsupported intervals rule: {kind}")


def compile_runtime_mappings(spec: dict) -> dict[str, Column]:
    """ES runtime_mappings: query-time computed fields. Each mapping's
    script source is a SQL expression over doc-store columns (the
    painless-to-Catalyst translation, same contract as script_score) —
    it stays whole-stage codegen and filters on it still prune the
    hit stream, they just can't push into the parquet scan (exactly
    ES's runtime-field tradeoff: no index structure, evaluated per
    query)."""
    out: dict[str, Column] = {}
    for name, m in (spec or {}).items():
        script = m.get("script", m)
        src = script["source"] if isinstance(script, dict) else script
        out[name] = F.expr(str(src))
    return out


def _fld(name: str, runtime: dict[str, Column] | None) -> Column:
    if runtime and name in runtime:
        return runtime[name]
    return F.col(name)


def filter_column(dsl: dict,
                  runtime: dict[str, Column] | None = None) -> Column:
    """Compile a filter-context DSL node to a Column predicate over
    doc-store carry columns (used for post_filter and bool.filter).
    ``runtime`` maps runtime-field names to their computed Columns."""
    kind, spec = _one_entry(dsl, "filter")
    if kind == "term":
        fld, val = _one_entry(spec, "term filter")
        if isinstance(val, dict):
            val = val["value"]
        return _fld(fld, runtime) == F.lit(val)
    if kind == "terms":
        fld, vals = _one_entry(spec, "terms filter")
        return _fld(fld, runtime).isin(list(vals))
    if kind == "range":
        fld, bounds = _one_entry(spec, "range filter")
        ops = {"gt": "__gt__", "gte": "__ge__", "lt": "__lt__", "lte": "__le__"}
        cond = F.lit(True)
        for op, val in bounds.items():
            cond = cond & getattr(_fld(fld, runtime), ops[op])(F.lit(val))
        return cond
    if kind == "exists":
        return _fld(spec["field"], runtime).isNotNull()
    if kind == "geo_distance":
        # ES geo_distance filter: {"distance": "10km", "location":
        # {"lat": .., "lon": ..}} over (lat, lon) doc columns — the
        # filter form the reference itself issues
        # (``ESNodeITest.java`` geo-distance queries).
        from elasticsearch_osmosis_plugin_spark.operators.geo import (
            haversine_km,
        )

        spec = dict(spec)
        dist = spec.pop("distance")
        km = (float(dist[:-2]) if isinstance(dist, str)
              and dist.endswith("km") else float(dist))
        # the ES field name keys the point spec; the engine stores geo
        # points as plain (lat, lon) doc columns (operators.geo)
        _, pt = _one_entry(spec, "geo_distance location")
        return haversine_km(F.col("lat"), F.col("lon"),
                            F.lit(float(pt["lat"])),
                            F.lit(float(pt["lon"]))) <= km
    if kind == "geo_bounding_box":
        fld, box = _one_entry(spec, "geo_bounding_box")
        tl, br = box["top_left"], box["bottom_right"]
        return (F.col("lat").between(float(br["lat"]), float(tl["lat"]))
                & F.col("lon").between(float(tl["lon"]), float(br["lon"])))
    if kind == "geo_shape":
        # ES geo_shape filter: {"<coords field>": {"shape": {"type":
        # "envelope", "coordinates": [[lon_min, lat_max], [lon_max,
        # lat_min]]}, "relation": "intersects"}} over a stored
        # coordinate-array column (the way model) — all four spatial
        # relations via operators.geo.shape_bbox_relation.
        from elasticsearch_osmosis_plugin_spark.operators.geo import (
            shape_bbox_relation,
        )

        fld, gspec = _one_entry(spec, "geo_shape")
        shape = gspec["shape"]
        if shape.get("type") != "envelope":
            raise ValueError("geo_shape supports envelope query shapes")
        (lon_min, lat_max), (lon_max, lat_min) = shape["coordinates"]
        return shape_bbox_relation(
            F.col(fld), float(lat_min), float(lat_max),
            float(lon_min), float(lon_max),
            relation=str(gspec.get("relation", "intersects")))
    if kind == "script":
        # ES script filter: {"script": {"source": "..."}} — the SQL
        # expression over doc columns, same painless-to-Catalyst
        # contract as runtime_mappings / script_score; stays in
        # whole-stage codegen, cannot push into the scan (like ES)
        s = spec.get("script", spec)
        return F.expr(str(s["source"] if isinstance(s, dict) else s)) \
                .cast("boolean")
    if kind == "bool":
        cond = F.lit(True)
        for clause in spec.get("must", []) + spec.get("filter", []):
            cond = cond & filter_column(clause, runtime)
        shoulds = [filter_column(c, runtime) for c in spec.get("should", [])]
        if shoulds:
            any_ = shoulds[0]
            for c in shoulds[1:]:
                any_ = any_ | c
            cond = cond & any_
        for clause in spec.get("must_not", []):
            cond = cond & ~filter_column(clause, runtime)
        return cond
    raise ValueError(f"unsupported filter type: {kind}")


def _const_hits(spark: SparkSession, ids: DataFrame) -> DataFrame:
    """doc-id stream -> constant_score hits, deterministic order."""
    return (ids.select("doc_id", F.lit(1.0).alias("score"))
            .orderBy("doc_id"))


def _wildcard_regex(pattern: str) -> str:
    """ES wildcard -> anchored Java regex: ``*`` -> ``.*``, ``?`` ->
    ``.``, everything else literal."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch in r"\.[]{}()<>+-=!^$|":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def _finish_ids(spark: SparkSession, index_path: str, ids: DataFrame,
                post_col, k: int) -> DataFrame:
    """Constant-score epilogue shared by every filter-ish query form:
    apply the post_filter (doc-store semi-join) BEFORE the size cut —
    ES post_filter semantics — then emit ordered constant-score hits."""
    if post_col is not None:
        ids = ids.join(allowed_docs(spark, index_path, post_col), "doc_id",
                       "left_semi")
    return _const_hits(spark, ids).limit(k)


def search(spark: SparkSession, index_path: str, body: dict,
           knn_source: DataFrame | None = None,
           field_indexes: dict[str, str] | None = None) -> DataFrame:
    """Run an ES-style search body against the index.

    Returns the hits DataFrame: (doc_id, score) for ranked forms,
    constant-score for filter-ish forms, plus any extra columns a
    compiled operator carries (e.g. ``collapse`` adds the field).
    A top-level ``"_source": [col, ...]`` hydrates the hits with
    doc-store fields via the fetch phase (``query.fetch_hits``).
    Aggregations go through :func:`search_aggs`.

    Vector search: a top-level ``"knn"`` section (modern ES) scores
    ``knn_source`` (vec_id = doc_id, embedding) by exact cosine; with
    a ``"query"`` alongside, scores SUM on the hit union (ES 8.x
    combine). A top-level ``"retriever": {"rrf": ...}`` fuses its
    standard/knn sub-retrievers by reciprocal rank
    (:func:`~elasticsearch_osmosis_plugin_spark.operators.scorefn.rrf_fuse`).
    """
    if "pit" in body:
        # ES searches WITH a PIT send no index in the URL — the PIT id
        # names the frozen view. Here the id IS a path (catalog
        # open_pit), so it simply replaces index_path for this search;
        # index_path may be passed as None/"" in that case.
        import os as _os

        pid = body["pit"]["id"]
        if not _os.path.exists(_os.path.join(pid, "meta.json")):
            raise ValueError(f"unknown pit id: {pid}")
        index_path = pid
        body = {k2: v for k2, v in body.items() if k2 != "pit"}
    src = body.get("_source")
    frm = int(body.get("from", 0))
    if frm and "search_after" in body:
        raise ValueError("from and search_after are mutually exclusive")
    if "retriever" in body:
        hits = _retriever_search(spark, index_path, body, knn_source)
    elif "knn" in body:
        hits = _knn_search(spark, index_path, body, knn_source)
    else:
        hits = _search_query(spark, index_path, body, field_indexes)
    if body.get("track_total_hits"):
        # ES track_total_hits=true: the EXACT number of query matches,
        # not the size-cut hit count. Carried as a constant column on
        # the hit frame (the DataFrame shape of ES's response-level
        # hits.total). Counting is a separate pruned job: match_all
        # reads the live-doc count straight off the index meta, match
        # counts via the dictionary/postings (single-term match_all
        # never decodes a posting). In ES a doc below min_score does
        # not count toward the total — that interaction is not
        # supported here, so reject rather than return a wrong total.
        if "min_score" in body:
            raise ValueError("track_total_hits with min_score is not "
                             "supported (the total would ignore the "
                             "floor)")
        qkind, qspec = _one_entry(body.get("query", {"match_all": {}}),
                                  "query")
        if qkind == "match_all":
            from elasticsearch_osmosis_plugin_spark.plans.build import (
                load_meta,
            )

            meta = load_meta(index_path)
            total = int(meta["n_docs"]) - int(meta.get("tombstones_n") or 0)
        elif qkind == "match":
            from elasticsearch_osmosis_plugin_spark.operators.intersect import (
                match_all_terms,
            )
            from elasticsearch_osmosis_plugin_spark.operators.query import (
                match_count,
            )

            text, mopts = _match_args(_one_entry(qspec, "match")[1])
            total = (match_all_terms(spark, index_path, text).count()
                     if mopts.get("operator") == "and"
                     else match_count(spark, index_path, text))
        else:
            raise ValueError("track_total_hits supports match / "
                             f"match_all bodies, not {qkind}")
        hits = hits.withColumn("total_hits", F.lit(int(total)))
    if "min_score" in body:
        # ES min_score: hits scoring below the floor are excluded.
        # Applied to the ranked hit frame (post-k here; ES filters at
        # collection time — identical whenever >= k hits clear the
        # floor, and never returns a below-floor hit either way).
        hits = hits.filter(F.col("score") >= float(body["min_score"]))
    if frm:
        # ES from+size pagination: _search_query already ranked the
        # first from+size hits; skip the first ``from`` of them. The
        # offset applies to the ordered plan (GlobalLimit with offset
        # after the sort), so pages are stable across calls.
        hits = hits.offset(frm)
    if body.get("explain"):
        # ES explain=true: attach the per-term score breakdown to each
        # hit (match-family bodies only — the breakdown is BM25 terms)
        qkind, qspec = _one_entry(body.get("query", {}), "query")
        if qkind != "match":
            raise ValueError("explain=true supports match queries here")
        from elasticsearch_osmosis_plugin_spark.operators.query import (
            explain_hits,
        )

        _, mspec = _one_entry(qspec, "match")
        hits = explain_hits(spark, index_path, hits, _match_args(mspec)[0])
    if src:
        from elasticsearch_osmosis_plugin_spark.operators.query import (
            fetch_hits,
        )

        hits = fetch_hits(spark, index_path, hits, list(src))
    for name, sf in body.get("script_fields", {}).items():
        # ES script_fields: per-hit computed values at FETCH time (the
        # fetch-phase sibling of runtime_mappings) — a SQL script over
        # the hit frame's columns (hydrate dependencies via _source),
        # whole-stage codegen, top-k-sized input.
        hits = hits.withColumn(name, F.expr(sf["script"]["source"]))
    if "highlight" in body:
        # ES highlight section: tagged fragments attached per hit (the
        # fetch phase). The highlight query is the body's match /
        # match_phrase text, or an explicit "highlight_query":
        # {"match": ...}. Fragments left-join the hit page only — docs
        # without a term position (e.g. knn-only hits) get null.
        from elasticsearch_osmosis_plugin_spark.operators.intersect import (
            highlight_fragments,
        )

        hl = body["highlight"]
        hq = hl.get("highlight_query", body.get("query"))
        qkind, qspec = _one_entry(hq, "highlight query")
        if qkind not in ("match", "match_phrase"):
            raise ValueError("highlight needs a match/match_phrase "
                             f"(highlight_)query, not {qkind}")
        text = _match_args(_one_entry(qspec, qkind)[1])[0]
        fspec = next(iter(hl.get("fields", {"_": {}}).values()))
        frags = highlight_fragments(
            spark, index_path, text,
            window=int(fspec.get("window", hl.get("window", 3))),
            number_of_fragments=int(fspec.get("number_of_fragments",
                                              hl.get("number_of_fragments",
                                                     2))),
            pre_tag=(hl.get("pre_tags") or ["<em>"])[0],
            post_tag=(hl.get("post_tags") or ["</em>"])[0])
        hits = hits.join(frags.withColumnRenamed("fragments", "highlight"),
                         "doc_id", "left")
        # joins don't preserve sort order: re-apply the body's own sort
        # keys if it has a sort section (the sort fields ride along on
        # the hit frame from _sorted_search); relevance-ranked bodies
        # fall back to score/doc_id.
        if "sort" in body:
            keys, _ = _parse_sort(body["sort"])
            hits = hits.orderBy(*keys)
        elif "score" in hits.columns:
            hits = hits.orderBy(F.desc("score"), F.asc("doc_id"))
    return hits


def _knn_cosine(spark: SparkSession, knn: dict, knn_source,
                k: int) -> DataFrame:
    if knn_source is None:
        raise ValueError("knn search needs knn_source (vec_id, embedding)")
    from elasticsearch_osmosis_plugin_spark.functions.similarity import (
        cosine_topk,
    )

    qv = [float(x) for x in knn["query_vector"]]
    kk = int(knn.get("k", k))
    src = knn_source
    sim = knn.get("similarity")
    if "filter" in knn:
        # ES 8 filtered kNN is PRE-filtering: candidates are restricted
        # before the k-selection, so the response always holds k
        # matching vectors (a post-filter could return fewer). The
        # filter compiles like any filter context, over the vector
        # source's metadata columns, and pushes down into its scan.
        src = src.filter(filter_column(knn["filter"]))
    out = (cosine_topk(src, qv, k=kk,
                       vec_col=knn.get("field", "embedding"))
           .select(F.col("vec_id").alias("doc_id"),
                   F.col("cos").alias("score")))
    if sim is not None:
        # ES 8 knn.similarity: a similarity floor — vectors below it
        # never return, even if fewer than k clear it
        out = out.filter(F.col("score") >= float(sim))
    return out


def _knn_search(spark: SparkSession, index_path: str, body: dict,
                knn_source) -> DataFrame:
    """Top-level knn section (modern ES `_search` with `knn`): exact
    cosine top-k over the vector source; with a lexical `query`
    alongside, scores SUM over the hit union (the documented 8.x
    combine — a doc in only one ranking keeps that score)."""
    k = int(body.get("size", 10)) + int(body.get("from", 0))
    kn = _knn_cosine(spark, body["knn"], knn_source, k)
    if "query" not in body:
        return kn
    lex = _search_query(spark, index_path,
                        {kk: v for kk, v in body.items() if kk != "knn"})
    merged = (lex.select("doc_id", F.col("score").alias("_l"))
              .join(kn.select("doc_id", F.col("score").alias("_v")),
                    "doc_id", "full_outer")
              .select("doc_id",
                      (F.coalesce(F.col("_l"), F.lit(0.0))
                       + F.coalesce(F.col("_v"), F.lit(0.0))).alias("score")))
    from elasticsearch_osmosis_plugin_spark.operators.topk import (
        deterministic_topk,
    )

    return deterministic_topk(merged, k)


def _text_sim_rerank(spark: SparkSession, index_path: str, rspec: dict,
                     knn_source, k: int) -> DataFrame:
    """``retriever.text_similarity_reranker`` (ES 8.15+): run the
    child retriever at ``rank_window_size``, re-score ONLY that
    window with an inference endpoint, return the top-k under the new
    score -> (doc_id, score).

    The builtin ``lexical-rerank`` endpoint scores coverage —
    |distinct doc tokens ∩ query terms| / |query terms| — against the
    index's STORED token stream (docstats ``tokens``), so it is pure
    Catalyst: a broadcast semi-join of the k'-bounded window onto
    docstats plus one array intersect; query terms analyze with the
    index's own analyzer from meta (the stored stream's tokenization).
    Registered endpoints run as ONE Arrow-batched pandas UDF over the
    window's ``field`` carry column — the window bound (not the
    corpus) caps inference cost, exactly why ES caps the rerank
    window."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py,
    )
    from elasticsearch_osmosis_plugin_spark.operators.inference import (
        LEXICAL_RERANK,
        _Builtin,
        get_inference,
    )
    from elasticsearch_osmosis_plugin_spark.plans import catalog
    from elasticsearch_osmosis_plugin_spark.plans.build import load_meta

    window = int(rspec.get("rank_window_size", max(k, 10)))
    child_spec = rspec["retriever"]
    ckind, cbody = _one_entry(child_spec, "retriever")
    if ckind == "standard":
        sub = _search_query(spark, index_path, dict(cbody, size=window))
    elif ckind == "knn":
        sub = _knn_cosine(spark, cbody, knn_source, window)
    else:
        sub = _retriever_search(spark, index_path,
                                {"retriever": child_spec,
                                 "size": window}, knn_source)
    endpoint = rspec.get("inference_id", LEXICAL_RERANK)
    try:
        fn = get_inference(endpoint, "rerank")
    except KeyError as e:
        raise ValueError(f"text_similarity_reranker: {e.args[0]}") \
            from None
    itext = rspec["inference_text"]
    ds = catalog.read_table(spark, index_path, "docstats")
    hits = ds.join(F.broadcast(sub.select("doc_id")), "doc_id")
    if isinstance(fn, _Builtin):
        analyzer = load_meta(index_path).get("analyzer", "simple")
        terms = sorted(set(tokenize_py(itext, analyzer)))
        if not terms:
            raise ValueError("text_similarity_reranker: empty "
                             "inference_text")
        score = (F.size(F.array_intersect(
            F.array_distinct(F.col("tokens")),
            F.array(*[F.lit(t) for t in terms])))
            / F.lit(float(len(terms)))).cast("double")
    else:
        import pandas as pd  # noqa: F811

        field = rspec.get("field", "text")
        if field not in ds.columns:
            raise ValueError(
                f"text_similarity_reranker: field {field!r} is not a "
                "docstats carry column of this index")

        @F.pandas_udf("double")
        def _rr(s: pd.Series) -> pd.Series:
            out = fn(itext, s)
            return out if isinstance(out, pd.Series) else pd.Series(out)

        score = _rr(F.col(field).cast("string"))
    return (hits.select("doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def _retriever_search(spark: SparkSession, index_path: str, body: dict,
                      knn_source) -> DataFrame:
    """`retriever.rrf` (modern ES): run each standard/knn
    sub-retriever at rank_window_size, fuse by reciprocal rank at the
    x1e4 fixed point. Returns (doc_id, rrf_x1e6, n_sources)."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import rrf_fuse

    spec = body["retriever"]
    kind, rspec = _one_entry(spec, "retriever")
    k = int(body.get("size", 10)) + int(body.get("from", 0))
    if kind == "standard":
        # ES allows a bare standard/knn retriever at the top level
        return _search_query(spark, index_path, dict(rspec, size=k))
    if kind == "knn":
        return _knn_cosine(spark, rspec, knn_source, k)
    if kind == "text_similarity_reranker":
        return _text_sim_rerank(spark, index_path, rspec, knn_source, k)
    if kind not in ("rrf", "linear"):
        raise ValueError(f"unsupported retriever: {kind}")
    window = int(rspec.get("rank_window_size", max(k, 10)))
    rankings, weights, normalizers = {}, {}, {}
    for i, sub in enumerate(rspec["retrievers"]):
        # linear wraps each entry: {"retriever": {...}, "weight": w,
        # "normalizer": ...}; rrf lists the retrievers bare
        inner = sub.get("retriever", sub) if kind == "linear" else sub
        skind, sspec = _one_entry(inner, "sub-retriever")
        if skind == "standard":
            r = _search_query(spark, index_path,
                              dict(sspec, size=window))
        elif skind == "knn":
            r = _knn_cosine(spark, sspec, knn_source, window)
        else:
            raise ValueError(f"unsupported sub-retriever: {skind}")
        rankings[f"r{i}"] = r.select(
            "doc_id",
            F.floor(F.col("score") * 10000.0 + F.lit(0.5))
             .cast("long").alias("score_x1e4"))
        weights[f"r{i}"] = float(sub.get("weight", 1.0))
        # ES puts `normalizer` inside each wrapped entry; a top-level
        # rspec normalizer (this engine's earlier form) is the
        # fallback for entries that don't set one.
        normalizers[f"r{i}"] = sub.get(
            "normalizer", rspec.get("normalizer", "minmax"))
    if kind == "linear":
        from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
            linear_fuse,
        )

        return linear_fuse(rankings, weights, k=k,
                           normalizer=normalizers,
                           window=window)
    return rrf_fuse(rankings, k=k,
                    rrf_k=int(rspec.get("rank_constant", 60)),
                    window=window)


def _search_query(spark: SparkSession, index_path: str,
                  body: dict,
                  field_indexes: dict[str, str] | None = None) -> DataFrame:
    from elasticsearch_osmosis_plugin_spark.operators import intersect, query
    from elasticsearch_osmosis_plugin_spark.operators import scorefn

    body = dict(body)
    # from+size: the branches below rank/limit to k internally, so
    # they must produce the first from+size hits; search() then skips
    # the first ``from``.
    k = int(body.get("size", 10)) + int(body.get("from", 0))
    q = body.get("query", {"match_all": {}})
    runtime = compile_runtime_mappings(body.get("runtime_mappings", {}))
    post = body.get("post_filter")
    post_col = filter_column(post, runtime) if post is not None else None

    if "sort" in body:
        return _sorted_search(spark, index_path, body, q, post_col, k,
                              runtime=runtime)

    if "collapse" in body:
        if post_col is not None:
            raise ValueError("post_filter with collapse is not supported")
        qkind, qspec = _one_entry(q, "query")
        if qkind != "match":
            raise ValueError("collapse requires a match query here")
        _, spec = _one_entry(qspec, "match")
        inner = body["collapse"].get("inner_hits")
        if inner:
            # ES collapse.inner_hits: the top-N hits WITHIN each
            # collapsed group — exactly the terms+top_hits shape, so it
            # routes to the same WindowGroupLimit operator
            return scorefn.top_hits(
                spark, index_path, _match_args(spec)[0],
                body["collapse"]["field"],
                n_hits=int(inner.get("size", 3)))
        return scorefn.collapse_topk(
            spark, index_path, _match_args(spec)[0],
            body["collapse"]["field"], k=k)

    if "rescore" in body:
        if post_col is not None:
            raise ValueError("post_filter with rescore is not supported")
        qkind, qspec = _one_entry(q, "query")
        _, spec = _one_entry(qspec, "match")
        r = body["rescore"]
        rq = r["query"]
        _, rspec = _one_entry(rq["rescore_query"]["match"], "rescore match")
        return scorefn.rescore_topk(
            spark, index_path, _match_args(spec)[0], _match_args(rspec)[0],
            k=k, window_size=int(r.get("window_size", 50)),
            query_weight=float(rq.get("query_weight", 1.0)),
            rescore_query_weight=float(rq.get("rescore_query_weight", 1.0)))

    kind, spec = _one_entry(q, "query")

    if kind == "match_all":
        from elasticsearch_osmosis_plugin_spark.plans import catalog

        ds = catalog.read_table(spark, index_path, "docstats")
        if post_col is not None:
            ds = ds.filter(post_col)
        return _const_hits(spark, live_docs(
            spark, index_path, ds.select("doc_id"))).limit(k)

    if kind == "match_none":
        # ES match_none: the empty complement of match_all — no scan
        return spark.createDataFrame([], _CONST_SCORE)

    if kind == "match":
        fld, mspec = _one_entry(spec, "match")
        text, opts = _match_args(mspec)
        msm = int(opts.get("minimum_should_match", 0))
        if opts.get("operator", "or") == "and":
            meta = query.load_meta(index_path)
            msm = len(query.query_terms(text, meta))
        boosts = opts.get("boosts")
        if "search_after" in body:
            s, d = body["search_after"]
            return query.topk_after(spark, index_path, text, k=k,
                                    after=(float(s), int(d)),
                                    post_filter=post_col, boosts=boosts,
                                    minimum_should_match=msm)
        return query.topk(spark, index_path, text, k=k,
                          post_filter=post_col, boosts=boosts,
                          minimum_should_match=msm)

    if kind == "common":
        # {"common": {"text": {"query": "...", "cutoff_frequency": f}}}
        # — the 0.90/1.x dynamic-stopword query
        from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
            common_terms_topk,
        )

        fld, mspec = _one_entry(spec, "common")
        text, opts = _match_args(mspec)
        return common_terms_topk(
            spark, index_path, text, k=k,
            cutoff_frequency=float(opts.get("cutoff_frequency", 0.01)),
            post_filter=post_col)

    if kind in ("exists", "range", "ids"):
        from elasticsearch_osmosis_plugin_spark.plans import catalog

        ds = catalog.read_table(spark, index_path, "docstats")
        if kind == "exists":
            ds = ds.filter(F.col(spec["field"]).isNotNull())
        elif kind == "range":
            # range in query context: same predicate as the filter
            # context, constant-score hits (the ES pre-5.x rewrite)
            ds = ds.filter(filter_column({kind: spec}))
        else:  # ids query: {"ids": {"values": [..]}}
            vals = [int(v) for v in spec["values"]]
            ds = ds.filter(F.col("doc_id").isin(vals))
        ids = live_docs(spark, index_path, ds.select("doc_id"))
        return _finish_ids(spark, index_path, ids, post_col, k)

    if kind == "constant_score":
        # {"constant_score": {"filter": {...}, "boost": b}} — filter
        # context over doc-store carry columns, every hit scored b
        from elasticsearch_osmosis_plugin_spark.plans import catalog

        boost = float(spec.get("boost", 1.0))
        cond = filter_column(spec["filter"])
        if post_col is not None:
            cond = cond & post_col
        ids = live_docs(spark, index_path,
                        catalog.read_table(spark, index_path, "docstats")
                        .filter(cond).select("doc_id"))
        return (ids.select("doc_id", F.lit(boost).alias("score"))
                .orderBy("doc_id").limit(k))

    if kind == "rank_feature":
        # {"rank_feature": {"field": f, "boost": b, "saturation":
        #  {"pivot": p}} | {"log": {"scaling_factor": s}} |
        #  {"sigmoid": {"pivot": p, "exponent": e}}} — a standalone
        # static-feature ranking (ES's should-clause boost signal);
        # docs missing the feature never match (ES semantics)
        from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
            rank_feature,
        )
        from elasticsearch_osmosis_plugin_spark.operators.topk import (
            deterministic_topk,
        )
        from elasticsearch_osmosis_plugin_spark.plans import catalog

        field = spec["field"]
        fns = [f for f in ("saturation", "log", "sigmoid") if f in spec]
        fn = fns[0] if fns else "saturation"
        params = dict(spec.get(fn, {}))
        if fn == "saturation" and "pivot" not in params:
            raise ValueError("rank_feature saturation needs an explicit "
                             "pivot (ES's auto-pivot needs index stats)")
        col = rank_feature(field, fn, weight=float(spec.get("boost", 1.0)),
                           **{k2: float(v) for k2, v in params.items()})
        ds = (catalog.read_table(spark, index_path, "docstats")
              .filter(F.col(field).isNotNull()))
        ds = live_docs(spark, index_path,
                       ds.select("doc_id", col.alias("score")))
        if post_col is not None:
            raise ValueError("post_filter with rank_feature is not "
                             "supported")
        return deterministic_topk(ds, k)

    if kind in ("sparse_vector", "text_expansion"):
        # Learned sparse retrieval in the body (ES 8.15 `sparse_vector`
        # / legacy `text_expansion`): score = sparse dot product of a
        # {token: weight} query against a per-doc feature map carried
        # in the doc store at build time (ES: rank_features mapping).
        #   {"sparse_vector": {"field": f, "query_vector": {t: w}}}
        #   {"text_expansion": {f: {"model_id": "identity",
        #                           "model_text": "..."}}}
        # No inference runtime ships here, so the only model is the
        # documented "identity" expansion: the index analyzer's tokens
        # of model_text weighted by their tf in the query text (ES
        # would call a deployed ELSER/SPLADE model instead; any other
        # model_id is rejected, never silently approximated).
        from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
            tokenize_py,
        )
        from elasticsearch_osmosis_plugin_spark.operators.query import (
            load_meta,
        )
        from elasticsearch_osmosis_plugin_spark.operators.sparsevec import (
            sparse_topk,
        )
        from elasticsearch_osmosis_plugin_spark.plans import catalog

        def _identity_expansion(text: str) -> dict[str, float]:
            meta = load_meta(index_path)
            toks = tokenize_py(text, meta["analyzer"],
                               min_len=meta.get("min_token_len", 1),
                               max_len=meta.get("max_token_len", 64))
            qw: dict[str, float] = {}
            for t in toks:
                qw[t] = qw.get(t, 0.0) + 1.0
            return qw

        if kind == "sparse_vector":
            fldname = spec["field"]
            if "query_vector" in spec:
                qw = {str(t): float(w)
                      for t, w in spec["query_vector"].items()}
            else:
                if spec.get("inference_id", "identity") != "identity":
                    raise ValueError(
                        "sparse_vector without query_vector needs the "
                        "'identity' inference_id (no inference runtime)")
                qw = _identity_expansion(str(spec["query"]))
        else:
            fldname, sub = _one_entry(spec, "text_expansion")
            if sub.get("model_id", "identity") != "identity":
                raise ValueError("text_expansion supports only the "
                                 "'identity' model (no inference "
                                 "runtime)")
            qw = _identity_expansion(str(sub["model_text"]))
        if not qw:
            return spark.createDataFrame([], _CONST_SCORE)
        if post_col is not None:
            raise ValueError(f"post_filter with {kind} is not supported")
        ds = catalog.read_table(spark, index_path, "docstats")
        if fldname not in ds.columns:
            raise ValueError(
                f"{kind}: field {fldname!r} is not in the doc store — "
                "carry the feature map at build time "
                "(build_index(..., carry_cols=[...]))")
        live = live_docs(spark, index_path, ds)
        return sparse_topk(live, qw, k=k, features_col=fldname)

    if kind == "query_string":
        # {"query_string": {"query": "...", "default_operator": "AND"}}
        # — Lucene classic syntax via operators.querystring
        from elasticsearch_osmosis_plugin_spark.operators.querystring import (
            query_string_topk,
        )

        if post_col is not None:
            raise ValueError("post_filter with query_string is not supported")
        qtext = spec["query"] if isinstance(spec, dict) else str(spec)
        return query_string_topk(
            spark, index_path, qtext, k=k,
            default_operator=(spec.get("default_operator", "OR")
                              if isinstance(spec, dict) else "OR"))

    if kind == "simple_query_string":
        # {"simple_query_string": {"query": "...", "flags": "OR|NOT",
        #  "default_operator": "AND", "fields": ["text"]}} — the
        # lenient search-box language via operators.querystring
        from elasticsearch_osmosis_plugin_spark.operators.querystring import (
            simple_query_string_topk,
        )

        if post_col is not None:
            raise ValueError(
                "post_filter with simple_query_string is not supported")
        return simple_query_string_topk(
            spark, index_path, spec["query"], k=k,
            default_operator=spec.get("default_operator", "OR"),
            flags=spec.get("flags", "ALL"),
            fields=spec.get("fields"))


    if kind == "wrapper":
        # ES wrapper query: a base64-encoded JSON query body (the
        # escape hatch client libraries use to embed raw queries);
        # decode and recurse — routing only, never semantics.
        import base64
        import json

        inner = json.loads(base64.b64decode(spec["query"]))
        return _search_query(spark, index_path, dict(body, query=inner),
                             field_indexes)

    if kind == "pinned":
        if post_col is not None:
            raise ValueError("post_filter with pinned is not supported")
        org = spec.get("organic", {})
        _, mspec = _one_entry(org["match"], "pinned organic")
        return scorefn.pinned_topk(
            spark, index_path, [int(i) for i in spec["ids"]],
            _match_args(mspec)[0], k=k)

    if kind == "match_bool_prefix":
        if post_col is not None:
            raise ValueError(
                "post_filter with match_bool_prefix is not supported")
        fld, mspec = _one_entry(spec, "match_bool_prefix")
        text, opts = _match_args(mspec)
        return scorefn.match_bool_prefix_topk(
            spark, index_path, text, k=k,
            max_expansions=int(opts.get("max_expansions", 50)))

    if kind in ("multi_match", "combined_fields"):
        if post_col is not None:
            raise ValueError(f"post_filter with {kind} is not supported")
        if field_indexes is None:
            raise ValueError(f"{kind} needs field_indexes "
                             "(one persisted index per field)")
        weights: dict[str, float] = {}
        for f in spec["fields"]:
            name, _, boost = f.partition("^")
            weights[name] = float(boost) if boost else 1.0
        paths = {f: field_indexes[f] for f in weights}
        if kind == "combined_fields":
            return scorefn.combined_fields_topk(
                spark, paths, spec["query"], k=k, field_weights=weights)
        mm_type = spec.get("type", "best_fields")
        if any(w != 1.0 for w in weights.values()):
            raise ValueError("multi_match per-field boosts not supported")
        if mm_type == "best_fields":
            return scorefn.multi_match_best_fields(
                spark, paths, spec["query"], k=k,
                tie_breaker=float(spec.get("tie_breaker", 0.0)))
        if mm_type == "most_fields":
            return scorefn.multi_match_most_fields(
                spark, paths, spec["query"], k=k)
        if mm_type == "cross_fields":
            return scorefn.multi_match_cross_fields(
                spark, paths, spec["query"], k=k,
                operator=spec.get("operator", "or"))
        raise ValueError(f"unsupported multi_match type: {mm_type}")

    if kind == "match_phrase":
        fld, mspec = _one_entry(spec, "match_phrase")
        text, opts = _match_args(mspec)
        slop = int(opts.get("slop", 0))
        if slop > 0:
            # ES sloppy phrase: minimal-total-displacement cost
            # (SloppyPhraseMatcher semantics — a transposition costs 2)
            return _finish_ids(
                spark, index_path,
                intersect.match_phrase(spark, index_path, text, slop=slop)
                .select("doc_id"),
                post_col, k)
        return _finish_ids(spark, index_path, intersect.match_phrase(
            spark, index_path, text), post_col, k)

    if kind == "match_phrase_prefix":
        fld, mspec = _one_entry(spec, "match_phrase_prefix")
        text, opts = _match_args(mspec)
        return _finish_ids(spark, index_path, intersect.match_phrase_prefix(
            spark, index_path, text,
            max_expansions=int(opts.get("max_expansions", 50))),
            post_col, k)

    if kind == "term":
        fld, val = _one_entry(spec, "term")
        if isinstance(val, dict):
            val = val["value"]
        return _finish_ids(spark, index_path, intersect.match_all_terms(
            spark, index_path, str(val)), post_col, k)

    if kind == "terms":
        fld, vals = _one_entry(spec, "terms")
        if isinstance(vals, dict):
            # ES terms lookup: fetch the term list from a field of one
            # stored document (possibly in another index) — a 1-row
            # column-pruned point read, then the normal terms query.
            from elasticsearch_osmosis_plugin_spark.plans import catalog

            lk_idx = vals.get("index", index_path)
            rows = (catalog.read_table(spark, lk_idx, "docstats")
                    .filter(F.col("doc_id") == int(vals["id"]))
                    .select(vals["path"]).collect())
            v = rows[0][0] if rows else None
            if v is None:
                vals = []
            elif isinstance(v, (list, tuple)):
                vals = [str(x) for x in v]
            else:
                vals = [str(v)]
        if not vals:
            return spark.createDataFrame([], "doc_id long, score double")
        return _finish_ids(spark, index_path, intersect.match_any_terms(
            spark, index_path, " ".join(vals)), post_col, k)

    if kind == "prefix":
        fld, val = _one_entry(spec, "prefix")
        if isinstance(val, dict):
            val = val["value"]
        return _finish_ids(spark, index_path, intersect.match_expanded(
            spark, index_path, str(val)), post_col, k)

    if kind in ("wildcard", "regexp"):
        fld, val = _one_entry(spec, kind)
        if isinstance(val, dict):
            val = val["value"]
        pat = _wildcard_regex(str(val)) if kind == "wildcard" else str(val)
        return _finish_ids(spark, index_path, intersect.match_expanded(
            spark, index_path, pat, mode="regex"), post_col, k)

    if kind == "fuzzy":
        fld, val = _one_entry(spec, "fuzzy")
        fuzz, transp = 1, False
        if isinstance(val, dict):
            fuzz = int(val.get("fuzziness", 1))
            transp = bool(val.get("transpositions", False))
            val = val["value"]
        return _finish_ids(spark, index_path, intersect.match_fuzzy(
            spark, index_path, str(val), max_edits=fuzz,
            transpositions=transp), post_col, k)

    if kind == "bool":
        must = [c for c in spec.get("must", [])]
        # scoring bool of match clauses -> topk_clauses with ES's
        # clause semantics (each match clause is an OR over its own
        # terms; the doc must satisfy every clause); otherwise the
        # set-algebra path (constant score)
        if must and all(_one_entry(c, "clause")[0] == "match" for c in must) \
                and not spec.get("should") and not spec.get("must_not") \
                and not spec.get("filter"):
            texts = [_match_args(_one_entry(_one_entry(c, "c")[1], "m")[1])[0]
                     for c in must]
            return query.topk_clauses(spark, index_path, texts, k=k,
                                      post_filter=post_col)

        def _clause_text(c):
            ck, cspec = _one_entry(c, "bool clause")
            _, val = _one_entry(cspec, ck)
            if ck == "match":
                return _match_args(val)[0]
            if ck == "term":
                return val["value"] if isinstance(val, dict) else str(val)
            raise ValueError(f"unsupported bool clause: {ck}")

        def _clause_terms(clauses):
            return " ".join(_clause_text(c) for c in clauses)

        ids = intersect.match_bool(
            spark, index_path,
            must=_clause_terms(spec.get("must", [])) or None,
            should=_clause_terms(spec.get("should", [])) or None,
            must_not=_clause_terms(spec.get("must_not", [])) or None,
            minimum_should_match=int(spec.get("minimum_should_match", 0) or 0))
        hits = _const_hits(spark, ids)
        if post_col is not None or spec.get("filter"):
            from elasticsearch_osmosis_plugin_spark.plans import catalog

            cond = post_col if post_col is not None else F.lit(True)
            for clause in spec.get("filter", []):
                cond = cond & filter_column(clause)
            allowed = (catalog.read_table(spark, index_path, "docstats")
                       .filter(cond).select("doc_id"))
            hits = hits.join(allowed, "doc_id", "left_semi").orderBy("doc_id")
        return hits.limit(k)

    if kind == "boosting":
        if post_col is not None:
            raise ValueError(
                "post_filter with boosting is not supported")
        _, pspec = _one_entry(spec["positive"]["match"], "boosting positive")
        _, nspec = _one_entry(spec["negative"]["match"], "boosting negative")
        return scorefn.boosting_topk(
            spark, index_path, _match_args(pspec)[0], _match_args(nspec)[0],
            k=k, negative_boost=float(spec.get("negative_boost", 0.5)))

    if kind == "function_score":
        if post_col is not None:
            raise ValueError(
                "post_filter with function_score is not supported")
        inner = spec["query"]
        _, mspec = _one_entry(inner["match"], "function_score match")
        fns = []
        if "field_value_factor" in spec:
            fvf = spec["field_value_factor"]
            fns.append(scorefn.field_value_factor(
                fvf["field"], factor=float(fvf.get("factor", 1.0)),
                modifier=fvf.get("modifier", "none")))
        for fn in spec.get("functions", []):
            if "field_value_factor" in fn:
                fvf = fn["field_value_factor"]
                fns.append(scorefn.field_value_factor(
                    fvf["field"], factor=float(fvf.get("factor", 1.0)),
                    modifier=fvf.get("modifier", "none")))
            elif any(g in fn for g in ("gauss", "exp", "linear")):
                gkind = next(g for g in ("gauss", "exp", "linear") if g in fn)
                fld, d = _one_entry(fn[gkind], "decay")
                fns.append(scorefn.decay_fn(
                    fld, float(d["origin"]), float(d["scale"]),
                    offset=float(d.get("offset", 0.0)),
                    decay=float(d.get("decay", 0.5)), kind=gkind))
            else:
                raise ValueError(f"unsupported score function: {fn}")
        return scorefn.function_score_topk(
            spark, index_path, _match_args(mspec)[0], k=k,
            functions=fns, boost_mode=spec.get("boost_mode", "multiply"))

    if kind == "dis_max":
        if post_col is not None:
            raise ValueError(
                "post_filter with dis_max is not supported")
        texts = []
        for sub in spec["queries"]:
            _, mspec = _one_entry(sub["match"], "dis_max match")
            texts.append(_match_args(mspec)[0])
        return scorefn.dis_max_topk(
            spark, index_path, texts, k=k,
            tie_breaker=float(spec.get("tie_breaker", 0.0)))

    if kind == "span_multi":
        # standalone SpanMultiTermQueryWrapper degenerates to the
        # wrapped multi-term query's doc set (constant score)
        terms = _span_multi_terms(spark, index_path, spec)
        if not terms:
            return spark.createDataFrame([], "doc_id long, score double")
        return _finish_ids(spark, index_path, intersect.match_any_terms(
            spark, index_path, " ".join(terms)), post_col, k)

    if kind == "span_near":
        slots = []
        for c in spec["clauses"]:
            ck, cspec = _one_entry(c, "span clause")
            if ck == "span_multi":
                alts = _span_multi_terms(spark, index_path, cspec)
                if not alts:  # nothing in the dictionary: no match
                    return spark.createDataFrame(
                        [], "doc_id long, score double")
                slots.append(alts)
            else:
                slots.append(_span_clause_terms(c))
        slop = int(spec.get("slop", 0))
        in_order = bool(spec.get("in_order", True))
        if all(len(s) == 1 for s in slots):
            ids = intersect.span_near(
                spark, index_path, " ".join(s[0] for s in slots),
                slop=slop, in_order=in_order)
        else:  # >=1 span_or clause -> the union-of-spans slot decode
            ids = intersect.span_or_near(spark, index_path, slots,
                                         slop=slop, in_order=in_order)
        return _finish_ids(spark, index_path, ids, post_col, k)

    if kind == "span_first":
        terms = _span_clause_terms(spec["match"])
        if len(terms) != 1:
            raise ValueError("span_first.match must be one span_term")
        return _finish_ids(spark, index_path, intersect.span_first(
            spark, index_path, terms[0], end=int(spec["end"])),
            post_col, k)

    if kind == "span_not":
        inc = _span_clause_terms(spec["include"])
        exc = _span_clause_terms(spec["exclude"])
        if len(inc) != 1 or len(exc) != 1:
            raise ValueError("span_not include/exclude must be span_term")
        dist = int(spec.get("dist", 0))
        return _finish_ids(spark, index_path, intersect.span_not(
            spark, index_path, inc[0], exc[0],
            pre=int(spec.get("pre", dist)),
            post=int(spec.get("post", dist))), post_col, k)


    if kind in ("span_containing", "span_within"):
        bk, bspec = _one_entry(spec["big"], "span big")
        if bk != "span_near":
            raise ValueError("span big must be span_near here")
        bterms = [_span_clause_terms(c)[0] for c in bspec["clauses"]]
        lterms = _span_clause_terms(spec["little"])
        if len(lterms) != 1:
            raise ValueError("span little must be one span_term")
        fn = (intersect.span_containing if kind == "span_containing"
              else intersect.span_within)
        return _finish_ids(spark, index_path, fn(
            spark, index_path, " ".join(bterms), lterms[0],
            slop=int(bspec.get("slop", 0))), post_col, k)

    if kind == "intervals":
        # ES intervals query, the modern span surface. Supported rules:
        # match (ordered/max_gaps -> span_near semantics) and any_of of
        # matches (-> per-slot alternatives). all_of nests one level as
        # its sources' slots.
        _, ispec = _one_entry(spec, "intervals")
        ids = _intervals_ids(spark, index_path, ispec)
        return _finish_ids(spark, index_path, ids, post_col, k)

    if kind == "more_like_this":
        if post_col is not None:
            raise ValueError(
                "post_filter with more_like_this is not supported")
        like = spec["like"]
        first = like[0] if isinstance(like, list) else like
        if isinstance(first, str):
            # ES free-text like: analyze the text, no source exclusion
            return intersect.more_like_this_text(
                spark, index_path, first, k=k,
                max_query_terms=int(spec.get("max_query_terms", 25)))
        return intersect.more_like_this(
            spark, index_path, int(first["_id"]), k=k,
            max_query_terms=int(spec.get("max_query_terms", 25)))

    raise ValueError(f"unsupported query type: {kind}")


def _unranked_ids(spark: SparkSession, index_path: str,
                  q: dict) -> DataFrame:
    """Full (uncut) matching doc-id set of a query form: the hit set of
    sorted search, ``count`` and ``search_aggs``.

    Sorting replaces relevance ranking, so the size cut must happen on
    the sort keys over the COMPLETE match set — a score-ranked top-k
    would drop docs the sort order wants."""
    from elasticsearch_osmosis_plugin_spark.operators import intersect
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    kind, spec = _one_entry(q, "query")
    if kind == "match_all":
        ids = catalog.read_table(spark, index_path, "docstats") \
            .select("doc_id")
        return live_docs(spark, index_path, ids)
    if kind == "match":
        _, mspec = _one_entry(spec, "match")
        text, opts = _match_args(mspec)
        if opts.get("operator", "or") == "and":
            return intersect.match_all_terms(spark, index_path, text)
        return intersect.match_any_terms(spark, index_path, text)
    if kind == "term":
        _, val = _one_entry(spec, "term")
        if isinstance(val, dict):
            val = val["value"]
        return intersect.match_all_terms(spark, index_path, str(val))
    if kind == "terms":
        _, vals = _one_entry(spec, "terms")
        return intersect.match_any_terms(spark, index_path, " ".join(vals))
    if kind in ("exists", "range", "ids", "constant_score"):
        ds = catalog.read_table(spark, index_path, "docstats")
        if kind == "exists":
            ds = ds.filter(F.col(spec["field"]).isNotNull())
        elif kind == "constant_score":
            ds = ds.filter(filter_column(spec["filter"]))
        elif kind == "range":
            ds = ds.filter(filter_column({kind: spec}))
        else:
            ds = ds.filter(
                F.col("doc_id").isin([int(v) for v in spec["values"]]))
        return live_docs(spark, index_path, ds.select("doc_id"))
    raise ValueError(f"sort, count and aggs do not support query type: "
                     f"{kind}")


def _parse_sort(sort_spec: list) -> tuple[list, list[str]]:
    """Compile an ES ``sort`` section into (orderBy keys, carry fields).

    Shared by :func:`_sorted_search` (initial ordering + field carry)
    and the highlight fetch phase (re-sort after the fragments join) so
    both orderings are key-identical. ``doc_id`` ascending is always the
    final tiebreak."""
    keys, fields = [], []
    for entry in sort_spec:
        if isinstance(entry, str):
            fld, order = entry, "asc"
        else:
            fld, o = _one_entry(entry, "sort entry")
            order = (o.get("order", "asc") if isinstance(o, dict) else o)
        if fld == "_doc":
            fld = "doc_id"
        col = F.col(fld)
        keys.append(col.desc() if order == "desc" else col.asc())
        if fld != "doc_id":
            fields.append(fld)
    keys.append(F.col("doc_id").asc())
    return keys, fields


def _sorted_search(spark: SparkSession, index_path: str, body: dict,
                   q: dict, post_col, k: int,
                   runtime: dict[str, Column] | None = None) -> DataFrame:
    """Top-level ``sort``: ES field sorting. Hits are ordered by the
    sort keys (doc-store carry columns or ``doc_id``), the size cut
    applies on that order, and — like ES with ``track_scores`` off —
    no relevance score is computed (``score`` is null). ``doc_id``
    ascending is always the final tiebreak so pages are deterministic.
    Returns (doc_id, score, <sort fields...>) — sort values ride along
    like ES's per-hit ``sort`` array."""
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    ids = _unranked_ids(spark, index_path, q)
    ds = catalog.read_table(spark, index_path, "docstats")
    for name, col in (runtime or {}).items():
        ds = ds.withColumn(name, col)  # runtime fields sortable like ES
    if post_col is not None:
        ds = ds.filter(post_col)
    hits = ds.join(ids, "doc_id", "left_semi")

    keys, fields = _parse_sort(body["sort"])
    return (hits.orderBy(*keys)
            .select("doc_id",
                    F.lit(None).cast("double").alias("score"), *fields)
            .limit(k))


def search_aggs(spark: SparkSession, index_path: str,
                body: dict) -> dict[str, DataFrame]:
    """Compile the ``aggs`` section: one result DataFrame per named
    aggregation, each over the docs matching ``query`` (match_all when
    absent). The query compiles ONCE, through :func:`_unranked_ids`
    (match_all, match with its ``operator``, term — a multi-token
    value ANDs, as in :func:`search` — terms, exists, range, ids,
    constant_score), into one lazy hit frame that every unscored agg
    reads through ``intersect._hit_values``. The frame is not
    persisted, so each returned DataFrame keeps its full lineage and
    re-runs the hit query when collected. Only the scored ``top_hits``
    sub-agg re-runs the match/term text."""
    import functools

    from elasticsearch_osmosis_plugin_spark.operators import intersect, scorefn

    q = body.get("query", {"match_all": {}})
    hit_frame = functools.cache(lambda: _unranked_ids(spark, index_path, q))
    out: dict[str, DataFrame] = {}
    for name, agg in body.get("aggs", {}).items():
        sub = {k2: v for k2, v in agg.items() if k2 != "aggs"}
        akind, aspec = _one_entry(sub, "agg")
        if akind == "terms" and "aggs" in agg:
            subs = {n2: _one_entry(s, "terms sub-agg")
                    for n2, s in agg["aggs"].items()}
            kinds = {sk for sk, _ in subs.values()}
            if kinds == {"top_hits"}:
                qkind, qspec = _one_entry(q, "query")
                if qkind not in ("match", "term"):
                    raise ValueError("top_hits needs a match/term query")
                _, val = _one_entry(qspec, qkind)
                if qkind == "match":
                    qtext = _match_args(val)[0]
                else:
                    qtext = val["value"] if isinstance(val, dict) else str(val)
                _, hits = next(iter(subs.values()))
                out[name] = scorefn.top_hits(
                    spark, index_path, qtext, aspec["field"],
                    n_hits=int(hits.get("size", 3)))
            elif kinds <= set(intersect._SUBAGG_OPS):
                out[name] = intersect.terms_subaggs(
                    spark, index_path, hit_frame(), aspec["field"],
                    {n2: (sk, sspec["field"])
                     for n2, (sk, sspec) in subs.items()},
                    size=int(aspec.get("size", 10)))
            else:
                raise ValueError(
                    f"unsupported terms sub-aggs: {sorted(kinds)}")
        elif akind == "terms":
            out[name] = intersect.facet_counts(
                spark, index_path, hit_frame(), aspec["field"])
        elif akind == "stats":
            out[name] = intersect.stats_agg(
                spark, index_path, hit_frame(), aspec["field"])
        elif akind == "value_count":
            # ES value_count counts extracted VALUES, not matching docs
            # — a doc whose field is null contributes nothing.
            out[name] = (intersect._hit_values(
                spark, index_path, hit_frame(), aspec["field"])
                .agg(F.count(F.col(aspec["field"])).alias("value")))
        elif akind in ("avg", "min", "max", "sum"):
            # the single-metric aggs: one column off the stats pass
            col = {"avg": "avg_v", "min": "min_v", "max": "max_v",
                   "sum": "sum_v"}[akind]
            out[name] = (intersect.stats_agg(
                spark, index_path, hit_frame(), aspec["field"])
                .select(F.col(col).alias("value")))
        elif akind == "histogram":
            out[name] = intersect.histogram_agg(
                spark, index_path, hit_frame(), aspec["field"],
                float(aspec["interval"]))
        elif akind == "date_histogram" and "aggs" in agg:
            skind, sspec = _one_entry(
                _one_entry(agg["aggs"], "dh sub-agg")[1], "dh sub-agg")
            if skind != "terms":
                raise ValueError(
                    f"unsupported date_histogram sub-agg: {skind}")
            out[name] = intersect.date_histogram_terms(
                intersect._hit_values(spark, index_path, hit_frame(),
                                      aspec["field"], sspec["field"]),
                aspec["field"], sspec["field"],
                aspec.get("calendar_interval", "day"),
                size_per_bucket=(int(sspec["size"]) if "size" in sspec
                                 else None))
        elif akind == "date_histogram":
            if "fixed_interval" in aspec:
                out[name] = intersect.date_histogram_fixed(
                    intersect._hit_values(spark, index_path, hit_frame(),
                                          aspec["field"]),
                    aspec["field"], aspec["fixed_interval"])
            else:
                out[name] = intersect.date_histogram_agg(
                    spark, index_path, hit_frame(), aspec["field"],
                    aspec.get("calendar_interval", "day"))
        elif akind == "percentiles":
            pcts = tuple(p / 100.0 for p in
                         aspec.get("percents", (25, 50, 75, 95)))
            out[name] = intersect.percentiles_agg(
                spark, index_path, hit_frame(), aspec["field"],
                percentiles=pcts)
        elif akind == "range":
            ranges = [(r.get("from"), r.get("to"))
                      for r in aspec["ranges"]]
            out[name] = intersect.range_agg(
                spark, index_path, hit_frame(), aspec["field"], ranges)
        elif akind == "cardinality":
            out[name] = intersect.cardinality_agg(
                spark, index_path, hit_frame(), aspec["field"])
        elif akind == "significant_terms":
            out[name] = intersect.significant_terms(
                spark, index_path, hit_frame(),
                size=int(aspec.get("size", 10)))
        elif akind == "significant_text":
            out[name] = intersect.significant_text(
                spark, index_path, hit_frame(),
                size=int(aspec.get("size", 10)),
                filter_duplicate_text=bool(
                    aspec.get("filter_duplicate_text", True)))
        elif akind == "boxplot":
            out[name] = intersect.boxplot_agg(
                spark, index_path, hit_frame(), aspec["field"])
        elif akind == "filters":
            out[name] = intersect.filters_agg(
                spark, index_path, hit_frame(),
                {n2: filter_column(f)
                 for n2, f in aspec["filters"].items()})
        elif akind == "missing":
            out[name] = intersect.missing_agg(
                spark, index_path, hit_frame(), aspec["field"])
        elif akind == "percentile_ranks":
            out[name] = intersect.percentile_ranks_agg(
                spark, index_path, hit_frame(), aspec["field"],
                list(aspec["values"]))
        elif akind == "rare_terms":
            out[name] = intersect.rare_terms_agg(
                spark, index_path, hit_frame(), aspec["field"],
                int(aspec.get("max_doc_count", 1)))
        elif akind == "multi_terms":
            out[name] = intersect.multi_terms_agg(
                spark, index_path, hit_frame(),
                [t["field"] for t in aspec["terms"]],
                size=int(aspec.get("size", 10)))
        elif akind == "extended_stats":
            out[name] = intersect.extended_stats_agg(
                spark, index_path, hit_frame(), aspec["field"],
                sigma=float(aspec.get("sigma", 2.0)))
        elif akind == "weighted_avg":
            out[name] = intersect.weighted_avg_agg(
                spark, index_path, hit_frame(),
                aspec["value"]["field"], aspec["weight"]["field"])
        elif akind == "string_stats":
            out[name] = intersect.string_stats_agg(
                spark, index_path, hit_frame(), aspec["field"])
        elif akind == "top_metrics":
            m = aspec["metrics"]
            m = m[0] if isinstance(m, list) else m
            srt = aspec.get("sort", {})
            if isinstance(srt, dict) and srt:
                skey, sdir = next(iter(srt.items()))
                sdir = (sdir.get("order", "desc")
                        if isinstance(sdir, dict) else sdir)
            else:
                skey, sdir = str(srt), "desc"
            out[name] = intersect.top_metrics_agg(
                spark, index_path, hit_frame(), m["field"], skey,
                descending=str(sdir).lower() != "asc")
        else:
            raise ValueError(f"unsupported agg type: {akind}")
    return out


def validate_query(spark: SparkSession, index_path: str,
                   body: dict) -> tuple[bool, str | None]:
    """ES _validate/query analog: compile the search body WITHOUT
    executing it — returns (valid, explanation). Compilation builds
    the full logical plan (every operator the body routes to runs its
    argument checking and Catalyst analysis), but no job is submitted;
    an invalid body returns (False, the error) instead of raising, the
    _validate contract."""
    try:
        if int(body.get("from", 0)) and "search_after" in body:
            raise ValueError("from and search_after are mutually exclusive")
        df = _search_query(spark, index_path, dict(body))
        df.schema  # force analysis without an action
        return True, None
    except Exception as e:  # noqa: BLE001 — the API reports, never raises
        return False, f"{type(e).__name__}: {e}"


def count(spark: SparkSession, index_path: str, body: dict) -> int:
    """ES _count API: how many docs match the query — no ranking, no
    fetch, no size cut. Routes through the same unranked-id compiler
    the sort path uses (every count is over the COMPLETE match set);
    a filter-context ``post_filter`` composes like in search. Single-
    term match bodies could take the dictionary df fast path
    (``query.match_count``) — this API keeps the general compiler so
    every countable body form works."""
    q = dict(body).get("query", {"match_all": {}})
    ids = _unranked_ids(spark, index_path, q)
    post = body.get("post_filter")
    if post is not None:
        ids = ids.join(allowed_docs(spark, index_path, filter_column(post)),
                       "doc_id", "left_semi")
    return ids.count()


def msearch(spark: SparkSession, index_path: str, bodies: list[dict],
            knn_source: DataFrame | None = None) -> list[DataFrame]:
    """ES _msearch analog: N independent search bodies against one
    index -> one hits DataFrame per body, in request order (the ES
    response's ``responses`` array).

    Each body compiles to its own lazy plan; nothing executes here, so
    a caller can union/collect them however it likes. Spark-first
    note: the per-body plans share the Searcher-style cached relations
    underneath (dictionary/postings file index), so N bodies cost N
    prunings of the same relations — not N session setups. For N
    queries that are plain BM25 ``match`` forms, prefer
    ``query.topk_many`` (ONE postings decode for all queries); msearch
    is the general router for heterogeneous bodies."""
    return [search(spark, index_path, dict(b), knn_source=knn_source)
            for b in bodies]


def field_caps(spark: SparkSession, index_path: str) -> DataFrame:
    """ES _field_caps analog: per-field capabilities of the index ->
    (field, type, searchable, aggregatable).

    The indexed text column is searchable (fulltext via the inverted
    index) but not aggregatable (like ES ``text``); doc-store carry
    columns are aggregatable keyword/numeric-ish fields (like ES
    ``keyword``/numerics: exact filters, aggs, sorts); ``doc_id`` is
    both (it IS the index key). Metadata-only: one docstats schema
    read, no data scan."""
    from elasticsearch_osmosis_plugin_spark.plans import catalog
    from elasticsearch_osmosis_plugin_spark.plans.build import load_meta

    meta = load_meta(index_path)
    ds = catalog.read_table(spark, index_path, "docstats")
    text_col = meta.get("text_col", "content")
    internal = {"tokens", "dl", "content_sha", "grp"}
    rows = []
    for f_ in ds.schema.fields:
        if f_.name in internal:
            continue
        is_text = f_.name == text_col
        rows.append((f_.name, f_.dataType.simpleString(),
                     is_text or f_.name == "doc_id", not is_text))
    # the text column is searchable even when the doc-store dropped it
    # (build only stages what it needs; the index still answers queries)
    if all(r[0] != text_col for r in rows):
        rows.append((text_col, "string", True, False))
    return spark.createDataFrame(
        sorted(rows), "field string, type string, searchable boolean, "
                      "aggregatable boolean")


def get_mapping(spark: SparkSession, index_path: str) -> dict:
    """ES GET /index/_mapping analog: the response-shaped dict —
    {"properties": {field: {"type": ...}}} derived from the docstats
    schema + meta. Types map ES-ward: the indexed text column ->
    "text" (with the analyzer recorded, as ES puts it under the field),
    strings -> "keyword", integral -> "long", fractional -> "double",
    arrays -> "nested"-free "keyword"/"float" approximations.
    Metadata-only; the write side is fixed-schema parquet, so there is
    deliberately no put_mapping (schema evolves by reindex, the ES
    recommendation for breaking mapping changes anyway)."""
    from elasticsearch_osmosis_plugin_spark.plans.build import load_meta

    meta = load_meta(index_path)
    text_col = meta.get("text_col", "content")
    props: dict = {}
    for r in field_caps(spark, index_path).collect():
        if r["field"] == text_col:
            props[r["field"]] = {"type": "text",
                                 "analyzer": meta.get("analyzer")}
            continue
        t = r["type"]
        if t.startswith("array<float") or t.startswith("array<double"):
            es = "dense_vector"
        elif t in ("bigint", "int", "smallint", "tinyint", "long"):
            es = "long"
        elif t in ("double", "float"):
            es = "double"
        elif t == "boolean":
            es = "boolean"
        elif t.startswith("timestamp") or t == "date":
            es = "date"
        else:
            es = "keyword"
        props[r["field"]] = {"type": es}
    return {"properties": props}


def get_settings(index_path: str) -> dict:
    """ES GET /index/_settings analog: the operational knobs of the
    index in one dict — analyzer, BM25 k1/b (the similarity block),
    bucket/segment layout, positions, doc counts. meta.json only."""
    from elasticsearch_osmosis_plugin_spark.plans.build import load_meta

    meta = load_meta(index_path)
    return {
        "analysis": {"analyzer": meta.get("analyzer"),
                     "min_token_len": meta.get("min_token_len"),
                     "max_token_len": meta.get("max_token_len")},
        "similarity": {"type": "BM25", "k1": meta.get("k1"),
                       "b": meta.get("b")},
        "layout": {"n_buckets": meta.get("n_buckets"),
                   "block_size": meta.get("block_size"),
                   "groups": len(meta.get("groups", []) or []) or
                             meta.get("n_groups"),
                   "positions": bool(meta.get("positions"))},
    "docs": {"count": int(meta.get("n_docs", 0))
                      - int(meta.get("tombstones_n") or 0),
             "deleted": int(meta.get("tombstones_n") or 0)},
    }


def render_template(template: str | dict, params: dict) -> dict:
    """ES search-template rendering (the mustache subset templates
    actually use): ``{{var}}`` substitutes the parameter's JSON value;
    ``{{#toJson}}var{{/toJson}}`` embeds a structured parameter;
    ``{{var}}{{^var}}default{{/var}}`` is NOT supported (documented
    deviation — use python defaults at the call site).

    A string template is rendered textually then JSON-parsed (exactly
    ES's model: templates are stored as source strings, parameters are
    spliced in, the result must parse). A dict template renders every
    string leaf."""
    import json as _json
    import re as _re

    def _subst(s: str) -> str:
        def one(m):
            key = m.group(1).strip()
            if key not in params:
                raise KeyError(f"missing template parameter: {key}")
            v = params[key]
            return v if isinstance(v, str) else _json.dumps(v)

        s = _re.sub(r"\{\{#toJson\}\}\s*(\w+)\s*\{\{/toJson\}\}",
                    lambda m: _json.dumps(params[m.group(1)]), s)
        return _re.sub(r"\{\{(\w+)\}\}", one, s)

    if isinstance(template, str):
        return _json.loads(_subst(template))

    def walk(node):
        if isinstance(node, dict):
            return {k: walk(v) for k, v in node.items()}
        if isinstance(node, list):
            return [walk(v) for v in node]
        if isinstance(node, str) and "{{" in node:
            out = _subst(node)
            # a pure "{{var}}" leaf keeps the parameter's native type
            stripped = node.strip()
            if (stripped.startswith("{{") and stripped.endswith("}}")
                    and stripped.count("{{") == 1):
                key = stripped[2:-2].strip()
                return params[key] if key in params else out
            return out
        return node

    return walk(template)


def search_template(spark: SparkSession, index_path: str,
                    template: str | dict, params: dict,
                    knn_source: DataFrame | None = None) -> DataFrame:
    """ES _search/template analog: render the stored template with
    ``params`` (see :func:`render_template`) and run the resulting
    body through :func:`search`."""
    return search(spark, index_path, render_template(template, params),
                  knn_source=knn_source)


def profile_search(spark: SparkSession, index_path: str, body: dict,
                   knn_source: DataFrame | None = None) -> dict:
    """ES ``_search`` with ``"profile": true``: run the body and
    return hits WITH an execution breakdown. ES profiles Lucene query
    nodes and collectors per shard; the honest Spark restatement
    profiles what actually executes here — compile (body -> logical
    plan), execution wall time, and the EXECUTED physical plan with
    the features that decide scale behavior surfaced as booleans the
    caller can assert on (the same signals ``tests/test_plans.py``
    pins):

    ``{"hits": [Row...], "took_ms": int, "profile": {
        "compile_ms", "execute_ms", "n_hits",
        "plan": <executedPlan string>,
        "features": {"take_ordered_and_project", "broadcast_joins",
                     "sort_merge_joins", "wholestage_codegen_stages",
                     "partition_filters", "pushed_filters",
                     "exchanges"}}}``

    Like ES, profiling pays the query's real cost (the search runs to
    completion); unlike ES it adds no instrumentation overhead to the
    operators themselves — the plan is read from Spark's query
    execution after the fact."""
    import time as _t

    t0 = _t.monotonic()
    df = search(spark, index_path, dict(body), knn_source=knn_source)
    t1 = _t.monotonic()
    hits = df.collect()
    t2 = _t.monotonic()
    import re as _re

    plan = df._jdf.queryExecution().executedPlan().toString()
    # executedPlan renders a codegen stage as a "*(<id>)" node prefix
    codegen_ids = set(_re.findall(r"\*\((\d+)\)", plan))
    feats = {
        "take_ordered_and_project": "TakeOrderedAndProject" in plan,
        "broadcast_joins": plan.count("BroadcastHashJoin")
                           + plan.count("BroadcastNestedLoopJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "wholestage_codegen_stages": len(codegen_ids),
        "partition_filters": "PartitionFilters: [" in plan
                             and "PartitionFilters: []" not in plan,
        "pushed_filters": "PushedFilters: [" in plan
                          and "PushedFilters: []" not in plan,
        "exchanges": plan.count("Exchange"),
    }
    return {
        "hits": hits,
        "took_ms": int((t2 - t0) * 1000),
        "profile": {
            "compile_ms": int((t1 - t0) * 1000),
            "execute_ms": int((t2 - t1) * 1000),
            "n_hits": len(hits),
            "plan": plan,
            "features": feats,
        },
    }
