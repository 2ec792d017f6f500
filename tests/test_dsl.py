"""ES JSON query-DSL compiler: every DSL form must return exactly what
the direct operator call returns (the compiler adds routing, never
semantics). Reference analog: QueryBuilders/FilterBuilders JSON
(``ESNodeITest.java:184-193``)."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_osmosis_plugin_spark.config import EngineConfig
from elasticsearch_osmosis_plugin_spark.operators import dsl, intersect, query, scorefn
from elasticsearch_osmosis_plugin_spark.plans.build import build_index

CFG = EngineConfig(n_segments=8, n_buckets=4, block_size=16)


@pytest.fixture(scope="module")
def idx(spark, corpus_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dslidx") / "index")
    build_index(spark, corpus_df, path, CFG, id_col="doc_id", n_groups=1)
    return path


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_match(spark, idx):
    got = dsl.search(spark, idx, {"query": {"match": {"content": "public static"}}})
    want = query.topk(spark, idx, "public static", k=10)
    assert _rows(got) == _rows(want)


def test_match_operator_and(spark, idx):
    body = {"query": {"match": {"content":
            {"query": "public static", "operator": "and"}}}, "size": 5}
    got = dsl.search(spark, idx, body)
    want = query.topk(spark, idx, "public static", k=5,
                      minimum_should_match=2)
    assert _rows(got) == _rows(want)


def test_match_all_and_post_filter(spark, idx):
    got = dsl.search(spark, idx, {
        "query": {"match_all": {}},
        "post_filter": {"term": {"lang": "java"}},
        "size": 1000})
    assert all(s == 1.0 for _, s in _rows(got))
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    n_java = catalog.read_table(spark, idx, "docstats") \
        .filter(F.col("lang") == "java").count()
    assert got.count() == n_java > 0


def test_term_terms_prefix_fuzzy(spark, idx):
    pairs = [
        ({"term": {"content": "public"}},
         intersect.match_all_terms(spark, idx, "public")),
        ({"terms": {"content": ["id0001", "id0002"]}},
         intersect.match_any_terms(spark, idx, "id0001 id0002")),
        ({"prefix": {"content": "id00"}},
         intersect.match_expanded(spark, idx, "id00")),
        ({"fuzzy": {"content": {"value": "publix", "fuzziness": 1}}},
         intersect.match_fuzzy(spark, idx, "publix", max_edits=1)),
    ]
    for q, want_ids in pairs:
        got = dsl.search(spark, idx, {"query": q, "size": 10**6})
        assert [d for d, _ in _rows(got)] == \
            [r["doc_id"] for r in want_ids.collect()], q


def test_phrase_and_span(spark, idx):
    got = dsl.search(spark, idx, {
        "query": {"match_phrase": {"content": "public static"}},
        "size": 10**6})
    want = intersect.match_phrase(spark, idx, "public static")
    assert [d for d, _ in _rows(got)] == [r["doc_id"] for r in want.collect()]

    got = dsl.search(spark, idx, {"query": {"span_near": {
        "clauses": [{"span_term": {"content": "public"}},
                    {"span_term": {"content": "void"}}],
        "slop": 3, "in_order": True}}, "size": 10**6})
    want = intersect.span_near(spark, idx, "public void", slop=3)
    assert [d for d, _ in _rows(got)] == [r["doc_id"] for r in want.collect()]


def test_bool_ranked_and(spark, idx):
    body = {"query": {"bool": {"must": [
        {"match": {"content": "public"}},
        {"match": {"content": "id0042"}}]}}}
    got = dsl.search(spark, idx, body).collect()
    want = query.topk(spark, idx, "id0042 public", k=10,
                      minimum_should_match=2).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) < 1e-9


def test_bool_must_clause_semantics(spark, idx, corpus_rows):
    """ES clause semantics: a single multi-term match clause is an OR
    over its terms; two clauses AND their per-clause ORs."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py

    toks = {d: set(tokenize_py(t, "code")) for d, t in
            zip(corpus_rows["doc_id"], corpus_rows["content"])}
    body = {"query": {"bool": {"must": [
        {"match": {"content": "id0042 id0007"}},   # OR within the clause
        {"match": {"content": "public"}}]}}, "size": 10**6}
    got = {r["doc_id"] for r in dsl.search(spark, idx, body).collect()}
    want = {d for d, ts in toks.items()
            if ({"id0042", "id0007"} & ts) and "public" in ts}
    assert got == want and got
    # the old (wrong) conjunction-of-all-terms reading would be smaller
    all_terms = {d for d, ts in toks.items()
                 if {"id0042", "id0007", "public"} <= ts}
    assert all_terms < want


def test_post_filter_on_constant_score_forms(spark, idx):
    """post_filter must restrict term/phrase/span forms too (it was
    silently dropped for them once): filter applied before the size
    cut, scores untouched."""
    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.plans import catalog

    java = {r["doc_id"] for r in catalog.read_table(spark, idx, "docstats")
            .filter(F.col("lang") == "java").select("doc_id").collect()}
    body = {"query": {"term": {"content": "public"}},
            "post_filter": {"term": {"lang": "java"}}, "size": 10**6}
    got = [d for d, s in _rows(dsl.search(spark, idx, body))]
    unfiltered = {r["doc_id"] for r in
                  intersect.match_all_terms(spark, idx, "public").collect()}
    assert got == sorted(unfiltered & java) and got
    with pytest.raises(ValueError):
        dsl.search(spark, idx, {"query": {"dis_max": {"queries": [
            {"match": {"content": "x"}}]}},
            "post_filter": {"term": {"lang": "java"}}})


def test_search_after_keeps_msm_semantics(spark, idx):
    """Pages use the SAME operator=and semantics as page 1."""
    q = {"query": {"match": {"content":
         {"query": "public id0042", "operator": "and"}}}}
    page1 = dsl.search(spark, idx, {**q, "size": 3}).collect()
    cursor = [page1[-1]["score"], page1[-1]["doc_id"]]
    page2 = dsl.search(spark, idx, {**q, "search_after": cursor,
                                    "size": 3}).collect()
    full = query.topk(spark, idx, "id0042 public", k=6,
                      minimum_should_match=2).collect()
    assert [r["doc_id"] for r in page1 + page2] ==         [r["doc_id"] for r in full]


def test_terms_subagg_routes_metrics(spark, idx):
    """metric sub-aggs route to terms_subaggs; mixing top_hits with a
    metric is still rejected."""
    got = dsl.search_aggs(spark, idx, {
        "query": {"match": {"content": "public"}},
        "aggs": {"x": {"terms": {"field": "lang"},
                       "aggs": {"a": {"avg": {"field": "dl"}}}}}})
    want = intersect.terms_subaggs(spark, idx, "public", "lang",
                                   {"a": ("avg", "dl")})
    assert _rows(got["x"]) == _rows(want)
    with pytest.raises(ValueError):
        dsl.search_aggs(spark, idx, {
            "query": {"match": {"content": "public"}},
            "aggs": {"x": {"terms": {"field": "lang"},
                           "aggs": {"a": {"avg": {"field": "dl"}},
                                    "h": {"top_hits": {"size": 2}}}}}})


def test_bool_filter_context(spark, idx):
    body = {"query": {"bool": {
        "must": [{"term": {"content": "public"}}],
        "must_not": [{"term": {"content": "id0042"}}],
        "filter": [{"term": {"lang": "java"}}]}}, "size": 10**6}
    got = [d for d, _ in _rows(dsl.search(spark, idx, body))]
    want_ids = {r["doc_id"] for r in intersect.match_bool(
        spark, idx, must="public", must_not="id0042").collect()}
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    java = {r["doc_id"] for r in catalog.read_table(spark, idx, "docstats")
            .filter(F.col("lang") == "java").select("doc_id").collect()}
    assert got == sorted(want_ids & java) and got


def test_function_score_and_dis_max(spark, idx):
    body = {"query": {"function_score": {
        "query": {"match": {"content": "public static"}},
        "field_value_factor": {"field": "dl", "modifier": "log1p"},
        "boost_mode": "multiply"}}}
    got = dsl.search(spark, idx, body)
    want = scorefn.function_score_topk(
        spark, idx, "public static", k=10,
        functions=[scorefn.field_value_factor("dl", modifier="log1p")])
    assert _rows(got) == _rows(want)

    body = {"query": {"dis_max": {
        "queries": [{"match": {"content": "public static"}},
                    {"match": {"content": "id0042"}}],
        "tie_breaker": 0.3}}}
    got = dsl.search(spark, idx, body)
    want = scorefn.dis_max_topk(spark, idx, ["public static", "id0042"],
                                k=10, tie_breaker=0.3)
    assert _rows(got) == _rows(want)


def test_collapse_rescore_search_after_mlt(spark, idx):
    got = dsl.search(spark, idx, {
        "query": {"match": {"content": "public static"}},
        "collapse": {"field": "lang"}, "size": 5})
    want = scorefn.collapse_topk(spark, idx, "public static", "lang", k=5)
    assert _rows(got) == _rows(want)

    got = dsl.search(spark, idx, {
        "query": {"match": {"content": "public"}},
        "rescore": {"window_size": 20, "query": {
            "rescore_query": {"match": {"content": "id0042"}},
            "query_weight": 1.0, "rescore_query_weight": 2.0}}})
    want = scorefn.rescore_topk(spark, idx, "public", "id0042", k=10,
                                window_size=20, rescore_query_weight=2.0)
    assert _rows(got) == _rows(want)

    page1 = query.topk(spark, idx, "public static", k=3).collect()
    cursor = (page1[-1]["score"], page1[-1]["doc_id"])
    got = dsl.search(spark, idx, {
        "query": {"match": {"content": "public static"}},
        "search_after": list(cursor), "size": 3})
    want = query.topk_after(spark, idx, "public static", k=3, after=cursor)
    assert _rows(got) == _rows(want)

    src = page1[0]["doc_id"]
    got = dsl.search(spark, idx, {"query": {"more_like_this": {
        "like": {"_id": src}, "max_query_terms": 5}}})
    want = intersect.more_like_this(spark, idx, src, max_query_terms=5, k=10)
    assert _rows(got) == _rows(want)


def test_aggs(spark, idx):
    body = {"query": {"match": {"content": "public"}}, "aggs": {
        "by_lang": {"terms": {"field": "lang"}},
        "dl_stats": {"stats": {"field": "dl"}},
        "dl_hist": {"histogram": {"field": "dl", "interval": 50}},
        "dl_pct": {"percentiles": {"field": "dl", "percents": [50, 95]}},
        "n_langs": {"cardinality": {"field": "lang"}},
        "sig": {"significant_terms": {"size": 5}},
        "top_per_lang": {"terms": {"field": "lang"},
                         "aggs": {"hits": {"top_hits": {"size": 2}}}},
    }}
    out = dsl.search_aggs(spark, idx, body)
    assert _rows(out["by_lang"]) == \
        _rows(intersect.facet_counts(spark, idx, "public", "lang"))
    assert _rows(out["dl_stats"]) == \
        _rows(intersect.stats_agg(spark, idx, "public", "dl"))
    assert _rows(out["dl_hist"]) == \
        _rows(intersect.histogram_agg(spark, idx, "public", "dl", 50.0))
    assert _rows(out["dl_pct"]) == \
        _rows(intersect.percentiles_agg(spark, idx, "public", "dl",
                                        percentiles=(0.5, 0.95)))
    assert _rows(out["n_langs"]) == \
        _rows(intersect.cardinality_agg(spark, idx, "public", "lang"))
    assert _rows(out["sig"]) == \
        _rows(intersect.significant_terms(spark, idx, "public", size=5))
    assert _rows(out["top_per_lang"]) == \
        _rows(scorefn.top_hits(spark, idx, "public", "lang", n_hits=2))


def test_aggs_without_query_cover_all_live_docs(spark, idx):
    """An aggs-only body aggregates over match_all (it used to raise
    "aggs need a match/term query")."""
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    out = dsl.search_aggs(spark, idx, {"aggs": {
        "dl_stats": {"stats": {"field": "dl"}},
        "by_lang": {"terms": {"field": "lang"}}}})
    assert _rows(out["dl_stats"]) == \
        _rows(intersect.global_stats_agg(spark, idx, "dl"))
    live = query.live_docs(spark, idx, catalog.read_table(
        spark, idx, "docstats").select("doc_id"))
    assert _rows(out["by_lang"]) == \
        _rows(intersect.facet_counts(spark, idx, live, "lang"))


def test_aggs_honour_match_operator(spark, idx):
    """``operator: "and"`` scopes the aggs to the AND hit set (they
    used to count the OR hits)."""
    body = {"query": {"match": {"content": {"query": "public static",
                                            "operator": "and"}}},
            "aggs": {"n": {"value_count": {"field": "dl"}}}}
    got = dsl.search_aggs(spark, idx, body)["n"].collect()[0]["value"]
    want = intersect.match_all_terms(spark, idx, "public static").count()
    assert got == want
    assert want < intersect.match_any_terms(spark, idx,
                                            "public static").count()


def test_filter_column_forms(spark, idx):
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    ds = catalog.read_table(spark, idx, "docstats")
    c = dsl.filter_column({"bool": {
        "must": [{"range": {"dl": {"gte": 10, "lt": 500}}}],
        "should": [{"term": {"lang": "java"}},
                   {"terms": {"lang": ["python", "go"]}}],
        "must_not": [{"exists": {"field": "nope"}}]}})
    with pytest.raises(Exception):
        ds.filter(c).count()  # 'nope' not a column -> analysis error
    c2 = dsl.filter_column({"bool": {
        "must": [{"range": {"dl": {"gte": 10}}}],
        "should": [{"term": {"lang": "java"}}]}})
    got = ds.filter(c2).count()
    want = ds.filter((F.col("dl") >= 10) & (F.col("lang") == "java")).count()
    assert got == want > 0


def test_unsupported_raises(spark, idx):
    with pytest.raises(ValueError):
        dsl.search(spark, idx, {"query": {"nope": {}}})
    with pytest.raises(ValueError):
        dsl.filter_column({"geo_shape": {}})


def test_geo_filter_columns(spark):
    """ES geo_distance / geo_bounding_box filter forms compile to the
    engine's haversine / range predicates over (lat, lon) columns —
    the filter shapes the reference issues (ESNodeITest geo tests)."""
    rows = [(0, 48.8566, 2.3522),    # Paris
            (1, 48.8600, 2.3400),    # ~1 km away
            (2, 45.7640, 4.8357)]    # Lyon
    df = spark.createDataFrame(rows, "doc_id long, lat double, lon double")
    near = dsl.filter_column({"geo_distance": {
        "distance": "5km", "location": {"lat": 48.8566, "lon": 2.3522}}})
    assert sorted(r["doc_id"] for r in df.filter(near).collect()) == [0, 1]
    box = dsl.filter_column({"geo_bounding_box": {"location": {
        "top_left": {"lat": 49.0, "lon": 2.0},
        "bottom_right": {"lat": 48.0, "lon": 3.0}}}})
    assert sorted(r["doc_id"] for r in df.filter(box).collect()) == [0, 1]


def test_percolate(spark):
    """Reverse search: registered queries match streaming docs —
    all/any modes vs a python re-derivation; silent docs emit nothing."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.percolate import percolate

    rows = [(0, "getIndexBuffer flushes the buffer"),
            (1, "parse_XMLFile reads xml"),
            (2, "nothing relevant here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    qs = {"buf": "IndexBuffer", "xml": "parseXML file", "none": "zzzq"}
    got = [(r["doc_id"], r["query_id"]) for r in
           percolate(df, qs, analyzer="code", mode="all").collect()]
    want = []
    for d, t in rows:
        toks = set(tokenize_py(t, "code"))
        for qid, q in sorted(qs.items()):
            terms = set(tokenize_py(q, "code"))
            if terms and terms <= toks:
                want.append((d, qid))
    assert got == sorted(want) and got
    got_any = {(r["doc_id"], r["query_id"]) for r in
               percolate(df, qs, analyzer="code", mode="any").collect()}
    assert (1, "xml") in got_any and (0, "buf") in got_any
    assert not any(d == 2 for d, _ in got_any)
    with pytest.raises(ValueError):
        percolate(df, qs, mode="nope")
    assert percolate(df, {"e": "   "}).count() == 0


def test_match_phrase_slop_routes_to_span_near(spark, idx):
    body = {"query": {"match_phrase": {"content":
            {"query": "public void", "slop": 3}}}, "size": 10**6}
    got = [d for d, _ in _rows(dsl.search(spark, idx, body))]
    want = intersect.span_near(spark, idx, "public void", slop=3,
                               in_order=True)
    assert got == [r["doc_id"] for r in want.collect()] and got


def test_terms_stats_and_range_agg(spark, idx):
    """0.90-era terms_stats facet + range agg (overlapping buckets,
    open ends, per-range membership) vs python re-derivations; the
    range form also routes through the DSL aggs compiler."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        range_agg,
        terms_stats_facet,
    )
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    ds = {r["doc_id"]: (r["lang"], r["dl"]) for r in
          catalog.read_table(spark, idx, "docstats")
          .select("doc_id", "lang", "dl").collect()}
    hits = {d for d, (lg, dl) in ds.items()}  # filled below
    hits = {r["doc_id"] for r in
            intersect.match_any_terms(spark, idx, "public").collect()}
    got = {r["lang"]: (r["n"], r["min_v"], r["max_v"], r["sum_v"])
           for r in terms_stats_facet(spark, idx, "public",
                                      "lang", "dl").collect()}
    want: dict = {}
    for d in hits:
        lg, dl = ds[d]
        n, mn, mx, sm = want.get(lg, (0, 10**9, -1, 0))
        want[lg] = (n + 1, min(mn, dl), max(mx, dl), sm + dl)
    assert got == want and got

    ranges = [(None, 100.0), (100.0, 200.0), (150.0, None)]
    got_r = {r["bucket"]: r["n_docs"] for r in
             range_agg(spark, idx, "public", "dl", ranges).collect()}
    want_r: dict = {}
    for d in hits:
        dl = ds[d][1]
        for lo, hi, lbl in [(None, 100, "*-100"), (100, 200, "100-200"),
                            (150, None, "150-*")]:
            if (lo is None or dl >= lo) and (hi is None or dl < hi):
                want_r[lbl] = want_r.get(lbl, 0) + 1
    assert got_r == want_r and got_r

    via_dsl = dsl.search_aggs(spark, idx, {
        "query": {"match": {"content": "public"}},
        "aggs": {"r": {"range": {"field": "dl", "ranges": [
            {"to": 100.0}, {"from": 100.0, "to": 200.0},
            {"from": 150.0}]}}}})
    assert {r["bucket"]: r["n_docs"] for r in via_dsl["r"].collect()} == want_r


def test_boosting_query(spark, idx):
    """Demotion without exclusion: negative-matching docs keep
    negative_boost x their BM25; others unchanged; DSL routes it."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import boosting_topk

    base = {r["doc_id"]: r["score"] for r in
            query.topk(spark, idx, "public static", k=80).collect()}
    neg_ids = {r["doc_id"] for r in
               intersect.match_any_terms(spark, idx, "id0042").collect()}
    got = boosting_topk(spark, idx, "public static", "id0042",
                        k=80, negative_boost=0.25).collect()
    assert any(r["doc_id"] in neg_ids for r in got)
    for r in got:
        want = base[r["doc_id"]] * (0.25 if r["doc_id"] in neg_ids else 1.0)
        assert abs(r["score"] - want) < 1e-12
    via = dsl.search(spark, idx, {"query": {"boosting": {
        "positive": {"match": {"content": "public static"}},
        "negative": {"match": {"content": "id0042"}},
        "negative_boost": 0.25}}, "size": 80})
    assert _rows(via) == [(r["doc_id"], r["score"]) for r in got]


def test_fetch_phase_source_hydration(spark, idx):
    """query_then_fetch's second phase: hits hydrate with doc-store
    fields, ranking preserved; ids collect -> In() pushdown, no store
    shuffle; '_source' routes it through the DSL."""
    from elasticsearch_osmosis_plugin_spark.operators.query import fetch_hits
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    hits = query.topk(spark, idx, "public static", k=5)
    got = fetch_hits(spark, idx, hits, ["lang", "dl"]).collect()
    assert [r["doc_id"] for r in got] == \
        [r["doc_id"] for r in hits.collect()]
    ds = {r["doc_id"]: (r["lang"], r["dl"]) for r in
          catalog.read_table(spark, idx, "docstats")
          .select("doc_id", "lang", "dl").collect()}
    for r in got:
        assert (r["lang"], r["dl"]) == ds[r["doc_id"]]
    plan = fetch_hits(spark, idx, hits, ["lang"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "In(doc_id" in plan          # pushed-down id list

    via = dsl.search(spark, idx, {
        "query": {"match": {"content": "public static"}},
        "_source": ["lang"], "size": 5}).collect()
    assert [(r["doc_id"], r["lang"]) for r in via] == \
        [(r["doc_id"], r["lang"]) for r in got]


def test_filters_and_missing_agg(spark, idx):
    """Named filter buckets computed in one conditional-sum pass ==
    python re-derivation; missing agg counts nulls (zero here)."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        filters_agg,
        missing_agg,
    )
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    hits = {r["doc_id"] for r in
            intersect.match_any_terms(spark, idx, "public").collect()}
    ds = {r["doc_id"]: (r["lang"], r["dl"]) for r in
          catalog.read_table(spark, idx, "docstats")
          .select("doc_id", "lang", "dl").collect()}
    got = {r["bucket"]: r["n_docs"] for r in filters_agg(
        spark, idx, "public",
        {"java": F.col("lang") == "java",
         "long": F.col("dl") >= 100}).collect()}
    want = {"java": sum(1 for d in hits if ds[d][0] == "java"),
            "long": sum(1 for d in hits if ds[d][1] >= 100)}
    assert got == want
    assert missing_agg(spark, idx, "public", "lang") \
        .collect()[0]["n_missing"] == 0
    assert filters_agg(spark, idx, "public", {}).count() == 0


def test_exists_query_form(spark, idx):
    got = dsl.search(spark, idx, {"query": {"exists": {"field": "lang"}},
                                  "size": 10**6})
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    n = catalog.read_table(spark, idx, "docstats") \
        .filter("lang IS NOT NULL").count()
    assert got.count() == n > 0


def test_ids_range_constant_score(spark, idx):
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    got = dsl.search(spark, idx, {
        "query": {"ids": {"values": [3, 1, 999999]}}, "size": 10})
    assert [d for d, _ in _rows(got)] == [1, 3]

    ds = catalog.read_table(spark, idx, "docstats")
    want = sorted(r["doc_id"] for r in
                  ds.filter("dl >= 100 AND dl < 200").collect())
    got = dsl.search(spark, idx, {
        "query": {"range": {"dl": {"gte": 100, "lt": 200}}},
        "size": 10**6})
    assert [d for d, _ in _rows(got)] == want and want

    got = dsl.search(spark, idx, {
        "query": {"constant_score": {
            "filter": {"term": {"lang": "java"}}, "boost": 2.5}},
        "size": 10**6})
    n_java = ds.filter(F.col("lang") == "java").count()
    rows = _rows(got)
    assert len(rows) == n_java > 0
    assert all(s == 2.5 for _, s in rows)


def test_wildcard_and_regexp(spark, idx):
    got = dsl.search(spark, idx, {
        "query": {"wildcard": {"content": "id00*"}}, "size": 10**6})
    want = intersect.match_expanded(spark, idx, "id00")
    assert [d for d, _ in _rows(got)] == \
        [r["doc_id"] for r in want.collect()]

    got = dsl.search(spark, idx, {
        "query": {"wildcard": {"content": "?ublic"}}, "size": 10**6})
    want = intersect.match_all_terms(spark, idx, "public")
    assert [d for d, _ in _rows(got)] == \
        [r["doc_id"] for r in want.collect()]

    got = dsl.search(spark, idx, {
        "query": {"regexp": {"content": "id004[0-9]"}}, "size": 10**6})
    want = intersect.match_expanded(spark, idx, "id004[0-9]", mode="regex")
    assert [d for d, _ in _rows(got)] == \
        [r["doc_id"] for r in want.collect()]


def test_sort_by_field(spark, idx):
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    ds = catalog.read_table(spark, idx, "docstats") \
        .select("doc_id", "dl").collect()
    want = [r["doc_id"] for r in
            sorted(ds, key=lambda r: (-r["dl"], r["doc_id"]))][:7]
    got = dsl.search(spark, idx, {
        "query": {"match_all": {}},
        "sort": [{"dl": {"order": "desc"}}], "size": 7})
    rows = got.collect()
    assert [r["doc_id"] for r in rows] == want
    # ES track_scores=false: no relevance score under field sort
    assert all(r["score"] is None for r in rows)
    # sort values ride along per hit
    dl_by_id = {r["doc_id"]: r["dl"] for r in ds}
    assert [r["dl"] for r in rows] == [dl_by_id[d] for d in want]

    # sort restricted to a match query's doc set (OR semantics)
    hits = {r["doc_id"] for r in
            intersect.match_any_terms(spark, idx, "id0042").collect()}
    got = dsl.search(spark, idx, {
        "query": {"match": {"content": "id0042"}},
        "sort": [{"dl": {"order": "asc"}}], "size": 10**6}).collect()
    assert {r["doc_id"] for r in got} == hits
    dls = [dl_by_id[r["doc_id"]] for r in got]
    assert dls == sorted(dls)


def test_from_pagination(spark, idx):
    full = query.topk(spark, idx, "public static", k=9).collect()
    p2 = dsl.search(spark, idx, {
        "query": {"match": {"content": "public static"}},
        "from": 3, "size": 3}).collect()
    assert [(r["doc_id"], r["score"]) for r in p2] == \
        [(r["doc_id"], r["score"]) for r in full[3:6]]
    with pytest.raises(ValueError, match="search_after"):
        dsl.search(spark, idx, {
            "query": {"match": {"content": "public"}},
            "from": 2, "search_after": [1.0, 5]})


def test_docstore_forms_exclude_tombstones(spark, corpus_df,
                                           tmp_path_factory):
    """match_all / exists / ids / range / sort enumerate docstats, not
    postings — they must still honor logical deletes immediately."""
    from elasticsearch_osmosis_plugin_spark.plans import build as b

    path = str(tmp_path_factory.mktemp("dsltomb") / "index")
    build_index(spark, corpus_df.limit(20), path, CFG,
                id_col="doc_id", n_groups=1)
    victim = dsl.search(spark, path, {"query": {"match_all": {}},
                                      "size": 1}).collect()[0]["doc_id"]
    b.delete_docs(spark, path, [victim])
    for body in (
        {"query": {"match_all": {}}, "size": 10**6},
        {"query": {"exists": {"field": "lang"}}, "size": 10**6},
        {"query": {"ids": {"values": [int(victim)]}}},
        {"query": {"range": {"dl": {"gte": 0}}}, "size": 10**6},
        {"query": {"match_all": {}}, "sort": ["dl"], "size": 10**6},
    ):
        got = {r["doc_id"] for r in dsl.search(spark, path, body).collect()}
        assert victim not in got, body


def test_common_terms_query(spark, idx):
    """ES `common` query: low-df terms select (OR), high-df terms only
    boost scores of already-selected docs; all-high degrades to a
    conjunction. DSL `common` routes to the same operator."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        common_terms_topk,
    )

    meta = query.load_meta(idx)
    n = float(meta["n_docs"])
    dic = query.dictionary_rows(spark, idx, ["id0000", "id1638"], meta)
    dfs = {r.term: float(r.df) for r in dic.itertuples()}
    assert dfs["id0000"] / n > 0.1 > dfs["id1638"] / n  # fixture sanity

    # mixed: selection == docs matching the rare term; score == the
    # scoreall BM25 sum over BOTH terms on those docs
    got = common_terms_topk(spark, idx, "id0000 id1638", k=500,
                            cutoff_frequency=0.1).collect()
    rare_ids = {r["doc_id"] for r in
                intersect.match_any_terms(spark, idx, "id1638").collect()}
    assert {r["doc_id"] for r in got} == rare_ids
    base = {r["doc_id"]: r["score"] for r in
            query.topk(spark, idx, "id0000 id1638", k=500).collect()}
    for r in got:
        assert abs(r["score"] - base[r["doc_id"]]) < 1e-12

    # all-high: conjunction of the terms
    allhigh = common_terms_topk(spark, idx, "id0000 id0002", k=500,
                                cutoff_frequency=0.1).collect()
    both = {r["doc_id"] for r in
            intersect.match_all_terms(spark, idx, "id0000 id0002").collect()}
    assert {r["doc_id"] for r in allhigh} == both

    via = dsl.search(spark, idx, {"query": {"common": {"content": {
        "query": "id0000 id1638", "cutoff_frequency": 0.1}}}, "size": 500})
    assert _rows(via) == [(r["doc_id"], r["score"]) for r in got]


def test_knn_and_rrf_retriever(spark, idx, corpus_df):
    """DSL vector surfaces: top-level knn == direct cosine_topk; knn +
    query == score sum on the hit union; retriever.rrf == direct
    rrf_fuse of its sub-retrievers."""
    from elasticsearch_osmosis_plugin_spark.functions.similarity import (
        cosine_topk,
    )
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import rrf_fuse

    # deterministic fake embeddings keyed off doc_id
    emb = corpus_df.select(
        F.col("doc_id").alias("vec_id"),
        F.array(*[((F.col("doc_id") * (i + 1) + i) % 7 + 1).cast("double")
                  for i in range(4)]).alias("embedding"))
    qv = [1.0, 2.0, 0.5, 3.0]

    via = dsl.search(spark, idx, {"knn": {"query_vector": qv, "k": 8}},
                     knn_source=emb)
    direct = cosine_topk(emb, qv, k=8)
    assert _rows(via) == [(r["vec_id"], r["cos"]) for r in direct.collect()]

    # knn + query: sum combine on the union
    body = {"knn": {"query_vector": qv, "k": 8},
            "query": {"match": {"content": "public static"}}, "size": 300}
    got = {r["doc_id"]: r["score"]
           for r in dsl.search(spark, idx, body, knn_source=emb).collect()}
    lex = {r["doc_id"]: r["score"] for r in
           query.topk(spark, idx, "public static", k=300).collect()}
    vec = {r["vec_id"]: r["cos"] for r in cosine_topk(emb, qv, k=8).collect()}
    assert set(got) == set(lex) | set(vec)
    for d, s in got.items():
        assert abs(s - (lex.get(d, 0.0) + vec.get(d, 0.0))) < 1e-12

    # retriever.rrf == direct fuse at the fixed point
    body = {"retriever": {"rrf": {"retrievers": [
        {"standard": {"query": {"match": {"content": "public static"}}}},
        {"knn": {"query_vector": qv, "k": 20}},
    ], "rank_constant": 60, "rank_window_size": 20}}, "size": 10}
    via = dsl.search(spark, idx, body, knn_source=emb)
    x4 = lambda df, i, s: df.select(  # noqa: E731
        F.col(i).alias("doc_id"),
        F.floor(F.col(s) * 10000.0 + F.lit(0.5)).cast("long")
         .alias("score_x1e4"))
    direct = rrf_fuse(
        {"r0": x4(query.topk(spark, idx, "public static", k=20), "doc_id",
                  "score"),
         "r1": x4(cosine_topk(emb, qv, k=20), "vec_id", "cos")},
        k=10, rrf_k=60, window=20)
    assert [tuple(r) for r in via.collect()] == \
        [tuple(r) for r in direct.collect()]


def test_validate_query(spark, idx):
    """_validate/query: compiles without executing; invalid bodies
    report instead of raising."""
    ok, err = dsl.validate_query(spark, idx, {
        "query": {"match": {"content": "public static"}}, "size": 5})
    assert ok and err is None
    ok, err = dsl.validate_query(spark, idx, {
        "query": {"nonsense_query": {}}})
    assert not ok and err
    ok, err = dsl.validate_query(spark, idx, {
        "query": {"match": {"content": "x"}}, "from": 3,
        "search_after": [1.0, 2]})
    assert not ok and "mutually exclusive" in err


def test_msearch_matches_individual_searches(spark, idx):
    """_msearch: one response per body, request order, each equal to
    its solo search."""
    bodies = [
        {"query": {"match": {"content": "public static"}}, "size": 5},
        {"query": {"term": {"lang": "java"}}, "size": 3},
    ]
    outs = dsl.msearch(spark, idx, bodies)
    assert len(outs) == 2
    for body, got in zip(bodies, outs):
        assert _rows(got) == _rows(dsl.search(spark, idx, dict(body)))


def test_field_caps(spark, idx):
    caps = {r["field"]: r for r in dsl.field_caps(spark, idx).collect()}
    assert caps["content"]["searchable"] and not caps["content"]["aggregatable"]
    assert caps["doc_id"]["searchable"] and caps["doc_id"]["aggregatable"]
    assert caps["lang"]["aggregatable"] and not caps["lang"]["searchable"]
    assert "tokens" not in caps and "dl" not in caps  # internal cols hidden


def test_search_template(spark, idx):
    """_search/template: string template renders + parses + runs equal
    to the inline body; dict template keeps native param types."""
    tpl = ('{"query": {"match": {"content": "{{q}}"}}, '
           '"size": {{size}}}')
    got = dsl.search_template(spark, idx, tpl,
                              {"q": "public static", "size": 5})
    want = dsl.search(spark, idx,
                      {"query": {"match": {"content": "public static"}},
                       "size": 5})
    assert _rows(got) == _rows(want)

    # dict template: pure "{{var}}" leaves keep native types
    dtpl = {"query": {"terms": {"lang": "{{langs}}"}}, "size": "{{n}}"}
    got2 = dsl.search_template(spark, idx, dtpl,
                               {"langs": ["java", "go"], "n": 4})
    want2 = dsl.search(spark, idx,
                       {"query": {"terms": {"lang": ["java", "go"]}},
                        "size": 4})
    assert _rows(got2) == _rows(want2)

    # toJson embeds structured params into string templates
    tpl3 = ('{"query": {"terms": {"lang": '
            '{{#toJson}}langs{{/toJson}}}}, "size": 4}')
    got3 = dsl.search_template(spark, idx, tpl3, {"langs": ["java", "go"]})
    assert _rows(got3) == _rows(want2)

    with pytest.raises(KeyError):
        dsl.render_template('{"size": {{missing}}}', {})


def test_topk_synonyms_blended(spark, idx, corpus_rows):
    """SynonymQuery semantics: tf summed over members, df = max member
    df — recompute the golden score from the raw corpus."""
    import math

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_synonyms

    toks = {d: tokenize_py(t, "code")
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    groups = [["public", "private"], ["return"]]
    n = len(toks)
    avgdl = sum(len(ts) for ts in toks.values()) / n
    dfs = {}
    for alts in groups:
        for t in alts:
            dfs[t] = sum(1 for ts in toks.values() if t in ts)
    want = {}
    for d, ts in toks.items():
        s = 0.0
        for alts in groups:
            present = [t for t in alts if dfs.get(t, 0) > 0]
            if not present:
                continue
            tf = sum(ts.count(t) for t in present)
            if tf == 0:
                continue
            dfg = max(dfs[t] for t in present)
            idf = math.log(1.0 + (n - dfg + 0.5) / (dfg + 0.5))
            s += idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * len(ts) / avgdl))
        if s > 0:
            want[d] = s
    got = topk_synonyms(spark, idx, groups, k=15).collect()
    exp = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    assert [r["doc_id"] for r in got] == [d for d, _ in exp]
    for r, (_, sc) in zip(got, exp):
        assert r["score"] == pytest.approx(sc, rel=1e-9)

    with pytest.raises(ValueError):
        topk_synonyms(spark, idx, [["public"], ["public", "void"]])


def test_span_dsl_forms(spark, idx):
    """span_first / span_not / span_or-under-span_near DSL forms equal
    their direct operator calls."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        span_first,
        span_not,
        span_or_near,
    )

    got = dsl.search(spark, idx, {
        "query": {"span_first": {
            "match": {"span_term": {"content": "public"}}, "end": 5}},
        "size": 100})
    want = span_first(spark, idx, "public", end=5)
    assert [r["doc_id"] for r in got.collect()] \
        == [r["doc_id"] for r in want.collect()]

    got = dsl.search(spark, idx, {
        "query": {"span_not": {
            "include": {"span_term": {"content": "static"}},
            "exclude": {"span_term": {"content": "public"}},
            "pre": 1, "post": 1}},
        "size": 100})
    want = span_not(spark, idx, "static", "public", pre=1, post=1)
    assert [r["doc_id"] for r in got.collect()] \
        == [r["doc_id"] for r in want.collect()]

    got = dsl.search(spark, idx, {
        "query": {"span_near": {
            "clauses": [
                {"span_or": {"clauses": [
                    {"span_term": {"content": "static"}},
                    {"span_term": {"content": "class"}}]}},
                {"span_term": {"content": "return"}}],
            "slop": 2, "in_order": True}},
        "size": 100})
    want = span_or_near(spark, idx, [["static", "class"], ["return"]],
                        slop=2, in_order=True)
    assert [r["doc_id"] for r in got.collect()] \
        == [r["doc_id"] for r in want.collect()]


def test_intervals_dsl(spark, idx):
    """ES intervals query: match / any_of / all_of route onto the span
    operators."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        match_all_terms,
        span_near,
        span_or_near,
    )

    # ordered match with max_gaps == span_near
    got = dsl.search(spark, idx, {
        "query": {"intervals": {"content": {
            "match": {"query": "public static", "ordered": True,
                      "max_gaps": 2}}}},
        "size": 100})
    want = span_near(spark, idx, "public static", slop=2, in_order=True)
    assert [r["doc_id"] for r in got.collect()] \
        == [r["doc_id"] for r in want.collect()]

    # unordered unbounded == conjunction
    got = dsl.search(spark, idx, {
        "query": {"intervals": {"content": {
            "match": {"query": "public static"}}}},
        "size": 100})
    want = match_all_terms(spark, idx, "public static")
    assert [r["doc_id"] for r in got.collect()] \
        == [r["doc_id"] for r in want.collect()]

    # any_of == union of sub-rules
    got = dsl.search(spark, idx, {
        "query": {"intervals": {"content": {
            "any_of": {"intervals": [
                {"match": {"query": "public"}},
                {"match": {"query": "class"}}]}}}},
        "size": 200})
    a = {r["doc_id"] for r in match_all_terms(spark, idx, "public").collect()}
    b = {r["doc_id"] for r in match_all_terms(spark, idx, "class").collect()}
    assert {r["doc_id"] for r in got.collect()} == a | b

    # all_of with an any_of source == span_or_near slots
    got = dsl.search(spark, idx, {
        "query": {"intervals": {"content": {
            "all_of": {"intervals": [
                {"any_of": {"intervals": [
                    {"match": {"query": "static"}},
                    {"match": {"query": "class"}}]}},
                {"match": {"query": "return"}}],
                "ordered": True, "max_gaps": 2}}}},
        "size": 200})
    want = span_or_near(spark, idx, [["static", "class"], ["return"]],
                        slop=2, in_order=True)
    assert [r["doc_id"] for r in got.collect()] \
        == [r["doc_id"] for r in want.collect()]


def test_knn_filter_prefilters(spark, idx, corpus_df):
    """ES 8 filtered kNN: the metadata filter restricts candidates
    BEFORE the k cut — equal to cosine_topk over the filtered source,
    and k matching hits come back (a post-filter would return fewer)."""
    from elasticsearch_osmosis_plugin_spark.functions.similarity import (
        cosine_topk,
    )

    emb = corpus_df.select(
        F.col("doc_id").alias("vec_id"), F.col("lang"),
        F.array(*[((F.col("doc_id") * (i + 1) + i) % 7 + 1).cast("double")
                  for i in range(4)]).alias("embedding"))
    qv = [1.0, 2.0, 0.5, 3.0]
    body = {"knn": {"query_vector": qv, "k": 8,
                    "filter": {"term": {"lang": "java"}}}}
    via = dsl.search(spark, idx, body, knn_source=emb)
    direct = cosine_topk(emb.filter(F.col("lang") == "java"), qv, k=8)
    assert _rows(via.select("doc_id", "score")) \
        == [(r["vec_id"], r["cos"]) for r in direct.collect()]
    assert via.count() == 8  # pre-filtering still fills k


def test_runtime_mappings(spark, idx):
    """ES runtime fields: a computed field filters (post_filter) and
    sorts like a stored one — equal to the hand-written Column."""
    rt = {"dl_sq": {"type": "long", "script": {"source": "dl * dl"}}}

    # post_filter on a runtime field == post_filter on the expression
    body = {"query": {"match": {"content": "public static"}},
            "runtime_mappings": rt,
            "post_filter": {"range": {"dl_sq": {"gte": 900}}}, "size": 50}
    got = dsl.search(spark, idx, body)
    want = dsl.search(spark, idx, {
        "query": {"match": {"content": "public static"}}, "size": 50,
        "post_filter": {"range": {"dl": {"gte": 30}}}})
    assert _rows(got) == _rows(want) and got.count() > 0

    # sort on a runtime field, sort values ride along
    body2 = {"query": {"term": {"lang": "java"}},
             "runtime_mappings": rt,
             "sort": [{"dl_sq": "desc"}], "size": 5}
    got2 = dsl.search(spark, idx, body2).collect()
    assert [r["dl_sq"] for r in got2] \
        == sorted((r["dl_sq"] for r in got2), reverse=True)
    assert all(r["dl_sq"] is not None for r in got2)


def test_pinned_wrapper_bool_prefix(spark, idx):
    """pinned / wrapper / match_bool_prefix routing: each DSL form is
    value-identical to its direct operator call; wrapper is pure
    routing around the encoded body."""
    import base64
    import json

    got = dsl.search(spark, idx, {
        "query": {"pinned": {"ids": [7, 3],
                             "organic": {"match": {"content": "public"}}}},
        "size": 6})
    want = scorefn.pinned_topk(spark, idx, [7, 3], "public", k=6)
    assert _rows(got) == _rows(want)
    assert [r[0] for r in _rows(got)[:2]] == [7, 3]

    inner = {"match": {"content": "public static"}}
    b64 = base64.b64encode(json.dumps(inner).encode()).decode()
    got = dsl.search(spark, idx, {"query": {"wrapper": {"query": b64}}})
    want = dsl.search(spark, idx, {"query": inner})
    assert _rows(got) == _rows(want)

    got = dsl.search(spark, idx, {
        "query": {"match_bool_prefix": {"content": "public buf"}}})
    want = scorefn.match_bool_prefix_topk(spark, idx, "public buf", k=10)
    assert _rows(got) == _rows(want)


def test_multi_match_and_combined_fields_routing(spark, corpus_df, idx,
                                                 tmp_path_factory):
    repo_idx = str(tmp_path_factory.mktemp("dslrepo") / "index")
    build_index(spark, corpus_df, repo_idx, CFG, id_col="doc_id",
                text_col="repo", n_groups=1)
    fi = {"content": idx, "repo": repo_idx}
    got = dsl.search(spark, idx, {
        "query": {"multi_match": {"query": "public",
                                  "fields": ["content", "repo"],
                                  "tie_breaker": 0.3}}},
        field_indexes=fi)
    want = scorefn.multi_match_best_fields(spark, fi, "public", k=10,
                                           tie_breaker=0.3)
    assert _rows(got) == _rows(want)

    got = dsl.search(spark, idx, {
        "query": {"combined_fields": {"query": "public",
                                      "fields": ["content", "repo^2"]}}},
        field_indexes=fi)
    want = scorefn.combined_fields_topk(
        spark, fi, "public", k=10,
        field_weights={"content": 1.0, "repo": 2.0})
    assert _rows(got) == _rows(want)
    with pytest.raises(ValueError):
        dsl.search(spark, idx, {"query": {"combined_fields": {
            "query": "public", "fields": ["content"]}}})


def test_terms_lookup_min_score_script_fields(spark, idx, corpus_rows):
    """terms lookup reads the term list from a stored doc field;
    min_score floors the ranked hits; script_fields compute per-hit
    values over hydrated _source columns."""
    # lookup doc 5's stored term vector -> same hits as the literal
    # terms query over that token list (docs sharing any term)
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py,
    )

    toks = sorted(set(tokenize_py(corpus_rows["content"][5], "code")))
    got = dsl.search(spark, idx, {
        "query": {"terms": {"content": {"index": idx, "id": 5,
                                        "path": "tokens"}}},
        "size": 100})
    want = dsl.search(spark, idx, {
        "query": {"terms": {"content": toks}}, "size": 100})
    assert _rows(got) == _rows(want) and _rows(got)
    # unknown lookup id -> empty, not an error
    assert dsl.search(spark, idx, {
        "query": {"terms": {"content": {"index": idx, "id": 10**9,
                                        "path": "tokens"}}}}).count() == 0

    full = dsl.search(spark, idx, {
        "query": {"match": {"content": "public static"}}, "size": 10})
    scores = sorted((r["score"] for r in full.collect()), reverse=True)
    floor = scores[3]
    got = dsl.search(spark, idx, {
        "query": {"match": {"content": "public static"}}, "size": 10,
        "min_score": floor})
    assert all(r["score"] >= floor for r in got.collect())
    assert got.count() == sum(1 for s in scores if s >= floor)

    hits = dsl.search(spark, idx, {
        "query": {"match": {"content": "public"}}, "size": 5,
        "_source": ["dl", "repo"],
        "script_fields": {
            "dl_sq": {"script": {"source": "dl * dl"}},
            "tag": {"script": {"source": "concat(repo, ':', dl)"}}}})
    for r in hits.collect():
        assert r["dl_sq"] == r["dl"] * r["dl"]
        assert r["tag"] == f"{r['repo']}:{r['dl']}"


def test_aggs_significant_text_and_boxplot(spark, idx):
    got = dsl.search_aggs(spark, idx, {
        "query": {"match": {"content": "public"}},
        "aggs": {"sig": {"significant_text": {"field": "content",
                                              "size": 5}},
                 "box": {"boxplot": {"field": "dl"}}}})
    want_sig = intersect.significant_text(spark, idx, "public", size=5)
    assert _rows(got["sig"]) == _rows(want_sig)
    want_box = intersect.boxplot_agg(spark, idx, "public", "dl")
    assert _rows(got["box"]) == _rows(want_box)


def test_terms_metric_subaggs(spark, idx, corpus_rows):
    """terms + metric sub-aggs (avg/max/cardinality) in one groupBy —
    recomputed from the raw rows."""
    from collections import defaultdict

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py,
    )

    got = dsl.search_aggs(spark, idx, {
        "query": {"match": {"content": "public"}},
        "aggs": {"langs": {"terms": {"field": "lang", "size": 10},
                           "aggs": {"avg_dl": {"avg": {"field": "dl"}},
                                    "max_dl": {"max": {"field": "dl"}},
                                    "n_repos": {"cardinality":
                                                {"field": "repo"}}}}}})
    rows = got["langs"].collect()
    toks = {d: tokenize_py(t, "code") for d, t in
            zip(corpus_rows["doc_id"], corpus_rows["content"])}
    per = defaultdict(list)
    for d, lang, repo in zip(corpus_rows["doc_id"], corpus_rows["lang"],
                             corpus_rows["repo"]):
        if "public" in toks[d]:
            per[lang].append((len(toks[d]), repo))
    want = sorted(((-len(v), k) for k, v in per.items()))
    assert [(r["lang"], r["n_docs"]) for r in rows] == \
        [(k, -n) for n, k in want]
    for r in rows:
        vals = per[r["lang"]]
        assert abs(r["avg_dl"] - sum(d for d, _ in vals) / len(vals)) < 1e-9
        assert r["max_dl"] == max(d for d, _ in vals)
        assert r["n_repos"] == len({rp for _, rp in vals})
    with pytest.raises(ValueError):
        dsl.search_aggs(spark, idx, {
            "query": {"match": {"content": "public"}},
            "aggs": {"x": {"terms": {"field": "lang"},
                           "aggs": {"bad": {"derivative": {"field": "dl"}}}}}})


def test_explain_per_hit(spark, idx):
    """explain=true attaches the per-term BM25 breakdown; parts sum to
    the hit's score; ranking untouched."""
    body = {"query": {"match": {"content": "public static"}}, "size": 5}
    plain = dsl.search(spark, idx, body).collect()
    expl = dsl.search(spark, idx, {**body, "explain": True}).collect()
    assert [(r["doc_id"], r["score"]) for r in expl] == \
        [(r["doc_id"], r["score"]) for r in plain]
    for r in expl:
        parts = {e["term"]: e["partial"] for e in r["explanation"]}
        assert set(parts) <= {"public", "static"} and parts
        assert abs(sum(parts.values()) - r["score"]) < 1e-9
    with pytest.raises(ValueError):
        dsl.search(spark, idx, {"query": {"term": {"content": "public"}},
                                "explain": True})


def test_explain_tombstoned_hit(spark, idx, tmp_path):
    """A tombstoned id among the hits gets an empty explanation, in
    agreement with explain_doc (matched False); live hits keep theirs.
    Runs on a clone so the shared fixture is never mutated."""
    from elasticsearch_osmosis_plugin_spark.plans import catalog as cat
    from elasticsearch_osmosis_plugin_spark.plans.build import delete_docs

    live = str(tmp_path / "explain_live")
    cat.clone_index(idx, live)
    rows = query.topk(spark, live, "public static", k=3).collect()
    hits = spark.createDataFrame(rows, "doc_id long, score double")
    dead = rows[0]["doc_id"]
    delete_docs(spark, live, [dead])
    got = {r["doc_id"]: r["explanation"]
           for r in query.explain_hits(spark, live, hits,
                                       "public static").collect()}
    assert not got[dead]
    assert query.explain_doc(spark, live, dead, "public static") == {
        "matched": False, "score": 0.0, "explanation": []}
    for r in rows[1:]:
        parts = {e["term"]: e["partial"] for e in got[r["doc_id"]]}
        assert abs(sum(parts.values()) - r["score"]) < 1e-9
        assert query.explain_doc(spark, live, r["doc_id"],
                                 "public static")["matched"]


def test_fixed_interval_and_fuzzy_transpositions_routing(spark, tmp_path,
                                                          idx):
    """fixed_interval routes through the hit-pruned store scan; fuzzy
    transpositions reach the OSA kernel."""
    from datetime import datetime, timedelta

    rows = [(i, "apple pie" if i % 2 == 0 else "banana split",
             datetime(2024, 3, 1) + timedelta(hours=6 * i))
            for i in range(8)]
    tsidx = str(tmp_path / "tsidx")
    build_index(spark,
                spark.createDataFrame(rows,
                                      "doc_id long, text string, ts timestamp"),
                tsidx, EngineConfig(analyzer="simple", n_segments=2,
                                    n_buckets=2, block_size=8),
                id_col="doc_id", text_col="text", n_groups=1)
    got = dsl.search_aggs(spark, tsidx, {
        "query": {"match": {"text": "apple"}},
        "aggs": {"h": {"date_histogram": {"field": "ts",
                                          "fixed_interval": "1d"}}}})
    # apple docs: i=0,2,4,6 at hours 0,12,24,36 -> days 1,1,2,2
    assert [(r["bucket"].day, r["n_docs"])
            for r in got["h"].collect()] == [(1, 2), (2, 2)]
    got = dsl.search(spark, idx, {
        "query": {"fuzzy": {"content": {"value": "pbulic", "fuzziness": 1,
                                        "transpositions": True}}},
        "size": 10**6})
    want = intersect.match_fuzzy(spark, idx, "pbulic", max_edits=1,
                                 transpositions=True)
    assert [d for d, _ in _rows(got)] == [r["doc_id"] for r in want.collect()]
    assert got.count() > 0


def test_count_api_and_collapse_inner_hits(spark, idx):
    """_count: complete-match-set cardinality for every countable body
    form (+post_filter); collapse.inner_hits routes to top_hits."""
    n_or = dsl.count(spark, idx, {
        "query": {"match": {"content": "public static"}}})
    assert n_or == intersect.match_any_terms(
        spark, idx, "public static").count() > 0
    n_and = dsl.count(spark, idx, {
        "query": {"match": {"content":
                            {"query": "public static", "operator": "and"}}}})
    assert n_and == intersect.match_all_terms(
        spark, idx, "public static").count()
    assert dsl.count(spark, idx, {}) == \
        dsl.count(spark, idx, {"query": {"match_all": {}}})
    n_post = dsl.count(spark, idx, {
        "query": {"term": {"content": "public"}},
        "post_filter": {"term": {"lang": "java"}}})
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    java = {r["doc_id"] for r in catalog.read_table(spark, idx, "docstats")
            .filter(F.col("lang") == "java").select("doc_id").collect()}
    pub = {r["doc_id"] for r in
           intersect.match_all_terms(spark, idx, "public").collect()}
    assert n_post == len(pub & java)

    got = dsl.search(spark, idx, {
        "query": {"match": {"content": "public"}},
        "collapse": {"field": "lang", "inner_hits": {"size": 2}}})
    want = scorefn.top_hits(spark, idx, "public", "lang", n_hits=2)
    assert _rows(got) == _rows(want)


def test_span_containing_routing(spark, idx):
    body = {"query": {"span_containing": {
        "big": {"span_near": {"clauses": [
            {"span_term": {"content": "public"}},
            {"span_term": {"content": "void"}}], "slop": 6}},
        "little": {"span_term": {"content": "static"}}}}, "size": 10**6}
    got = dsl.search(spark, idx, body)
    want = intersect.span_containing(spark, idx, "public void", "static",
                                     slop=6)
    assert [d for d, _ in _rows(got)] == [r["doc_id"] for r in want.collect()]
    body["query"] = {"span_within": dict(
        body["query"]["span_containing"])}
    got2 = dsl.search(spark, idx, body)
    assert _rows(got2) == _rows(got)


def test_date_histogram_terms_subagg(spark, tmp_path):
    from datetime import datetime, timedelta

    rows = [(i, "apple pie", "a" if i % 3 else "b",
             datetime(2024, 3, 1) + timedelta(hours=12 * i))
            for i in range(8)]
    tsidx = str(tmp_path / "dhidx")
    build_index(spark, spark.createDataFrame(
        rows, "doc_id long, text string, kind string, ts timestamp"),
        tsidx, EngineConfig(analyzer="simple", n_segments=2, n_buckets=2,
                            block_size=8),
        id_col="doc_id", text_col="text", n_groups=1)
    got = dsl.search_aggs(spark, tsidx, {
        "query": {"match": {"text": "apple"}},
        "aggs": {"h": {"date_histogram": {"field": "ts",
                                          "calendar_interval": "day"},
                       "aggs": {"by": {"terms": {"field": "kind"}}}}}})
    rows_out = [(r["bucket"].day, r["kind"], r["n_docs"])
                for r in got["h"].collect()]
    # day 1: i=0,1 -> b,a; day 2: i=2,3 -> a,a; day 3: i=4,5 -> a,b;
    # day 4: i=6,7 -> b? i%3: 0->b,1->a,2->a,3->b? no: i%3 -> 0:b 1:a 2:a
    # 3:b? 3%3==0 -> b. 4,5 -> a,a; 6 -> b, 7 -> a
    from collections import Counter

    want = Counter()
    for i in range(8):
        day = (datetime(2024, 3, 1) + timedelta(hours=12 * i)).day
        want[(day, "a" if i % 3 else "b")] += 1
    assert sorted(rows_out) == sorted((d, k, n)
                                      for (d, k), n in want.items())


def test_geo_shape_filter_context(spark):
    """geo_shape envelope filter over a stored coords column: all four
    relations equal their direct shape_bbox_relation calls."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import (
        shape_bbox_relation,
    )

    def ring(pts):
        return [{"lat": float(a), "lon": float(b)} for a, b in pts]

    rows = [(1, ring([(0, 0), (0, 3), (3, 3), (3, 0), (0, 0)])),
            (2, ring([(1.2, 1.2), (1.8, 1.8)])),
            (3, ring([(0.0, 1.5), (3.0, 1.5)])),
            (4, ring([(10, 10), (11, 11)]))]
    df = spark.createDataFrame(
        rows, "id long, coords array<struct<lat:double,lon:double>>")
    for rel in ("intersects", "disjoint", "within", "contains"):
        spec = {"geo_shape": {"coords": {
            "shape": {"type": "envelope",
                      "coordinates": [[1.0, 2.0], [2.0, 1.0]]},
            "relation": rel}}}
        got = {r["id"] for r in df.filter(dsl.filter_column(spec)).collect()}
        want = {r["id"] for r in df.filter(shape_bbox_relation(
            F.col("coords"), 1.0, 2.0, 1.0, 2.0, rel)).collect()}
        assert got == want, rel
    with pytest.raises(ValueError):
        dsl.filter_column({"geo_shape": {"coords": {
            "shape": {"type": "circle", "coordinates": [0, 0]}}}})


def test_percolate_phrase_registrations(spark):
    from elasticsearch_osmosis_plugin_spark.operators.percolate import (
        percolate,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "beta alpha gamma"),
         (2, "alpha gamma")],
        "doc_id long, text string")
    got = percolate(docs, {
        "q_terms": "alpha beta",
        "q_phrase": {"match_phrase": "alpha beta"}}, analyzer="simple")
    rows = {(r["doc_id"], r["query_id"]) for r in got.collect()}
    # conjunction matches 0 and 1; the phrase only doc 0
    assert rows == {(0, "q_terms"), (1, "q_terms"), (0, "q_phrase")}
    # phrase-only registration set works too (no term queries at all)
    only = percolate(docs, {"p": {"match_phrase": "beta gamma"}},
                     analyzer="simple")
    assert {(r["doc_id"], r["query_id"]) for r in only.collect()} \
        == {(0, "p")}
    with pytest.raises(ValueError):
        percolate(docs, {"x": {"wildcard": "a*"}}, analyzer="simple")


def test_knn_similarity_floor(spark, idx):
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((6, 4)).round(3)
    src = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(6)],
        "vec_id long, embedding array<float>")
    qv = [float(x) for x in vecs[0]]
    body = {"knn": {"field": "embedding", "query_vector": qv, "k": 6}}
    full = dsl.search(spark, idx, body, knn_source=src).collect()
    floor = sorted((r["score"] for r in full), reverse=True)[2]
    got = dsl.search(spark, idx, {
        "knn": dict(body["knn"], similarity=floor)},
        knn_source=src).collect()
    assert all(r["score"] >= floor for r in got)
    assert len(got) == sum(1 for r in full if r["score"] >= floor) < 6


def test_term_vectors_artificial_and_explain_doc(spark, idx, corpus_rows):
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py,
    )
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        explain_doc,
        topk,
    )

    text = "public static zzzunseen public"
    tv = {r["term"]: r for r in intersect.term_vectors_artificial(
        spark, idx, text).collect()}
    assert tv["public"]["tf"] == 2 and list(tv["public"]["positions"]) == [0, 3]
    assert tv["zzzunseen"]["df"] == 0 and tv["zzzunseen"]["cf"] == 0
    # stored-doc term stats agree with the artificial path for a real doc
    real = {r["term"]: (r["df"], r["cf"]) for r in
            intersect.term_vectors(spark, idx, 7).collect()}
    art = {r["term"]: (r["df"], r["cf"]) for r in
           intersect.term_vectors_artificial(
               spark, idx, corpus_rows["content"][7]).collect()}
    assert real == art

    top = topk(spark, idx, "public static", k=1).collect()[0]
    ex = explain_doc(spark, idx, top["doc_id"], "public static")
    assert ex["matched"] and abs(ex["score"] - top["score"]) < 1e-9
    assert {t for t, _ in ex["explanation"]} <= {"public", "static"}
    toks = set(tokenize_py(corpus_rows["content"][0], "code"))
    miss = next(d for d, t in zip(corpus_rows["doc_id"],
                                  corpus_rows["content"])
                if not ({"public", "static"}
                        & set(tokenize_py(t, "code"))))
    assert explain_doc(spark, idx, miss, "public static") == {
        "matched": False, "score": 0.0, "explanation": []}
    _ = toks


def test_track_total_hits(spark, idx):
    body = {"query": {"match": {"content": "public static"}},
            "size": 3, "track_total_hits": True}
    got = dsl.search(spark, idx, body).collect()
    assert len(got) == 3
    want = query.match_count(spark, idx, "public static")
    assert {r["total_hits"] for r in got} == {want} and want > 3
    # operator=and totals docs holding ALL terms
    body_and = {"query": {"match": {"content":
                {"query": "public static", "operator": "and"}}},
                "size": 2, "track_total_hits": True}
    n_and = dsl.search(spark, idx, body_and).collect()[0]["total_hits"]
    assert n_and == intersect.match_all_terms(
        spark, idx, "public static").count() < want
    # match_all totals the live doc count straight off meta
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    n_live = catalog.read_table(spark, idx, "docstats").count()
    top = dsl.search(spark, idx, {"query": {"match_all": {}}, "size": 1,
                                  "track_total_hits": True}).collect()
    assert top[0]["total_hits"] == n_live
    with pytest.raises(ValueError):
        dsl.search(spark, idx, dict(body, min_score=0.1))
    with pytest.raises(ValueError):
        dsl.search(spark, idx, {"query": {"term": {"content": "public"}},
                                "track_total_hits": True})


def test_scripted_metric_agg(spark, idx):
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    got = intersect.scripted_metric_agg(
        spark, idx, "public static",
        map_script="dl * 2", reduce_script="sum(_mapped)"
    ).collect()[0]["value"]
    ds = catalog.read_table(spark, idx, "docstats")
    hits = ds.join(intersect.match_any_terms(spark, idx, "public static"),
                   "doc_id", "left_semi")
    want = 2.0 * hits.agg(F.sum("dl")).collect()[0][0]
    assert got == want > 0


def test_linear_retriever(spark, idx, corpus_df):
    """retriever.linear == direct linear_fuse; minmax normalization
    puts each window's best at weight and worst at 0; l2/none paths
    and a degenerate (constant-score) window covered."""
    from elasticsearch_osmosis_plugin_spark.functions.similarity import (
        cosine_topk,
    )
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import linear_fuse

    emb = corpus_df.select(
        F.col("doc_id").alias("vec_id"),
        F.array(*[((F.col("doc_id") * (i + 1) + i) % 7 + 1).cast("double")
                  for i in range(4)]).alias("embedding"))
    qv = [1.0, 2.0, 0.5, 3.0]

    body = {"retriever": {"linear": {"retrievers": [
        {"retriever": {"standard": {"query": {
            "match": {"content": "public static"}}}}, "weight": 2.0},
        {"retriever": {"knn": {"query_vector": qv, "k": 20}},
         "weight": 1.0},
    ], "normalizer": "minmax", "rank_window_size": 20}}, "size": 10}
    via = dsl.search(spark, idx, body, knn_source=emb)
    x4 = lambda df, i, s: df.select(  # noqa: E731
        F.col(i).alias("doc_id"),
        F.floor(F.col(s) * 10000.0 + F.lit(0.5)).cast("long")
         .alias("score_x1e4"))
    rankings = {
        "r0": x4(query.topk(spark, idx, "public static", k=20), "doc_id",
                 "score"),
        "r1": x4(cosine_topk(emb, qv, k=20), "vec_id", "cos")}
    direct = linear_fuse(rankings, {"r0": 2.0, "r1": 1.0}, k=10,
                         normalizer="minmax", window=20)
    assert [tuple(r) for r in via.collect()] == \
        [tuple(r) for r in direct.collect()]

    # minmax: the best doc of a source contributes exactly its weight,
    # the worst in-window doc exactly 0
    rows = direct.collect()
    r0 = rankings["r0"].collect()
    best0 = max(r0, key=lambda r: (r["score_x1e4"], -r["doc_id"]))
    by_id = {r["doc_id"]: r["linear_x1e6"] for r in rows}
    if best0["doc_id"] in by_id:
        assert by_id[best0["doc_id"]] >= 2_000_000  # weight 2 * 1.0

    # degenerate window (all scores equal) -> everyone normalizes to 1
    const = rankings["r0"].select("doc_id",
                                  F.lit(100).alias("score_x1e4"))
    fused = linear_fuse({"only": const}, {"only": 3.0}, k=5,
                        normalizer="minmax")
    assert all(r["linear_x1e6"] == 3_000_000 for r in fused.collect())

    # l2_norm: contributions = w * s/||s||
    import math
    vals = [r["score_x1e4"] for r in r0]
    n2 = math.sqrt(sum(v * v for v in vals))
    fused = {r["doc_id"]: r["linear_x1e6"]
             for r in linear_fuse({"r0": rankings["r0"]}, {"r0": 1.0},
                                  k=100, normalizer="l2_norm").collect()}
    for r in r0:
        want = int(math.floor(r["score_x1e4"] / n2 * 1e6 + 0.5))
        assert fused[r["doc_id"]] == want

    with pytest.raises(ValueError, match="unknown normalizer"):
        linear_fuse({"a": rankings["r0"]}, normalizer="bogus").collect()


def test_profile_search(spark, idx):
    """_search?profile=true analog: hits identical to the plain
    search, breakdown + executed-plan features exposed."""
    body = {"query": {"match": {"content": "public static"}}, "size": 5}
    out = dsl.profile_search(spark, idx, body)
    plain = dsl.search(spark, idx, body).collect()
    assert out["hits"] == plain
    p = out["profile"]
    assert p["n_hits"] == len(plain) == 5
    assert p["compile_ms"] >= 0 and p["execute_ms"] >= 0
    assert out["took_ms"] >= p["execute_ms"]
    f = p["features"]
    # the ranked match query must run as a TakeOrderedAndProject with
    # codegen stages, and its dictionary join must not sort-merge
    assert f["take_ordered_and_project"]
    assert f["wholestage_codegen_stages"] > 0
    assert f["sort_merge_joins"] == 0
    assert "TakeOrderedAndProject" in p["plan"]


def test_sparse_vector_and_text_expansion_body(spark, corpus_df,
                                               tmp_path_factory):
    """DSL sparse_vector == direct sparse_topk over the carried
    feature map; text_expansion 'identity' model = analyzer tokens of
    model_text weighted by query tf; non-identity models rejected."""
    from elasticsearch_osmosis_plugin_spark.operators.sparsevec import (
        sparse_topk,
    )
    from elasticsearch_osmosis_plugin_spark.plans import catalog as cat

    path = str(tmp_path_factory.mktemp("sparseidx") / "index")
    feats = corpus_df.withColumn("features", F.create_map(
        F.lit("public"), ((F.col("doc_id") % 7) + 1).cast("double") / 7.0,
        F.lit("static"), ((F.col("doc_id") % 3) + 1).cast("double")))
    build_index(spark, feats, path, CFG, id_col="doc_id", n_groups=1,
                carry_cols=["lang", "features"])
    ds = cat.read_table(spark, path, "docstats")

    qw = {"public": 1.0, "static": 0.5}
    got = dsl.search(spark, path, {"query": {"sparse_vector": {
        "field": "features", "query_vector": qw}}, "size": 5})
    want = sparse_topk(ds, qw, k=5)
    assert _rows(got) == _rows(want)

    # identity text_expansion: tf-weighted analyzer tokens of the text
    body = {"query": {"text_expansion": {"features": {
        "model_id": "identity",
        "model_text": "public static public"}}}, "size": 5}
    got2 = dsl.search(spark, path, body)
    want2 = sparse_topk(ds, {"public": 2.0, "static": 1.0}, k=5)
    assert _rows(got2) == _rows(want2)

    # sparse_vector may also take raw text via the identity expansion
    got3 = dsl.search(spark, path, {"query": {"sparse_vector": {
        "field": "features", "query": "public static public"}}, "size": 5})
    assert _rows(got3) == _rows(want2)

    with pytest.raises(ValueError, match="identity"):
        dsl.search(spark, path, {"query": {"text_expansion": {"features": {
            "model_id": ".elser_model_2", "model_text": "x"}}}})
    with pytest.raises(ValueError, match="doc store"):
        dsl.search(spark, path, {"query": {"sparse_vector": {
            "field": "nope", "query_vector": qw}}})


def test_rank_feature_query_and_highlight_body(spark, idx):
    """DSL rank_feature standalone query == direct docstats compute;
    body highlight section attaches tagged fragments per hit in rank
    order."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        highlight_fragments,
    )

    body = {"query": {"rank_feature": {
        "field": "dl", "boost": 2.0, "saturation": {"pivot": 40.0}}},
        "size": 8}
    got = dsl.search(spark, idx, body).collect()
    assert len(got) == 8
    from elasticsearch_osmosis_plugin_spark.plans import catalog as cat

    dl = {r["doc_id"]: r["dl"] for r in
          cat.read_table(spark, idx, "docstats")
          .select("doc_id", "dl").collect()}
    for r in got:
        want = 2.0 * dl[r["doc_id"]] / (dl[r["doc_id"]] + 40.0)
        assert abs(r["score"] - want) < 1e-9
    scores = [r["score"] for r in got]
    assert scores == sorted(scores, reverse=True)
    with pytest.raises(ValueError, match="explicit\\s+pivot"):
        dsl.search(spark, idx, {"query": {"rank_feature": {"field": "dl"}}})

    body = {"query": {"match": {"content": "public static"}}, "size": 5,
            "highlight": {"fields": {"content": {"number_of_fragments": 2}},
                          "pre_tags": ["<b>"], "post_tags": ["</b>"]}}
    hl = dsl.search(spark, idx, body).collect()
    plain = dsl.search(spark, idx, {"query": {"match":
                                              {"content": "public static"}},
                                    "size": 5}).collect()
    assert [(r["doc_id"], r["score"]) for r in hl] \
        == [(r["doc_id"], r["score"]) for r in plain]
    direct = {r["doc_id"]: r["fragments"] for r in highlight_fragments(
        spark, idx, "public static", window=3, number_of_fragments=2,
        pre_tag="<b>", post_tag="</b>").collect()}
    for r in hl:
        assert r["highlight"] == direct.get(r["doc_id"])
        assert any("<b>" in f for f in r["highlight"])


def test_match_none_and_script_filter(spark, idx):
    assert dsl.search(spark, idx, {"query": {"match_none": {}}}).count() == 0

    # script filter context == the equivalent column predicate
    via = dsl.search(spark, idx, {
        "query": {"match": {"content": "public"}}, "size": 200,
        "post_filter": {"script": {"script": {"source": "dl % 2 = 0"}}}})
    base = dsl.search(spark, idx, {
        "query": {"match": {"content": "public"}}, "size": 200})
    from elasticsearch_osmosis_plugin_spark.plans import catalog as cat

    dl = {r["doc_id"]: r["dl"] for r in
          cat.read_table(spark, idx, "docstats")
          .select("doc_id", "dl").collect()}
    want = [(r["doc_id"], r["score"]) for r in base.collect()
            if dl[r["doc_id"]] % 2 == 0]
    assert [(r["doc_id"], r["score"]) for r in via.collect()] == want
    assert want


def test_get_mapping_and_settings(spark, idx):
    from elasticsearch_osmosis_plugin_spark.operators.query import load_meta

    meta = load_meta(idx)
    m = dsl.get_mapping(spark, idx)["properties"]
    tc = meta["text_col"]
    assert m[tc] == {"type": "text", "analyzer": meta["analyzer"]}
    assert m["doc_id"]["type"] == "long"
    assert all("type" in v for v in m.values())

    s = dsl.get_settings(idx)
    assert s["similarity"] == {"type": "BM25", "k1": meta["k1"],
                               "b": meta["b"]}
    assert s["analysis"]["analyzer"] == meta["analyzer"]
    assert s["layout"]["n_buckets"] == meta["n_buckets"]
    assert s["docs"]["count"] + s["docs"]["deleted"] == meta["n_docs"]


def test_search_aggs_extended_routing(spark, idx):
    """Nine more agg kinds route through the aggs section — each equal
    to its direct operator call."""
    from elasticsearch_osmosis_plugin_spark.operators import intersect

    q = {"query": {"match": {"content": "public"}}}

    def run(aggs):
        return dsl.search_aggs(spark, idx, dict(q, aggs=aggs))

    got = run({"f": {"filters": {"filters": {
        "short": {"range": {"dl": {"lt": 30}}},
        "java": {"term": {"lang": "java"}}}}}})["f"].collect()
    want = intersect.filters_agg(
        spark, idx, "public",
        {"short": F.col("dl") < 30,
         "java": F.col("lang") == "java"}).collect()
    assert got == want

    pairs = [
        ({"m": {"missing": {"field": "lang"}}},
         intersect.missing_agg(spark, idx, "public", "lang")),
        ({"p": {"percentile_ranks": {"field": "dl",
                                     "values": [20, 40]}}},
         intersect.percentile_ranks_agg(spark, idx, "public", "dl",
                                        [20, 40])),
        ({"r": {"rare_terms": {"field": "repo",
                               "max_doc_count": 2}}},
         intersect.rare_terms_agg(spark, idx, "public", "repo", 2)),
        ({"mt": {"multi_terms": {"terms": [{"field": "lang"},
                                           {"field": "repo"}],
                                 "size": 5}}},
         intersect.multi_terms_agg(spark, idx, "public",
                                   ["lang", "repo"], size=5)),
        ({"es": {"extended_stats": {"field": "dl", "sigma": 3.0}}},
         intersect.extended_stats_agg(spark, idx, "public", "dl",
                                      sigma=3.0)),
        ({"wa": {"weighted_avg": {"value": {"field": "dl"},
                                  "weight": {"field": "doc_id"}}}},
         intersect.weighted_avg_agg(spark, idx, "public", "dl",
                                    "doc_id")),
        ({"ss": {"string_stats": {"field": "repo"}}},
         intersect.string_stats_agg(spark, idx, "public", "repo")),
        ({"tm": {"top_metrics": {"metrics": [{"field": "doc_id"}],
                                 "sort": {"dl": "desc"}}}},
         intersect.top_metrics_agg(spark, idx, "public", "doc_id",
                                   "dl", descending=True)),
    ]
    for aggs, direct in pairs:
        name = next(iter(aggs))
        assert run(aggs)[name].collect() == direct.collect(), name


def test_sort_order_preserved_with_highlight(spark, idx):
    """A body with BOTH a sort section and highlight must return hits
    in the requested sort order — the fragments join must not degrade
    the ordering to doc_id (regression: the post-join re-sort used
    score, which is null under field sort)."""
    plain = dsl.search(spark, idx, {
        "query": {"match": {"content": "public"}},
        "sort": [{"dl": {"order": "desc"}}], "size": 5})
    with_hl = dsl.search(spark, idx, {
        "query": {"match": {"content": "public"}},
        "sort": [{"dl": {"order": "desc"}}], "size": 5,
        "highlight": {"fields": {"content": {}}}})
    want = [r["doc_id"] for r in plain.collect()]
    rows = with_hl.collect()
    assert [r["doc_id"] for r in rows] == want
    assert any(r["highlight"] for r in rows)
    # relevance-ranked body with highlight keeps score order
    ranked = dsl.search(spark, idx, {
        "query": {"match": {"content": "public"}}, "size": 5,
        "highlight": {"fields": {"content": {}}}}).collect()
    scores = [r["score"] for r in ranked]
    assert scores == sorted(scores, reverse=True)


def test_value_count_skips_nulls(spark, corpus_df, tmp_path):
    """ES value_count counts extracted (non-null) VALUES, not matching
    docs — a doc whose field is null contributes nothing (regression:
    it mapped to stats n = count(1))."""
    docs = corpus_df.withColumn(
        "stars",
        F.when(F.col("doc_id") % 3 == 0, F.col("doc_id")).cast("long"))
    path = str(tmp_path / "vcidx")
    build_index(spark, docs, path, CFG, id_col="doc_id", n_groups=1)
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    hits = intersect.match_any_terms(spark, path, "public")
    ds = catalog.read_table(spark, path, "docstats") \
        .join(hits, "doc_id", "left_semi")
    n_docs = ds.count()
    n_vals = ds.filter(F.col("stars").isNotNull()).count()
    assert 0 < n_vals < n_docs  # fixture sanity: nulls exist in hits
    got = dsl.search_aggs(spark, path, {
        "query": {"match": {"content": "public"}},
        "aggs": {"vc": {"value_count": {"field": "stars"}}}})
    assert got["vc"].collect()[0]["value"] == n_vals


def test_linear_retriever_per_entry_normalizer(spark, idx, corpus_df):
    """ES puts `normalizer` inside each wrapped sub-retriever entry;
    per-entry values must reach linear_fuse (regression: only a
    top-level normalizer was read, silently ignoring per-entry ones)."""
    from elasticsearch_osmosis_plugin_spark.functions.similarity import (
        cosine_topk,
    )
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        linear_fuse,
    )

    emb = corpus_df.select(
        F.col("doc_id").alias("vec_id"),
        F.array(*[((F.col("doc_id") * (i + 1) + i) % 7 + 1).cast("double")
                  for i in range(4)]).alias("embedding"))
    qv = [1.0, 2.0, 0.5, 3.0]
    body = {"retriever": {"linear": {"retrievers": [
        {"retriever": {"standard": {"query": {
            "match": {"content": "public static"}}}},
         "weight": 2.0, "normalizer": "l2_norm"},
        {"retriever": {"knn": {"query_vector": qv, "k": 20}},
         "weight": 1.0, "normalizer": "minmax"},
    ], "rank_window_size": 20}}, "size": 10}
    via = dsl.search(spark, idx, body, knn_source=emb)
    x4 = lambda df, i, s: df.select(  # noqa: E731
        F.col(i).alias("doc_id"),
        F.floor(F.col(s) * 10000.0 + F.lit(0.5)).cast("long")
         .alias("score_x1e4"))
    rankings = {
        "r0": x4(query.topk(spark, idx, "public static", k=20), "doc_id",
                 "score"),
        "r1": x4(cosine_topk(emb, qv, k=20), "vec_id", "cos")}
    mixed = linear_fuse(rankings, {"r0": 2.0, "r1": 1.0}, k=10,
                        normalizer={"r0": "l2_norm", "r1": "minmax"},
                        window=20)
    assert [tuple(r) for r in via.collect()] == \
        [tuple(r) for r in mixed.collect()]
    # and the mixed result genuinely differs from all-minmax (the old
    # silently-ignored behavior), so the assertion above has teeth
    allmm = linear_fuse(rankings, {"r0": 2.0, "r1": 1.0}, k=10,
                        normalizer="minmax", window=20)
    assert [tuple(r) for r in allmm.collect()] != \
        [tuple(r) for r in mixed.collect()]


def test_single_metric_agg_routing(spark, idx):
    from elasticsearch_osmosis_plugin_spark.operators import intersect

    st = intersect.stats_agg(spark, idx, "public", "dl").collect()[0]
    want = {"avg": st["avg_v"], "min": st["min_v"], "max": st["max_v"],
            "sum": st["sum_v"], "value_count": st["n"]}
    for kind, w in want.items():
        got = dsl.search_aggs(spark, idx, {
            "query": {"match": {"content": "public"}},
            "aggs": {"m": {kind: {"field": "dl"}}}})["m"].collect()
        assert got[0]["value"] == w, kind


def test_pit_in_search_body(spark, idx, tmp_path):
    """ES PIT search: body {"pit": {"id": ...}} searches the frozen
    view (index_path ignored), stable across live deletes. Runs on a
    clone so the shared fixture is never mutated."""
    from elasticsearch_osmosis_plugin_spark.plans import catalog as cat
    from elasticsearch_osmosis_plugin_spark.plans.build import delete_docs

    live = str(tmp_path / "pit_live")
    cat.clone_index(idx, live)
    idx = live
    body = {"query": {"match": {"content": "public static"}}, "size": 5}
    pit = cat.open_pit(idx)
    try:
        before = dsl.search(spark, None, dict(body, pit={"id": pit})).collect()
        assert before == dsl.search(spark, idx, body).collect()
        delete_docs(spark, idx, [before[0]["doc_id"]])
        after_live = dsl.search(spark, idx, body).collect()
        assert after_live[0]["doc_id"] != before[0]["doc_id"]
        assert dsl.search(spark, None,
                          dict(body, pit={"id": pit})).collect() == before
        with pytest.raises(ValueError, match="unknown pit"):
            dsl.search(spark, None, dict(body, pit={"id": "/tmp/nope"}))
    finally:
        cat.close_pit(pit)


def test_text_similarity_reranker_retriever(spark, idx):
    """retriever.text_similarity_reranker: child window reranked by
    the builtin lexical endpoint == hand-computed coverage over the
    stored token streams; scores outrank the child's BM25 order."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py,
    )
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    body = {"retriever": {"text_similarity_reranker": {
        "retriever": {"standard": {"query": {
            "match": {"content": "public static"}}}},
        "rank_window_size": 20,
        "inference_text": "public static void",
    }}, "size": 5}
    got = dsl.search(spark, idx, body)
    # twin: child window ids -> coverage over docstats tokens
    child = query.topk(spark, idx, "public static", k=20)
    ids = [r["doc_id"] for r in child.collect()]
    terms = sorted(set(tokenize_py("public static void", "simple")))
    toks = {r["doc_id"]: set(r["tokens"]) for r in
            catalog.read_table(spark, idx, "docstats")
            .filter(F.col("doc_id").isin(ids))
            .select("doc_id", "tokens").collect()}
    want = sorted(((len(toks[i] & set(terms)) / len(terms), i)
                   for i in ids), key=lambda t: (-t[0], t[1]))[:5]
    assert [(r["doc_id"], r["score"]) for r in got.collect()] == \
        [(i, s) for s, i in want]
    # bare standard retriever at the top level is also legal
    bare = dsl.search(spark, idx, {"retriever": {"standard": {
        "query": {"match": {"content": "public static"}}}}, "size": 5})
    assert _rows(bare) == _rows(query.topk(spark, idx, "public static",
                                           k=5))
