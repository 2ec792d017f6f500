"""End-to-end: SPIMI build -> persisted index -> top-k BM25
rank-identical to the M1 pure-DataFrame path AND the Python oracle
(SURVEY.md §7 M4 gate); resumability; row invariants."""

import os

import pytest

from elasticsearch_osmosis_plugin_spark.config import EngineConfig
from elasticsearch_osmosis_plugin_spark.operators.bm25 import bm25_oracle
from elasticsearch_osmosis_plugin_spark.operators.intersect import (
    match_all_terms,
    match_any_terms,
)
from elasticsearch_osmosis_plugin_spark.operators.query import match_count, topk
from elasticsearch_osmosis_plugin_spark.plans.build import build_index, load_meta

CFG = EngineConfig(n_segments=8, n_buckets=4, block_size=16)

QUERIES = [
    "id0001",
    "id0042 id0007",
    "public static void",
    "getIndexBuffer",
    "id1999 import",
]


@pytest.fixture(scope="module")
def index_path(spark, corpus_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx") / "index")
    build_index(spark, corpus_df, path, CFG, id_col="doc_id", n_groups=2)
    return path


def _oracle_ids(corpus_rows, query, k):
    rows = list(zip(corpus_rows["doc_id"], corpus_rows["content"]))
    return bm25_oracle(rows, query, k=k)


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("strategy", ["scoreall", "maxscore"])
def test_index_topk_rank_identical(spark, corpus_rows, index_path, query, strategy):
    got = topk(spark, index_path, query, k=10, strategy=strategy).collect()
    want = _oracle_ids(corpus_rows, query, 10)
    assert [r["doc_id"] for r in got] == [d for d, _ in want], (query, strategy)
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) < 1e-9


def test_match_expanded_prefix_and_regex(spark, corpus_rows, index_path):
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        expand_terms,
        match_expanded,
    )

    # prefix: docs containing any id00* identifier
    got = {r["doc_id"] for r in
           match_expanded(spark, index_path, "id00", max_expansions=10000)
           .collect()}
    want = {d for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])
            if any(tok.startswith("id00")
                   for tok in tokenize_py(t, "code"))}
    assert got == want and got
    # expansion cap is deterministic: first N in term order
    full = expand_terms(spark, index_path, "id0", max_expansions=10000)
    assert expand_terms(spark, index_path, "id0", max_expansions=5) == \
        sorted(full)[:5]
    # regex is full-term anchored: 'id000.' must NOT match id0001x-less
    # terms like id00001 (6 chars after anchor mismatch)
    rx = expand_terms(spark, index_path, "id000.", mode="regex",
                      max_expansions=10000)
    assert rx and all(len(t) == 6 and t.startswith("id000") for t in rx)
    # no match -> empty result, not an error
    assert match_expanded(spark, index_path, "zzzz").count() == 0


def test_match_fuzzy(spark, corpus_rows, index_path):
    """ES fuzzy query: dictionary expansion by Levenshtein distance,
    capped closest-first, then constant-score doc union."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        expand_fuzzy,
        match_fuzzy,
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    toks = {d: tokenize_py(t, "code")
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    dictionary = sorted({t for ts in toks.values() for t in ts})
    for q, max_edits in (("pubic", 1), ("statik", 1), ("id0x01", 2)):
        want_terms = sorted(
            ((lev(t, q), t) for t in dictionary if lev(t, q) <= max_edits))
        got_terms = expand_fuzzy(spark, index_path, q, max_edits=max_edits,
                                 max_expansions=10_000)
        assert got_terms == [t for _, t in want_terms], q
        got = [r["doc_id"] for r in
               match_fuzzy(spark, index_path, q, max_edits=max_edits,
                           max_expansions=10_000).collect()]
        keep = set(t for _, t in want_terms)
        want = sorted(d for d, ts in toks.items() if keep & set(ts))
        assert got == want, q
    # deterministic cap: closest-first, then term order
    full = expand_fuzzy(spark, index_path, "id0001", max_edits=2,
                        max_expansions=10_000)
    assert expand_fuzzy(spark, index_path, "id0001", max_edits=2,
                        max_expansions=5) == full[:5]
    # exact term at distance 0 sorts first
    assert full and full[0] == "id0001"
    # no near term -> empty result, not an error
    assert match_fuzzy(spark, index_path, "zzzzzzzzzz", max_edits=1).count() == 0


def test_topk_many_rank_identical(spark, corpus_rows, index_path):
    """Batched serving path: every query's block in the single-job
    result equals its solo scoreall ranking (ids AND scores)."""
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_many

    batch = {f"q{i}": q for i, q in enumerate(QUERIES)}
    got = topk_many(spark, index_path, batch, k=10).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in batch.items():
        solo = [(r["doc_id"], r["score"]) for r in
                topk(spark, index_path, q, k=10, strategy="scoreall").collect()]
        assert [d for d, _ in by_q.get(qid, [])] == [d for d, _ in solo], qid
        for (_, a), (_, b) in zip(by_q.get(qid, []), solo):
            assert abs(a - b) < 1e-9
    # no-term batch + empty batch degrade cleanly
    assert topk_many(spark, index_path, {"z": "zzzznotaterm"}, k=5).count() == 0
    assert topk_many(spark, index_path, {}, k=5).count() == 0


def test_match_count(spark, corpus_rows, index_path):
    got = match_count(spark, index_path, "public")
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    want = sum(1 for t in corpus_rows["content"] if "public" in tokenize_py(t, "code"))
    assert got == want


def test_index_stats_ties_dictionary_to_corpus(spark, corpus_rows, index_path):
    """ES _stats analog: every dictionary-derived number must equal the
    same statistic recomputed from the raw corpus by the Python twin —
    n_terms/cf/df drift anywhere in tokenize -> SPIMI -> dictionary
    breaks this."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.plans.build import index_stats

    row = index_stats(spark, index_path).collect()[0]
    toks = [tokenize_py(t, "code") for t in corpus_rows["content"]]
    total = sum(len(ts) for ts in toks)
    assert row["n_docs"] == len(corpus_rows)
    assert row["n_terms"] == len({t for ts in toks for t in ts})
    assert row["total_tokens"] == total
    assert row["sum_df"] == sum(len(set(ts)) for ts in toks)
    assert row["avgdl_x1e4"] == int(total / len(corpus_rows) * 10000.0 + 0.5)
    assert row["tombstones"] == 0
    assert row["n_blocks"] >= row["n_terms"]  # >=1 block per term


def test_terms_agg_sharded_error_bounds(spark, corpus_rows, index_path):
    """ES scatter-gather terms agg: reported doc_count <= true count <=
    doc_count + doc_count_error_upper_bound (the ES accuracy contract),
    sum_other_doc_count ties to total hits, and exhausted shards
    (shard_size >= shard cardinality) collapse to the exact agg with
    zero error."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        facet_counts,
        terms_agg_sharded,
    )

    exact = {r["lang"]: r["n_docs"] for r in
             facet_counts(spark, index_path, "id0000", "lang").collect()}
    total_hits = sum(exact.values())
    approx = terms_agg_sharded(spark, index_path, "id0000", "lang",
                               size=3, shard_size=2, n_shards=4).collect()
    assert approx and len(exact) > 3  # non-degenerate: truncation real
    assert any(r["doc_count_error_upper_bound"] > 0 for r in approx)
    for r in approx:
        assert (r["doc_count"] <= exact[r["lang"]]
                <= r["doc_count"] + r["doc_count_error_upper_bound"]), r
        assert r["sum_other_doc_count"] == \
            total_hits - sum(x["doc_count"] for x in approx)
    ex = terms_agg_sharded(spark, index_path, "id0000", "lang",
                           size=50, shard_size=50, n_shards=4).collect()
    assert {r["lang"]: r["doc_count"] for r in ex} == exact
    assert all(r["doc_count_error_upper_bound"] == 0 for r in ex)
    assert all(r["sum_other_doc_count"] == 0 for r in ex)


def test_boolean_and_or(spark, corpus_rows, index_path):
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py

    toksets = {d: set(tokenize_py(t, "code"))
               for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    got_and = [r["doc_id"] for r in
               match_all_terms(spark, index_path, "public static").collect()]
    want_and = sorted(d for d, s in toksets.items() if {"public", "static"} <= s)
    assert got_and == want_and
    got_or = [r["doc_id"] for r in
              match_any_terms(spark, index_path, "public static").collect()]
    want_or = sorted(d for d, s in toksets.items() if {"public", "static"} & s)
    assert got_or == want_or


def test_match_phrase(spark, corpus_rows, index_path):
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import match_phrase

    def has_phrase(toks, phrase):
        n = len(phrase)
        return any(toks[i:i + n] == phrase
                   for i in range(len(toks) - n + 1))

    for phrase in ("public static", "static public", "get index buffer"):
        want_terms = tokenize_py(phrase, "code")
        want = sorted(
            d for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])
            if has_phrase(tokenize_py(t, "code"), want_terms))
        got = [r["doc_id"] for r in
               match_phrase(spark, index_path, phrase).collect()]
        assert got == want, phrase
    # AND-candidates that fail adjacency must be excluded: ensure the
    # phrase set is a strict subset of the boolean AND for some phrase
    and_docs = {r["doc_id"] for r in
                match_all_terms(spark, index_path, "static public").collect()}
    ph_docs = {r["doc_id"] for r in
               match_phrase(spark, index_path, "static public").collect()}
    assert ph_docs <= and_docs


def _py_sloppy_cost(toks, terms):
    """Python twin of the sloppy-phrase displacement cost: min over
    anchors a (each occurrence's own alignment) of sum over slots of
    the nearest occurrence's |p - (a + slot)|."""
    occ = [[p for p, t in enumerate(toks) if t == term] for term in terms]
    if any(not o for o in occ):
        return None
    anchors = {p - i for i, o in enumerate(occ) for p in o}
    return min(sum(min(abs(p - (a + i)) for p in o)
                   for i, o in enumerate(occ)) for a in anchors)


def test_match_phrase_slop(spark, corpus_rows, index_path, tmp_path):
    """ES sloppy phrase (SloppyPhraseMatcher cost): one intervening
    token costs 1, an adjacent transposition costs 2 — so "query
    join"~1 does NOT match "join query" but ~2 does. Verified on ES's
    documented examples and value-for-value (doc set + slop_cost)
    against the Python displacement twin over the full corpus."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import match_phrase

    tiny = spark.createDataFrame(
        [(0, "query join"), (1, "query fast join"), (2, "join query"),
         (3, "query alpha beta join"), (4, "join the query")],
        "doc_id long, content string")
    tp = str(tmp_path / "slop_idx")
    build_index(spark, tiny, tp, CFG, id_col="doc_id", n_groups=1)
    got = {r["doc_id"]: r["slop_cost"] for r in
           match_phrase(spark, tp, "query join", slop=10).collect()}
    # contiguous 0; one gap 1; transposition 2; two gaps 2; "join the
    # query" = transposition + gap = 3
    assert got == {0: 0, 1: 1, 2: 2, 3: 2, 4: 3}
    assert {r["doc_id"] for r in
            match_phrase(spark, tp, "query join", slop=1).collect()} == {0, 1}
    # slop=0 keeps the exact contiguous path and schema
    ex = match_phrase(spark, tp, "query join").collect()
    assert [r["doc_id"] for r in ex] == [0] and ex[0].asDict() == {"doc_id": 0}

    # full-corpus sweep vs the Python twin
    for phrase, slop in (("static public", 2), ("get index buffer", 3)):
        terms = tokenize_py(phrase, "code")
        want = {}
        for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"]):
            c = _py_sloppy_cost(tokenize_py(t, "code"), terms)
            if c is not None and c <= slop:
                want[d] = c
        got = {r["doc_id"]: r["slop_cost"] for r in
               match_phrase(spark, index_path, phrase, slop=slop).collect()}
        assert got == want, phrase


def test_match_bool(spark, corpus_rows, index_path):
    """ES bool query: must AND, should with minimum_should_match,
    must_not exclusion — pure set algebra vs the python token sets."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        match_bool,
        match_min_should,
    )

    toks = {d: set(tokenize_py(t, "code"))
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    # minimum_should_match thresholds: >=2 of 3 optional terms
    should = ["id0001", "id0002", "id0003"]
    got = [r["doc_id"] for r in
           match_min_should(spark, index_path, " ".join(should), 2).collect()]
    want = sorted(d for d, s in toks.items()
                  if len(s & set(should)) >= 2)
    assert got == want
    # full bool: must + should(msm=1) + must_not (Zipf-head should
    # terms + a hot must_not so every clause provably bites)
    got = [r["doc_id"] for r in
           match_bool(spark, index_path, must="public",
                      should="id0000 id0001", must_not="static",
                      minimum_should_match=1).collect()]
    want = sorted(d for d, s in toks.items()
                  if "public" in s and s & {"id0000", "id0001"}
                  and "static" not in s)
    assert got == want and got
    # pure-should bool defaults msm to 1 (ES semantics)
    got = {r["doc_id"] for r in
           match_bool(spark, index_path, should="id0001 id0002").collect()}
    want = {d for d, s in toks.items() if s & {"id0001", "id0002"}}
    assert got == want
    # must_not of a non-indexed term excludes nothing
    base = {r["doc_id"] for r in
            match_bool(spark, index_path, must="public").collect()}
    got = {r["doc_id"] for r in
           match_bool(spark, index_path, must="public",
                      must_not="zzzznotaterm").collect()}
    assert got == base
    with pytest.raises(ValueError, match="must or should"):
        match_bool(spark, index_path)


@pytest.mark.parametrize("query", [
    "id0001",
    "id0042 id0007",
    "public static void",
    "id1999 import",          # id1999 absent from every doc: its
])                            # clause still norms the query (Lucene)
def test_topk_classic_rank_identical(spark, corpus_rows, index_path, query):
    """ClassicSimilarity (ES 0.90 default TF-IDF) matches the
    single-process Python oracle rank- AND score-identically,
    including coord/queryNorm with absent-term clauses."""
    from elasticsearch_osmosis_plugin_spark.operators.bm25 import classic_oracle
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_classic

    got = topk_classic(spark, index_path, query, k=10).collect()
    rows = list(zip(corpus_rows["doc_id"], corpus_rows["content"]))
    want = classic_oracle(rows, query, k=10)
    assert [r["doc_id"] for r in got] == [d for d, _ in want], query
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) < 1e-9


def test_suggest_phrase_stupid_backoff(spark, corpus_rows, index_path):
    """Phrase suggester: distributed candidate generation + positional
    bigram counts reproduce a direct single-process StupidBackoff
    rerank over the token streams, phrase- and score-identically."""
    import itertools
    import math

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        suggest_phrase,
    )

    text, max_edits, per_slot, size = "pubic statik", 1, 5, 5
    got = suggest_phrase(spark, index_path, text, max_edits=max_edits,
                         per_slot=per_slot, size=size).collect()

    # single-process oracle
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    streams = [tokenize_py(c, "code") for c in corpus_rows["content"]]
    cf: dict[str, int] = {}
    df: dict[str, int] = {}
    big: dict[tuple[str, str], int] = {}
    for s in streams:
        for t in s:
            cf[t] = cf.get(t, 0) + 1
        for t in set(s):
            df[t] = df.get(t, 0) + 1
        for a, b in zip(s, s[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    total = sum(cf.values())
    slots = tokenize_py(text, "code")
    by_slot = []
    for tok in slots:
        cands = [(lev(t, tok), -df[t], t) for t in cf
                 if abs(len(t) - len(tok)) <= max_edits
                 and lev(t, tok) <= max_edits]
        cands.sort()
        by_slot.append([t for _, _, t in cands[:per_slot]])
    want = []
    for combo in itertools.product(*by_slot):
        sc = math.log(cf[combo[0]] / total)
        for p, c in zip(combo, combo[1:]):
            bc = big.get((p, c), 0)
            sc += (math.log(bc / cf[p]) if bc > 0
                   else math.log(0.4 * cf[c] / total))
        want.append((" ".join(combo), sc))
    want.sort(key=lambda x: (-x[1], x[0]))
    want = want[:size]
    assert [(r["phrase"]) for r in got] == [p for p, _ in want]
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) < 1e-9
    # the corrected phrase ranks first
    assert got[0]["phrase"] == "public static"
    # absent slot candidate set -> no suggestions
    assert suggest_phrase(spark, index_path, "zzqqzz public",
                          max_edits=1).count() == 0


def test_terms_set_per_doc_threshold(spark, corpus_rows, index_path):
    """terms_set: per-doc minimum_should_match threshold over the
    doc-store dl column — matches a python recompute exactly."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import terms_set
    from pyspark.sql import functions as F

    q = "public static import id0001"
    got = {r["doc_id"]: r["n_matched"] for r in
           terms_set(spark, index_path, q,
                     (F.col("dl") % 3 + 1)).collect()}
    terms = set(tokenize_py(q, "code"))
    want = {}
    for d, content in zip(corpus_rows["doc_id"], corpus_rows["content"]):
        toks = tokenize_py(content, "code")
        n = len(terms & set(toks))
        if n and n >= (len(toks) % 3 + 1):
            want[d] = n
    assert got == want
    # unmatchable threshold -> empty
    assert terms_set(spark, index_path, q, F.lit(99)).count() == 0


def test_distance_feature_additive_boost(spark, corpus_rows, index_path):
    """distance_feature adds weight*pivot/(pivot+|dl-origin|) to the
    BM25 score (boost_mode=sum) without touching relevance."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.query import topk
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        distance_feature,
        function_score_topk,
    )

    base = {r["doc_id"]: r["score"] for r in
            topk(spark, index_path, "public static", k=80).collect()}
    dl = {d: len(tokenize_py(c, "code"))
          for d, c in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    got = function_score_topk(
        spark, index_path, "public static", k=10,
        functions=[distance_feature("dl", 100.0, 20.0, weight=2.0)],
        boost_mode="sum").collect()
    assert len(got) == 10
    for r in got:
        boost = 2.0 * 20.0 / (20.0 + abs(dl[r["doc_id"]] - 100.0))
        assert abs(r["score"] - (base[r["doc_id"]] + boost)) < 1e-9


@pytest.mark.parametrize("similarity,query", [
    ("lm_dirichlet", "id0001"),
    ("lm_dirichlet", "public static void"),
    ("lm_dirichlet", "id0042 id0007"),
    ("lm_jelinek_mercer", "id0001"),
    ("lm_jelinek_mercer", "public static void"),
])
def test_topk_lm_rank_identical(spark, corpus_rows, index_path,
                                similarity, query):
    """Lucene LM similarities (Dirichlet mu=2000, Jelinek-Mercer
    lambda=0.1) match the single-process Python oracle rank- AND
    score-identically, including the per-clause 0-clamp and the
    zero-evidence drop."""
    from elasticsearch_osmosis_plugin_spark.operators.bm25 import lm_oracle
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_lm

    got = topk_lm(spark, index_path, query, k=10,
                  similarity=similarity).collect()
    rows = list(zip(corpus_rows["doc_id"], corpus_rows["content"]))
    want = lm_oracle(rows, query, k=10, similarity=similarity)
    assert [r["doc_id"] for r in got] == [d for d, _ in want], (similarity, query)
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) < 1e-9


def test_topk_lm_post_filter_and_validation(spark, corpus_rows, index_path):
    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.operators.query import topk_lm

    unfiltered = {r["doc_id"]: r["score"] for r in
                  topk_lm(spark, index_path, "public static", k=80).collect()}
    filtered = topk_lm(spark, index_path, "public static", k=10,
                       post_filter=F.col("doc_id") % 2 == 0).collect()
    assert filtered and all(r["doc_id"] % 2 == 0 for r in filtered)
    for r in filtered:  # scores untouched by the filter (B6 semantics)
        assert abs(r["score"] - unfiltered[r["doc_id"]]) < 1e-12
    with pytest.raises(ValueError, match="unknown LM similarity"):
        topk_lm(spark, index_path, "public", similarity="bm25f")


def test_topk_classic_post_filter_keeps_scores(spark, corpus_rows, index_path):
    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.operators.query import topk_classic

    unfiltered = {r["doc_id"]: r["score"] for r in
                  topk_classic(spark, index_path, "public static", k=80).collect()}
    filtered = topk_classic(spark, index_path, "public static", k=10,
                            post_filter=F.col("doc_id") % 2 == 0).collect()
    assert filtered and all(r["doc_id"] % 2 == 0 for r in filtered)
    for r in filtered:  # scores untouched by the filter (B6 semantics)
        assert abs(r["score"] - unfiltered[r["doc_id"]]) < 1e-12


def test_topk_boosts(spark, corpus_rows, index_path):
    """Query-time term boosts scale that term's partial linearly and
    stay exact under every pruning strategy."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.query import idf as idf_fn
    from elasticsearch_osmosis_plugin_spark.operators.query import topk

    query, boosts = "public id0042", {"id0042": 3.0}
    rows = list(zip(corpus_rows["doc_id"], corpus_rows["content"]))
    # python oracle with boosted idf
    toks = {d: tokenize_py(t, "code") for d, t in rows}
    n, k1, b = len(rows), 1.2, 0.75
    avgdl = sum(len(t) for t in toks.values()) / n
    want = []
    for d, ts in toks.items():
        s = 0.0
        for term in ("id0042", "public"):
            tf = ts.count(term)
            if not tf:
                continue
            df = sum(1 for x in toks.values() if term in x)
            s += boosts.get(term, 1.0) * idf_fn(n, df) * tf * (k1 + 1) \
                / (tf + k1 * (1 - b + b * len(ts) / avgdl))
        if s:
            want.append((-s, d))
    want = [(d, -ns) for ns, d in sorted(want)[:10]]
    for strategy in ("scoreall", "maxscore"):
        got = topk(spark, index_path, query, k=10, strategy=strategy,
                   boosts=boosts).collect()
        assert [r["doc_id"] for r in got] == [d for d, _ in want], strategy
        for r, (_, s) in zip(got, want):
            assert abs(r["score"] - s) < 1e-9


def test_topk_after_pages_tile_ranking(spark, corpus_rows, index_path):
    """search_after: successive pages concatenate to exactly the
    one-shot deep ranking, no overlap, no gap."""
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_after

    query = "public static"
    deep = _oracle_ids(corpus_rows, query, 15)
    pages, after = [], None
    for _ in range(3):
        page = topk_after(spark, index_path, query, k=5, after=after).collect()
        pages.extend((r["doc_id"], r["score"]) for r in page)
        after = (page[-1]["score"], page[-1]["doc_id"])
    assert [d for d, _ in pages] == [d for d, _ in deep]
    for (_, a), (_, b) in zip(pages, deep):
        assert abs(a - b) < 1e-9


def test_rescore_topk(spark, corpus_rows, index_path):
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import rescore_topk

    rows = list(zip(corpus_rows["doc_id"], corpus_rows["content"]))
    window = bm25_oracle(rows, "public static", k=20)
    sec = dict(bm25_oracle(rows, "id0042 id0007", k=10**9))
    comb = sorted(((d, 1.0 * p + 0.5 * sec.get(d, 0.0)) for d, p in window),
                  key=lambda x: (-x[1], x[0]))[:10]
    got = rescore_topk(spark, index_path, "public static", "id0042 id0007",
                       k=10, window_size=20, rescore_query_weight=0.5).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in comb]
    for r, (_, s) in zip(got, comb):
        assert abs(r["score"] - s) < 1e-9
    # rescore query with no dictionary term: pure primary re-rank
    got2 = rescore_topk(spark, index_path, "public static", "zzz_nonterm",
                        k=5, window_size=20).collect()
    assert [r["doc_id"] for r in got2] == \
        [d for d, _ in bm25_oracle(rows, "public static", k=5)]


def test_top_hits(spark, corpus_rows, index_path):
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import top_hits

    rows = list(zip(corpus_rows["doc_id"], corpus_rows["content"]))
    ranked = bm25_oracle(rows, "buffer hash", k=10**9)
    lang = dict(zip(corpus_rows["doc_id"], corpus_rows["lang"]))
    per: dict = {}
    for d, s in ranked:  # already (-score, doc_id) sorted
        per.setdefault(lang[d], []).append((d, s))
    want = {(b, i): ds for b, lst in per.items()
            for i, ds in enumerate(lst[:3], 1)}
    got = top_hits(spark, index_path, "buffer hash", "lang",
                   n_hits=3).collect()
    got_map = {(r["lang"], r["rank"]): (r["doc_id"], r["score"]) for r in got}
    assert set(got_map) == set(want) and len(want) > 3
    for key, (d, s) in want.items():
        assert got_map[key][0] == d
        assert abs(got_map[key][1] - s) < 1e-9


def test_english_analyzer_index_rank_identical(spark, corpus_rows, tmp_path):
    """Build + query through the english chain (stop set + S-stemmer):
    index-side tokenization, dl/avgdl, and query-side stemming all go
    through analyzer='english'; ranking must match the Python oracle."""
    from elasticsearch_osmosis_plugin_spark.corpus import generate_corpus_df

    path = str(tmp_path / "enidx")
    docs = generate_corpus_df(spark, seed=7, n=60)
    build_index(spark, docs, path,
                EngineConfig(analyzer="english", n_segments=4, n_buckets=4),
                n_groups=1)
    from elasticsearch_osmosis_plugin_spark.plans.build import add_doc_ids

    rows = [(r["doc_id"], r["content"]) for r in
            add_doc_ids(docs, ("repo", "path", "commit"))
            .select("doc_id", "content").collect()]
    for q in ("buffers indexes", "classes public"):
        got = topk(spark, path, q, k=10).collect()
        from elasticsearch_osmosis_plugin_spark.operators.bm25 import bm25_oracle
        want = bm25_oracle(rows, q, k=10, analyzer="english")
        assert [r["doc_id"] for r in got] == [d for d, _ in want], q
        for r, (_, s) in zip(got, want):
            assert abs(r["score"] - s) < 1e-9

    # the same index's 60-bit sha-derived doc_ids: a BIGINT stats sum is
    # a double, as in ES (a long sum raised ARITHMETIC_OVERFLOW)
    from elasticsearch_osmosis_plugin_spark.operators import dsl
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        global_stats_agg,
    )

    ids = [d for d, _ in rows]
    assert sum(ids) > 2 ** 63
    via_dsl = dsl.search_aggs(spark, path, {"aggs": {"s": {
        "stats": {"field": "doc_id"}}}})["s"]  # stats_agg over match_all
    for df in (global_stats_agg(spark, path, "doc_id"), via_dsl):
        r = df.collect()[0]
        assert (r["n"], r["min_v"], r["max_v"]) == \
            (len(ids), min(ids), max(ids))
        assert abs(r["sum_v"] / sum(ids) - 1) < 1e-12


def test_date_histogram_agg(spark, tmp_path):
    """date_histogram over query hits: calendar-month buckets of a
    timestamp carry column, only matching docs counted."""
    import datetime as dt

    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        date_histogram,
        date_histogram_agg,
    )

    rows = [(i, ("apple pie" if i % 3 == 0 else "banana split"),
             dt.datetime(2024, 1 + i % 4, 1 + i, 12, 0, 0))
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    path = str(tmp_path / "dhidx")
    build_index(spark, df, path,
                EngineConfig(analyzer="simple", n_segments=2, n_buckets=2),
                id_col="doc_id", text_col="text", carry_cols=["ts"],
                n_groups=1)
    got = {r["bucket"].month: r["n_docs"] for r in
           date_histogram_agg(spark, path, "apple", "ts", "month").collect()}
    want: dict = {}
    for i, text, ts in rows:
        if "apple" in text:
            want[ts.month] = want.get(ts.month, 0) + 1
    assert got == want and len(want) > 1
    # plain-DataFrame core counts everything
    total = date_histogram(df, "ts", "month").agg(
        {"n_docs": "sum"}).collect()[0][0]
    assert total == len(rows)
    with pytest.raises(ValueError):
        date_histogram(df, "ts", "fortnight")


def test_term_vectors(spark, corpus_rows, index_path):
    """_termvectors analog: tf + positions from the stored vector,
    df/cf from the dictionary — all vs direct tokenization."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import term_vectors

    d = int(corpus_rows["doc_id"].iloc[3])
    all_toks = {r: tokenize_py(t, "code") for r, t in
                zip(corpus_rows["doc_id"], corpus_rows["content"])}
    toks = all_toks[d]
    got = term_vectors(spark, index_path, d).collect()
    assert [r["term"] for r in got] == sorted(set(toks))
    for r in got:
        want_pos = [i for i, t in enumerate(toks) if t == r["term"]]
        assert (r["tf"], list(r["positions"])) == (len(want_pos), want_pos)
        assert r["df"] == sum(1 for ts in all_toks.values()
                              if r["term"] in ts)
        assert r["cf"] == sum(ts.count(r["term"])
                              for ts in all_toks.values())
    with pytest.raises(KeyError):
        term_vectors(spark, index_path, -12345)


def test_collapse_topk(spark, corpus_rows, index_path):
    """Field collapsing: best hit per lang, ordered by that hit's
    score — one row per group, group set == langs with any hit."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import collapse_topk

    rows = list(zip(corpus_rows["doc_id"], corpus_rows["content"]))
    ranked = bm25_oracle(rows, "buffer hash", k=10**9)
    lang = dict(zip(corpus_rows["doc_id"], corpus_rows["lang"]))
    best: dict = {}
    for d, s in ranked:  # ranking order: first seen per lang is its best
        best.setdefault(lang[d], (d, s))
    want = sorted(((d, s, b) for b, (d, s) in best.items()),
                  key=lambda x: (-x[1], x[0]))
    got = collapse_topk(spark, index_path, "buffer hash", "lang",
                        k=len(want)).collect()
    assert len(got) == len(want) > 1
    for r, (d, s, b) in zip(got, want):
        assert (r["doc_id"], r["lang"]) == (d, b)
        assert abs(r["score"] - s) < 1e-9


def _span_oracle(toks, terms, slop, in_order):
    import itertools

    poss = [[i for i, x in enumerate(toks) if x == t] for t in terms]
    if any(not p for p in poss):
        return False
    for combo in itertools.product(*poss):
        if in_order:
            if all(combo[i] < combo[i + 1] for i in range(len(combo) - 1)) \
                    and combo[-1] - combo[0] - (len(combo) - 1) <= slop:
                return True
        elif len(set(combo)) == len(combo) \
                and max(combo) - min(combo) - (len(combo) - 1) <= slop:
            return True
    return False


def test_span_near(spark, corpus_rows, index_path):
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        match_phrase,
        span_near,
    )

    toks = {d: tokenize_py(t, "code")
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    # slop=0 in order == match_phrase (contiguity)
    got0 = {r["doc_id"] for r in
            span_near(spark, index_path, "public static", slop=0).collect()}
    assert got0 == {r["doc_id"] for r in
                    match_phrase(spark, index_path, "public static").collect()}
    cases = [("public static", 2, True), ("buffer hash", 5, False),
             ("public static void", 3, True), ("byte buffer", 4, False)]
    for phrase, slop, in_order in cases:
        terms = phrase.split()
        got = {r["doc_id"] for r in
               span_near(spark, index_path, phrase, slop=slop,
                         in_order=in_order).collect()}
        want = {d for d, ts in toks.items()
                if _span_oracle(ts, terms, slop, in_order)}
        assert got == want, (phrase, slop, in_order)
    assert {r["doc_id"] for r in
            span_near(spark, index_path, "public static",
                      slop=2, in_order=True).collect()} >= got0
    with pytest.raises(ValueError):
        span_near(spark, index_path, "dup dup", slop=3, in_order=False)


def test_match_phrase_prefix(spark, corpus_rows, index_path):
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        match_phrase_prefix,
    )

    toks = {d: tokenize_py(t, "code")
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    got = {r["doc_id"] for r in
           match_phrase_prefix(spark, index_path, "public sta",
                               max_expansions=1000).collect()}
    want = {d for d, ts in toks.items()
            if any(a == "public" and b.startswith("sta")
                   for a, b in zip(ts, ts[1:]))}
    assert got == want and got
    # bare prefix (no fixed terms) degenerates to the prefix query
    got1 = {r["doc_id"] for r in
            match_phrase_prefix(spark, index_path, "sta",
                                max_expansions=1000).collect()}
    want1 = {d for d, ts in toks.items()
             if any(t.startswith("sta") for t in ts)}
    assert got1 == want1
    # unmatched prefix -> empty, not an error
    assert match_phrase_prefix(spark, index_path, "public zzzz").count() == 0


def test_percentiles_agg(spark, corpus_rows, index_path):
    import numpy as np

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        percentiles_agg,
    )

    toks = {d: tokenize_py(t, "code")
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    dls = sorted(len(ts) for ts in toks.values() if "public" in ts)
    got = {r["pct"]: r["value"] for r in
           percentiles_agg(spark, index_path, "public", "dl").collect()}
    for p in (0.25, 0.5, 0.75, 0.95):
        assert abs(got[p] - np.quantile(np.array(dls, float), p)) < 1e-9
    ap = {r["pct"]: r["value"] for r in
          percentiles_agg(spark, index_path, "public", "dl",
                          exact=False).collect()}
    assert set(ap) == {0.25, 0.5, 0.75, 0.95}
    assert all(v in dls for v in ap.values())


def test_stats_and_histogram_agg(spark, corpus_rows, index_path):
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        histogram_agg,
        stats_agg,
    )

    toks = {d: tokenize_py(t, "code")
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    hits = {d for d, ts in toks.items() if "public" in ts}
    dls = [len(toks[d]) for d in hits]
    row = stats_agg(spark, index_path, "public", "dl").collect()[0]
    assert (row["n"], row["min_v"], row["max_v"], row["sum_v"]) == \
        (len(dls), min(dls), max(dls), sum(dls))
    assert abs(row["avg_v"] - sum(dls) / len(dls)) < 1e-12
    got = {r["bucket"]: r["n_docs"] for r in
           histogram_agg(spark, index_path, "public", "dl", 50).collect()}
    want: dict = {}
    for v in dls:
        want[(v // 50) * 50] = want.get((v // 50) * 50, 0) + 1
    assert got == want


def test_highlight(spark, corpus_rows, index_path):
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import highlight

    got = {r["doc_id"]: (r["first_pos"], r["snippet"]) for r in
           highlight(spark, index_path, "id0042 id0007", window=2).collect()}
    want = {}
    for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"]):
        ts = tokenize_py(t, "code")
        pos = [i for i, tok in enumerate(ts) if tok in ("id0042", "id0007")]
        if pos:
            p = min(pos)
            want[d] = (p, " ".join(ts[max(0, p - 2):p + 3]))
    assert got == want and got


def test_more_like_this(spark, corpus_rows, index_path):
    from collections import Counter

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import more_like_this
    from elasticsearch_osmosis_plugin_spark.operators.query import idf as idf_fn

    toks = {d: tokenize_py(t, "code")
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    src = corpus_rows["doc_id"][0]
    n = len(toks)
    tf = Counter(toks[src])
    df = {t: sum(1 for x in toks.values() if t in x) for t in tf}
    ranked = sorted((-tf[t] * idf_fn(n, df[t]), t) for t in tf)
    terms = [t for _, t in ranked[:5]]
    rows = list(zip(corpus_rows["doc_id"], corpus_rows["content"]))
    want = [(d, s) for d, s in
            bm25_oracle(rows, " ".join(terms), k=11) if d != src][:10]
    got = more_like_this(spark, index_path, src, max_query_terms=5,
                         k=10).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) < 1e-9
    assert all(r["doc_id"] != src for r in got)


def test_topk_minimum_should_match(spark, corpus_rows, index_path):
    """msm on the scored match query: ranking = full scoreall ranking
    restricted to docs matching >= m distinct terms."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.query import topk

    query, m = "public static void", 3
    toks = {d: set(tokenize_py(t, "code"))
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    qset = {"public", "static", "void"}
    keep = {d for d, s in toks.items() if len(s & qset) >= m}
    full = _oracle_ids(corpus_rows, query, 10_000)
    want = [(d, s) for d, s in full if d in keep][:10]
    got = topk(spark, index_path, query, k=10,
               minimum_should_match=m).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) < 1e-9
    # the filter must actually bite: docs matched by the plain OR
    # query but holding < m distinct terms exist and are excluded
    or_matched = {d for d, _ in full}
    assert keep < or_matched
    deep = topk(spark, index_path, query, k=10_000,
                minimum_should_match=m).collect()
    assert {r["doc_id"] for r in deep} == keep
    # msm > n_terms -> empty
    assert topk(spark, index_path, query, k=10,
                minimum_should_match=4).count() == 0


def test_significant_terms(spark, corpus_rows, index_path):
    """JLH-scored over-representation vs a python oracle; lang
    stop-terms of the hit docs' language must dominate."""
    from collections import Counter

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        significant_terms,
    )

    toks = {d: set(tokenize_py(t, "code"))
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    query = "public"  # java stop-term -> java-doc hit set
    hits = {d for d, s in toks.items() if query in s}
    n_fg, n_bg = len(hits), len(toks)
    fg = Counter(t for d in hits for t in toks[d])
    bg = Counter(t for s in toks.values() for t in s)
    want = []
    for t, dfg in fg.items():
        if dfg < 3:
            continue
        fr, br = dfg / n_fg, bg[t] / n_bg
        want.append((-(fr - br) * (fr / br), t))
    want = [t for _, t in sorted(want)[:10]]
    got = significant_terms(spark, index_path, query, size=10,
                            min_doc_count=3).collect()
    assert [r["term"] for r in got] == want
    for r in got:
        assert r["df_fg"] == fg[r["term"]] and r["df_bg"] == bg[r["term"]]
    # the query term itself is maximally over-represented
    assert got[0]["term"] == "public"


def test_index_stats(spark, corpus_rows, index_path):
    from collections import Counter

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.plans.merge import index_stats

    st = index_stats(spark, index_path)
    toks = [tokenize_py(t, "code") for t in corpus_rows["content"]]
    all_terms = Counter(t for ts in toks for t in ts)
    assert st["n_docs"] == len(toks) and st["n_deleted"] == 0
    assert st["n_terms"] == len(all_terms)
    assert st["n_tokens"] == sum(all_terms.values())
    assert st["n_postings"] == sum(len(set(ts)) for ts in toks)
    assert st["n_blocks"] > 0 and st["bytes_postings"] > 0
    assert st["positions"] and st["analyzer"] == "code"
    assert abs(st["avgdl"] - sum(len(t) for t in toks) / len(toks)) < 1e-9


def test_meta_and_row_invariant(spark, corpus_df, index_path):
    import hashlib

    from elasticsearch_osmosis_plugin_spark.plans import catalog

    meta = load_meta(index_path)
    assert meta["n_docs"] == corpus_df.count()
    ds = catalog.read_table(spark, index_path, "docstats")
    # content sha256 row-invariant vs the source table (input_hint)
    src = {r["doc_id"]: hashlib.sha256(r["content"].encode()).hexdigest()
           for r in corpus_df.collect()}
    for r in ds.select("doc_id", "content_sha").collect():
        assert src[r["doc_id"]] == r["content_sha"]


def test_resume_skips_completed_groups(spark, corpus_df, index_path, tmp_path):
    # delete one postings group; resumed build must restore ONLY it and
    # leave identical results (idempotent segment commits)
    import shutil

    g1 = os.path.join(index_path, "postings", "group=1")
    before = topk(spark, index_path, "id0001", k=5).collect()
    mtime_g0 = os.path.getmtime(os.path.join(index_path, "postings", "group=0"))
    shutil.rmtree(g1)
    build_index(spark, corpus_df, index_path, CFG, id_col="doc_id", n_groups=2)
    assert os.path.exists(g1)
    assert os.path.getmtime(os.path.join(index_path, "postings", "group=0")) == mtime_g0
    after = topk(spark, index_path, "id0001", k=5).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in before] == \
           [(r["doc_id"], round(r["score"], 9)) for r in after]


def test_empty_query_returns_empty(spark, index_path):
    assert topk(spark, index_path, "zzzznotaterm", k=5).count() == 0


def test_searcher_matches_one_shot_topk(spark, corpus_rows, index_path):
    from elasticsearch_osmosis_plugin_spark.operators.query import Searcher

    s = Searcher(spark, index_path)
    try:
        for query in ("id0001", "public static void", "id0042 id0007"):
            got = s.topk(query, k=10).collect()
            want = _oracle_ids(corpus_rows, query, 10)
            assert [r["doc_id"] for r in got] == [d for d, _ in want], query
        assert s.match_count("public") == match_count(spark, index_path, "public")
    finally:
        s.close()


def test_match_phrase_positional_after_drop_term_vectors(
        spark, corpus_df, tmp_path):
    """Phrase match must survive term-vector reclaim: positions are in
    the postings (VERDICT r1 item 3), not the retained token corpus."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import match_phrase
    from elasticsearch_osmosis_plugin_spark.plans.merge import drop_term_vectors

    path = str(tmp_path / "idx_pos")
    build_index(spark, corpus_df, path, CFG, id_col="doc_id", n_groups=2)
    before = [r["doc_id"] for r in
              match_phrase(spark, path, "public static").collect()]
    assert before  # non-trivial fixture
    drop_term_vectors(spark, path)
    after = [r["doc_id"] for r in
             match_phrase(spark, path, "public static").collect()]
    assert after == before


def test_match_phrase_no_positions_requires_term_vectors(spark, corpus_df, tmp_path):
    import dataclasses

    from elasticsearch_osmosis_plugin_spark.operators.intersect import match_phrase
    from elasticsearch_osmosis_plugin_spark.plans.merge import drop_term_vectors

    path = str(tmp_path / "idx_nopos")
    cfg = dataclasses.replace(CFG, store_positions=False)
    build_index(spark, corpus_df, path, cfg, id_col="doc_id", n_groups=2)
    got = {r["doc_id"] for r in
           match_phrase(spark, path, "public static").collect()}
    assert got  # term-vector fallback still verifies adjacency
    drop_term_vectors(spark, path)
    with pytest.raises(ValueError, match="positional postings"):
        match_phrase(spark, path, "public static")


def test_resume_rebuilds_on_analyzer_change(spark, corpus_df, corpus_rows, tmp_path):
    """A resumed build under a different tokenization cfg must NOT
    silently reuse stale docstats/postings (ADVICE r1)."""
    import dataclasses

    path = str(tmp_path / "idx_cfg")
    build_index(spark, corpus_df, path, CFG, id_col="doc_id", n_groups=2)
    simple_cfg = dataclasses.replace(CFG, analyzer="simple")
    meta = build_index(spark, corpus_df, path, simple_cfg,
                       id_col="doc_id", n_groups=2)
    assert meta["analyzer"] == "simple"
    got = topk(spark, path, "public static", k=10).collect()
    rows = list(zip(corpus_rows["doc_id"], corpus_rows["content"]))
    want = bm25_oracle(rows, "public static", k=10, analyzer="simple")
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) < 1e-9


def test_blockmax_multiterm_falls_back(spark, corpus_rows, index_path):
    """strategy='blockmax' with a multi-term query must degrade to
    MaxScore (rank-identical), not raise."""
    got = topk(spark, index_path, "public static void", k=10,
               strategy="blockmax").collect()
    want = _oracle_ids(corpus_rows, "public static void", 10)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]


def test_match_count_multi_term(spark, corpus_rows, index_path):
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py

    got = match_count(spark, index_path, "public import")
    want = sum(1 for t in corpus_rows["content"]
               if {"public", "import"} & set(tokenize_py(t, "code")))
    assert got == want


def test_topk_releases_cache(spark, index_path):
    """MaxScore/blockmax must not leak persisted partials into a
    long-lived session (r1 VERDICT cache-hygiene item)."""
    sc = spark.sparkContext
    base = len([r for r in sc._jsc.sc().getRDDStorageInfo()])
    topk(spark, index_path, "public static void id0001", k=5,
         strategy="maxscore").collect()
    topk(spark, index_path, "id0001", k=5).collect()  # single-term blockmax
    assert len([r for r in sc._jsc.sc().getRDDStorageInfo()]) == base


@pytest.mark.parametrize("strategy", ["scoreall", "maxscore", "blockmax"])
def test_post_filter_semantics(spark, corpus_rows, index_path, strategy):
    """B6 first-class post-filter: scores identical to the unfiltered
    run, the k-limit applies AFTER the filter (so k results survive
    even when unfiltered leaders are filtered out), and every pruning
    strategy stays exact under it."""
    from pyspark.sql import functions as F

    query = "public static void" if strategy != "blockmax" else "id0001"
    langs = dict(zip(corpus_rows["doc_id"], corpus_rows["lang"]))
    # exclude the unfiltered leader's lang so the filter provably bites
    top1 = _oracle_ids(corpus_rows, query, 1)[0][0]
    drop_lang = langs[top1]
    keep = {d for d, lg in langs.items() if lg != drop_lang}
    got = topk(spark, index_path, query, k=10, strategy=strategy,
               post_filter=F.col("lang") != drop_lang).collect()
    # oracle: filter the full python ranking, then take k
    full = _oracle_ids(corpus_rows, query, 10_000)
    want = [(d, s) for d, s in full if d in keep][:10]
    assert [r["doc_id"] for r in got] == [d for d, _ in want], strategy
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) < 1e-9  # scores NOT affected by filter
    # non-degenerate fixture: the filter must actually change the list
    unfiltered = [d for d, _ in _oracle_ids(corpus_rows, query, 10)]
    assert [r["doc_id"] for r in got] != unfiltered


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_suggesters(spark, corpus_rows, index_path):
    """Term suggester (distance, df desc, term) and completion
    suggester (cf desc, term) vs python oracles on the same corpus."""
    from collections import Counter

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        suggest_prefix,
        suggest_terms,
    )

    toks = {d: tokenize_py(t, "code")
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    df_ct = Counter(t for ts in toks.values() for t in set(ts))
    cf_ct = Counter(t for ts in toks.values() for t in ts)

    q = "pubic"
    want = sorted((_lev(t, q), -df_ct[t], t)
                  for t in df_ct if _lev(t, q) <= 2)[:5]
    got = suggest_terms(spark, index_path, q, max_edits=2, size=5).collect()
    assert [(r["distance"], -r["df"], r["term"]) for r in got] == want
    assert want and want[0][0] <= 1  # non-degenerate: a close hit exists

    pre = "id0"
    wantp = sorted((-cf_ct[t], t) for t in cf_ct if t.startswith(pre))[:5]
    gotp = suggest_prefix(spark, index_path, pre, size=5).collect()
    assert [(-r["cf"], r["term"]) for r in gotp] == wantp
    assert len(gotp) == 5  # the id-vocab has plenty of candidates


def test_cardinality_agg(spark, corpus_rows, index_path):
    """Exact cardinality == python distinct count; the HLL path lands
    within a loose band of the exact value."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        cardinality_agg,
    )

    toks = {d: set(tokenize_py(t, "code"))
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    hits = {d for d, ts in toks.items() if {"public", "static"} & ts}
    by_doc = dict(zip(corpus_rows["doc_id"], corpus_rows["repo"]))
    want = len({by_doc[d] for d in hits})
    assert want > 1  # non-degenerate fixture

    exact = cardinality_agg(spark, index_path, "public static",
                            "repo").collect()[0]["cardinality"]
    assert exact == want
    approx = cardinality_agg(spark, index_path, "public static", "repo",
                             exact=False,
                             rsd=0.05).collect()[0]["cardinality"]
    assert abs(approx - exact) <= max(2, 0.2 * exact)


def test_function_score_topk(spark, corpus_rows, index_path):
    """BM25 * field_value_factor(log1p dl) and * gauss decay vs a
    python re-ranking of the full BM25 oracle."""
    import math

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        decay_fn,
        field_value_factor,
        function_score_topk,
    )

    full = dict(_oracle_ids(corpus_rows, "public static", 10_000))
    dl = {d: len(tokenize_py(t, "code"))
          for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}

    want = sorted(((-s * math.log1p(dl[d]), d)
                   for d, s in full.items()))[:10]
    got = function_score_topk(
        spark, index_path, "public static", k=10,
        functions=[field_value_factor("dl", 1.0, "log1p")]).collect()
    assert [r["doc_id"] for r in got] == [d for _, d in want]
    for r, (ns, _) in zip(got, want):
        assert abs(r["score"] - (-ns)) < 1e-9

    origin, scale = 200.0, 100.0
    def gauss(v):
        dist = max(0.0, abs(v - origin))
        return math.exp(math.log(0.5) * (dist / scale) * (dist / scale))
    wantg = sorted(((-s * gauss(dl[d]), d) for d, s in full.items()))[:10]
    gotg = function_score_topk(
        spark, index_path, "public static", k=10,
        functions=[decay_fn("dl", origin, scale, decay=0.5,
                            kind="gauss")]).collect()
    assert [r["doc_id"] for r in gotg] == [d for _, d in wantg]
    # the reshaping must actually bite vs plain BM25 order
    plain = [d for d, _ in _oracle_ids(corpus_rows, "public static", 10)]
    assert [r["doc_id"] for r in gotg] != plain


def test_dis_max_topk(spark, corpus_rows, index_path):
    """dis_max = max + tie_breaker * rest over two subqueries, scores
    vs the python BM25 oracle per subquery."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import dis_max_topk

    q1, q2, tie = "public static", "id0001 id0042", 0.3
    s1 = dict(_oracle_ids(corpus_rows, q1, 10_000))
    s2 = dict(_oracle_ids(corpus_rows, q2, 10_000))
    want = []
    for d in set(s1) | set(s2):
        a, b = s1.get(d, 0.0), s2.get(d, 0.0)
        vals = [v for v in (a, b) if v > 0.0]
        mx, sm = max(vals), sum(vals)
        want.append((-(mx + tie * (sm - mx)), d))
    want = sorted(want)[:10]
    got = dis_max_topk(spark, index_path, [q1, q2], k=10,
                       tie_breaker=tie).collect()
    assert [r["doc_id"] for r in got] == [d for _, d in want]
    for r, (ns, _) in zip(got, want):
        assert abs(r["score"] - (-ns)) < 1e-9
    # overlap sanity: some doc matches both subqueries
    assert set(s1) & set(s2)


def test_multi_match_best_fields(spark, corpus_rows, corpus_df,
                                 index_path, tmp_path):
    """Per-field indexes (content + repo keyword) combined
    best_fields-style; per-field BM25 stats are field-local."""
    from elasticsearch_osmosis_plugin_spark.operators.bm25 import bm25_oracle
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        multi_match_best_fields,
    )

    repo_idx = str(tmp_path / "repo_idx")
    build_index(spark, corpus_df, repo_idx, CFG, id_col="doc_id",
                text_col="repo", n_groups=1)
    repo_val = corpus_rows["repo"][0]
    query, tie = f"public {repo_val}", 0.2

    rows_txt = list(zip(corpus_rows["doc_id"], corpus_rows["content"]))
    rows_rep = list(zip(corpus_rows["doc_id"], corpus_rows["repo"]))
    s_txt = dict(bm25_oracle(rows_txt, query, k=10_000))
    s_rep = dict(bm25_oracle(rows_rep, query, k=10_000))
    want = []
    for d in set(s_txt) | set(s_rep):
        vals = [v for v in (s_txt.get(d, 0.0), s_rep.get(d, 0.0)) if v > 0.0]
        mx, sm = max(vals), sum(vals)
        want.append((-(mx + tie * (sm - mx)), d))
    want = sorted(want)[:10]
    got = multi_match_best_fields(
        spark, {"content": index_path, "repo": repo_idx}, query,
        k=10, tie_breaker=tie).collect()
    assert [r["doc_id"] for r in got] == [d for _, d in want]
    for r, (ns, _) in zip(got, want):
        assert abs(r["score"] - (-ns)) < 1e-9


def test_scan_scroll(spark, index_path):
    """Scan pages tile the full match set exactly once in doc_id
    order; scan_df is the unranked complete set; mode='all' scans the
    conjunction; match_all scan covers every live doc."""
    from elasticsearch_osmosis_plugin_spark.operators import intersect
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        scan_df,
        scan_iter,
    )

    want = sorted(r["doc_id"] for r in
                  intersect.match_any_terms(spark, index_path,
                                            "public static").collect())
    assert want, "fixture terms must match"
    got = []
    for page in scan_iter(spark, index_path, "public static", page_size=7):
        ids = [r["doc_id"] for r in page]
        assert ids == sorted(ids) and len(ids) <= 7
        got.extend(ids)
    assert got == want

    assert sorted(r["doc_id"] for r in
                  scan_df(spark, index_path, "public static").collect()) == want

    inter = sorted(r["doc_id"] for r in
                   intersect.match_all_terms(spark, index_path,
                                             "public static").collect())
    assert sorted(r["doc_id"] for r in
                  scan_df(spark, index_path, "public static",
                          mode="all").collect()) == inter

    from elasticsearch_osmosis_plugin_spark.plans import catalog

    n_all = catalog.read_table(spark, index_path, "docstats").count()
    assert scan_df(spark, index_path).count() == n_all


def test_scan_fetch_hydrates(spark, index_path):
    from elasticsearch_osmosis_plugin_spark.operators.query import scan_after

    page = scan_after(spark, index_path, "public", page_size=5,
                      fetch=["lang"]).collect()
    assert len(page) == 5
    assert all("lang" in r.asDict() for r in page)


def test_bucket_pipeline_and_sibling_stats(spark):
    """Pipeline aggs: derivative/cumsum/moving_avg golden values on a
    hand-built series; sibling bucket stats in one pass."""
    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        bucket_pipeline,
        sibling_bucket_stats,
    )

    b = spark.createDataFrame(
        [(1, 10), (2, 13), (3, 7), (4, 7)], "bucket long, n_docs long")
    got = bucket_pipeline(b, derivative=True, cumulative_sum=True,
                          moving_avg=2).collect()
    assert [(r["bucket"], r["derivative"], r["cumulative_sum"],
             r["moving_avg"]) for r in got] == [
        (1, None, 10.0, 10.0),
        (2, 3.0, 23.0, 11.5),
        (3, -6.0, 30.0, 10.0),
        (4, 0.0, 37.0, 7.0),
    ]
    s = sibling_bucket_stats(b).collect()[0]
    assert (s["avg_bucket"], s["min_bucket"], s["max_bucket"],
            s["sum_bucket"], s["n_buckets"]) == (9.25, 7.0, 13.0, 37.0, 4)


def test_composite_agg_paging(spark):
    """Composite agg: lexicographic after-key paging covers every
    bucket exactly once, pages independent of each other."""
    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        composite_agg,
    )

    df = spark.range(0, 120).select(
        (F.col("id") % 5).cast("string").alias("a"),
        (F.col("id") % 7).alias("b"))
    want = [((r["a"], r["b"]), r["n_docs"]) for r in
            df.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("a", "b").collect()]
    got, after = [], None
    while True:
        page = composite_agg(df, ["a", "b"], size=7, after=after).collect()
        if not page:
            break
        got.extend(((r["a"], r["b"]), r["n_docs"]) for r in page)
        after = (page[-1]["a"], page[-1]["b"])
    assert got == want
    import pytest as _pytest

    with _pytest.raises(ValueError):
        composite_agg(df, ["a", "b"], size=5, after=("0",))


def test_has_child_has_parent(spark):
    """Parent-child semantics on a hand-built pair of tables: score
    modes, min_children, constant-score semi-joins."""
    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.operators.parentchild import (
        has_child,
        has_parent,
    )

    par = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "pid long, tag string")
    ch = spark.createDataFrame(
        [(10, 1, 5.0), (11, 1, 3.0), (12, 2, 9.0), (13, 9, 1.0)],
        "cid long, fk long, v double")

    semi = has_child(par, ch, "pid", "fk").collect()
    assert {r["pid"] for r in semi} == {1, 2}
    two = has_child(par, ch, "pid", "fk", min_children=2).collect()
    assert {r["pid"] for r in two} == {1}
    mx = {r["pid"]: r["score"] for r in has_child(
        par, ch, "pid", "fk", child_score=F.col("v"),
        score_mode="max").collect()}
    assert mx == {1: 5.0, 2: 9.0}
    sm = {r["pid"]: r["score"] for r in has_child(
        par, ch, "pid", "fk", child_filter=F.col("v") > 3.0,
        child_score=F.col("v"), score_mode="sum").collect()}
    assert sm == {1: 5.0, 2: 9.0}
    av = {r["pid"]: r["score"] for r in has_child(
        par, ch, "pid", "fk", child_score=F.col("v"),
        score_mode="avg").collect()}
    assert av == {1: 4.0, 2: 9.0}

    kids = has_parent(par, ch, "pid", "fk",
                      parent_filter=F.col("tag") == "a").collect()
    assert {r["cid"] for r in kids} == {10, 11}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        has_child(par, ch, "pid", "fk", score_mode="sum")


def test_weighted_avg_string_matrix_stats(spark, index_path):
    idx = index_path
    """weighted_avg / string_stats / matrix_stats golden checks
    against driver-side recomputation over the same hit set."""
    import math

    from collections import Counter

    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        match_any_terms,
        matrix_stats_agg,
        string_stats_agg,
        weighted_avg_agg,
    )
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    hits = {r["doc_id"] for r in
            match_any_terms(spark, idx, "public").collect()}
    ds = [r for r in catalog.read_table(spark, idx, "docstats")
          .select("doc_id", "dl", "repo").collect()
          if r["doc_id"] in hits]

    # self-weighted mean: sum(dl^2)/sum(dl) != plain avg
    w = weighted_avg_agg(spark, idx, "public", "dl", "dl").collect()[0]
    want = (sum(r["dl"] * r["dl"] for r in ds)
            / sum(r["dl"] for r in ds))
    assert w["n"] == len(ds) and abs(w["weighted_avg"] - want) < 1e-9

    s = string_stats_agg(spark, idx, "public", "repo").collect()[0]
    lens = [len(r["repo"]) for r in ds]
    assert (s["count"], s["min_length"], s["max_length"]) == \
        (len(ds), min(lens), max(lens))
    assert abs(s["avg_length"] - sum(lens) / len(lens)) < 1e-9
    hist = Counter("".join(r["repo"] for r in ds))
    t = sum(hist.values())
    ent = -sum(n / t * math.log2(n / t) for n in hist.values())
    assert abs(s["entropy"] - ent) < 1e-9

    m = matrix_stats_agg(spark, idx, "public", "dl", "doc_id").collect()[0]
    n = len(ds)
    ma = sum(r["dl"] for r in ds) / n
    mb = sum(r["doc_id"] for r in ds) / n
    cov = sum((r["dl"] - ma) * (r["doc_id"] - mb) for r in ds) / n
    va = sum((r["dl"] - ma) ** 2 for r in ds) / n
    vb = sum((r["doc_id"] - mb) ** 2 for r in ds) / n
    assert m["n"] == n
    assert abs(m["covariance"] - cov) < 1e-6 * abs(cov)
    assert abs(m["correlation"] - cov / math.sqrt(va * vb)) < 1e-9


def test_span_first_not_or(spark, corpus_rows, index_path):
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        span_first,
        span_not,
        span_or_near,
    )

    toks = {d: tokenize_py(t, "code")
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}

    # span_first: 0-based position < end
    got = {r["doc_id"] for r in
           span_first(spark, index_path, "public", end=5).collect()}
    want = {d for d, ts in toks.items() if "public" in ts[:5]}
    assert got == want and got

    # span_not: an include occurrence with no exclude within [p-pre, p+post]
    got = {r["doc_id"] for r in
           span_not(spark, index_path, "static", "public",
                    pre=1, post=1).collect()}
    want = set()
    for d, ts in toks.items():
        inc = [i for i, t in enumerate(ts) if t == "static"]
        exc = {i for i, t in enumerate(ts) if t == "public"}
        if any(all(q not in exc for q in range(p - 1, p + 2)) for p in inc):
            want.add(d)
    assert got == want and got
    with pytest.raises(ValueError):
        span_not(spark, index_path, "static", "static")

    # span_or_near: (static|class) then return within slop=2, in order —
    # both alternatives contribute matches in this corpus
    got = {r["doc_id"] for r in
           span_or_near(spark, index_path, [["static", "class"], ["return"]],
                        slop=2, in_order=True).collect()}
    want = set()
    for d, ts in toks.items():
        firsts = [i for i, t in enumerate(ts) if t in ("static", "class")]
        seconds = [i for i, t in enumerate(ts) if t == "return"]
        if any(any(i < j and j - i - 1 <= 2 for j in seconds) for i in firsts):
            want.add(d)
    assert got == want and len(got) >= 10


def test_scan_sliced_partitions_the_scan(spark, index_path):
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        scan_df,
        scan_sliced,
    )

    full = {r["doc_id"] for r in scan_df(spark, index_path, "public").collect()}
    slices = [{r["doc_id"] for r in
               scan_sliced(spark, index_path, i, 3, "public").collect()}
              for i in range(3)]
    assert slices[0] | slices[1] | slices[2] == full
    assert not (slices[0] & slices[1] or slices[0] & slices[2]
                or slices[1] & slices[2])
    assert sum(bool(s) for s in slices) >= 2  # hash actually spreads
    with pytest.raises(ValueError):
        scan_sliced(spark, index_path, 3, 3, "public")


def test_extended_stats_top_metrics_mad_ttest(spark, corpus_rows, index_path):
    import statistics

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        extended_stats_agg,
        match_any_terms,
        median_absolute_deviation_agg,
        t_test_agg,
        top_metrics_agg,
    )

    toks = {d: tokenize_py(t, "code")
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    dl = {d: len(ts) for d, ts in toks.items()}
    hits = {r["doc_id"] for r in
            match_any_terms(spark, index_path, "public").collect()}
    vals = [dl[d] for d in hits]

    es = extended_stats_agg(spark, index_path, "public", "dl",
                            sigma=2.0).collect()[0]
    assert es["n"] == len(vals)
    assert es["sum_v"] == sum(vals) and es["min_v"] == min(vals)
    assert es["variance"] == pytest.approx(statistics.pvariance(vals))
    assert es["std_upper"] == pytest.approx(
        es["avg_v"] + 2.0 * statistics.pstdev(vals))

    tm = top_metrics_agg(spark, index_path, "public", "lang",
                         "dl").collect()[0]
    best = sorted(hits, key=lambda d: (-dl[d], d))[0]
    assert tm["doc_id"] == best and tm["sort_value"] == dl[best]

    mad = median_absolute_deviation_agg(spark, index_path, "public",
                                        "dl").collect()[0]
    med = statistics.median(vals)
    assert mad["mad"] == pytest.approx(
        statistics.median(abs(v - med) for v in vals))

    tt = t_test_agg(spark, index_path, "public", "return",
                    "dl").collect()[0]
    hits_b = {r["doc_id"] for r in
              match_any_terms(spark, index_path, "return").collect()}
    vb = [dl[d] for d in hits_b]
    import math as m
    want_t = (statistics.fmean(vals) - statistics.fmean(vb)) / m.sqrt(
        statistics.variance(vals) / len(vals)
        + statistics.variance(vb) / len(vb))
    assert tt["n_a"] == len(vals) and tt["n_b"] == len(vb)
    assert tt["t_stat"] == pytest.approx(want_t)


def test_histogram_filled_gapless(spark, index_path):
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        histogram_agg,
        histogram_filled,
    )

    base = {r["bucket"]: r["n_docs"] for r in
            histogram_agg(spark, index_path, "public", "dl",
                          20).collect()}
    out = histogram_filled(spark, index_path, "public", "dl", 20,
                           extended_bounds=(0, max(base) + 40)).collect()
    buckets = [r["bucket"] for r in out]
    assert buckets == list(range(0, max(base) + 41, 20))  # gapless grid
    for r in out:
        assert r["n_docs"] == base.get(r["bucket"], 0)
    # min_doc_count prunes instead of filling
    pruned = histogram_filled(spark, index_path, "public", "dl", 20,
                              min_doc_count=2).collect()
    assert all(r["n_docs"] >= 2 for r in pruned)


def test_within_polygon_ray_casting(spark):
    from elasticsearch_osmosis_plugin_spark.operators.geo import (
        point_in_polygon,
        within_polygon,
    )

    # concave polygon (an L shape) exercises the parity rule
    poly = [(0.0, 0.0), (10.0, 0.0), (10.0, 4.0), (4.0, 4.0),
            (4.0, 10.0), (0.0, 10.0)]
    pts = [(0, 2.0, 2.0, True), (1, 8.0, 2.0, True), (2, 2.0, 8.0, True),
           (3, 8.0, 8.0, False),  # inside bbox, outside the L
           (4, -1.0, 5.0, False), (5, 5.0, 3.9, True),
           (6, 5.0, 4.1, False), (7, 11.0, 1.0, False)]
    df = spark.createDataFrame([(i, la, lo) for i, la, lo, _ in pts],
                               "doc_id long, lat double, lon double")
    got = {r["doc_id"] for r in within_polygon(df, poly).collect()}
    assert got == {i for i, _, _, keep in pts if keep}
    with pytest.raises(ValueError):
        point_in_polygon([(0.0, 0.0), (1.0, 1.0)])


def test_pinned_topk(spark, corpus_rows, index_path):
    """Pinned ids rank first in list order (even non-matching docs);
    organic BM25 follows with promoted ids excluded; dead/unknown
    pinned ids are dropped."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import pinned_topk

    organic = "public static"
    want_org = [d for d, _ in _oracle_ids(corpus_rows, organic, 50)]
    # pin: one organic hit (promoted out of its organic slot), one doc
    # that does NOT match the organic query, one unknown id
    non_match = next(d for d in corpus_rows["doc_id"] if d not in want_org)
    pins = [int(want_org[3]), int(non_match), 10**9]
    got = pinned_topk(spark, index_path, pins, organic, k=6).collect()
    ids = [r["doc_id"] for r in got]
    assert ids[:2] == pins[:2]
    assert got[0]["score"] > got[1]["score"] > 1e8
    rest = [d for d in want_org if d not in pins]
    assert ids[2:] == rest[:4]


def test_match_bool_prefix_topk(spark, corpus_rows, index_path):
    """Full terms score BM25 (OR), the trailing prefix adds a
    constant 1.0; union semantics — prefix-only docs still rank."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py,
    )
    from elasticsearch_osmosis_plugin_spark.operators.bm25 import bm25_oracle
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        match_bool_prefix_topk,
    )

    rows = list(zip(corpus_rows["doc_id"], corpus_rows["content"]))
    s_full = dict(bm25_oracle(rows, "public", k=10_000))
    pref_docs = {d for d, t in rows
                 if any(tok.startswith("buf")
                        for tok in tokenize_py(t, "code"))}
    assert pref_docs and any(d not in s_full for d in pref_docs)
    want = sorted(
        (-(s_full.get(d, 0.0) + (1.0 if d in pref_docs else 0.0)), d)
        for d in set(s_full) | pref_docs)[:10]
    got = match_bool_prefix_topk(spark, index_path, "public buf",
                                 k=10).collect()
    assert [r["doc_id"] for r in got] == [d for _, d in want]
    for r, (ns, _) in zip(got, want):
        assert abs(r["score"] - (-ns)) < 1e-9


def test_combined_fields_topk(spark, corpus_rows, corpus_df,
                              index_path, tmp_path):
    """Term-centric BM25F blend: tf/dl blend across fields BEFORE one
    BM25, exact union df — score-identical to a single-process
    recompute."""
    import math as m

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py,
    )
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        combined_fields_topk,
    )

    repo_idx = str(tmp_path / "cf_repo_idx")
    build_index(spark, corpus_df, repo_idx, CFG, id_col="doc_id",
                text_col="repo", n_groups=1)
    repo_val = corpus_rows["repo"][0]
    query, w = f"public {repo_val}", {"content": 1.0, "repo": 2.5}
    terms = sorted(set(tokenize_py(query, "code")))

    toks_c = {d: tokenize_py(t, "code") for d, t in
              zip(corpus_rows["doc_id"], corpus_rows["content"])}
    toks_r = {d: tokenize_py(t, "code") for d, t in
              zip(corpus_rows["doc_id"], corpus_rows["repo"])}
    n = len(toks_c)
    dlc = {d: w["content"] * len(toks_c[d]) + w["repo"] * len(toks_r[d])
           for d in toks_c}
    avgdl = sum(dlc.values()) / n
    tfc = {t: {d: w["content"] * toks_c[d].count(t)
               + w["repo"] * toks_r[d].count(t) for d in toks_c
               if toks_c[d].count(t) + toks_r[d].count(t)}
           for t in terms}
    k1, b = 1.2, 0.75
    want = {}
    for t in terms:
        dfc = len(tfc[t])
        if not dfc:
            continue
        i = m.log(1.0 + (n - dfc + 0.5) / (dfc + 0.5))
        for d, tf in tfc[t].items():
            want[d] = want.get(d, 0.0) + i * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * dlc[d] / avgdl))
    top = sorted(((-s, d) for d, s in want.items()))[:10]
    got = combined_fields_topk(
        spark, {"content": index_path, "repo": repo_idx}, query,
        k=10, field_weights=w).collect()
    assert [r["doc_id"] for r in got] == [d for _, d in top]
    for r, (ns, _) in zip(got, top):
        assert abs(r["score"] - (-ns)) < 1e-9



def test_combined_fields_topk_repeatable(spark, corpus_df, index_path,
                                         tmp_path):
    """Every float sum of combined_fields runs in a fixed order (field
    blend, avgdl_c, per-doc term sum): repeated calls return the same
    doc ids and bit-identical scores."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        combined_fields_topk,
    )

    repo_idx = str(tmp_path / "cf_rep_idx")
    build_index(spark, corpus_df, repo_idx, CFG, id_col="doc_id",
                text_col="repo", n_groups=2)
    runs = {tuple((r["doc_id"], r["score"]) for r in combined_fields_topk(
        spark, {"content": index_path, "repo": repo_idx},
        "public static void import", k=20,
        field_weights={"content": 1.1, "repo": 2.3}).collect())
        for _ in range(4)}
    assert len(runs) == 1 and len(next(iter(runs))) == 20, runs


def test_more_like_this_text(spark, corpus_rows, index_path):
    """Free-text like: analyzed through the index chain, top tf*idf
    terms become the query, nothing excluded; identical to topk over
    the recomputed term selection."""
    import math as m
    from collections import Counter

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py,
    )
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        more_like_this_text,
    )

    like = "public static getIndexBuffer zzznotaterm"
    tf = Counter(tokenize_py(like, "code"))
    toks = {d: tokenize_py(t, "code") for d, t in
            zip(corpus_rows["doc_id"], corpus_rows["content"])}
    n = len(toks)
    df_map = Counter()
    for ts in toks.values():
        for t in set(ts):
            df_map[t] += 1
    ranked = sorted(
        (-tf[t] * m.log(1.0 + (n - df_map[t] + 0.5) / (df_map[t] + 0.5)), t)
        for t in tf if df_map[t] > 0)
    sel = [t for _, t in ranked[:3]]
    got = more_like_this_text(spark, index_path, like,
                              max_query_terms=3, k=10).collect()
    want = topk(spark, index_path, " ".join(sel), k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want] and got
    # all-unknown text -> empty, not an error
    assert more_like_this_text(spark, index_path, "zz qq xx").count() == 0


def test_span_containing(spark, corpus_rows, index_path):
    """Containment recomputed single-process: some in-order big span
    (within slop) must cover a little occurrence."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py,
    )
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        span_containing,
        span_within,
    )

    big, little, slop = "public void", "static", 6
    b1, b2 = big.split()
    want = set()
    for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"]):
        toks = tokenize_py(t, "code")
        p1s = [i for i, x in enumerate(toks) if x == b1]
        p2s = [i for i, x in enumerate(toks) if x == b2]
        ls = [i for i, x in enumerate(toks) if x == little]
        if any(s < e and e - s - 1 <= slop and any(s <= p <= e for p in ls)
               for s in p1s for e in p2s):
            want.add(d)
    got = {r["doc_id"] for r in span_containing(
        spark, index_path, big, little, slop=slop).collect()}
    assert got == want and want
    # a containment-failing doc set exists (the predicate is not just
    # the conjunction of the three terms)
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        match_all_terms,
    )
    all3 = {r["doc_id"] for r in match_all_terms(
        spark, index_path, f"{big} {little}").collect()}
    assert want < all3
    w = {r["doc_id"] for r in span_within(
        spark, index_path, big, little, slop=slop).collect()}
    assert w == got


def test_children_agg_and_parent_id(spark):
    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.operators.parentchild import (
        children_agg,
        parent_id,
    )

    par = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "pid long, tag string")
    ch = spark.createDataFrame(
        [(10, 1, 5.0), (11, 1, 3.0), (12, 2, 9.0), (13, 3, 2.0),
         (14, 9, 1.0)],
        "cid long, fk long, v double")

    rows = children_agg(par, ch, "pid", "fk", "tag",
                        metrics={"sum_v": F.sum("v"),
                                 "max_v": F.max("v")}).collect()
    got = {r["tag"]: (r["doc_count"], r["sum_v"], r["max_v"]) for r in rows}
    # orphan child (fk=9) never counted; bucket 'a' spans two parents
    assert got == {"a": (3, 10.0, 5.0), "b": (1, 9.0, 9.0)}
    assert [r["tag"] for r in rows] == ["a", "b"]  # doc_count desc

    filt = children_agg(par, ch, "pid", "fk", "tag",
                        metrics={"sum_v": F.sum("v")},
                        child_filter=F.col("v") > 4.0).collect()
    assert {r["tag"]: r["doc_count"] for r in filt} == {"a": 1, "b": 1}

    kids = parent_id(ch, "fk", 1).collect()
    assert {r["cid"] for r in kids} == {10, 11}


def test_significant_terms_heuristic_family(spark, corpus_rows, index_path):
    """chi_square / mutual_information / gnd / percentage vs an
    independent python recompute of each published formula."""
    import math
    from collections import Counter

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        significant_terms,
    )

    toks = {d: set(tokenize_py(t, "code"))
            for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])}
    query = "public"
    hits = {d for d, s in toks.items() if query in s}
    n_fg, n = float(len(hits)), float(len(toks))
    fg = Counter(t for d in hits for t in toks[d])
    bg = Counter(t for s in toks.values() for t in s)

    def scores(heur):
        out = {}
        for t, a in fg.items():
            if a < 3:
                continue
            b, c = bg[t] - a, n_fg - a
            d = n - n_fg - b
            if heur == "percentage":
                out[t] = a / bg[t]
            elif heur == "chi_square":
                den = (a + b) * (c + d) * (a + c) * (b + d)
                out[t] = n * (a * d - b * c) ** 2 / den if den > 0 else 0.0
            elif heur == "mutual_information":
                s = 0.0
                for o, rx, cx in ((a, a + b, a + c), (b, a + b, b + d),
                                  (c, c + d, a + c), (d, c + d, b + d)):
                    if o > 0:
                        s += (o / n) * math.log2((o / n) / ((rx / n) * (cx / n)))
                out[t] = s
            elif heur == "gnd":
                fx, fy, fxy = math.log(bg[t]), math.log(n_fg), math.log(a)
                ngd = (max(fx, fy) - fxy) / (math.log(n) - min(fx, fy))
                out[t] = 1.0 / (1.0 + ngd)
        return out

    for heur in ("chi_square", "mutual_information", "gnd", "percentage"):
        want = scores(heur)
        top = [t for t in sorted(want, key=lambda t: (-want[t], t))][:10]
        got = significant_terms(spark, index_path, query, size=10,
                                min_doc_count=3, heuristic=heur).collect()
        assert [r["term"] for r in got] == top, heur
        for r in got:
            assert abs(r[heur] - want[r["term"]]) < 1e-9, (heur, r["term"])

    with pytest.raises(ValueError, match="unknown heuristic"):
        significant_terms(spark, index_path, "public", heuristic="bogus")


def test_terms_enum(spark, corpus_rows, index_path):
    """Prefix enumeration matches the corpus vocabulary, keyset paging
    walks it completely without overlap."""
    from collections import Counter

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import terms_enum

    df_by_term = Counter()
    for t in corpus_rows["content"]:
        for term in set(tokenize_py(t, "code")):
            df_by_term[term] += 1
    prefix = "p"
    want = sorted(t for t in df_by_term if t.startswith(prefix))
    assert len(want) >= 3

    got = terms_enum(spark, index_path, prefix=prefix, size=10_000).collect()
    assert [r["term"] for r in got] == want
    for r in got:
        assert r["doc_count"] == df_by_term[r["term"]]

    # keyset paging: size-2 pages cover the same set, in order
    walked, after = [], None
    while True:
        page = terms_enum(spark, index_path, prefix=prefix, size=2,
                          search_after=after).collect()
        if not page:
            break
        walked.extend(r["term"] for r in page)
        after = page[-1]["term"]
    assert walked == want


def test_highlight_fragments(spark, corpus_rows, index_path):
    """Multi-fragment tagged highlighting vs a python recompute of the
    distinct-term-anchor contract."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        highlight_fragments,
    )

    qterms = ["public", "static"]
    window, nfrag = 2, 2
    got = {r["doc_id"]: r["fragments"] for r in highlight_fragments(
        spark, index_path, "public static", window=window,
        number_of_fragments=nfrag).collect()}

    want = {}
    for d, text in zip(corpus_rows["doc_id"], corpus_rows["content"]):
        toks = tokenize_py(text, "code")
        anchors = sorted((toks.index(t), t) for t in qterms if t in toks)
        frags = []
        for pos, _t in anchors[:nfrag]:
            lo, hi = max(0, pos - window), min(len(toks), pos + window + 1)
            frags.append(" ".join(
                f"<em>{t}</em>" if t in qterms else t
                for t in toks[lo:hi]))
        if frags:
            want[d] = frags
    assert got == want
    assert any(len(f) == 2 for f in got.values())
    assert all("<em>" in "".join(f) for f in got.values())


def test_rank_feature_functions(spark, corpus_rows, index_path):
    """saturation / log / sigmoid vs python recompute, composed with
    BM25 via boost_mode=sum."""
    import math

    from elasticsearch_osmosis_plugin_spark.operators.query import topk
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        function_score_topk,
        rank_feature,
    )

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py as _tokpy,
    )

    n = {d: len(_tokpy(t, "code")) for d, t in zip(corpus_rows["doc_id"],
                                                   corpus_rows["content"])}
    base = {r["doc_id"]: r["score"]
            for r in topk(spark, index_path, "public", k=1000).collect()}

    cases = [
        (dict(function="saturation", pivot=100.0, weight=2.0),
         lambda x: 2.0 * x / (x + 100.0)),
        (dict(function="log", scaling_factor=1.0, weight=0.5),
         lambda x: 0.5 * math.log(1.0 + x)),
        (dict(function="sigmoid", pivot=100.0, exponent=2.0),
         lambda x: x ** 2 / (x ** 2 + 100.0 ** 2)),
    ]
    for kw, fn in cases:
        got = function_score_topk(
            spark, index_path, "public", k=1000,
            functions=[rank_feature("dl", **kw)],
            boost_mode="sum").collect()
        assert got, kw
        for r in got:
            want = base[r["doc_id"]] + fn(float(n[r["doc_id"]]))
            assert abs(r["score"] - want) < 1e-9, (kw, r["doc_id"])

    with pytest.raises(ValueError, match="unknown function"):
        rank_feature("dl", "bogus")


def test_suggest_modes(spark, corpus_rows, index_path):
    """ES suggest_mode: missing suppresses suggestions for in-index
    terms, popular keeps only strictly-more-frequent corrections."""
    from collections import Counter

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        suggest_terms,
    )

    dfc = Counter()
    for t in corpus_rows["content"]:
        for term in set(tokenize_py(t, "code")):
            dfc[term] += 1
    present = max(dfc, key=lambda t: (dfc[t], t))  # definitely indexed

    # missing: a correctly-spelled term gets NO suggestions
    assert suggest_terms(spark, index_path, present, max_edits=2,
                         suggest_mode="missing").count() == 0
    # missing with a real misspelling behaves like always
    typo = present[:-1] + ("x" if present[-1] != "x" else "q")
    if typo not in dfc:
        a = suggest_terms(spark, index_path, typo, max_edits=2).collect()
        m = suggest_terms(spark, index_path, typo, max_edits=2,
                          suggest_mode="missing").collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in m] and a

    # popular: every suggestion strictly beats the input's df; the
    # input term never suggests itself
    pop = suggest_terms(spark, index_path, present, max_edits=2,
                        suggest_mode="popular", size=50).collect()
    assert all(r["df"] > dfc[present] for r in pop)
    assert present not in {r["term"] for r in pop}

    with pytest.raises(ValueError, match="unknown suggest_mode"):
        suggest_terms(spark, index_path, "x", suggest_mode="bogus")


def test_multi_match_most_and_cross_fields(spark, corpus_rows, corpus_df,
                                           index_path, tmp_path):
    """most_fields sums per-field BM25; cross_fields blends df (max
    over fields) and takes each term's best field — both vs python
    recomputes; cross_fields AND requires every term somewhere."""
    import math
    from collections import Counter

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.bm25 import bm25_oracle
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        multi_match_cross_fields,
        multi_match_most_fields,
    )

    repo_idx = str(tmp_path / "repo_idx2")
    build_index(spark, corpus_df, repo_idx, CFG, id_col="doc_id",
                text_col="repo", n_groups=1)
    repo_val = corpus_rows["repo"][0]
    query = f"public {repo_val}"
    paths = {"content": index_path, "repo": repo_idx}

    rows_txt = list(zip(corpus_rows["doc_id"], corpus_rows["content"]))
    rows_rep = list(zip(corpus_rows["doc_id"], corpus_rows["repo"]))
    s_txt = dict(bm25_oracle(rows_txt, query, k=10_000))
    s_rep = dict(bm25_oracle(rows_rep, query, k=10_000))

    # most_fields: plain sum
    want = sorted(((-(s_txt.get(d, 0.0) + s_rep.get(d, 0.0)), d)
                   for d in set(s_txt) | set(s_rep)))[:10]
    got = multi_match_most_fields(spark, paths, query, k=10).collect()
    assert [r["doc_id"] for r in got] == [d for _, d in want]
    for r, (ns, _) in zip(got, want):
        assert abs(r["score"] - (-ns)) < 1e-9

    # cross_fields: blended idf (df = max over fields), per-term best
    # field partial, summed per doc — recompute from raw tokenization
    qterms = set(tokenize_py(query, "code"))
    fields = {"content": [tokenize_py(t, "code")
                          for t in corpus_rows["content"]],
              "repo": [tokenize_py(t, "code") for t in corpus_rows["repo"]]}
    ids = corpus_rows["doc_id"]
    n = len(ids)
    k1, b = 1.2, 0.75
    df_blend = {t: max(sum(t in set(ts) for ts in toks)
                       for toks in fields.values()) for t in qterms}
    score = Counter()
    matched = {}
    for fname, toks in fields.items():
        avgdl = sum(len(ts) for ts in toks) / n
        for d, ts in zip(ids, toks):
            dl = len(ts)
            cnt = Counter(ts)
            for t in qterms:
                if cnt[t] and df_blend[t]:
                    w = (math.log(1.0 + (n - df_blend[t] + 0.5)
                                  / (df_blend[t] + 0.5))
                         * cnt[t] * (k1 + 1)
                         / (cnt[t] + k1 * (1 - b + b * dl / avgdl)))
                    key = (d, t)
                    matched[key] = max(matched.get(key, 0.0), w)
    for (d, _t), w in matched.items():
        score[d] += w
    want = sorted(((-s, d) for d, s in score.items()))[:10]
    got = multi_match_cross_fields(spark, paths, query, k=10).collect()
    assert [r["doc_id"] for r in got] == [d for _, d in want]
    for r, (ns, _) in zip(got, want):
        assert abs(r["score"] - (-ns)) < 1e-9

    # operator=and: every query term must match in >= 1 field
    got_and = multi_match_cross_fields(spark, paths, query, k=100,
                                       operator="and").collect()
    nt = {d: len({t for (dd, t) in matched if dd == d})
          for d in {dd for (dd, _t) in matched}}
    want_and = {d for d in nt if nt[d] == len(qterms)}
    assert {r["doc_id"] for r in got_and} == want_and

    # DSL routing
    from elasticsearch_osmosis_plugin_spark.operators import dsl as _dsl

    via = _dsl.search(spark, index_path, {
        "query": {"multi_match": {"query": query,
                                  "fields": ["content", "repo"],
                                  "type": "cross_fields"}}, "size": 10},
        field_indexes=paths)
    assert [r["doc_id"] for r in via.collect()] \
        == [r["doc_id"] for r in got]


def _assert_gather_matches_per_row_decode(idx, queries, tag):
    """The batched column decode of ``_gather_term_postings`` equals a
    per-row decode of the same pruned read, array for array (order
    included: file order, then row order)."""
    import numpy as np

    from elasticsearch_osmosis_plugin_spark.functions.varbyte import vb_decode
    from elasticsearch_osmosis_plugin_spark.operators import serve
    from elasticsearch_osmosis_plugin_spark.operators.query import query_terms
    from elasticsearch_osmosis_plugin_spark.plans.build import bucket_of

    meta = load_meta(idx)
    terms = sorted({t for q in queries for t in query_terms(q, meta)})
    got = serve._gather_term_postings(idx, meta, terms, cache=None)
    dirs = serve._posting_dirs(idx, meta)
    parts: dict[str, list] = {}
    for b in sorted({bucket_of(t, meta["n_buckets"]) for t in terms}):
        ts = [t for t in terms if bucket_of(t, meta["n_buckets"]) == b]
        tbl = serve._read_filtered(serve._bucket_files(dirs, b),
                                   ["term", "doc_ids_vb", "tfs_vb",
                                    "dls_vb"], ts)
        for r in ([] if tbl is None else tbl.to_pylist()):
            parts.setdefault(r["term"], []).append((
                np.cumsum(vb_decode(r["doc_ids_vb"]),
                          dtype=np.uint64).astype(np.int64),
                vb_decode(r["tfs_vb"]).astype(np.float64),
                vb_decode(r["dls_vb"]).astype(np.float64)))
    assert set(got) == set(parts), tag
    for t, lst in parts.items():
        for i in range(3):
            want = np.concatenate([x[i] for x in lst])
            assert got[t][i].dtype == want.dtype, (tag, t, i)
            assert np.array_equal(got[t][i], want), (tag, t, i)


def test_local_serving_path_lifecycle(spark, corpus_df, tmp_path):
    """Driver-local serving (Searcher.topk_local / operators.serve):
    rank- AND score-identical to the distributed scoreall path through
    the full index lifecycle — fresh build, appended group, logical
    deletes, compaction, post-compaction append, purge — with the
    postings cache warm and cold. The df it scores with (the gathered
    posting count) equals the dictionary df at every state, and the
    driver's pyarrow dictionary lookup returns the Spark dictionary
    read's rows, unknown terms omitted."""
    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.corpus import generate_corpus_df
    from elasticsearch_osmosis_plugin_spark.operators import serve
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        _DIC_COLS,
        Searcher,
        dictionary_rows,
        query_terms,
        topk,
    )
    from elasticsearch_osmosis_plugin_spark.plans.build import (
        append_index_group,
        delete_docs,
        dictionary_df,
    )
    from elasticsearch_osmosis_plugin_spark.plans.merge import (
        compact_index,
        purge_deletes,
    )

    idx = str(tmp_path / "serve_idx")
    build_index(spark, corpus_df, idx, CFG, id_col="doc_id", n_groups=2)
    queries = QUERIES + ["nosuchterm id0001", "zzz_absent"]

    def check(tag):
        s = Searcher(spark, idx)
        for q in queries:
            local = [(d, round(sc, 9)) for d, sc in s.topk_local(q, k=10)]
            dist = [(r["doc_id"], round(r["score"], 9)) for r in
                    topk(spark, idx, q, k=10, strategy="scoreall").collect()]
            assert local == dist, (tag, q)
            # cache warm: second call identical
            assert local == [(d, round(sc, 9))
                             for d, sc in s.topk_local(q, k=10)], (tag, q)
        s.close()
        _assert_gather_matches_per_row_decode(idx, queries, tag)
        meta = load_meta(idx)
        terms = sorted({t for q in queries for t in query_terms(q, meta)})
        gathered = serve._gather_term_postings(idx, meta, terms, cache=None)
        rows = sorted(tuple(r[c] for c in _DIC_COLS) for r in
                      dictionary_df(spark, idx)
                      .filter(F.col("term").isin(terms)).collect())
        assert list(dictionary_rows(idx, terms, meta).itertuples(
            index=False, name=None)) == rows, tag
        dic = {r[0]: r[1] for r in rows}
        assert {t: v[0].size for t, v in gathered.items()} == dic, tag

    check("fresh")
    append_index_group(spark, generate_corpus_df(spark, seed=9, n=40), idx)
    check("appended")
    delete_docs(spark, idx,
                [r["doc_id"] for r in
                 topk(spark, idx, "public", k=3).collect()])
    check("tombstoned")
    compact_index(spark, idx)
    check("compacted")
    append_index_group(spark, generate_corpus_df(spark, seed=5, n=30), idx)
    check("compact_then_append")
    purge_deletes(spark, idx)
    check("purge_deletes")
    # a Searcher opened pre-mutation serves its snapshot until refresh
    s = Searcher(spark, idx)
    before = s.topk_local("public static", k=5)
    delete_docs(spark, idx, [before[0][0]])
    s.refresh()
    after = s.topk_local("public static", k=5)
    assert before[0][0] not in [d for d, _ in after]
    s.close()


def test_local_serving_concurrent_and_bucket_lru(spark, corpus_df,
                                                 tmp_path):
    """Concurrent serving (Searcher.topk_local_many) returns per-query
    results identical to solo topk_local; the shared postings LRU
    serves repeat bucket reads from memory (hit counter moves, no
    re-read), and keys on file signatures so an index rewrite
    naturally misses and scores the new postings."""
    from elasticsearch_osmosis_plugin_spark.operators import serve
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        Searcher,
        topk,
    )
    from elasticsearch_osmosis_plugin_spark.plans.build import (
        append_index_group,
    )

    idx = str(tmp_path / "serve_many_idx")
    build_index(spark, corpus_df, idx, CFG, id_col="doc_id", n_groups=1)
    qs = {f"q{i}": q for i, q in enumerate(
        QUERIES + ["public static", "id0042", "getIndexBuffer public"])}

    s = Searcher(spark, idx)
    got = s.topk_local_many(qs, k=10)
    assert set(got) == set(qs)
    for name, q in qs.items():
        assert got[name] == s.topk_local(q, k=10), name

    # LRU: a fresh searcher re-resolving the same terms is pure hits
    ph0, pm0 = serve.postings_cache.hits, serve.postings_cache.misses
    s2 = Searcher(spark, idx)
    again = s2.topk_local_many(qs, k=10)
    assert again == got
    # decoded postings served from the byte-budgeted LRU
    assert serve.postings_cache.misses == pm0
    assert serve.postings_cache.hits > ph0
    assert 0 < serve.postings_cache.bytes <= serve.postings_cache.max_bytes

    # rewrite invalidates by key: append adds posting files to every
    # bucket, the next read misses (new signature) and scores the new
    # postings exactly as the Spark path does
    from elasticsearch_osmosis_plugin_spark.corpus import generate_corpus_df

    append_index_group(spark, generate_corpus_df(spark, seed=9, n=40), idx)
    s.refresh()
    pm1 = serve.postings_cache.misses
    fresh = s.topk_local("public", k=10)
    assert serve.postings_cache.misses > pm1
    assert [(d, round(sc, 9)) for d, sc in fresh] == \
        [(r["doc_id"], round(r["score"], 9)) for r in
         topk(spark, idx, "public", k=10, strategy="scoreall").collect()]
    s.close()
    s2.close()


def test_local_serving_k_zero_and_cache_byte_bounds(spark, index_path,
                                                    monkeypatch):
    """k <= 0 returns an empty answer on both local entry points; the
    merge-structure and weight caches stay within their byte budgets
    and never admit an entry larger than the budget."""
    from elasticsearch_osmosis_plugin_spark.operators import serve
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        Searcher,
        query_terms,
    )

    meta = load_meta(index_path)
    q = "public static void"
    terms = query_terms(q, meta)
    assert serve.local_topk(index_path, terms, k=0) == []
    assert serve.local_topk(index_path, terms, k=-1) == []
    s = Searcher(spark, index_path)
    assert s.topk_local(q, 0) == []
    want = s.topk_local(q, 10)
    assert want

    for name in ("merge_cache", "weight_cache"):
        c = getattr(serve, name)
        assert 0 < c.bytes <= c.max_bytes, name

    # an entry over budget is not cached, and the answer is unchanged
    tiny_merge = serve._ByteLRU(serve.ENTRY_BYTES + 16)
    tiny_weight = serve._ByteLRU(serve.ENTRY_BYTES + 16)
    monkeypatch.setattr(serve, "merge_cache", tiny_merge)
    monkeypatch.setattr(serve, "weight_cache", tiny_weight)
    assert s.topk_local(q, 10) == want
    for c in (tiny_merge, tiny_weight):
        assert c.bytes == 0 and not c._d
    s.close()


def test_dictionary_memos_bounded(spark, index_path, monkeypatch):
    """Unknown terms stay cheap and bounded on both paths. Driver-local
    serving over twice as many distinct unknown terms as the postings
    cache holds keeps it within budget; the first unknown terms in a
    bucket cost one read, which loads the bucket's term set, and later
    unknown terms there, new or repeated, cost no read. The Spark
    path's dictionary lookup keeps no memo: the same unknown terms cost
    at most one read per bucket and return no rows."""
    from elasticsearch_osmosis_plugin_spark.operators import query as Q
    from elasticsearch_osmosis_plugin_spark.operators import serve

    meta = load_meta(index_path)
    cache = serve.postings_cache
    cache.clear()
    serve.vocab_cache.clear()
    monkeypatch.setattr(cache, "max_bytes", 64 << 10)
    unknown = [f"zzunknown{i:06d}"
               for i in range(2 * cache.max_bytes // serve.ENTRY_BYTES)]
    reads = []
    real = serve._read_filtered
    monkeypatch.setattr(serve, "_read_filtered",
                        lambda *a: reads.append(a[2]) or real(*a))
    s = Q.Searcher(spark, index_path)
    try:
        assert s.topk_local(" ".join(unknown), k=10) == []
        assert 0 < cache.bytes <= cache.max_bytes
        assert len(cache._d) < len(unknown)     # evicted, not grown
        n = len(reads)
        assert 0 < n <= meta["n_buckets"]       # one read per bucket
        assert 0 < serve.vocab_cache.bytes <= serve.vocab_cache.max_bytes
        assert s.topk_local("zznew000001 zznew000002", k=10) == []
        assert s.topk_local(unknown[-1], k=10) == []
        want = s.topk_local("public", k=10)
        assert want
        assert len(reads) == n + 1              # only "public" was read
        assert s.topk_local(unknown[-1], k=10) == []
        assert s.topk_local("zznew000003 public", k=10) == want
        assert len(reads) == n + 1

        del reads[:]
        dic = Q.dictionary_rows(index_path, unknown, meta)
        assert dic.empty and list(dic.columns) == Q._DIC_COLS
        assert len(reads) <= meta["n_buckets"]
    finally:
        s.close()


def test_driver_caches_are_byte_lrus():
    """One cache discipline: every cache object of operators.serve is
    a serve._ByteLRU with a finite byte budget, and serve defines no
    other cache class."""
    import inspect
    import math

    from elasticsearch_osmosis_plugin_spark.operators import serve

    classes = [c for c in vars(serve).values()
               if inspect.isclass(c) and c.__module__ == serve.__name__]
    assert classes == [serve._ByteLRU]
    caches = [v for v in vars(serve).values()
              if hasattr(v, "get") and hasattr(v, "put")
              and not inspect.isclass(v)]
    assert len(caches) >= 5
    for c in caches:
        assert type(c) is serve._ByteLRU
        assert 0 < c.max_bytes and math.isfinite(c.max_bytes)


def test_listing_cache_racy_timestamp(tmp_path):
    """A listing taken while the directory's mtime is recent is not
    cached: a file added within the same mtime tick (simulated by
    resetting the mtime) is still seen. An old-mtime listing is
    cached."""
    import time

    from elasticsearch_osmosis_plugin_spark.operators import serve

    d = tmp_path / "bucket=0"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"")
    mt = os.stat(d).st_mtime_ns
    assert serve._ls_parquet(str(d)) == [str(d / "part-0.parquet")]
    (d / "part-1.parquet").write_bytes(b"")
    os.utime(d, ns=(mt, mt))
    assert serve._ls_parquet(str(d)) == [str(d / "part-0.parquet"),
                                         str(d / "part-1.parquet")]

    old = time.time_ns() - 10 * serve._RACY_NS
    os.utime(d, ns=(old, old))
    serve._ls_parquet(str(d))
    h0 = serve.listing_cache.hits
    assert len(serve._ls_parquet(str(d))) == 2
    assert serve.listing_cache.hits == h0 + 1
