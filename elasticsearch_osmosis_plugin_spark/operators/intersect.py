"""Boolean retrieval over the persisted index: posting intersection.

Posting-list intersection is semantically a semi-join chain
(SURVEY.md §2.C "Joins"): docs(t1) ⋉ docs(t2) ⋉ ... Ordering the chain
rarest-term-first (df ascending, from the dictionary) minimizes the
intermediate sizes — Catalyst broadcasts the small side automatically
under AQE when a term's postings are tiny.
"""

from __future__ import annotations

import math

from typing import Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from elasticsearch_osmosis_plugin_spark.operators.query import (
    _pruned_postings,
    dictionary_rows,
    live_docs,
    query_terms,
    term_docs,
    term_idfs,
    term_positions,
    term_vector_store,
)
from elasticsearch_osmosis_plugin_spark.plans.build import load_meta

# an aggregation's hit set: query text (an OR match) or a doc-id frame
Hits = str | DataFrame


def _one_term(text: str, meta: dict) -> str:
    """Analyze ``text`` and require exactly one token (span clauses
    take single-term operands)."""
    ts = query_terms(text, meta)
    if len(ts) != 1:
        raise ValueError(f"expected exactly one term, got {ts!r} "
                         f"from {text!r}")
    return ts[0]


def match_all_terms(spark: SparkSession, index_path: str, query: str) -> DataFrame:
    """doc_ids containing ALL query terms (conjunctive AND)."""
    meta = load_meta(index_path)
    terms = query_terms(query, meta)
    dic = dictionary_rows(spark, index_path, terms, meta)
    if dic.empty or len(dic) < len(terms):
        # some term matches nothing -> empty intersection
        return spark.createDataFrame([], "doc_id long")
    order = list(dic.sort_values(["df", "term"])["term"])  # rarest first
    out = term_docs(spark, index_path, order[:1], meta) \
        .select("doc_id").distinct()
    for t in order[1:]:
        out = out.join(term_docs(spark, index_path, [t], meta), "doc_id",
                       "left_semi")
    return out.orderBy("doc_id")


def phrase_match_expr(tokens_col, terms: list[str]):
    """Column predicate: token array contains ``terms`` as a contiguous
    subsequence. Pure Catalyst (exists over slice equality)."""
    n = len(terms)
    phrase = F.array(*[F.lit(t) for t in terms])
    k = F.size(tokens_col) - (n - 1)
    return F.when(k >= 1, F.exists(
        F.sequence(F.lit(1), k),
        lambda i: F.slice(tokens_col, i, n) == phrase)).otherwise(F.lit(False))


def match_phrase(spark: SparkSession, index_path: str, phrase: str,
                 slop: int = 0) -> DataFrame:
    """doc_ids containing the phrase's terms CONTIGUOUSLY IN ORDER
    (ES match_phrase analog). Two-stage plan, fully index-side when the
    index stores positions (the default — the role ES positional
    postings play):

    1. candidate docs = posting intersection (doc-id streams only);
    2. decode the phrase terms' POSITION streams, keep candidate docs,
       and check alignment: occurrence of term_i at position p matches
       the phrase when every other term_j has an occurrence at
       p + (j - i) — expressed as a groupBy on (doc, pos - i) counting
       distinct phrase slots, no per-row Python beyond the varbyte
       decode kernel.

    ``slop > 0`` is ES's SLOPPY phrase (SloppyPhraseMatcher semantics,
    not span_near's window rule): the cost of a match is the minimal
    total displacement ``min over occurrence choices and integer anchor
    a of sum_i |p_i - (a + i)|`` — ES's documented examples fall out
    exactly (one intervening token costs 1, an adjacent transposition
    costs 2, so "query join"~2 matches "join query" but ~1 does not).
    Returns (doc_id, slop_cost) with slop_cost <= slop. The anchor
    minimization is exact: cost is piecewise-linear in ``a``, so the
    minimum is attained at some occurrence's own alignment d = p - i,
    and only those anchors are enumerated. Phrases with a REPEATED
    term can undercount cost (two slots may claim one occurrence) —
    the same repeating-positions family of edge cases Lucene's greedy
    matcher documents. Requires positional postings.

    Falls back to term-vector adjacency verification for indexes built
    with ``store_positions=False`` (requires retained tokens;
    slop == 0 only)."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py

    meta = load_meta(index_path)
    terms = tokenize_py(phrase, meta["analyzer"],
                        min_len=meta.get("min_token_len", 1),
                        max_len=meta.get("max_token_len", 64))  # ordered!
    if not terms:
        return spark.createDataFrame([], "doc_id long")
    cands = match_all_terms(spark, index_path, phrase)
    if len(terms) == 1:
        if slop > 0:
            return cands.withColumn("slop_cost",
                                    F.lit(0).cast("int"))
        return cands

    if meta.get("positions", False):
        if slop > 0:
            docs = _slot_position_lists(
                spark, index_path, list(enumerate(terms)), cands, meta)
            ents = F.map_entries(F.col("m"))
            # candidate anchors: every occurrence's own alignment
            # d = p - slot (the minimum of the piecewise-linear cost
            # is attained at one of these)
            anchors = F.array_distinct(F.flatten(F.transform(
                ents, lambda kv: F.transform(
                    kv["value"], lambda p: p - kv["key"]))))

            def _cost(a):
                return F.aggregate(
                    ents, F.lit(0).cast("bigint"),
                    lambda acc, kv: acc + F.array_min(F.transform(
                        kv["value"],
                        lambda p: F.abs(p - (a + kv["key"])))))

            scored = docs.select(
                "doc_id",
                F.array_min(F.transform(anchors, _cost))
                .cast("int").alias("slop_cost"))
            return (scored.filter(F.col("slop_cost") <= slop)
                    .orderBy("doc_id"))

        uniq = sorted(set(terms))
        posts = _pruned_postings(spark, index_path, uniq, meta)
        occ = term_positions(posts).join(cands, "doc_id", "left_semi")
        slots = spark.createDataFrame(
            [(i, t) for i, t in enumerate(terms)], "slot int, term string")
        aligned = (occ.join(F.broadcast(slots), "term")
                   .select("doc_id", (F.col("pos") - F.col("slot")).alias("apos"),
                           "slot"))
        hits = (aligned.groupBy("doc_id", "apos")
                .agg(F.countDistinct("slot").alias("n_slots"))
                .filter(F.col("n_slots") == len(terms)))
        return hits.select("doc_id").distinct().orderBy("doc_id")

    if slop > 0:
        raise ValueError("sloppy phrase (slop > 0) needs positional "
                         "postings (store_positions=True)")
    ds = term_vector_store(
        spark, index_path,
        "phrase match without positional postings (store_positions=True)")
    verified = (ds.select("doc_id", "tokens")
                .join(cands, "doc_id", "left_semi")
                .filter(phrase_match_expr(F.col("tokens"), terms)))
    return verified.select("doc_id").orderBy("doc_id")


def _slot_position_lists(spark, index_path, slot_terms, cands, meta):
    """Decode the position streams of the (slot, term) pairs, keep
    candidate docs, and pivot to one row per doc with a slot->sorted
    positions map -> (doc_id, m) for docs where EVERY slot has >=1
    occurrence. ``slot_terms`` may map several terms to one slot
    (phrase-prefix expansions) or one term to several slots."""
    uniq = sorted({t for _, t in slot_terms})
    posts = _pruned_postings(spark, index_path, uniq, meta)
    occ = term_positions(posts).join(cands, "doc_id", "left_semi")
    slots = spark.createDataFrame(list(slot_terms), "slot int, term string")
    n_slots = len({s for s, _ in slot_terms})
    per = (occ.join(F.broadcast(slots), "term")
           .groupBy("doc_id", "slot")
           .agg(F.sort_array(F.collect_set("pos")).alias("poss")))
    return (per.groupBy("doc_id")
            .agg(F.map_from_entries(
                     F.collect_list(F.struct("slot", "poss"))).alias("m"),
                 F.count(F.lit(1)).alias("_ns"))
            .filter(F.col("_ns") == n_slots))


def span_near(spark: SparkSession, index_path: str, phrase: str,
              slop: int = 0, in_order: bool = True) -> DataFrame:
    """ES/Lucene span_near analog over positional postings: doc_ids
    where the phrase's terms all occur within ``slop`` intervening
    positions (Lucene rule: span_length - n_terms <= slop; slop=0 +
    in_order=True degenerates to match_phrase).

    - ``in_order=True``: exists positions p_1 < ... < p_k (one per
      term, phrase order) with p_k - p_1 - (k-1) <= slop. Checked by
      the greedy chain (next = smallest occurrence after the running
      position), which provably minimizes p_k for each start p_1.
    - ``in_order=False``: exists a window of span <= slop + k covering
      one occurrence of every term (smallest-range check anchored at
      each candidate start position). Requires distinct terms (a
      repeated term could otherwise reuse one occurrence twice).

    Plan: candidate docs = posting intersection; ONE positions decode
    for the term set; per-doc slot->positions map; the existence check
    is a pure Catalyst expression (exists/aggregate over arrays) — no
    per-row Python, work per doc bounded by its occurrence counts."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py

    meta = load_meta(index_path)
    terms = tokenize_py(phrase, meta["analyzer"],
                        min_len=meta.get("min_token_len", 1),
                        max_len=meta.get("max_token_len", 64))  # ordered!
    if not terms:
        return spark.createDataFrame([], "doc_id long")
    if not meta.get("positions", False):
        raise ValueError("span_near needs positional postings "
                         "(store_positions=True)")
    if not in_order and len(set(terms)) < len(terms):
        raise ValueError("unordered span_near requires distinct terms")
    cands = match_all_terms(spark, index_path, phrase)
    if len(terms) == 1:
        return cands
    k = len(terms)
    doc = _slot_position_lists(spark, index_path,
                               list(enumerate(terms)), cands, meta)
    lists = [F.col("m")[i] for i in range(k)]

    if in_order:
        rest = F.array(*lists[1:])

        def ok(s):
            chain = F.aggregate(
                rest, s,
                lambda acc, arr: F.when(
                    acc.isNull(), F.lit(None).cast("long")
                ).otherwise(F.array_min(F.filter(arr, lambda x: x > acc))))
            return F.coalesce(chain - s - F.lit(k - 1) <= F.lit(slop),
                              F.lit(False))

        pred = F.exists(lists[0], ok)
    else:
        allv = F.array(*lists)

        def ok(s):
            # max over slots of (smallest occurrence >= s); null if any
            # slot has none — the tightest window anchored at s.
            # greatest() SKIPS nulls, so an empty filter must null the
            # accumulator explicitly or a missing slot looks satisfied.
            def merge(acc, arr):
                nxt = F.array_min(F.filter(arr, lambda x: x >= s))
                return F.when(acc.isNull() | nxt.isNull(),
                              F.lit(None).cast("long")) \
                    .otherwise(F.greatest(acc, nxt))

            far = F.aggregate(allv, s, merge)
            return F.coalesce(far - s - F.lit(k - 1) <= F.lit(slop),
                              F.lit(False))

        pred = F.exists(F.array_sort(F.array_distinct(F.flatten(allv))), ok)
    return doc.filter(pred).select("doc_id").orderBy("doc_id")


def span_first(spark: SparkSession, index_path: str, term: str,
               end: int) -> DataFrame:
    """ES/Lucene span_first: docs where the term span ends at or before
    position ``end`` — for a single-term span at 0-based position p the
    span end is p+1, so the rule is p < end (Lucene
    ``SpanFirstQuery``). One pruned positions decode for the term, a
    min-position aggregate, no doc-store touch."""
    meta = load_meta(index_path)
    if not meta.get("positions", False):
        raise ValueError("span_first needs positional postings")
    t = _one_term(term, meta)
    posts = _pruned_postings(spark, index_path, [t], meta)
    occ = term_positions(posts)
    occ = live_docs(spark, index_path, occ, meta)
    return (occ.groupBy("doc_id").agg(F.min("pos").alias("_p"))
            .filter(F.col("_p") < int(end))
            .select("doc_id").orderBy("doc_id"))


def span_not(spark: SparkSession, index_path: str, include: str,
             exclude: str, pre: int = 0, post: int = 0) -> DataFrame:
    """ES/Lucene span_not: docs with an occurrence of ``include`` that
    does NOT overlap an occurrence of ``exclude`` widened by ``pre``
    positions before and ``post`` after (Lucene ``SpanNotQuery``
    semantics on single-term spans: keep p iff no exclude occurrence q
    with p - pre <= q <= p + post).

    ONE positions decode for both terms; the per-doc existence check is
    a pure Catalyst exists/filter over the two position arrays — docs
    without any exclude occurrence pass trivially (left join)."""
    meta = load_meta(index_path)
    if not meta.get("positions", False):
        raise ValueError("span_not needs positional postings")
    ti = _one_term(include, meta)
    te = _one_term(exclude, meta)
    if ti == te:
        raise ValueError("span_not include and exclude must differ")
    uniq = sorted({ti, te})
    posts = _pruned_postings(spark, index_path, uniq, meta)
    occ = term_positions(posts)
    occ = live_docs(spark, index_path, occ, meta)
    per = (occ.groupBy("doc_id")
           .agg(F.sort_array(F.collect_list(
                    F.when(F.col("term") == ti, F.col("pos")))).alias("inc"),
                F.sort_array(F.collect_list(
                    F.when(F.col("term") == te, F.col("pos")))).alias("exc")))
    keep = F.exists(
        F.col("inc"),
        lambda p: ~F.exists(F.col("exc"),
                            lambda q: (q >= p - F.lit(int(pre)))
                            & (q <= p + F.lit(int(post)))))
    return (per.filter(F.size("inc") > 0).filter(keep)
            .select("doc_id").orderBy("doc_id"))


def span_or_near(spark: SparkSession, index_path: str,
                 slots: list[list[str]], slop: int = 0,
                 in_order: bool = True) -> DataFrame:
    """Lucene span_or composed under span_near: each slot is a LIST of
    alternative terms (a ``span_or`` clause); the document matches when
    some choice of one alternative per slot satisfies the span_near
    window rule. ``_slot_position_lists`` already merges several terms
    into one slot's position list, which is exactly span_or's union-of-
    spans semantics for single-term alternatives.

    Same plan as span_near: one positions decode for the term union,
    candidates = docs with >=1 alternative in EVERY slot."""
    meta = load_meta(index_path)
    if not meta.get("positions", False):
        raise ValueError("span_or_near needs positional postings")
    norm = [[_one_term(t, meta) for t in alts] for alts in slots]
    if not norm or any(not alts for alts in norm):
        raise ValueError("every slot needs >=1 alternative term")
    if not in_order:
        flat = [t for alts in norm for t in alts]
        if len(set(flat)) < len(flat):
            raise ValueError("unordered span_or_near requires distinct terms")
    # candidates: per-slot OR, all slots ANDed — via the grouped decode
    slot_terms = [(i, t) for i, alts in enumerate(norm) for t in alts]
    k = len(norm)
    all_docs = match_any_terms(
        spark, index_path, " ".join(sorted({t for _, t in slot_terms})))
    doc = _slot_position_lists(spark, index_path, slot_terms, all_docs, meta)
    lists = [F.col("m")[i] for i in range(k)]
    if k == 1:
        return doc.select("doc_id").orderBy("doc_id")

    if in_order:
        rest = F.array(*lists[1:])

        def ok(s):
            chain = F.aggregate(
                rest, s,
                lambda acc, arr: F.when(
                    acc.isNull(), F.lit(None).cast("long")
                ).otherwise(F.array_min(F.filter(arr, lambda x: x > acc))))
            return F.coalesce(chain - s - F.lit(k - 1) <= F.lit(slop),
                              F.lit(False))

        pred = F.exists(lists[0], ok)
    else:
        allv = F.array(*lists)

        def ok(s):
            def merge(acc, arr):
                nxt = F.array_min(F.filter(arr, lambda x: x >= s))
                return F.when(acc.isNull() | nxt.isNull(),
                              F.lit(None).cast("long")) \
                    .otherwise(F.greatest(acc, nxt))

            far = F.aggregate(allv, s, merge)
            return F.coalesce(far - s - F.lit(k - 1) <= F.lit(slop),
                              F.lit(False))

        pred = F.exists(F.array_sort(F.array_distinct(F.flatten(allv))), ok)
    return doc.filter(pred).select("doc_id").orderBy("doc_id")


def match_phrase_prefix(spark: SparkSession, index_path: str, phrase: str,
                        max_expansions: int = 50) -> DataFrame:
    """ES match_phrase_prefix analog: the last term is treated as a
    PREFIX — the phrase matches when the fixed terms are contiguous and
    the next position holds ANY dictionary expansion of the prefix
    (capped at ``max_expansions`` in term order, ES's deterministic
    cap).

    Plan: dictionary expansion (metadata-only) -> positions decode for
    fixed terms + expansions -> the same (pos - slot) alignment groupBy
    as match_phrase, with every expansion mapped to the LAST slot."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py

    meta = load_meta(index_path)
    terms = tokenize_py(phrase, meta["analyzer"],
                        min_len=meta.get("min_token_len", 1),
                        max_len=meta.get("max_token_len", 64))  # ordered!
    if not terms:
        return spark.createDataFrame([], "doc_id long")
    fixed, prefix = terms[:-1], terms[-1]
    expansions = expand_terms(spark, index_path, prefix, mode="prefix",
                              max_expansions=max_expansions, _meta=meta)
    if not expansions:
        return spark.createDataFrame([], "doc_id long")
    if not fixed:
        return match_expanded(spark, index_path, prefix, mode="prefix",
                              max_expansions=max_expansions)
    if not meta.get("positions", False):
        raise ValueError("match_phrase_prefix needs positional postings "
                         "(store_positions=True)")
    cands = match_all_terms(spark, index_path, " ".join(fixed))
    slot_terms = ([(i, t) for i, t in enumerate(fixed)]
                  + [(len(fixed), e) for e in expansions])
    uniq = sorted({t for _, t in slot_terms})
    posts = _pruned_postings(spark, index_path, uniq, meta)
    occ = term_positions(posts).join(cands, "doc_id", "left_semi")
    slots = spark.createDataFrame(slot_terms, "slot int, term string")
    n = len(fixed) + 1
    aligned = (occ.join(F.broadcast(slots), "term")
               .select("doc_id", (F.col("pos") - F.col("slot")).alias("apos"),
                       "slot"))
    hits = (aligned.groupBy("doc_id", "apos")
            .agg(F.countDistinct("slot").alias("n_slots"))
            .filter(F.col("n_slots") == n))
    return hits.select("doc_id").distinct().orderBy("doc_id")


def expand_terms(spark: SparkSession, index_path: str, pattern: str,
                 mode: str = "prefix", max_expansions: int = 50,
                 _meta=None, _dic=None) -> list[str]:
    """Dictionary expansion for multi-term queries (ES prefix /
    wildcard / regexp analog): scan the DICTIONARY (tiny — metadata
    columns only, never postings) for terms matching the pattern and
    return the first ``max_expansions`` in term order — exactly ES's
    deterministic expansion cap. ``mode``: "prefix" (startswith) or
    "regex" (Java regex, full-term anchored match like ES regexp).

    A prefix pattern cannot prune term buckets (bucket = hash(term)),
    so this reads every bucket's dictionary rows — still metadata-tiny
    relative to any posting scan."""
    from elasticsearch_osmosis_plugin_spark.plans.build import dictionary_df

    dic = dictionary_df(spark, index_path) if _dic is None else _dic
    if mode == "prefix":
        m = dic.filter(F.col("term").startswith(pattern))
    elif mode == "regex":
        m = dic.filter(F.col("term").rlike(f"^(?:{pattern})$"))
    else:
        raise ValueError(f"unknown expansion mode: {mode}")
    rows = (m.select("term").distinct().orderBy("term")
            .limit(max_expansions).collect())
    return [r["term"] for r in rows]


def _osa_udf(query: str):
    """Optimal-string-alignment (Damerau with non-overlapping adjacent
    transpositions — Lucene's fuzzy model when transpositions=true)
    as an Arrow-batched kernel. Runs only over the length-prefiltered
    DICTIONARY slice (metadata-sized), never the corpus, so the
    per-string Python DP is bounded by vocabulary, not data."""
    from pyspark.sql import types as T

    def osa(a: str, b: str) -> int:
        la, lb = len(a), len(b)
        prev2, prev = None, list(range(lb + 1))
        for i in range(1, la + 1):
            cur = [i] + [0] * lb
            for j in range(1, lb + 1):
                cost = 0 if a[i - 1] == b[j - 1] else 1
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
                if (i > 1 and j > 1 and a[i - 1] == b[j - 2]
                        and a[i - 2] == b[j - 1]):
                    cur[j] = min(cur[j], prev2[j - 2] + 1)
            prev2, prev = prev, cur
        return prev[lb]

    @F.pandas_udf(T.IntegerType())
    def _d(s: pd.Series) -> pd.Series:
        return s.map(lambda t: osa(t, query))

    return _d


def expand_fuzzy(spark: SparkSession, index_path: str, term: str,
                 max_edits: int = 1, max_expansions: int = 50,
                 transpositions: bool = False,
                 _dic=None) -> list[str]:
    """ES fuzzy-query expansion: dictionary terms within edit distance
    ``max_edits`` of ``term`` (ES AUTO fuzziness caps at 2).
    ``transpositions=True`` switches Levenshtein to OSA/Damerau (an
    adjacent swap costs 1, Lucene's transpositions=true default); the
    plain-Levenshtein default stays the JVM ``levenshtein`` codegen
    path. A length pre-filter (||t|-|q|| <= max_edits) prunes the
    dictionary scan before the edit-distance kernel runs; expansion is
    capped deterministically by (distance, term) — closest first,
    exactly ES's behavior of preferring nearer terms under the cap."""
    from elasticsearch_osmosis_plugin_spark.plans.build import dictionary_df

    dic = dictionary_df(spark, index_path) if _dic is None else _dic
    cand = dic.filter(
        F.abs(F.length("term") - F.lit(len(term))) <= max_edits)
    d = (_osa_udf(term)(F.col("term")) if transpositions
         else F.levenshtein(F.col("term"), F.lit(term)))
    rows = (cand.select("term", d.alias("d"))
            .filter(F.col("d") <= max_edits)
            .select("term", "d").distinct()
            .orderBy("d", "term").limit(max_expansions).collect())
    return [r["term"] for r in rows]


def match_fuzzy(spark: SparkSession, index_path: str, term: str,
                max_edits: int = 1, max_expansions: int = 50,
                transpositions: bool = False) -> DataFrame:
    """doc_ids containing >=1 term within ``max_edits`` of ``term``
    (constant-score, ES fuzzy-query analog)."""
    meta = load_meta(index_path)
    terms = expand_fuzzy(spark, index_path, term, max_edits, max_expansions,
                         transpositions=transpositions)
    if not terms:
        return spark.createDataFrame([], "doc_id long")
    return (term_docs(spark, index_path, terms, meta).select("doc_id")
            .distinct().orderBy("doc_id"))


def match_expanded(spark: SparkSession, index_path: str, pattern: str,
                   mode: str = "prefix",
                   max_expansions: int = 50) -> DataFrame:
    """doc_ids containing >=1 term matching the pattern
    (constant-score, like ES prefix/wildcard/regexp queries)."""
    meta = load_meta(index_path)
    terms = expand_terms(spark, index_path, pattern, mode, max_expansions,
                         _meta=meta)
    if not terms:
        return spark.createDataFrame([], "doc_id long")
    return (term_docs(spark, index_path, terms, meta).select("doc_id")
            .distinct().orderBy("doc_id"))


def stats_agg(spark: SparkSession, index_path: str, query: Hits,
              value_col: str) -> DataFrame:
    """ES stats-aggregation analog: count/min/max/sum/avg of a
    doc-store numeric column over the docs matching ``query``.
    One semi-join (hits prune the doc-store scan to (doc_id,
    value_col)) + a scalar aggregate — no shuffle wider than the
    matching doc-id stream. ``sum_v`` is a double, as in ES: a BIGINT
    column's long sum would overflow."""
    v = F.col(value_col)
    return (_hit_values(spark, index_path, query, value_col)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(v).alias("min_v"), F.max(v).alias("max_v"),
                 F.sum(v.cast("double")).alias("sum_v"),
                 F.avg(v).alias("avg_v")))


CALENDAR_INTERVALS = ("hour", "day", "week", "month", "quarter", "year")


def date_histogram(df: DataFrame, ts_col: str,
                   interval: str = "day") -> DataFrame:
    """ES date_histogram (calendar_interval) core: bucket a timestamp
    column by calendar boundary -> (bucket, n_docs) ordered by bucket.
    ``date_trunc`` is a plain Catalyst expression, so this is one
    map-side-combined groupBy whatever the input size; bucket
    boundaries are session-timezone (UTC here) exactly like ES's
    default. Works over any DataFrame (e.g. an event log) — the
    query-hit variant is ``date_histogram_agg``."""
    if interval not in CALENDAR_INTERVALS:
        raise ValueError(f"interval must be one of {CALENDAR_INTERVALS}")
    return (df.groupBy(F.date_trunc(interval, F.col(ts_col)).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("bucket"))


_FIXED_UNIT_US = {"ms": 1_000, "s": 1_000_000, "m": 60_000_000,
                  "h": 3_600_000_000, "d": 86_400_000_000}


def date_histogram_fixed(df: DataFrame, ts_col: str,
                         fixed_interval: str) -> DataFrame:
    """ES date_histogram with ``fixed_interval`` ("90s", "30m", "2h",
    "7d", ...): constant-width epoch-aligned buckets, as opposed to
    the calendar boundaries of :func:`date_histogram`. Exact
    microsecond arithmetic (unix_micros floor-division), one map-side-
    combined groupBy — and because the bucket function is a pure
    epoch expression, the SAME query is twin-able in any SQL engine."""
    import re as _re

    m = _re.fullmatch(r"(\d+)(ms|s|m|h|d)", fixed_interval)
    if not m:
        raise ValueError(f"bad fixed_interval: {fixed_interval!r}")
    width_us = int(m.group(1)) * _FIXED_UNIT_US[m.group(2)]
    if width_us <= 0:
        raise ValueError("fixed_interval must be positive")
    # NTZ columns cast to instant semantics under the engine's fixed
    # UTC session timezone (same convention as the calendar variant)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bucket = F.timestamp_micros(
        (F.floor(us / F.lit(width_us)) * F.lit(width_us)).cast("long"))
    return (df.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("bucket"))


def date_histogram_agg(spark: SparkSession, index_path: str, query: Hits,
                       date_col: str, interval: str = "day") -> DataFrame:
    """ES date_histogram aggregation over the docs matching ``query``:
    the hit stream semi-joins the doc-store (pruned to (doc_id,
    date_col)), then one calendar-bucket groupBy."""
    return date_histogram(_hit_values(spark, index_path, query, date_col),
                          date_col, interval)


def histogram_agg(spark: SparkSession, index_path: str, query: Hits,
                  value_col: str, interval: float) -> DataFrame:
    """ES histogram-aggregation analog: bucket a doc-store numeric
    column of the matching docs by fixed-width intervals
    (bucket = floor(v / interval) * interval, ES's exact rule) ->
    (bucket, n_docs)."""
    bucket = (F.floor(F.col(value_col) / interval) * interval) \
        .cast("long").alias("bucket")
    return (_hit_values(spark, index_path, query, value_col)
            .groupBy(bucket).agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("bucket"))


def terms_stats_facet(spark: SparkSession, index_path: str, query: Hits,
                      facet_col: str, value_col: str) -> DataFrame:
    """ES terms_stats facet (the 0.90-era bucketed-stats workhorse,
    today's terms-agg + stats sub-agg): for each value of a doc-store
    field over the matching docs -> (facet, n, min_v, max_v, sum_v,
    avg_v), count-desc then facet order. One semi-join + one grouped
    aggregate — all five stats map-side combine."""
    v = F.col(value_col)
    return (_hit_values(spark, index_path, query, facet_col, value_col)
            .groupBy(facet_col)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(v).alias("min_v"), F.max(v).alias("max_v"),
                 F.sum(v).alias("sum_v"), F.avg(v).alias("avg_v"))
            .orderBy(F.desc("n"), F.asc(facet_col)))


def range_agg(spark: SparkSession, index_path: str, query: Hits,
              value_col: str,
              ranges: Sequence[tuple[float | None, float | None]]
              ) -> DataFrame:
    """ES range aggregation: explicit [from, to) buckets over a
    doc-store numeric column of the matching docs -> (bucket, n_docs),
    bucket labelled "from-to" with ES's open-end conventions ("*-to",
    "from-*"). A doc lands in EVERY range that contains it (ES
    semantics: ranges may overlap), so the implementation is one
    literal array of range structs filtered per row + explode — no
    join, and the groupBy is over <= len(ranges) keys."""
    hits = _hit_values(spark, index_path, query, value_col)
    v = F.col(value_col).cast("double")
    entries = []
    for lo, hi in ranges:
        label = (f"{lo:g}" if lo is not None else "*") + "-" + \
                (f"{hi:g}" if hi is not None else "*")
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (v >= float(lo))
        if hi is not None:
            cond = cond & (v < float(hi))
        entries.append(F.when(cond, F.lit(label)))
    buckets = F.array_compact(F.array(*entries))
    return (hits.select(F.explode(buckets).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("bucket"))


def filters_agg(spark: SparkSession, index_path: str, query: Hits,
                named_filters: dict) -> DataFrame:
    """ES filters aggregation: named filter-context buckets over the
    docs matching ``query`` -> (bucket, n_docs), bucket-name order.
    ``named_filters``: {name: Column predicate over doc-store columns}
    (build them with ``dsl.filter_column`` for the JSON form). One
    semi-joined doc-store pass computes EVERY bucket as a conditional
    sum — no per-bucket scan, buckets may overlap (ES semantics)."""
    if not named_filters:
        return spark.createDataFrame([], "bucket string, n_docs long")
    counts = _hit_values(spark, index_path, query).agg(*[
        F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"_c{i}")
        for i, (_, cond) in enumerate(sorted(named_filters.items(),
                                             key=lambda kv: kv[0]))])
    names = sorted(named_filters)
    stack = ", ".join(f"'{n}', _c{i}" for i, n in enumerate(names))
    return (counts.selectExpr(
        f"stack({len(names)}, {stack}) AS (bucket, n_docs)")
        .orderBy("bucket"))


def missing_agg(spark: SparkSession, index_path: str, query: Hits,
                field: str) -> DataFrame:
    """ES missing aggregation: count of matching docs with a null
    field -> one (n_missing) row (degenerate filters_agg)."""
    out = filters_agg(spark, index_path, query,
                      {"missing": F.col(field).isNull()})
    return out.select(F.col("n_docs").alias("n_missing"))


def percentiles_agg(spark: SparkSession, index_path: str, query: Hits,
                    value_col: str,
                    percentiles: tuple = (0.25, 0.5, 0.75, 0.95),
                    exact: bool = True,
                    accuracy: int = 10000) -> DataFrame:
    """ES percentiles-aggregation analog: percentile estimates of a
    doc-store numeric column over the docs matching ``query`` ->
    (pct, value).

    ``exact=True`` uses Spark's exact ``percentile`` (linear
    interpolation at index p*(n-1) — the same rule DuckDB's
    ``quantile_cont`` applies, giving a value-for-value oracle).
    ``exact=False`` switches to ``percentile_approx`` (Greenwald-
    Khanna sketch, mergeable map-side) — the 100 TB path, mirroring
    how ES itself serves this agg with a t-digest sketch rather than
    exact ranks."""
    vals = _hit_values(spark, index_path, query, value_col)
    pcts = [float(p) for p in percentiles]
    pct_arr = F.array(*[F.lit(p) for p in pcts])
    v = F.col(value_col).cast("double")
    agg = (F.percentile(v, pct_arr) if exact
           else F.percentile_approx(v, pct_arr, F.lit(int(accuracy))))
    return (vals.agg(agg.alias("vs"))
            .select(F.posexplode("vs").alias("pos", "value"))
            .select(F.element_at(pct_arr, F.col("pos") + 1).alias("pct"),
                    "value")
            .orderBy("pct"))


def highlight(spark: SparkSession, index_path: str, query: str,
              window: int = 3) -> DataFrame:
    """ES highlight analog: for every doc matching >=1 query term,
    the token snippet around the FIRST occurrence (lowest position) of
    any query term -> (doc_id, first_pos, snippet).

    Index-side plan: decode the query terms' POSITION streams (never
    the full corpus), min(pos) per doc, then one semi-joined doc-store
    read slices the stored term vector around it — the doc-store scan
    is pruned to (doc_id, tokens) of matching docs only."""
    meta = load_meta(index_path)
    terms = query_terms(query, meta)
    dic = dictionary_rows(spark, index_path, terms, meta)
    if dic.empty:
        return spark.createDataFrame(
            [], "doc_id long, first_pos long, snippet string")
    if not meta.get("positions", False):
        raise ValueError("highlight needs positional postings "
                         "(store_positions=True)")
    ds = term_vector_store(spark, index_path, "highlight")
    live = sorted(dic["term"])
    posts = _pruned_postings(spark, index_path, live, meta)
    occ = term_positions(posts)
    first = (live_docs(spark, index_path, occ, meta)
             .groupBy("doc_id").agg(F.min("pos").alias("first_pos")))
    # stored positions are 0-based; slice() is 1-based
    start = F.greatest(F.lit(1), F.col("first_pos") + 1 - window)
    length = F.least(F.size("tokens"),
                     F.col("first_pos") + 1 + window) - start + 1
    return (ds.select("doc_id", "tokens").join(first, "doc_id")
            .select("doc_id", "first_pos",
                    F.array_join(F.slice("tokens", start, length), " ")
                    .alias("snippet"))
            .orderBy("doc_id"))


def more_like_this(spark: SparkSession, index_path: str, like_doc_id: int,
                   max_query_terms: int = 5, k: int = 10) -> DataFrame:
    """ES more_like_this analog: select the source doc's
    ``max_query_terms`` most characteristic terms (tf*idf descending,
    term ascending — deterministic) from its stored term vector, then
    run top-k BM25 with them, excluding the source doc itself.

    The term-selection reads ONE doc-store row (doc_id-pruned parquet
    scan) + a dictionary lookup; the retrieval is the standard pruned
    topk path."""
    from collections import Counter

    from elasticsearch_osmosis_plugin_spark.operators.query import topk

    meta = load_meta(index_path)
    ds = term_vector_store(spark, index_path, "more_like_this")
    rows = (ds.filter(F.col("doc_id") == like_doc_id)
            .select("tokens").collect())
    if not rows:
        raise KeyError(f"doc {like_doc_id} not found")
    tf = Counter(rows[0]["tokens"])
    dic = dictionary_rows(spark, index_path, sorted(tf), meta)
    ranked = sorted((-tf[t] * v, t) for t, v in term_idfs(dic, meta).items())
    terms = [t for _, t in ranked[:max_query_terms]]
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    res = topk(spark, index_path, " ".join(terms), k=k + 1)
    return (res.filter(F.col("doc_id") != like_doc_id)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def more_like_this_text(spark: SparkSession, index_path: str, like: str,
                        max_query_terms: int = 5, k: int = 10) -> DataFrame:
    """ES more_like_this with free TEXT ``like`` (no stored doc): the
    input analyzes through the index's own chain, the most
    characteristic terms (tf*idf, deterministic ties) become the
    query, and nothing is excluded from the results (there is no
    source doc). The dictionary lookup prices idf; unknown terms drop
    out exactly as ES ignores terms absent from the index."""
    from collections import Counter

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py,
    )
    from elasticsearch_osmosis_plugin_spark.operators.query import topk

    meta = load_meta(index_path)
    tf = Counter(tokenize_py(like, meta["analyzer"],
                             min_len=meta.get("min_token_len", 1),
                             max_len=meta.get("max_token_len", 64)))
    dic = dictionary_rows(spark, index_path, sorted(tf), meta)
    ranked = sorted((-tf[t] * v, t) for t, v in term_idfs(dic, meta).items())
    terms = [t for _, t in ranked[:max_query_terms]]
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return topk(spark, index_path, " ".join(terms), k=k)


def term_vectors(spark: SparkSession, index_path: str,
                 doc_id: int) -> DataFrame:
    """ES _termvectors API analog: per-term statistics of ONE document
    -> (term, tf, positions, df, cf), term-ordered. ``tf``/``positions``
    come from the doc's stored term vector (one doc-id-pruned doc-store
    row — like ES, this API needs stored term vectors; after
    ``merge.drop_term_vectors`` it raises); ``df``/``cf`` are the
    collection statistics from the dictionary (the ES
    ``term_statistics=true`` flavor), fetched with the usual tiny
    bucket-pruned lookup."""
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        dictionary_rows,
    )

    meta = load_meta(index_path)
    ds = term_vector_store(spark, index_path, "term_vectors")
    rows = ds.filter(F.col("doc_id") == doc_id).select("tokens").collect()
    if not rows:
        raise KeyError(f"doc {doc_id} not found")
    tf: dict[str, int] = {}
    pos: dict[str, list[int]] = {}
    for i, t in enumerate(rows[0]["tokens"]):
        tf[t] = tf.get(t, 0) + 1
        pos.setdefault(t, []).append(i)
    dic = dictionary_rows(spark, index_path, sorted(tf), meta)
    stats = {r.term: (int(r.df), int(r.cf)) for r in dic.itertuples()}
    out = [(t, tf[t], pos[t], *stats[t]) for t in sorted(tf)]
    return spark.createDataFrame(
        out, "term string, tf long, positions array<long>, df long, cf long")


def significant_terms(spark: SparkSession, index_path: str, query: Hits,
                      size: int = 10, min_doc_count: int = 3,
                      heuristic: str = "jlh") -> DataFrame:
    """ES significant_terms aggregation analog: terms over-represented
    in the query's hit set relative to the background corpus, scored
    with ES's pluggable significance-heuristic family (``heuristic``,
    the same names ES's agg body takes):

    - ``jlh`` (ES default): (fg_rate - bg_rate) * (fg_rate / bg_rate)
      with fg_rate = df_fg / n_hits, bg_rate = df_bg / n_docs;
    - ``chi_square``: Pearson chi² of the 2x2 (term x in-hit-set)
      contingency table with background-is-superset cell algebra
      (a=df_fg, b=df_bg-df_fg, c=n_fg-df_fg, d=n_docs-n_fg-b);
    - ``mutual_information``: the table's MI in bits (log2), each of
      the four cells contributing p(x,y)·log2(p(x,y)/(p(x)p(y))),
      zero-count cells contributing 0;
    - ``gnd``: 1 / (1 + Google-normalized distance) with
      fx=df_bg, fy=n_fg, fxy=df_fg — a similarity in (0, 1];
    - ``percentage``: df_fg / df_bg.

    Formulas are the standard published ones for each name (the exact
    ES source constants — e.g. MI's include_negatives sign flip — are
    not bit-promised; the score column is NAMED after the heuristic so
    callers see which contract they got).

    Plan: foreground doc frequencies come from the HIT DOCS' stored
    term vectors (doc-store scan semi-join-pruned to the hit stream,
    distinct terms exploded, one count per term); background
    frequencies come from the DICTIONARY (metadata-only, no posting
    decode). Output: (term, df_fg, df_bg, <heuristic>) ordered score
    desc, term asc, limit ``size`` — deterministic."""
    from elasticsearch_osmosis_plugin_spark.plans.build import dictionary_df

    meta = load_meta(index_path)
    term_vector_store(spark, index_path, "significant_terms")
    fg_docs = _hit_values(spark, index_path, query, "tokens")
    fg = (fg_docs
          .select(F.explode(F.array_distinct("tokens")).alias("term"))
          .groupBy("term").agg(F.count(F.lit(1)).alias("df_fg")))
    n_fg = fg_docs.select(F.count(F.lit(1)).alias("n_fg"))
    bg = (dictionary_df(spark, index_path)
          .groupBy("term").agg(F.sum("df").alias("df_bg")))
    return (fg.join(bg, "term").crossJoin(F.broadcast(n_fg))
            .filter(F.col("df_fg") >= min_doc_count)
            .select("term", "df_fg", "df_bg",
                    _sig_heuristic(heuristic, float(meta["n_docs"]))
                    .alias(heuristic))
            .orderBy(F.desc(heuristic), F.asc("term")).limit(size))


def _sig_heuristic(heuristic: str, n_docs: float):
    """The significance score Column for one heuristic name, over the
    joined (df_fg, df_bg, n_fg) frame. Shared by significant_terms
    (any heuristic) and significant_text (jlh)."""
    fg_rate = F.col("df_fg") / F.col("n_fg")
    bg_rate = F.col("df_bg") / F.lit(n_docs)
    if heuristic == "jlh":
        return (fg_rate - bg_rate) * (fg_rate / bg_rate)
    if heuristic == "percentage":
        return F.col("df_fg") / F.col("df_bg")
    a = F.col("df_fg").cast("double")
    b = (F.col("df_bg") - F.col("df_fg")).cast("double")
    c = (F.col("n_fg") - F.col("df_fg")).cast("double")
    n = F.lit(n_docs)
    d = n - F.col("n_fg") - b
    if heuristic == "chi_square":
        num = n * (a * d - b * c) * (a * d - b * c)
        den = (a + b) * (c + d) * (a + c) * (b + d)
        return F.when(den > 0, num / den).otherwise(F.lit(0.0))
    if heuristic == "mutual_information":
        def cell(o, rx, cx):
            p = o / n
            return F.when(o > 0,
                          p * F.log2(p / ((rx / n) * (cx / n)))) \
                    .otherwise(F.lit(0.0))

        return (cell(a, a + b, a + c) + cell(b, a + b, b + d)
                + cell(c, c + d, a + c) + cell(d, c + d, b + d))
    if heuristic == "gnd":
        fx = F.log(F.col("df_bg").cast("double"))
        fy = F.log(F.col("n_fg").cast("double"))
        fxy = F.log(F.col("df_fg").cast("double"))
        ngd = ((F.greatest(fx, fy) - fxy)
               / (F.log(n) - F.least(fx, fy)))
        return F.lit(1.0) / (F.lit(1.0) + ngd)
    raise ValueError(f"significant_terms: unknown heuristic {heuristic!r}")


def facet_counts(spark: SparkSession, index_path: str, query: Hits,
                 facet_col: str) -> DataFrame:
    """ES terms-aggregation analog: bucket the docs matching ``query``
    by a doc-store carry column -> (facet value, n_docs), count-desc
    then value for deterministic order.

    Plan: matching doc ids semi-join the doc-store — which prunes its
    scan to (doc_id, facet_col) — then a tiny groupBy on the facet
    values."""
    return (_hit_values(spark, index_path, query, facet_col)
            .groupBy(facet_col)
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc(facet_col)))


def terms_agg_sharded(spark: SparkSession, index_path: str, query: Hits,
                      facet_col: str, size: int = 10,
                      shard_size: int | None = None,
                      n_shards: int = 4) -> DataFrame:
    """ES terms aggregation with the DISTRIBUTED merge protocol made
    explicit: each of ``n_shards`` deterministic hash-shards returns
    its local top ``shard_size`` buckets, the coordinator merge sums
    the partial counts and reports ES's exact accuracy metadata —
    per-bucket ``doc_count_error_upper_bound`` (the worst case a
    shard's truncated tail could add: sum of the last-returned count of
    every shard that did NOT return the bucket; 0 for exhausted shards)
    and ``sum_other_doc_count`` (hits outside the final buckets).

    This is the semantics of ES's scatter-gather terms agg verbatim
    (shard_size defaults to ES's ``size * 1.5 + 10``); ``facet_counts``
    is the exact single-pass twin. At 100 TB the heavy work is ONE
    (shard, value) groupBy — the same single shuffle the exact agg
    pays — and everything after operates on <= n_shards * shard_size
    rows; the point of carrying the protocol is the error metadata,
    which tells a user when a truncated agg can be trusted.

    Shard = 60-bit md5 fold of doc_id mod n_shards — identical in
    Spark and the DuckDB oracle, so the gate checks the merge protocol
    value-for-value, error bounds included."""
    from pyspark.sql import Window as PW

    if shard_size is None:
        shard_size = int(size * 1.5 + 10)
    hits = _hit_values(spark, index_path, query, facet_col)
    shard = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                2, 15), 16, 10).cast("long")
             % F.lit(int(n_shards))).alias("shard")
    per = (hits.select(shard, facet_col)
           .groupBy("shard", facet_col)
           .agg(F.count(F.lit(1)).alias("c")))
    w = PW.partitionBy("shard").orderBy(F.desc("c"), F.asc(facet_col))
    ranked = (per.withColumn("rn", F.row_number().over(w))
              .withColumn("n_tot", F.count(F.lit(1))
                          .over(PW.partitionBy("shard"))))
    ret = ranked.filter(F.col("rn") <= shard_size)
    # a shard that returned ALL its buckets contributes no uncertainty
    serr = (ret.groupBy("shard")
            .agg(F.when(F.max("n_tot") <= shard_size, F.lit(0))
                 .otherwise(F.min("c")).cast("long").alias("err")))
    tot = serr.agg(F.sum("err").alias("total_err"))
    cand = ret.groupBy(facet_col).agg(F.sum("c").alias("doc_count"))
    pres = (ret.join(F.broadcast(serr), "shard")
            .groupBy(facet_col).agg(F.sum("err").alias("perr")))
    th = hits.agg(F.count(F.lit(1)).alias("total_hits"))
    top = (cand.join(pres, facet_col).crossJoin(F.broadcast(tot))
           .withColumn("doc_count_error_upper_bound",
                       (F.col("total_err") - F.col("perr")).cast("long"))
           .orderBy(F.desc("doc_count"), F.asc(facet_col)).limit(size))
    return (top.crossJoin(F.broadcast(th))
            .select(facet_col, "doc_count", "doc_count_error_upper_bound",
                    (F.col("total_hits")
                     - F.sum("doc_count").over(PW.partitionBy()))
                    .cast("long").alias("sum_other_doc_count")))


def match_min_should(spark: SparkSession, index_path: str, query: str,
                     min_should_match: int) -> DataFrame:
    """doc_ids containing >= ``min_should_match`` DISTINCT query terms
    (ES minimum_should_match analog). One decode of the terms' postings
    -> countDistinct(term) per doc -> threshold; degenerates to OR at 1
    and to AND at n_terms."""
    meta = load_meta(index_path)
    terms = query_terms(query, meta)
    dic = dictionary_rows(spark, index_path, terms, meta)
    if dic.empty or len(dic) < min_should_match:
        return spark.createDataFrame([], "doc_id long")
    return (term_docs(spark, index_path, list(dic["term"]), meta)
            .groupBy("doc_id")
            .agg(F.countDistinct("term").alias("n_terms"))
            .filter(F.col("n_terms") >= min_should_match)
            .select("doc_id").orderBy("doc_id"))


def terms_set(spark: SparkSession, index_path: str, terms_query: str,
              min_expr) -> DataFrame:
    """ES terms_set query: a doc matches when the number of DISTINCT
    query terms it contains >= a PER-DOC threshold
    (minimum_should_match_field — here generalized to any Column over
    doc-store rows, so ``F.col("required_matches")`` reproduces the ES
    field form exactly). Returns (doc_id, n_matched) ordered by doc_id
    (filter context, like match_bool).

    Plan: one decode of the query terms' postings -> per-doc distinct
    term count -> join the doc-store for the threshold columns (the
    hit-count stream is the small side; the store scan reads only
    doc_id + referenced columns) -> threshold predicate. A threshold
    larger than the number of live query terms can never match —
    mirrored by the plain predicate, no special-casing needed."""
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    meta = load_meta(index_path)
    terms = query_terms(terms_query, meta)
    dic = dictionary_rows(spark, index_path, terms, meta)
    if dic.empty:
        return spark.createDataFrame([], "doc_id long, n_matched long")
    hits = (term_docs(spark, index_path, list(dic["term"]), meta)
            .groupBy("doc_id")
            .agg(F.countDistinct("term").alias("n_matched")))
    ds = catalog.read_table(spark, index_path, "docstats")
    return (hits.join(ds, "doc_id")
            .filter(F.col("n_matched") >= min_expr)
            .select("doc_id", "n_matched").orderBy("doc_id"))


def match_bool(spark: SparkSession, index_path: str, *,
               must: str | None = None, should: str | None = None,
               must_not: str | None = None,
               minimum_should_match: int = 0) -> DataFrame:
    """ES bool-query analog (filter context, constant score):

    - ``must``: every term required (posting intersection);
    - ``should``: optional terms; with ``minimum_should_match`` > 0 at
      least that many DISTINCT should-terms must appear (when no must
      clause is given, ES defaults min_should_match to 1 — mirrored
      here);
    - ``must_not``: docs containing ANY of these terms are excluded
      (anti-join against the exclusion posting union — broadcast-able
      when the excluded terms are rare, Catalyst picks it under AQE).

    Composition is pure set algebra over doc-id streams; each clause's
    postings are read once, bucket- and term-pruned."""
    out = None
    if must:
        out = match_all_terms(spark, index_path, must)
    if should:
        msm = minimum_should_match
        if msm <= 0 and out is None:
            msm = 1  # pure-should bool: ES requires >=1 should hit
        if msm > 0:
            sh = match_min_should(spark, index_path, should, msm)
            out = sh if out is None else out.join(sh, "doc_id", "left_semi")
    if out is None:
        raise ValueError("bool query needs a must or should clause")
    if must_not:
        ex = match_any_terms(spark, index_path, must_not)
        out = out.join(ex, "doc_id", "left_anti")
    return out.orderBy("doc_id")


def match_any_terms(spark: SparkSession, index_path: str, query: str) -> DataFrame:
    """doc_ids containing >=1 query term (disjunctive OR) — union + dedupe."""
    meta = load_meta(index_path)
    terms = query_terms(query, meta)
    dic = dictionary_rows(spark, index_path, terms, meta)
    if dic.empty:
        return spark.createDataFrame([], "doc_id long")
    return (term_docs(spark, index_path, list(dic["term"]), meta)
            .select("doc_id").distinct().orderBy("doc_id"))

def suggest_terms(spark: SparkSession, index_path: str, text: str,
                  max_edits: int = 2, size: int = 5,
                  suggest_mode: str = "always", _dic=None) -> DataFrame:
    """ES term-suggester analog (did-you-mean): dictionary terms within
    Levenshtein distance ``max_edits`` of ``text``, ranked the way ES
    ranks suggestions — distance ascending, then document frequency
    descending (popularity), then term ascending for determinism.

    ``suggest_mode`` (ES's three): ``"always"`` (this module's
    default — ES defaults to missing), ``"missing"`` (suggest ONLY
    when ``text`` itself is absent from the index; a correctly-spelled
    query gets no did-you-mean), ``"popular"`` (only corrections
    strictly more frequent than the input term). In missing/popular
    modes the input term itself never appears as its own suggestion.

    Metadata-only plan: the DICTIONARY (term/df rows, no postings) is
    length-prefiltered (||t|-|text|| <= max_edits prunes before the
    edit-distance kernel), per-group rows are summed into corpus df,
    and the final ranking is a tiny TakeOrderedAndProject; the
    mode's self-df probe is one broadcast scalar over the same frame."""
    from elasticsearch_osmosis_plugin_spark.plans.build import dictionary_df

    if suggest_mode not in ("always", "missing", "popular"):
        raise ValueError(f"unknown suggest_mode {suggest_mode!r}")
    dic = dictionary_df(spark, index_path) if _dic is None else _dic
    terms = dic.groupBy("term").agg(F.sum("df").alias("df"))
    cand = terms.filter(
        F.abs(F.length("term") - F.lit(len(text))) <= max_edits)
    out = (cand.select(
               "term",
               F.levenshtein(F.col("term"), F.lit(text)).alias("distance"),
               "df")
           .filter(F.col("distance") <= max_edits))
    if suggest_mode in ("missing", "popular"):
        self_df = (terms.filter(F.col("term") == text)
                   .agg(F.max("df").alias("_self_df")))
        out = out.crossJoin(F.broadcast(self_df))
        if suggest_mode == "missing":
            out = out.filter(F.col("_self_df").isNull())
        else:
            out = out.filter(
                F.col("df") > F.coalesce(F.col("_self_df"), F.lit(0)))
        out = out.drop("_self_df")
    return out.orderBy("distance", F.desc("df"), "term").limit(size)


def suggest_prefix(spark: SparkSession, index_path: str, prefix: str,
                   size: int = 5, _dic=None) -> DataFrame:
    """ES completion-suggester analog: dictionary terms starting with
    ``prefix``, ranked by collection frequency descending (the
    popularity weight ES completion entries carry), term ascending.
    Same metadata-only dictionary plan as ``suggest_terms``."""
    from elasticsearch_osmosis_plugin_spark.plans.build import dictionary_df

    dic = dictionary_df(spark, index_path) if _dic is None else _dic
    terms = dic.groupBy("term").agg(F.sum("cf").alias("cf"))
    return (terms.filter(F.col("term").startswith(prefix))
            .orderBy(F.desc("cf"), "term").limit(size))


def suggest_completion_fuzzy(spark: SparkSession, index_path: str,
                             prefix: str, fuzziness: int = 1,
                             size: int = 5, _dic=None) -> DataFrame:
    """ES completion-suggester FUZZY mode: dictionary terms whose
    length-|prefix| prefix is within Levenshtein distance ``fuzziness``
    of the typed prefix (the fixed-prefix-length variant of Lucene's
    fuzzy FST intersection), ranked distance ascending (exact-prefix
    hits first, ES's preference), then popularity (collection
    frequency) descending, term ascending.

    Metadata-only plan like :func:`suggest_prefix`: the dictionary is
    aggregated to (term, cf) and the distance is a codegen
    ``levenshtein(substr(term, ...), prefix)`` — no postings touched,
    cost bounded by vocabulary size."""
    from elasticsearch_osmosis_plugin_spark.plans.build import dictionary_df

    dic = dictionary_df(spark, index_path) if _dic is None else _dic
    terms = dic.groupBy("term").agg(F.sum("cf").alias("cf"))
    d = F.levenshtein(F.substring(F.col("term"), 1, len(prefix)),
                      F.lit(prefix))
    return (terms.withColumn("distance", d.cast("long"))
            .filter(F.col("distance") <= int(fuzziness))
            .orderBy("distance", F.desc("cf"), "term").limit(size))


def percentiles_bucket(buckets: DataFrame, value_col: str = "n_docs",
                       percentiles=(0.25, 0.5, 0.75),
                       out_col: str = "value") -> DataFrame:
    """ES percentiles_bucket pipeline agg: percentiles of a sibling
    aggregation's per-bucket metric. ES computes THIS one exactly
    (unlike the t-digest ``percentiles`` metric agg), so the twin is
    exact too: quantile_cont interpolation (index p*(n-1)) over the
    sorted bucket values.

    The input is a bucket frame (one row per bucket — already
    aggregated), so the collect_list is bounded by bucket count, not
    data size; everything stays a Catalyst expression. Returns one row
    per requested percentile: (pct, ``out_col``)."""
    pcts = [float(p) for p in percentiles]
    if any(not 0.0 <= p <= 1.0 for p in pcts):
        raise ValueError("percentiles must be in [0, 1]")
    arr = F.sort_array(
        F.collect_list(F.col(value_col).cast("double"))).alias("_arr")
    one = buckets.agg(arr)

    def interp(p: float):
        a = F.col("_arr")
        n = F.size(a)
        idx = F.lit(p) * (n - F.lit(1)).cast("double")
        lo = F.floor(idx).cast("int")
        frac = idx - lo.cast("double")
        return (F.element_at(a, lo + 1) * (F.lit(1.0) - frac)
                + F.element_at(a, F.least(lo + 2, n)) * frac)

    rows = F.array(*[
        F.struct(F.lit(p).alias("pct"), interp(p).alias(out_col))
        for p in pcts])
    return (one.select(F.explode(rows).alias("_r"))
            .select("_r.pct", f"_r.{out_col}").orderBy("pct"))




def suggest_phrase(spark: SparkSession, index_path: str, text: str,
                   *, max_edits: int = 1, per_slot: int = 5,
                   size: int = 5, discount: float = 0.4) -> DataFrame:
    """ES phrase-suggester analog (whole-input did-you-mean): per-slot
    candidate terms from the dictionary (Levenshtein <= ``max_edits``,
    ES generator ranking — distance asc, df desc, term asc — capped at
    ``per_slot``; an indexed input token is its own distance-0
    candidate), candidate phrases = per-slot cross product, ranked by
    a StupidBackoff bigram LM (Brants et al. 2007 — the family ES's
    phrase suggester smooths with):

        P(w_i | w_{i-1}) = count(w_{i-1} w_i) / cf(w_{i-1})   if > 0
                           else ``discount`` * cf(w_i) / T
        score = ln(cf(w_0)/T) + sum_i ln P(w_i | w_{i-1})

    Distributed stats, driver-side enumeration: unigram cf/df come
    from the dictionary (metadata only, one pass for ALL slots);
    bigram adjacency counts are ONE pruned positional-postings decode
    of the candidate terms + ONE self-join keyed (doc, slot->slot+1)
    counting positions p of a with p+1 of b — never a corpus scan,
    never term vectors, so suggestion cost is independent of corpus
    size. The cross-product scoring runs on the driver over at most
    per_slot^n_slots tiny tuples. A slot whose token has no dictionary
    candidate yields no suggestions (nothing to correct toward).

    Returns (phrase, score), score desc, phrase asc, top ``size``."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py,
    )
    from elasticsearch_osmosis_plugin_spark.plans.build import dictionary_df

    meta = load_meta(index_path)
    slots = tokenize_py(text, meta["analyzer"],
                        min_len=meta.get("min_token_len", 1),
                        max_len=meta.get("max_token_len", 64))
    out_schema = "phrase string, score double"
    if not slots:
        return spark.createDataFrame([], out_schema)

    # one metadata pass: per-slot candidate generation over the
    # dictionary; length prefilter prunes before the edit-distance
    # kernel, window rank caps each slot
    from pyspark.sql import Window as PW

    dic = (dictionary_df(spark, index_path)
           .groupBy("term").agg(F.sum("df").alias("df"),
                                F.sum("cf").alias("cf")))
    slot_df = spark.createDataFrame(list(enumerate(slots)),
                                    "slot int, tok string")
    w = PW.partitionBy("slot").orderBy("distance", F.desc("df"), "term")
    cands = (dic.join(F.broadcast(slot_df),
                      F.abs(F.length("term") - F.length("tok")) <= max_edits)
             .withColumn("distance", F.levenshtein(F.col("term"), F.col("tok")))
             .filter(F.col("distance") <= max_edits)
             .withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") <= per_slot)
             .select("slot", "term", "cf").collect())
    by_slot: dict[int, list] = {}
    cf: dict[str, float] = {}
    for r in cands:
        by_slot.setdefault(r["slot"], []).append(r["term"])
        cf[r["term"]] = float(r["cf"])
    if len(by_slot) < len(slots):
        return spark.createDataFrame([], out_schema)
    total = round(float(meta["avgdl"]) * int(meta["n_docs"]))

    # bigram adjacency counts for candidate pairs: one pruned
    # positional decode + one (doc, slot+1) join
    bigram: dict[tuple[str, str], float] = {}
    if len(slots) > 1:
        uniq = sorted({t for ts in by_slot.values() for t in ts})
        posts = _pruned_postings(spark, index_path, uniq, meta)
        occ = (term_positions(posts)
               .groupBy("term", "doc_id")
               .agg(F.collect_list("pos").alias("poss")))
        occ = live_docs(spark, index_path, occ, meta)
        pairs = spark.createDataFrame(
            [(s, t) for s, ts in by_slot.items() for t in ts],
            "slot int, term string")
        a = (occ.join(F.broadcast(pairs), "term")
             .select("slot", F.col("term").alias("ta"), "doc_id",
                     F.transform("poss", lambda x: x + 1).alias("pa")))
        b = (occ.join(F.broadcast(pairs.withColumn("slot", F.col("slot") - 1)),
                      "term")
             .select("slot", F.col("term").alias("tb"), "doc_id",
                     F.col("poss").alias("pb")))
        counts = (a.join(b, ["slot", "doc_id"])
                  .select("ta", "tb",
                          F.size(F.array_intersect("pa", "pb")).alias("c"))
                  .groupBy("ta", "tb").agg(F.sum("c").alias("c"))
                  .filter(F.col("c") > 0).collect())
        for r in counts:
            bigram[(r["ta"], r["tb"])] = float(r["c"])

    import itertools
    import math as _m

    rows = []
    for combo in itertools.product(*(by_slot[i] for i in range(len(slots)))):
        s = _m.log(cf[combo[0]] / total)
        for prev, cur in zip(combo, combo[1:]):
            c = bigram.get((prev, cur), 0.0)
            if c > 0:
                s += _m.log(c / cf[prev])
            else:
                s += _m.log(discount * cf[cur] / total)
        rows.append((" ".join(combo), s))
    rows.sort(key=lambda x: (-x[1], x[0]))
    return spark.createDataFrame(rows[:size], out_schema)


def cardinality_agg(spark: SparkSession, index_path: str, query: Hits,
                    value_col: str, exact: bool = True,
                    rsd: float = 0.05) -> DataFrame:
    """ES cardinality-aggregation analog: number of distinct values of
    a doc-store column over the docs matching ``query``.

    ``exact=True`` is the correctness baseline (count-distinct — a
    shuffle on the value, fine when the hit set or value domain is
    bounded). ``exact=False`` is the 100 TB path and what ES actually
    ships: HyperLogLog++ via Spark's ``approx_count_distinct`` (one
    pass, constant memory per partition, relative error ``rsd``)."""
    agg = (F.countDistinct(value_col) if exact
           else F.approx_count_distinct(value_col, rsd))
    return (_hit_values(spark, index_path, query, value_col)
            .agg(agg.alias("cardinality")))


def bucket_pipeline(buckets: DataFrame, value_col: str = "n_docs",
                    key_col: str = "bucket", *, derivative: bool = False,
                    cumulative_sum: bool = False,
                    moving_avg: int | None = None,
                    serial_diff: int | None = None) -> DataFrame:
    """ES pipeline aggregations over a bucketed series (the
    derivative / cumulative_sum / moving_fn family): add the requested
    columns to a (key, value) bucket frame, ordered by key.

    - ``derivative``: value - lag(value) (null in the first bucket,
      exactly ES's derivative on a gapless series);
    - ``cumulative_sum``: running sum including the current bucket;
    - ``moving_avg``: unweighted mean of the trailing N-bucket window
      INCLUDING the current bucket (ES moving_fn unweightedAvg with
      shift=1 alignment);
    - ``serial_diff``: value - lag(value, N) (ES serial_diff with
      lag=N; null for the first N buckets).

    Scale note: pipeline aggs run on the BUCKET frame, which is
    date-histogram-sized (thousands of rows), not corpus-sized — a
    single-partition window here is deliberate and cheap; the heavy
    lifting already happened in the bucketing groupBy."""
    from pyspark.sql import Window as W

    w = W.orderBy(key_col)
    out = buckets
    v = F.col(value_col).cast("double")
    if derivative:
        out = out.withColumn("derivative", v - F.lag(v).over(w))
    if cumulative_sum:
        out = out.withColumn(
            "cumulative_sum",
            F.sum(v).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
    if moving_avg is not None:
        out = out.withColumn(
            "moving_avg",
            F.avg(v).over(w.rowsBetween(-(int(moving_avg) - 1),
                                        W.currentRow)))
    if serial_diff is not None:
        out = out.withColumn("serial_diff",
                             v - F.lag(v, int(serial_diff)).over(w))
    return out.orderBy(key_col)


def bucket_script(buckets: DataFrame, script_sql: str,
                  out_col: str = "bucket_script") -> DataFrame:
    """ES bucket_script pipeline agg: a per-bucket computed metric from
    the bucket's other metrics (``params.a / params.b`` in ES becomes a
    plain SQL expression over the bucket frame's columns — the
    painless-to-Catalyst translation, whole-stage codegen, no UDF).
    Division by zero yields null (ANSI off), matching ES's skipped
    bucket behaviour under gap_policy=skip."""
    return buckets.withColumn(out_col, F.expr(script_sql).cast("double"))


def bucket_selector(buckets: DataFrame, predicate_sql: str) -> DataFrame:
    """ES bucket_selector pipeline agg: drop buckets where the
    predicate over the bucket's metrics is false/null (ES removes the
    bucket from the response)."""
    return buckets.where(F.expr(predicate_sql))


def moving_fn(buckets: DataFrame, fn: str, window: int,
              value_col: str = "n_docs", key_col: str = "bucket",
              shift: int = 0, alpha: float = 0.3) -> DataFrame:
    """ES moving_fn pipeline agg with the builtin ``MovingFunctions``
    (max, min, sum, unweightedAvg, stdDev, linearWeightedAvg, ewma) —
    adds a ``moving_fn`` column over the key-ordered bucket frame.

    Window alignment is ES's: with ``shift=0`` the window is the
    ``window`` buckets BEFORE the current one (exclusive); ``shift=1``
    slides it to include the current bucket; larger shifts look ahead.
    Each function is a fold over the window's collected array
    (``F.aggregate``), so the whole pipeline stays codegen — and like
    every pipeline agg here it runs on the bucket frame (thousands of
    rows), not the corpus, making the single-partition window
    deliberate and cheap. ``ewma`` seeds with the first value then
    folds ``alpha*v + (1-alpha)*acc`` (Lucene ``MovingFunctions.ewma``);
    ``holt`` (double-exponential) is not implemented — its seed
    convention is implementation-private, a documented exclusion."""
    from pyspark.sql import Window as W

    names = {"max", "min", "sum", "unweightedavg", "stddev",
             "linearweightedavg", "ewma"}
    key = fn.lower()
    if key not in names:
        raise ValueError(f"moving_fn: unknown builtin {fn!r} "
                         f"(supported: {sorted(names)})")
    w = (W.orderBy(key_col)
         .rowsBetween(-int(window) + int(shift), int(shift) - 1))
    arr = F.collect_list(F.col(value_col).cast("double")).over(w)
    n = F.size(arr)
    if key == "max":
        out = F.array_max(arr)
    elif key == "min":
        out = F.array_min(arr)
    elif key == "sum":
        out = F.coalesce(
            F.aggregate(arr, F.lit(0.0), lambda a, v: a + v), F.lit(0.0))
    elif key == "unweightedavg":
        out = F.when(n > 0, F.aggregate(
            arr, F.lit(0.0), lambda a, v: a + v) / n)
    elif key == "stddev":
        # population std about the window mean (MovingFunctions.stdDev)
        mean = F.aggregate(arr, F.lit(0.0), lambda a, v: a + v) / n
        var = F.aggregate(arr, F.lit(0.0),
                          lambda a, v: a + (v - mean) * (v - mean)) / n
        out = F.when(n > 0, F.sqrt(var))
    elif key == "linearweightedavg":
        # weights 1..n increasing toward the most recent value
        idx = F.sequence(F.lit(1), n)
        num = F.aggregate(F.zip_with(arr, idx, lambda v, i: v * i),
                          F.lit(0.0), lambda a, v: a + v)
        out = F.when(n > 0, num / (n.cast("double") * (n + 1) / 2.0))
    else:  # ewma
        out = F.aggregate(
            arr, F.lit(None).cast("double"),
            lambda a, v: F.when(a.isNull(), v)
            .otherwise(v * F.lit(float(alpha))
                       + a * F.lit(1.0 - float(alpha))))
    return (buckets.withColumn("moving_fn", out).orderBy(key_col))


def _ipv4_long(c: Column) -> Column:
    """Dotted-quad string -> uint32 long, NULL when not valid IPv4
    (the engine's IP surface is v4-only, documented — same contract
    as ES|QL's TO_IP/CIDR_MATCH in operators/esql.py)."""
    p = F.split(c, r"\.")
    v = (p[0].cast("long") * 16777216 + p[1].cast("long") * 65536
         + p[2].cast("long") * 256 + p[3].cast("long"))
    return F.when(
        c.rlike(r"^((25[0-5]|2[0-4]\d|1?\d?\d)\.){3}"
                r"(25[0-5]|2[0-4]\d|1?\d?\d)$"), v)


def _ipv4_str(v: Column) -> Column:
    return F.concat_ws(
        ".",
        F.shiftright(v, 24).bitwiseAND(F.lit(255)).cast("string"),
        F.shiftright(v, 16).bitwiseAND(F.lit(255)).cast("string"),
        F.shiftright(v, 8).bitwiseAND(F.lit(255)).cast("string"),
        v.bitwiseAND(F.lit(255)).cast("string"))


def ip_range_agg(df: DataFrame, ip_col: str, ranges) -> DataFrame:
    """ES ip_range aggregation over an IPv4 string column ->
    (bucket, n_docs). ``ranges`` entries are either ``(from, to)``
    dotted-quad pairs (half-open [from, to), None = unbounded — ES's
    from/to form) or a ``"net/bits"`` CIDR mask string (ES's mask
    form, bucket keyed by the mask). A doc lands in EVERY matching
    range (ranges may overlap), so like range_agg this is one literal
    array filtered per row + explode — no join; the numeric compare
    happens on the parsed uint32, invalid IPs fall out as NULL."""
    v = _ipv4_long(F.col(ip_col))
    entries = []
    for r in ranges:
        if isinstance(r, str):               # CIDR mask form
            net, _, bits_s = r.partition("/")
            bits = int(bits_s) if bits_s else 32
            parts = [int(x) for x in net.split(".")]
            if (len(parts) != 4 or not 0 <= bits <= 32
                    or any(not 0 <= x <= 255 for x in parts)):
                raise ValueError(f"ip_range_agg: bad CIDR mask {r!r}")
            net_l = (parts[0] << 24 | parts[1] << 16
                     | parts[2] << 8 | parts[3])
            shift = 32 - bits
            cond = ((F.shiftright(v, shift) if shift else v)
                    == F.lit(net_l >> shift))
            entries.append(F.when(cond, F.lit(r)))
            continue
        lo, hi = r
        label = (lo or "*") + "-" + (hi or "*")
        cond = v.isNotNull()
        if lo is not None:
            cond = cond & (v >= _ipv4_long(F.lit(lo)))
        if hi is not None:
            cond = cond & (v < _ipv4_long(F.lit(hi)))
        entries.append(F.when(cond, F.lit(label)))
    buckets = F.array_compact(F.array(*entries))
    return (df.select(F.explode(buckets).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("bucket"))


def ip_prefix_agg(df: DataFrame, ip_col: str,
                  prefix_length: int) -> DataFrame:
    """ES ip_prefix aggregation (IPv4): bucket by the masked
    ``prefix_length``-bit network -> (prefix, n_docs) keyed by the
    masked dotted-quad (ES's v4 key form), key order. One map-side-
    combined groupBy over the masked uint32."""
    if not 0 <= int(prefix_length) <= 32:
        raise ValueError("ip_prefix_agg: prefix_length in [0, 32]")
    shift = 32 - int(prefix_length)
    v = _ipv4_long(F.col(ip_col))
    masked = (F.shiftleft(F.shiftright(v, shift), shift) if shift else v)
    return (df.where(v.isNotNull())
            .select(_ipv4_str(masked).alias("prefix"))
            .groupBy("prefix").agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("prefix"))


def bucket_sort(buckets: DataFrame, sort_cols, *, from_: int = 0,
                size: int | None = None) -> DataFrame:
    """ES bucket_sort pipeline agg: re-order the parent's buckets by
    metric columns and truncate with from/size paging. ``sort_cols``
    is a list of (col, "asc"|"desc") pairs; runs on the bucket frame
    (thousands of rows), so the global sort is deliberate and cheap."""
    order = [F.col(c).desc() if d.lower().startswith("d") else F.col(c).asc()
             for c, d in sort_cols]
    out = buckets.orderBy(*order)
    if from_:
        out = out.offset(int(from_))
    if size is not None:
        out = out.limit(int(size))
    return out


# Calendar ladder for auto_date_histogram: (interval, nominal seconds).
# ES picks from a similar rounding ladder; here one entry per
# date_trunc grain (documented simplification: no 5m/30m sub-multiples).
AUTO_DH_LADDER = (("hour", 3600), ("day", 86400), ("week", 604800),
                  ("month", 2629800), ("quarter", 7889400),
                  ("year", 31557600))


def auto_date_histogram(df: DataFrame, ts_col: str,
                        target_buckets: int = 10) -> DataFrame:
    """ES auto_date_histogram: pick the smallest calendar interval
    whose ESTIMATED bucket count (span / nominal-interval-seconds,
    floor + 1, computed on exact microsecond arithmetic) fits
    ``target_buckets``, then bucket with one date_trunc groupBy ->
    (bucket, n_docs, interval).

    Two actions by design: a scalar min/max agg (map-side combined,
    one row to the driver) to choose the interval, then the normal
    histogram pass — the same shape ES uses (it reduces after
    collecting, we choose before). Deterministic given the data, so a
    SQL twin can reproduce the choice with the same ladder."""
    row = df.agg(F.min(F.col(ts_col)).alias("lo"),
                 F.max(F.col(ts_col)).alias("hi")).collect()[0]
    if row["lo"] is None:
        return (df.sparkSession
                .createDataFrame([], "bucket timestamp, n_docs long")
                .withColumn("interval", F.lit("hour")))
    d = row["hi"] - row["lo"]
    span_us = (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    interval = AUTO_DH_LADDER[-1][0]
    for name, sec in AUTO_DH_LADDER:
        if span_us // (sec * 1_000_000) + 1 <= int(target_buckets):
            interval = name
            break
    return date_histogram(df, ts_col, interval) \
        .withColumn("interval", F.lit(interval))


def sibling_bucket_stats(buckets: DataFrame,
                         value_col: str = "n_docs") -> DataFrame:
    """ES sibling pipeline aggs (avg_bucket / min_bucket / max_bucket /
    sum_bucket) in one pass: a single-row frame of stats over the
    bucket values."""
    v = F.col(value_col).cast("double")
    return buckets.agg(F.avg(v).alias("avg_bucket"),
                       F.min(v).alias("min_bucket"),
                       F.max(v).alias("max_bucket"),
                       F.sum(v).alias("sum_bucket"),
                       F.count(F.lit(1)).alias("n_buckets"))


def percentile_ranks_agg(spark: SparkSession, index_path: str, query: Hits,
                         value_col: str, values) -> DataFrame:
    """ES percentile_ranks aggregation (the inverse of percentiles):
    for each probe value, the percentage of matching docs whose
    ``value_col`` is <= it -> (value, rank_pct).

    One conditional-count pass over the hit stream (a sum(when(...))
    per probe value plus one total count — all in the same partial
    aggregation); no sort, no sketch needed for the <=-fraction
    definition, so exact AND mergeable at any scale."""
    vals = _hit_values(spark, index_path, query, value_col)
    v = F.col(value_col).cast("double")
    probes = [float(x) for x in values]
    aggs = [F.sum(F.when(v <= p, 1).otherwise(0)).alias(f"_le{i}")
            for i, p in enumerate(probes)]
    row = vals.agg(F.count(F.lit(1)).alias("_n"), *aggs)
    pairs = F.array(*[
        F.struct(F.lit(p).alias("value"),
                 (F.col(f"_le{i}").cast("double") * 100.0
                  / F.col("_n")).alias("rank_pct"))
        for i, p in enumerate(probes)])
    return (row.select(F.explode(pairs).alias("p"))
            .select("p.value", "p.rank_pct").orderBy("value"))


def composite_agg(df: DataFrame, sources, size: int = 10,
                  after: tuple | None = None) -> DataFrame:
    """ES composite aggregation: multi-source bucket enumeration in
    deterministic key order with after-key (keyset) paging — the agg
    ES built for exporting ALL buckets without deep from-paging.

    ``sources``: ordered column names forming the composite key;
    ``after``: the last page's final key tuple — the next page starts
    strictly after it.

    Plan: one groupBy over the sources; the after-key becomes a
    lexicographic row filter BEFORE the per-partition top-size cut
    (TakeOrderedAndProject), so each page is a fresh pruned pass —
    no global state, any page is computable independently (exactly
    how ES resumes a composite cursor)."""
    cols = list(sources)
    g = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n_docs"))
    if after is not None:
        if len(after) != len(cols):
            raise ValueError("after key arity != sources arity")
        # lexicographic 'strictly greater than after'
        cond = F.lit(False)
        eq = F.lit(True)
        for c, a in zip(cols, after):
            cond = cond | (eq & (F.col(c) > F.lit(a)))
            eq = eq & (F.col(c) == F.lit(a))
        g = g.filter(cond)
    return g.orderBy(*[F.asc(c) for c in cols]).limit(int(size))


def adjacency_matrix_agg(spark: SparkSession, index_path: str, query: Hits,
                         named_filters: dict,
                         separator: str = "&") -> DataFrame:
    """ES adjacency_matrix aggregation: doc counts for every named
    filter AND every pairwise intersection -> (bucket, n_docs), keys
    "a" and "a&b" in name order, empty buckets dropped (ES drops
    zero-doc cells). One semi-joined doc-store pass computes the whole
    m + m(m-1)/2 matrix as conditional sums — no per-cell scan."""
    if not named_filters:
        return spark.createDataFrame([], "bucket string, n_docs long")
    hits = _hit_values(spark, index_path, query)
    names = sorted(named_filters)
    cells = [(n, named_filters[n]) for n in names]
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            cells.append((f"{a}{separator}{b}",
                          named_filters[a] & named_filters[b]))
    counts = hits.agg(*[
        F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"_c{i}")
        for i, (_, cond) in enumerate(cells)])
    pairs = F.array(*[F.struct(F.lit(n).alias("bucket"),
                               F.col(f"_c{i}").alias("n_docs"))
                      for i, (n, _) in enumerate(cells)])
    return (counts.select(F.explode(pairs).alias("p"))
            .select("p.bucket", "p.n_docs")
            .filter(F.col("n_docs") > 0).orderBy("bucket"))


def weighted_avg_agg(spark: SparkSession, index_path: str, query: Hits,
                     value_col: str, weight_col: str) -> DataFrame:
    """ES weighted_avg aggregation over query hits:
    sum(v * w) / sum(w) -> one row. One pass, two partial sums."""
    hits = _hit_values(spark, index_path, query, value_col, weight_col)
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    return hits.agg((F.sum(v * w) / F.sum(w)).alias("weighted_avg"),
                    F.count(F.lit(1)).alias("n"))


def string_stats_agg(spark: SparkSession, index_path: str, query: Hits,
                     field: str) -> DataFrame:
    """ES string_stats aggregation (with show_distribution's entropy)
    over query hits: count, min/max/avg length, and the Shannon
    entropy (bits) of the CHARACTER distribution across all values.

    Entropy needs the global char histogram: explode to (char, n) —
    the histogram is alphabet-sized after the map-side combine, so the
    shuffle moves at most |alphabet| rows per partition; lengths ride
    a separate scalar agg and the two tiny results cross-join."""
    hits = (_hit_values(spark, index_path, query, field)
            .filter(F.col(field).isNotNull()))
    lens = hits.agg(
        F.count(F.lit(1)).alias("count"),
        F.min(F.length(field)).cast("long").alias("min_length"),
        F.max(F.length(field)).cast("long").alias("max_length"),
        F.avg(F.length(field)).alias("avg_length"))
    chars = (hits.select(F.explode(F.split(F.col(field), "")).alias("c"))
             .filter(F.col("c") != "")
             .groupBy("c").agg(F.count(F.lit(1)).alias("n")))
    ent = (chars.agg(F.sum("n").alias("_t"),
                     F.sum(F.col("n") * F.log2(F.col("n"))).alias("_nlogn"))
           .select((F.log2(F.col("_t"))
                    - F.col("_nlogn") / F.col("_t")).alias("entropy")))
    return lens.crossJoin(ent)


def matrix_stats_agg(spark: SparkSession, index_path: str, query: Hits,
                     field_a: str, field_b: str) -> DataFrame:
    """ES matrix_stats aggregation for a field pair over query hits:
    the full per-field response shape — mean, population variance,
    skewness (g1 = m3/m2^1.5) and kurtosis (m4/m2^2, plain not excess)
    — plus covariance and Pearson correlation. One mergeable pass: the
    third/fourth moments come from raw power sums (avg of x, x^2, x^3,
    x^4) combined after the aggregate, so every input shuffles exactly
    once and the whole row reduces map-side (the same streaming-moments
    math ES's MatrixStatsAggregator runs shard-locally then merges)."""
    hits = _hit_values(spark, index_path, query, field_a, field_b)
    a = F.col(field_a).cast("double")
    b = F.col(field_b).cast("double")

    def _pows(x, tag):
        return [F.avg(x).alias(f"_m1{tag}"),
                F.avg(x * x).alias(f"_m2{tag}"),
                F.avg(x * x * x).alias(f"_m3{tag}"),
                F.avg(x * x * x * x).alias(f"_m4{tag}")]

    raw = hits.agg(F.count(F.lit(1)).alias("n"),
                   *_pows(a, "a"), *_pows(b, "b"),
                   F.covar_pop(a, b).alias("covariance"),
                   F.corr(a, b).alias("correlation"))

    def _shape(tag):
        u = F.col(f"_m1{tag}")
        m2 = F.col(f"_m2{tag}") - u * u
        m3 = (F.col(f"_m3{tag}") - 3 * u * F.col(f"_m2{tag}")
              + 2 * u * u * u)
        m4 = (F.col(f"_m4{tag}") - 4 * u * F.col(f"_m3{tag}")
              + 6 * u * u * F.col(f"_m2{tag}") - 3 * u * u * u * u)
        return [u.alias(f"mean_{tag}"), m2.alias(f"var_{tag}"),
                (m3 / F.pow(m2, 1.5)).alias(f"skew_{tag}"),
                (m4 / (m2 * m2)).alias(f"kurt_{tag}")]

    return raw.select("n", *_shape("a"), *_shape("b"),
                      "covariance", "correlation")


def rare_terms_agg(spark: SparkSession, index_path: str, query: Hits,
                   facet_col: str, max_doc_count: int = 1) -> DataFrame:
    """ES rare_terms aggregation: the long-tail complement of the terms
    agg — buckets of ``facet_col`` whose doc count over the matching
    docs is <= ``max_doc_count``, ordered count-asc then value (ES's
    rare-first order). Same one-semi-join plan as ``facet_counts``;
    the rarity cut is a post-aggregation filter over bucket-sized data,
    so scale cost is identical to the plain terms agg (ES implements
    this with a CuckooFilter for the same reason: the heavy lifting is
    the count, not the cut)."""
    return (_hit_values(spark, index_path, query, facet_col)
            .groupBy(facet_col)
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") <= int(max_doc_count))
            .orderBy(F.asc("n_docs"), F.asc(facet_col)))


def multi_terms_agg(spark: SparkSession, index_path: str, query: Hits,
                    cols: Sequence[str], size: int = 10) -> DataFrame:
    """ES multi_terms aggregation: compound-key buckets over several
    doc-store fields of the matching docs -> (*cols, n_docs), count
    desc then key order, top ``size`` (ES default order). One grouped
    count over the compound key — map-side combined; the size cut is a
    TakeOrderedAndProject, never a full sort."""
    return (_hit_values(spark, index_path, query, *cols)
            .groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.desc("n_docs"), *[F.asc(c) for c in cols])
            .limit(int(size)))


def global_stats_agg(spark: SparkSession, index_path: str,
                     value_col: str) -> DataFrame:
    """ES global aggregation: escapes the query scope — sub-stats run
    over ALL live docs in the index regardless of any query context.
    Degenerate one-pass scalar aggregate of the doc-store (tombstones
    excluded, like every query path; ``sum_v`` is a double, as in
    :func:`stats_agg`)."""
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    ds = live_docs(spark, index_path, catalog.read_table(
        spark, index_path, "docstats").select("doc_id", value_col))
    v = F.col(value_col)
    return ds.agg(F.count(F.lit(1)).alias("n"),
                  F.min(v).alias("min_v"), F.max(v).alias("max_v"),
                  F.sum(v.cast("double")).alias("sum_v"),
                  F.avg(v).alias("avg_v"))


def date_range(df: DataFrame, ts_col: str,
               ranges: Sequence[tuple[str | None, str | None]]) -> DataFrame:
    """ES date_range aggregation core: explicit [from, to) timestamp
    buckets over any DataFrame -> (bucket, n_docs), labels with ES's
    open-end conventions ("*-to", "from-*"); a row lands in EVERY
    range containing it (ranges may overlap). Bounds are ISO strings
    parsed once as literals; one conditional array + explode, exactly
    the numeric ``range_agg`` plan."""
    t = F.col(ts_col).cast("timestamp")
    entries = []
    for lo, hi in ranges:
        label = (lo if lo is not None else "*") + "-" + \
                (hi if hi is not None else "*")
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (t >= F.to_timestamp(F.lit(lo)))
        if hi is not None:
            cond = cond & (t < F.to_timestamp(F.lit(hi)))
        entries.append(F.when(cond, F.lit(label)))
    buckets = F.array_compact(F.array(*entries))
    return (df.select(F.explode(buckets).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("bucket"))


def _hit_values(spark: SparkSession, index_path: str, query: Hits,
                *cols: str) -> DataFrame:
    """(doc_id, *cols) doc-store rows of the live docs matching
    ``query`` (the whole row when no column is named): the one hit-set
    semi-join every query-scoped aggregation reads. ``query`` is query
    text, resolved to an OR match (:func:`match_any_terms`), or a
    doc-id DataFrame used as given (``dsl.search_aggs`` compiles its
    query once and hands that frame to every agg)."""
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    hits = (query if isinstance(query, DataFrame)
            else match_any_terms(spark, index_path, query))
    ds = catalog.read_table(spark, index_path, "docstats")
    if cols:
        ds = ds.select("doc_id", *cols)
    return ds.join(hits, "doc_id", "left_semi")


def extended_stats_agg(spark: SparkSession, index_path: str, query: Hits,
                       value_col: str, sigma: float = 2.0) -> DataFrame:
    """ES extended_stats aggregation: the stats block plus
    sum_of_squares, POPULATION variance / std_deviation (ES's
    definition), and the sigma std-deviation bounds — all mergeable
    second-moment aggregates, one map-side-combined pass over the hit
    stream."""
    vals = _hit_values(spark, index_path, query, value_col)
    v = F.col(value_col).cast("double")
    row = vals.agg(F.count(F.lit(1)).alias("n"),
                   F.min(v).alias("min_v"), F.max(v).alias("max_v"),
                   F.sum(v).alias("sum_v"), F.avg(v).alias("avg_v"),
                   F.sum(v * v).alias("sum_sq"),
                   F.var_pop(v).alias("variance"))
    sd = F.sqrt(F.col("variance"))
    return row.select(
        "n", "min_v", "max_v", "sum_v", "avg_v", "sum_sq", "variance",
        sd.alias("std_deviation"),
        (F.col("avg_v") + F.lit(float(sigma)) * sd).alias("std_upper"),
        (F.col("avg_v") - F.lit(float(sigma)) * sd).alias("std_lower"))


def top_metrics_agg(spark: SparkSession, index_path: str, query: Hits,
                    metric_col: str, sort_col: str, *,
                    descending: bool = True) -> DataFrame:
    """ES top_metrics aggregation (size=1): the value of
    ``metric_col`` in the hit with the max (or min) ``sort_col`` ->
    one row (sort_value, metric_value). ``max_by``/``min_by`` are
    mergeable JVM aggregates — one pass, no sort, no window. Ties on
    the sort value break on min doc_id for cross-engine determinism."""
    vals = _hit_values(spark, index_path, query, metric_col, sort_col)
    s, d = F.col(sort_col).cast("double"), F.col("doc_id")
    # deterministic tie-break: order on (sort, -doc_id) / (sort, doc_id)
    key = F.struct(s.alias("s"),
                   (-d).alias("t") if descending else d.alias("t"))
    pick = F.max_by(F.struct(s.alias("sort_value"),
                             F.col(metric_col).alias("metric_value"),
                             d.alias("doc_id")), key) if descending \
        else F.min_by(F.struct(s.alias("sort_value"),
                               F.col(metric_col).alias("metric_value"),
                               d.alias("doc_id")), key)
    return vals.agg(pick.alias("_p")).select(
        F.col("_p.sort_value").alias("sort_value"),
        F.col("_p.metric_value").alias("metric_value"),
        F.col("_p.doc_id").alias("doc_id"))


def median_absolute_deviation_agg(spark: SparkSession, index_path: str,
                                  query: Hits, value_col: str) -> DataFrame:
    """ES median_absolute_deviation aggregation, EXACT twin:
    median(|v - median(v)|) with the linear-interpolated median
    (Spark ``percentile`` == DuckDB ``quantile_cont``, exact halves on
    integer inputs). Two passes over the hit values (median, then
    deviations) — ES uses a t-digest sketch; the exact definition here
    is the oracle-able baseline, and ``percentile_approx`` swaps in as
    the one-pass sketch path at scale."""
    vals = _hit_values(spark, index_path, query, value_col) \
        .select(F.col(value_col).cast("double").alias("v"))
    vals = vals.localCheckpoint(eager=True)  # two consumers, one scan
    med = vals.agg(F.expr(
        "percentile(v, 0.5)").alias("m")).collect()[0]["m"]
    if med is None:
        return spark.createDataFrame([(0, None)], "n long, mad double")
    dev = vals.select(F.abs(F.col("v") - F.lit(float(med))).alias("d"))
    return dev.agg(F.count(F.lit(1)).alias("n"),
                   F.expr("percentile(d, 0.5)").alias("mad"))


def t_test_agg(spark: SparkSession, index_path: str, query_a: Hits,
               query_b: Hits, value_col: str) -> DataFrame:
    """ES t_test aggregation (heteroscedastic / Welch, the ES default):
    compare ``value_col`` between the hit sets of two queries ->
    (n_a, n_b, t_stat). Welch's t = (mean_a - mean_b) /
    sqrt(s2_a/n_a + s2_b/n_b) with SAMPLE variances — two independent
    mergeable-moment passes, a scalar combine, no shuffle beyond the
    hit streams."""
    a = _hit_values(spark, index_path, query_a, value_col) \
        .agg(F.count(F.lit(1)).alias("n"),
             F.avg(F.col(value_col).cast("double")).alias("m"),
             F.var_samp(F.col(value_col).cast("double")).alias("s2")) \
        .collect()[0]
    b = _hit_values(spark, index_path, query_b, value_col) \
        .agg(F.count(F.lit(1)).alias("n"),
             F.avg(F.col(value_col).cast("double")).alias("m"),
             F.var_samp(F.col(value_col).cast("double")).alias("s2")) \
        .collect()[0]
    spark_ = spark
    if not a["n"] or not b["n"] or a["s2"] is None or b["s2"] is None:
        return spark_.createDataFrame(
            [(int(a["n"] or 0), int(b["n"] or 0), None)],
            "n_a long, n_b long, t_stat double")
    import math as _math

    denom = _math.sqrt(a["s2"] / a["n"] + b["s2"] / b["n"])
    t = (a["m"] - b["m"]) / denom if denom > 0 else None
    return spark_.createDataFrame([(int(a["n"]), int(b["n"]), t)],
                                  "n_a long, n_b long, t_stat double")


def histogram_filled(spark: SparkSession, index_path: str, query: Hits,
                     value_col: str, interval: float, *,
                     min_doc_count: int = 0,
                     extended_bounds: tuple[float, float] | None = None
                     ) -> DataFrame:
    """ES histogram with ``min_doc_count: 0`` + ``extended_bounds``:
    emit EMPTY buckets too — the gapless series pipeline aggs assume.
    The observed bucket range (optionally widened by extended_bounds)
    expands via ``sequence()`` (a driver-free lateral range, thousands
    of rows) and left-joins the counted buckets; cost stays the
    counting groupBy."""
    base = histogram_agg(spark, index_path, query, value_col, interval)
    if min_doc_count > 0:
        return base.filter(F.col("n_docs") >= int(min_doc_count))
    lo_hi = base.agg(F.min("bucket").alias("lo"),
                     F.max("bucket").alias("hi")).collect()[0]
    if lo_hi["lo"] is None and extended_bounds is None:
        return base
    step = int(interval)
    lo = int(lo_hi["lo"]) if lo_hi["lo"] is not None else None
    hi = int(lo_hi["hi"]) if lo_hi["hi"] is not None else None
    if extended_bounds is not None:
        eb_lo = int(math.floor(extended_bounds[0] / interval) * interval)
        eb_hi = int(math.floor(extended_bounds[1] / interval) * interval)
        lo = eb_lo if lo is None else min(lo, eb_lo)
        hi = eb_hi if hi is None else max(hi, eb_hi)
    grid = spark.range(1).select(F.explode(F.sequence(
        F.lit(lo), F.lit(hi), F.lit(step))).alias("bucket"))
    return (grid.join(base, "bucket", "left")
            .select("bucket",
                    F.coalesce(F.col("n_docs"), F.lit(0)).alias("n_docs"))
            .orderBy("bucket"))


def boxplot_agg(spark: SparkSession, index_path: str, query: Hits,
                value_col: str) -> DataFrame:
    """ES boxplot aggregation: min/max/q1/q2/q3 of a doc-store numeric
    column over the docs matching ``query``, plus the whisker values —
    the closest observed values inside the 1.5*IQR Tukey fences (ES's
    documented whisker rule) -> one row.

    Two passes over the top-k-free hit values by design (same shape as
    ES: quartiles come from the sketch, whiskers need a value scan):
    pass 1 is one mergeable agg for n/min/max + exact interpolated
    quartiles (identical interpolation to DuckDB's quantile_cont, so
    the oracle is value-for-value); the fence constants then fold into
    pass 2's conditional min/max as literals. Both passes are column-
    pruned scans of (doc_id, value) semi-joined to the hit stream —
    nothing corpus-wide shuffles."""
    vals = _hit_values(spark, index_path, query, value_col)
    v = F.col(value_col).cast("double")
    row = vals.agg(
        F.count(F.lit(1)).alias("n"), F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.percentile(v, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
         .alias("qs")).collect()[0]
    schema = ("n long, min_v double, max_v double, q1 double, q2 double, "
              "q3 double, lower double, upper double")
    if not row["n"]:
        return spark.createDataFrame([], schema)
    q1, q2, q3 = (float(x) for x in row["qs"])
    iqr = q3 - q1
    lo_fence, hi_fence = q1 - 1.5 * iqr, q3 + 1.5 * iqr
    wh = vals.agg(
        F.min(F.when(v >= F.lit(lo_fence), v)).alias("lower"),
        F.max(F.when(v <= F.lit(hi_fence), v)).alias("upper")).collect()[0]
    return spark.createDataFrame(
        [(int(row["n"]), float(row["min_v"]), float(row["max_v"]),
          q1, q2, q3, float(wh["lower"]), float(wh["upper"]))], schema)


# nominal seconds per rate unit (sub-month units are fixed-length;
# month-family divisors use exact calendar month counts instead)
_RATE_UNIT_S = {"second": 1, "minute": 60, "hour": 3600,
                "day": 86400, "week": 604800}
_RATE_MONTHS = {"month": 1.0, "quarter": 3.0, "year": 12.0}


def rate_agg(df: DataFrame, ts_col: str, calendar_interval: str = "month",
             unit: str = "day", value_col: str | None = None) -> DataFrame:
    """ES rate aggregation under a date_histogram: per calendar bucket,
    the doc count (or sum of ``value_col``) RESCALED to a per-``unit``
    rate -> (bucket, n_docs, rate). A 31-day January and a 28-day
    February with equal counts report different per-day rates — the
    divisor is each bucket's exact calendar length in units, computed
    from the bucket key's bound arithmetic (bucket vs bucket + 1
    interval), entirely in codegen after the groupBy.

    ``unit`` must not exceed ``calendar_interval`` (ES rejects that
    too). Sub-month units divide the bucket's exact span in seconds;
    month-family units divide by the exact month count. One map-side-
    combined groupBy; the divisor is a projection over the BUCKET
    frame (thousands of rows), not a join."""
    order = ["second", "minute", "hour", "day", "week", "month",
             "quarter", "year"]
    if unit not in order or calendar_interval not in order:
        raise ValueError(f"unknown unit/interval: {unit}/{calendar_interval}")
    if order.index(unit) > order.index(calendar_interval):
        raise ValueError(
            f"rate unit {unit} exceeds the histogram interval "
            f"{calendar_interval}")
    val = (F.sum(F.col(value_col).cast("double")) if value_col
           else F.count(F.lit(1)).cast("double"))
    buckets = (df.groupBy(F.date_trunc(calendar_interval, F.col(ts_col))
                          .alias("bucket"))
               .agg(F.count(F.lit(1)).alias("n_docs"), val.alias("_v")))
    nxt = F.col("bucket") + F.expr(f"INTERVAL 1 {calendar_interval}")
    if unit in _RATE_UNIT_S:
        divisor = ((F.unix_timestamp(nxt) - F.unix_timestamp("bucket"))
                   / F.lit(float(_RATE_UNIT_S[unit])))
    else:
        divisor = F.lit(_RATE_MONTHS[calendar_interval]
                        / _RATE_MONTHS[unit])
    return (buckets.select("bucket", "n_docs",
                           (F.col("_v") / divisor).alias("rate"))
            .orderBy("bucket"))


def normalize_pipeline(buckets: DataFrame, value_col: str = "n_docs",
                       method: str = "percent_of_sum",
                       key_col: str = "bucket",
                       out_col: str = "normalized") -> DataFrame:
    """ES normalize pipeline aggregation: rescale a bucket metric
    across the whole bucket frame -> buckets + ``out_col``. Methods
    (ES's set): ``percent_of_sum`` (v/sum*100), ``mean``
    ((v-mean)/(max-min)), ``rescale_0_1``, ``rescale_0_100``,
    ``z-score`` ((v-mean)/population stddev), ``softmax``
    (exp(v)/sum(exp(v))).

    Runs as window functions over the BUCKET frame (thousands of
    rows, the single-partition window is deliberate — same reasoning
    as :func:`bucket_pipeline`)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(F.lit(1)).rowsBetween(W.unboundedPreceding,
                                            W.unboundedFollowing)
    v = F.col(value_col).cast("double")
    if method == "percent_of_sum":
        out = v / F.sum(v).over(w) * 100.0
    elif method == "mean":
        out = (v - F.avg(v).over(w)) / (F.max(v).over(w) - F.min(v).over(w))
    elif method == "rescale_0_1":
        out = (v - F.min(v).over(w)) / (F.max(v).over(w) - F.min(v).over(w))
    elif method == "rescale_0_100":
        out = (v - F.min(v).over(w)) \
            / (F.max(v).over(w) - F.min(v).over(w)) * 100.0
    elif method == "z-score":
        out = (v - F.avg(v).over(w)) / F.stddev_pop(v).over(w)
    elif method == "softmax":
        out = F.exp(v) / F.sum(F.exp(v)).over(w)
    else:
        raise ValueError(f"unknown normalize method: {method}")
    return buckets.withColumn(out_col, out).orderBy(key_col)


def moving_percentiles(buckets: DataFrame, value_col: str = "n_docs",
                       window: int = 3, percentile: float = 0.5,
                       key_col: str = "bucket",
                       out_col: str = "moving_pct") -> DataFrame:
    """ES moving_percentiles pipeline agg: the percentile of the
    trailing ``window`` buckets INCLUDING the current one (shift=1
    alignment, same as :func:`bucket_pipeline`'s moving_avg), exact
    linear interpolation (index p*(n-1), the quantile_cont rule) ->
    buckets + ``out_col``.

    ES slides a t-digest; here the window is tiny (a handful of bucket
    values), so the exact form is a sorted-array expression over a
    collect_list window — still pure Catalyst on the bucket frame."""
    from pyspark.sql import Window as W

    if not 0.0 <= percentile <= 1.0:
        raise ValueError("percentile must be in [0, 1]")
    w = W.orderBy(key_col).rowsBetween(-(int(window) - 1), W.currentRow)
    arr = F.sort_array(F.collect_list(F.col(value_col).cast("double"))
                       .over(w))
    n = F.size(arr)
    idx = F.lit(float(percentile)) * (n - F.lit(1)).cast("double")
    lo = F.floor(idx).cast("int")
    frac = idx - lo.cast("double")
    val = (F.element_at(arr, lo + 1) * (F.lit(1.0) - frac)
           + F.element_at(arr, F.least(lo + 2, n)) * frac)
    return buckets.withColumn(out_col, val).orderBy(key_col)


def significant_text(spark: SparkSession, index_path: str, query: Hits,
                     size: int = 10, min_doc_count: int = 3,
                     filter_duplicate_text: bool = True,
                     heuristic: str = "jlh") -> DataFrame:
    """ES significant_text aggregation: :func:`significant_terms` over
    the hit docs' text with the ``filter_duplicate_text`` twist —
    near-boilerplate copies (identical token sequences) count ONCE in
    the foreground, so mirrored/syndicated text can't fabricate
    significance (exactly why ES added this agg). Dedup key is the md5
    of the token stream, computed in codegen on the already-pruned hit
    rows; one row per duplicate group survives (min doc_id, for
    determinism). Background stats stay corpus-wide from the
    dictionary — ES keeps bg duplicate-naive too."""
    from elasticsearch_osmosis_plugin_spark.plans.build import dictionary_df

    meta = load_meta(index_path)
    term_vector_store(spark, index_path, "significant_text")
    fg_docs = _hit_values(spark, index_path, query, "tokens")
    if filter_duplicate_text:
        fg_docs = (fg_docs
                   .withColumn("_fp", F.md5(F.array_join("tokens", "\x1f")))
                   .groupBy("_fp")
                   .agg(F.min("doc_id").alias("doc_id"),
                        F.first("tokens").alias("tokens"))
                   .drop("_fp"))
    fg = (fg_docs
          .select(F.explode(F.array_distinct("tokens")).alias("term"))
          .groupBy("term").agg(F.count(F.lit(1)).alias("df_fg")))
    n_fg = fg_docs.select(F.count(F.lit(1)).alias("n_fg"))
    bg = (dictionary_df(spark, index_path)
          .groupBy("term").agg(F.sum("df").alias("df_bg")))
    return (fg.join(bg, "term").crossJoin(F.broadcast(n_fg))
            .filter(F.col("df_fg") >= min_doc_count)
            .select("term", "df_fg", "df_bg",
                    _sig_heuristic(heuristic, float(meta["n_docs"]))
                    .alias(heuristic))
            .orderBy(F.desc(heuristic), F.asc("term")).limit(size))


def mtermvectors(spark: SparkSession, index_path: str,
                 doc_ids: Sequence[int]) -> DataFrame:
    """ES _mtermvectors: :func:`term_vectors` for a batch of ids in ONE
    doc-store point read + ONE dictionary lookup -> (doc_id, term, tf,
    positions, df, cf). Unknown ids are silently absent from the
    result (ES marks them found=false), never an error."""
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        dictionary_rows,
    )

    meta = load_meta(index_path)
    ds = term_vector_store(spark, index_path, "mtermvectors")
    ids = [int(d) for d in doc_ids]
    rows = (ds.filter(F.col("doc_id").isin(ids))
            .select("doc_id", "tokens").collect())
    tf: dict[tuple[int, str], int] = {}
    pos: dict[tuple[int, str], list[int]] = {}
    for r in rows:
        for i, t in enumerate(r["tokens"]):
            key = (r["doc_id"], t)
            tf[key] = tf.get(key, 0) + 1
            pos.setdefault(key, []).append(i)
    terms = sorted({t for _, t in tf})
    dic = dictionary_rows(spark, index_path, terms, meta)
    stats = {r.term: (int(r.df), int(r.cf)) for r in dic.itertuples()}
    out = [(d, t, tf[(d, t)], pos[(d, t)], *stats[t])
           for d, t in sorted(tf)]
    return spark.createDataFrame(
        out, "doc_id long, term string, tf long, positions array<long>, "
             "df long, cf long")


_SUBAGG_OPS = {
    "avg": lambda c: F.avg(c),
    "sum": lambda c: F.sum(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "value_count": lambda c: F.count(c),
    "cardinality": lambda c: F.countDistinct(c),
    "stddev": lambda c: F.stddev_pop(c),
}


def terms_subaggs(spark: SparkSession, index_path: str, query: Hits,
                  facet_col: str,
                  subaggs: dict[str, tuple[str, str]],
                  size: int = 10) -> DataFrame:
    """ES terms aggregation with METRIC sub-aggregations — the
    canonical bucket+metric pattern (`terms` over a keyword field,
    `avg`/`sum`/`min`/`max`/`value_count`/`cardinality`/`stddev` of
    numeric fields per bucket). ``subaggs`` maps output name ->
    (op, field). Buckets ordered count-desc then key (ES default),
    top ``size``.

    One hit-semi-joined doc-store scan (column-pruned to the facet +
    referenced fields) and ONE groupBy compute every sub-metric —
    all mergeable aggregates, map-side combined; nothing per-bucket
    runs a second pass (ES computes sub-aggs in the same collector
    sweep for the same reason)."""
    bad = sorted(op for op, _ in subaggs.values() if op not in _SUBAGG_OPS)
    if bad:
        raise ValueError(f"unsupported sub-agg ops: {bad}")
    fields = sorted({f for _, f in subaggs.values()})
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for name, (op, field) in subaggs.items():
        # count-ish ops keep the column's own type (strings are fine);
        # numeric ops cast so int fields aggregate as doubles
        col = (F.col(field) if op in ("value_count", "cardinality")
               else F.col(field).cast("double"))
        aggs.append(_SUBAGG_OPS[op](col).alias(name))
    return (_hit_values(spark, index_path, query, facet_col, *fields)
            .groupBy(facet_col).agg(*aggs)
            .orderBy(F.desc("n_docs"), F.asc(facet_col)).limit(size))


def span_containing(spark: SparkSession, index_path: str, big: str,
                    little: str, slop: int = 0) -> DataFrame:
    """Lucene SpanContainingQuery: docs where some ``big`` span (the
    phrase's terms in order within ``slop`` intervening positions)
    CONTAINS an occurrence of the ``little`` term. SpanWithinQuery
    matches the same DOCUMENT set (the two differ in which spans they
    emit for scoring, not in which docs qualify) — see
    :func:`span_within`.

    Position logic: for each start s of the first big term, the greedy
    chain gives the minimal valid end; any last-term occurrence
    between that end and the slop bound is also a valid end (the
    intermediate chain is reusable), so containment reduces to
    "exists little position in [s, max valid end]" — all pure Catalyst
    array expressions over ONE positions decode."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py,
    )

    meta = load_meta(index_path)
    terms = tokenize_py(big, meta["analyzer"],
                        min_len=meta.get("min_token_len", 1),
                        max_len=meta.get("max_token_len", 64))
    lt = _one_term(little, meta)
    if not terms:
        return spark.createDataFrame([], "doc_id long")
    if not meta.get("positions", False):
        raise ValueError("span_containing needs positional postings "
                         "(store_positions=True)")
    cands = (match_all_terms(spark, index_path, big)
             .join(match_all_terms(spark, index_path, lt),
                   "doc_id", "left_semi"))
    k = len(terms)
    slot_terms = list(enumerate(terms)) + [(k, lt)]
    doc = _slot_position_lists(spark, index_path, slot_terms, cands, meta)
    lists = [F.col("m")[i] for i in range(k)]
    little_ps = F.col("m")[k]
    bound = F.lit(int(slop) + k - 1)

    def ok(s):
        if k == 1:
            min_end = s
        else:
            rest = F.array(*lists[1:])
            min_end = F.aggregate(
                rest, s,
                lambda acc, arr: F.when(
                    acc.isNull(), F.lit(None).cast("long")
                ).otherwise(F.array_min(F.filter(arr, lambda x: x > acc))))
        valid = F.coalesce(min_end - s <= bound, F.lit(False))
        max_end = F.array_max(F.filter(
            lists[k - 1] if k > 1 else F.array(s),
            lambda x: (x >= F.coalesce(min_end, F.lit(1 << 62)))
            & (x - s <= bound)))
        contained = F.exists(
            little_ps, lambda p: (p >= s) & (p <= max_end))
        return valid & F.coalesce(contained, F.lit(False))

    return (doc.filter(F.exists(lists[0], ok))
            .select("doc_id").orderBy("doc_id"))


def span_within(spark: SparkSession, index_path: str, big: str,
                little: str, slop: int = 0) -> DataFrame:
    """Lucene SpanWithinQuery: docs with a ``little`` occurrence
    inside a ``big`` span — document-level equivalent of
    :func:`span_containing` (Lucene's two queries emit different
    spans from the same containment relation)."""
    return span_containing(spark, index_path, big, little, slop=slop)


def date_histogram_terms(df: DataFrame, ts_col: str, term_col: str,
                         interval: str = "day",
                         size_per_bucket: int | None = None) -> DataFrame:
    """ES date_histogram with a terms SUB-BUCKET (the nested-bucket
    composition every dashboard uses: per day, the breakdown by type).
    ES runs a collector per parent bucket; the relational form is just
    ONE two-key map-side-combined groupBy -> (bucket, term, n_docs) —
    strictly cheaper than parent-then-child passes at any scale.
    ``size_per_bucket`` keeps only the top-N terms per parent bucket
    (ES's terms size), via the same WindowGroupLimit shape as
    top_hits."""
    if interval not in CALENDAR_INTERVALS:
        raise ValueError(f"interval must be one of {CALENDAR_INTERVALS}")
    out = (df.groupBy(F.date_trunc(interval, F.col(ts_col)).alias("bucket"),
                      F.col(term_col))
           .agg(F.count(F.lit(1)).alias("n_docs")))
    if size_per_bucket is not None:
        from pyspark.sql import Window as W

        w = W.partitionBy("bucket").orderBy(F.desc("n_docs"),
                                            F.asc(term_col))
        out = (out.withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") <= int(size_per_bucket)).drop("_rn"))
    return out.orderBy("bucket", F.desc("n_docs"), F.asc(term_col))


def term_vectors_artificial(spark: SparkSession, index_path: str,
                            text: str) -> DataFrame:
    """ES _termvectors with an ARTIFICIAL document (the request-body
    ``doc`` form — no stored doc involved): analyze the text through
    the index's chain, per-term tf + positions from the analysis,
    df/cf collection statistics from the dictionary; terms absent from
    the index report df=0/cf=0 (ES's behavior for unseen terms)."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py,
    )
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        dictionary_rows,
    )

    meta = load_meta(index_path)
    toks = tokenize_py(text, meta["analyzer"],
                       min_len=meta.get("min_token_len", 1),
                       max_len=meta.get("max_token_len", 64))
    tf: dict[str, int] = {}
    pos: dict[str, list[int]] = {}
    for i, t in enumerate(toks):
        tf[t] = tf.get(t, 0) + 1
        pos.setdefault(t, []).append(i)
    dic = dictionary_rows(spark, index_path, sorted(tf), meta)
    stats = {r.term: (int(r.df), int(r.cf)) for r in dic.itertuples()}
    out = [(t, tf[t], pos[t], *stats.get(t, (0, 0))) for t in sorted(tf)]
    return spark.createDataFrame(
        out, "term string, tf long, positions array<long>, df long, cf long")


def scripted_metric_agg(spark: SparkSession, index_path: str, query: Hits,
                        map_script: str, reduce_script: str) -> DataFrame:
    """ES scripted_metric aggregation under the engine's
    painless-to-Catalyst contract (the same contract runtime_mappings
    and script_fields use): ``map_script`` is a per-document SQL
    expression over the doc-store columns (ES's map_script, run once
    per matching doc; its value lands in ``_mapped``), and
    ``reduce_script`` is a SQL AGGREGATE expression over ``_mapped``.

    ES splits the shard-local merge (combine_script) from the
    cross-shard merge (reduce_script); Spark's partial aggregation IS
    the per-shard combine and the final exchange IS the reduce, so the
    two collapse into one declarative aggregate and stay map-side
    combined + whole-stage codegen'd — no state object ships around.

    Returns one row ``(value double)``."""
    return (_hit_values(spark, index_path, query)
            .withColumn("_mapped", F.expr(map_script))
            .agg(F.expr(reduce_script).cast("double").alias("value")))


def categorize_key(col: Column, max_matched_tokens: int = 5) -> Column:
    """Per-row category skeleton shared by the categorize_text agg and
    ES|QL's ``CATEGORIZE()`` grouping function: lowercase, split on
    non-alphanumerics, DROP digit-bearing tokens (the variable parts),
    keep the first ``max_matched_tokens`` survivors space-joined.
    Pure Catalyst — whole-stage codegen, order-independent."""
    return F.array_join(
        F.slice(
            F.filter(
                F.split(F.lower(col), "[^a-z0-9]+"),
                lambda t: (t != "") & ~t.rlike("[0-9]")),
            1, max_matched_tokens),
        " ")


def categorize_text(df: DataFrame, text_col: str, size: int = 10,
                    max_matched_tokens: int = 5) -> DataFrame:
    """ES categorize_text aggregation: bucket semi-structured log-like
    messages by their TOKEN SKELETON -> (category, doc_count), top
    ``size`` by count. The skeleton follows the ES categorization
    tokenizer's core rule — lowercase, split on non-alphanumerics,
    DROP every token containing a digit (digits mark the variable
    parts of a message: ids, timestamps, counts) — then keeps the
    first ``max_matched_tokens`` surviving tokens as the category key,
    so "error {k: 69}" and "error {k: 7}" land in one bucket.

    Deviation from ES, by design: ES merges categories bottom-up with
    a 70%-token-similarity heuristic that depends on document arrival
    order — unusable as a deterministic distributed operator. The
    skeleton key is order-independent, gives identical buckets on any
    partitioning, and reduces with one map-side-combined groupBy (the
    key is computed in whole-stage codegen; nothing but the tiny
    bucket frame shuffles)."""
    key = categorize_key(F.col(text_col), max_matched_tokens)
    return (df.groupBy(key.alias("category"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("category"))
            .limit(size))


def frequent_item_sets(df: DataFrame, id_col: str, item_col: str,
                       min_support: float = 0.25, size: int = 10,
                       ) -> DataFrame:
    """ES frequent_item_sets aggregation (sizes 1 and 2): itemsets of
    per-document DISTINCT values of ``item_col`` (one row per
    (doc, item) — the exploded basket) whose support — fraction of
    documents containing every item of the set — clears
    ``min_support``. Returns (items, set_size, doc_count,
    support_x1e4), top ``size`` by doc_count then items.

    Apriori-pruned, ES's own strategy (their docs: "the algorithm
    only considers items that appear in at least min_support of the
    transactions"): frequent 1-itemsets are one groupBy over the
    basket stream; baskets are then semi-joined to that (broadcast —
    the frequent vocabulary is tiny by construction) BEFORE pair
    enumeration, so every emitted pair already has both legs frequent.
    Pairs are generated basket-locally from the per-doc sorted
    frequent-item array (no self-join: collect_set per doc, nested
    transform+flatten), so the only corpus-sized shuffles are the two
    groupBys on (item) and (doc) — pair count is bounded by
    C(frequent-items-per-basket, 2), not basket size."""
    baskets = df.select(F.col(id_col).alias("_doc"),
                        F.col(item_col).alias("_item")).distinct()
    n_docs = baskets.select("_doc").distinct().count()
    min_cnt = max(1, int(math.ceil(min_support * n_docs)))

    f1 = (baskets.groupBy("_item")
          .agg(F.count(F.lit(1)).alias("doc_count"))
          .filter(F.col("doc_count") >= min_cnt))

    per_doc = (baskets.join(F.broadcast(f1.select("_item")), "_item",
                            "left_semi")
               .groupBy("_doc")
               .agg(F.array_sort(F.collect_set("_item")).alias("_items")))
    items = F.col("_items")
    idxs = F.sequence(F.lit(1), F.size(items))
    pairs_col = F.flatten(F.transform(
        idxs, lambda i: F.transform(
            F.slice(items, i + 1, F.size(items)),
            lambda y: F.array(F.element_at(items, i), y))))
    f2 = (per_doc.select(F.explode(pairs_col).alias("_pair"))
          .groupBy("_pair")
          .agg(F.count(F.lit(1)).alias("doc_count"))
          .filter(F.col("doc_count") >= min_cnt)
          .select(F.array_join("_pair", " ").alias("items"),
                  F.lit(2).alias("set_size"), "doc_count"))

    out = f1.select(F.col("_item").alias("items"),
                    F.lit(1).alias("set_size"),
                    "doc_count").unionByName(f2)
    sup = F.floor(F.col("doc_count") / F.lit(float(n_docs))
                  * 10000.0 + F.lit(0.5)).cast("long")
    return (out.withColumn("support_x1e4", sup)
            .orderBy(F.desc("doc_count"), F.asc("set_size"), F.asc("items"))
            .limit(size))


def variable_width_histogram(df: DataFrame, value_col: str,
                             buckets: int = 4) -> DataFrame:
    """ES variable_width_histogram: cluster a numeric field into
    ``buckets`` variable-width buckets -> (min_v, key = bucket mean,
    max_v, doc_count) ordered by key, ES's exact response shape.

    Deviation from ES, by design: ES runs an arrival-order-dependent
    streaming clusterer (nearest-cluster merge as docs stream through
    the shard) whose buckets change with routing — meaningless for a
    deterministic distributed engine. Here centroids are seeded at the
    ``buckets`` midpoint quantiles ((2i+1)/2k, exact interpolated —
    the quantile_cont rule, so an external SQL twin reproduces them
    bit-for-bit) and every value joins its nearest centroid (ties to
    the lower index). Two passes like ES's collect+reduce: pass 1 is
    one mergeable quantile agg, whose k constants fold into pass 2's
    assignment expression as literals — the assignment runs in
    whole-stage codegen and only the k-row bucket frame shuffles."""
    v = F.col(value_col).cast("double")
    qs = [(2 * i + 1) / (2.0 * buckets) for i in range(buckets)]
    row = df.agg(F.percentile(v, F.array(*[F.lit(q) for q in qs]))
                 .alias("cents")).collect()[0]
    if row["cents"] is None:
        return df.sparkSession.createDataFrame(
            [], "min_v double, key double, max_v double, doc_count long")
    cents = [float(c) for c in row["cents"]]
    # argmin over literal centroids, ties -> lower index: fold a
    # running (best_idx, best_dist) pair left-to-right
    best_idx, best_dist = F.lit(0), F.abs(v - F.lit(cents[0]))
    for i in range(1, buckets):
        d = F.abs(v - F.lit(cents[i]))
        best_idx = F.when(d < best_dist, F.lit(i)).otherwise(best_idx)
        best_dist = F.when(d < best_dist, d).otherwise(best_dist)
    return (df.groupBy(best_idx.alias("_b"))
            .agg(F.min(v).alias("min_v"), F.avg(v).alias("key"),
                 F.max(v).alias("max_v"),
                 F.count(F.lit(1)).alias("doc_count"))
            .orderBy("key")
            .select("min_v", "key", "max_v", "doc_count"))


def terms_enum(spark: SparkSession, index_path: str, prefix: str = "",
               size: int = 10, search_after: str | None = None) -> DataFrame:
    """ES _terms_enum API: fast ordered enumeration of index terms
    matching a prefix (the autocomplete/discovery surface) ->
    (term, doc_count), term-ascending, ``size`` rows.

    ``search_after`` pages by term keyset (strictly greater), exactly
    ES's cursor. Like ES, the answer comes from index METADATA only —
    the dictionary, never a posting decode or corpus scan — and terms
    contributed solely by deleted-but-unmerged docs may still appear
    (ES documents the same caveat for its shard-level terms dict).

    Scale: a dictionary scan with the prefix predicate pushed to
    parquet (dictionary rows ~ vocabulary size, partitioned by term
    hash; all buckets are touched but each prunes on the pushed
    startswith filter's min/max term stats)."""
    from elasticsearch_osmosis_plugin_spark.plans.build import dictionary_df

    dic = dictionary_df(spark, index_path)
    if prefix:
        dic = dic.filter(F.col("term").startswith(prefix))
    if search_after is not None:
        dic = dic.filter(F.col("term") > F.lit(search_after))
    return (dic.groupBy("term").agg(F.sum("df").alias("doc_count"))
            .orderBy("term").limit(size))


def highlight_fragments(spark: SparkSession, index_path: str, query: str,
                        window: int = 3, number_of_fragments: int = 2,
                        pre_tag: str = "<em>",
                        post_tag: str = "</em>") -> DataFrame:
    """ES highlight with ``number_of_fragments`` + ``pre_tags`` /
    ``post_tags``: up to N tagged token snippets per matching doc ->
    (doc_id, fragments array<string>), fragments in position order.

    Fragment anchoring (documented variant of ES's fragment scorer):
    one fragment at the FIRST occurrence of each distinct matched
    query term, position-ordered, first ``number_of_fragments`` kept —
    deterministic and fully declarative (ES's unified highlighter
    scores passages; anchoring on distinct terms covers the same
    diversity goal without a sequential passage scan). Fragments may
    overlap when term occurrences are close. Matched terms inside a
    fragment are wrapped pre_tag<term>post_tag.

    Same index-side plan as :func:`highlight`: query-term position
    streams only, doc-store pruned to matching docs."""
    from pyspark.sql import Window as W

    meta = load_meta(index_path)
    terms = query_terms(query, meta)
    dic = dictionary_rows(spark, index_path, terms, meta)
    if dic.empty:
        return spark.createDataFrame(
            [], "doc_id long, fragments array<string>")
    if not meta.get("positions", False):
        raise ValueError("highlight needs positional postings "
                         "(store_positions=True)")
    ds = term_vector_store(spark, index_path, "highlight")
    live = sorted(dic["term"])
    posts = _pruned_postings(spark, index_path, live, meta)
    occ = term_positions(posts)
    firsts = (live_docs(spark, index_path, occ, meta)
              .groupBy("doc_id", "term").agg(F.min("pos").alias("pos")))
    w = W.partitionBy("doc_id").orderBy("pos", "term")
    sel = (firsts.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") <= number_of_fragments))
    start = F.greatest(F.lit(1), F.col("pos") + 1 - window)
    length = F.least(F.size("tokens"),
                     F.col("pos") + 1 + window) - start + 1
    tagged = F.transform(
        F.slice("tokens", start, length),
        lambda t: F.when(t.isin(live),
                         F.concat(F.lit(pre_tag), t, F.lit(post_tag)))
                   .otherwise(t))
    frags = (ds.select("doc_id", "tokens").join(sel, "doc_id")
             .select("doc_id", "pos", "term",
                     F.array_join(tagged, " ").alias("frag")))
    return (frags.groupBy("doc_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(
                    F.struct("pos", "term", "frag"))),
                lambda s: s["frag"]).alias("fragments"))
            .orderBy("doc_id"))


def search_shards(spark: SparkSession, index_path: str,
                  query: str) -> DataFrame:
    """ES _search_shards analog, re-read for this engine's routing:
    which posting BUCKETS (the shard analog — ``md5(term) %
    n_buckets`` partition dirs) a query would read, per analyzed term
    -> (term, bucket, in_dictionary). The debugging surface for \"why
    does this query touch N partitions\": pure metadata (one
    dictionary lookup for the in_dictionary flag, the routing itself
    is arithmetic — exactly ES's hash-routing answer)."""
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        dictionary_rows,
        query_terms,
    )
    from elasticsearch_osmosis_plugin_spark.plans.build import bucket_of

    meta = load_meta(index_path)
    terms = sorted(set(query_terms(query, meta)))
    dic = dictionary_rows(spark, index_path, terms, meta)
    live = set(dic["term"]) if not dic.empty else set()
    rows = [(t, bucket_of(t, meta["n_buckets"]), t in live)
            for t in terms]
    return spark.createDataFrame(
        rows, "term string, bucket int, in_dictionary boolean")


def cumulative_cardinality(df: DataFrame, bucket_col,
                           entity_col: str,
                           bucket_out: str = "bucket") -> DataFrame:
    """ES ``cumulative_cardinality`` pipeline agg, EXACT (ES computes
    it over HLL sketches; the value-for-value gate needs exactness —
    documented divergence): per ordered bucket, the count of distinct
    entities seen in any bucket up to and including it.

    Plan: first-seen attribution (groupBy entity -> min bucket, ONE
    shuffle over the data) + a left join onto the distinct bucket
    grid + one running sum over the bucket frame. The window runs
    over the AGGREGATED bucket rows (thousands), not the corpus —
    the same single-task-window contract as every other pipeline agg
    here. Never recounts distincts per prefix, which is the O(n^2)
    trap.
    """
    from pyspark.sql import Window

    if isinstance(bucket_col, str):
        bucket_col = F.col(bucket_col)
    # NULL bucket keys fall into no bucket (ES date_histogram drops
    # docs missing the field) — also keeps the window's NULLS-FIRST
    # ordering from ever disagreeing with a NULLS-LAST SQL twin
    src = df.withColumn("__bk", bucket_col) \
        .filter(F.col("__bk").isNotNull())
    first = src.groupBy(entity_col).agg(F.min("__bk").alias("__bk"))
    per = first.groupBy("__bk").agg(F.count(F.lit(1)).alias("new_entities"))
    grid = src.select("__bk").distinct()
    w = Window.orderBy("__bk").rowsBetween(Window.unboundedPreceding, 0)
    return (grid.join(per, "__bk", "left")
            .fillna(0, ["new_entities"])
            .withColumn("cumulative_cardinality",
                        F.sum("new_entities").over(w))
            .select(F.col("__bk").alias(bucket_out), "new_entities",
                    "cumulative_cardinality")
            .orderBy(bucket_out))
