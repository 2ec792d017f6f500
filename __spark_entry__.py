"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is an operator of the
elasticsearch_osmosis_plugin_spark engine (SURVEY.md §2 inventory +
training-data ops); ``oracle_sql()`` carries the ANSI-SQL twin DuckDB
runs on the same parquet views. Column names and rounding are aligned
pairwise; rank-boundary ties break on ids in BOTH engines.

Non-SQL-expressible ops (persisted-index WAND/MaxScore, varbyte,
LSH-ANN with seeded hyperplanes) are checked by the pytest oracles in
tests/ instead; a couple appear here rows-only (no oracle entry).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W

from elasticsearch_osmosis_plugin_spark.config import EngineConfig
from elasticsearch_osmosis_plugin_spark.functions import (
    analysis,
    cluster,
    dedupe,
    similarity,
)
from elasticsearch_osmosis_plugin_spark.operators.bm25 import bm25_topk

SF_DEFAULT = "/root/testdata/sf0.001"

# ---------------------------------------------------------------- helpers

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# shared DuckDB CTE: simple-analyzer tokenization of documents
TOK_CTE = (
    "toks AS (SELECT doc_id, lang, source, n_chars, "
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks "
    "FROM documents)"
)
TOK_EXPLODED_CTE = (
    TOK_CTE + ", tok AS (SELECT doc_id, unnest(toks) AS term FROM toks)"
)

# english analysis chain twin: simple tokens -> Lucene classic stop set
# -> S-stemmer (first matching suffix rule only, exceptions keep the
# token) — mirrors functions.tokenizer analyzer="english" exactly
_STOP_EN_LUCENE = ("'a','an','and','are','as','at','be','but','by','for',"
                   "'if','in','into','is','it','no','not','of','on','or',"
                   "'such','that','the','their','then','there','these',"
                   "'they','this','to','was','will','with'")
TOK_EN_CTE = (
    "toks AS (SELECT doc_id, lang, source, n_chars, "
    "list_transform(list_filter(string_split_regex(lower(text), '\\s+'), "
    f"x -> x <> '' AND x NOT IN ({_STOP_EN_LUCENE})), "
    "t -> CASE "
    "WHEN t LIKE '%ies' THEN "
    "  CASE WHEN regexp_matches(t, '^.+[^ea]ies$') "
    "       THEN substr(t, 1, len(t) - 3) || 'y' ELSE t END "
    "WHEN t LIKE '%es' THEN "
    "  CASE WHEN regexp_matches(t, '^.+[^aeo]es$') "
    "       THEN substr(t, 1, len(t) - 1) ELSE t END "
    "WHEN t LIKE '%s' THEN "
    "  CASE WHEN regexp_matches(t, '^.+[^su]s$') "
    "       THEN substr(t, 1, len(t) - 1) ELSE t END "
    "ELSE t END) AS toks FROM documents)"
)
TOK_EN_EXPLODED_CTE = (
    TOK_EN_CTE + ", tok AS (SELECT doc_id, unnest(toks) AS term FROM toks)"
)

BM25_K1, BM25_B = 1.2, 0.75


def _bm25_oracle_sql(terms: list[str], k: int,
                     post_filter_sql: str | None = None,
                     boosts: dict[str, float] | None = None,
                     offset: int = 0,
                     tok_cte: str | None = None) -> str:
    """``post_filter_sql``: restriction on which docs are RETURNED —
    joined in AFTER scoring (B6 semantics: scores/idf/avgdl stay
    corpus-global, k-limit after the filter). ``boosts``: per-term
    linear score multipliers (ES ^boost). ``offset``: skip the first
    N ranked rows (search_after page twin)."""
    term_list = ", ".join(f"'{t}'" for t in terms)
    post = (f"JOIN documents d USING (doc_id) WHERE {post_filter_sql}"
            if post_filter_sql else "")
    boost = ""
    if boosts:
        cases = " ".join(f"WHEN '{t}' THEN {float(w)!r}"
                         for t, w in sorted(boosts.items()))
        boost = f"(CASE tf.term {cases} ELSE 1.0 END) * "
    off = f" OFFSET {offset}" if offset else ""
    return f"""
WITH {tok_cte or TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ({term_list}) GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( {boost}ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id)
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4 FROM scored
{post}
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT {k}{off}
"""


def _bm25(spark, sf_dir, query, k):
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    from elasticsearch_osmosis_plugin_spark.operators.bm25 import bm25_score_terms

    docs = _t(spark, sf_dir, "documents")
    terms = sorted(set(tokenize_py(query, "simple")))
    scores = bm25_score_terms(docs, terms, EngineConfig(k1=BM25_K1, b=BM25_B),
                              id_col="doc_id", text_col="text", analyzer="simple")
    return (scores.select("doc_id", x1e4(F.col("score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(k))


# ---------------------------------------------------------------- queries

def q_bm25_topk(spark, sf_dir):
    """Flagship: top-k BM25 ranked retrieval (SURVEY B5/B1)."""
    return _bm25(spark, sf_dir, "spark query join", 10)


# ---- persisted-index BM25 (the SPIMI engine itself under the DuckDB
# gate, r1 VERDICT item 1): build once per sf_dir into a tmp cache,
# query via operators.query.topk with each strategy. The cache key
# carries the posting schema so format changes invalidate it.

_IDX_CACHE: dict[str, str] = {}


def _index_for(spark: SparkSession, sf_dir: str, field: str = "text",
               analyzer: str = "simple") -> str:
    import hashlib
    import os
    import tempfile

    from elasticsearch_osmosis_plugin_spark.plans.build import (
        POSTING_SCHEMA,
        build_index,
    )

    key = hashlib.md5(
        f"{sf_dir}|{POSTING_SCHEMA}|{field}|{analyzer}|v3".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"eosp_entry_idx_{key}", "index")
    if key not in _IDX_CACHE:
        if not os.path.exists(os.path.join(path, "meta.json")):
            cfg = EngineConfig(analyzer=analyzer, n_segments=8, n_buckets=8,
                               block_size=64, resume=False)
            build_index(spark, _t(spark, sf_dir, "documents"), path, cfg,
                        id_col="doc_id", text_col=field,
                        carry_cols=["lang", "n_chars"] +
                                   (["source"] if field != "source" else []),
                        n_groups=1)
        _IDX_CACHE[key] = path
    return _IDX_CACHE[key]


def _bm25_idx(spark, sf_dir, query, k, strategy, post_filter=None,
              boosts=None):
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.query import topk

    idx = _index_for(spark, sf_dir)
    # fetch extra raw-ranked rows, then re-rank on the x1e4 fixed point
    # the oracle sorts on (rounding can reorder raw near-ties)
    raw = topk(spark, idx, query, k=k + 20, strategy=strategy,
               post_filter=post_filter, boosts=boosts)
    return (raw.select("doc_id", x1e4(F.col("score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(k))


def q_bm25_topk_idx_scoreall(spark, sf_dir):
    """SPIMI index + varbyte decode + full scoring (SURVEY B1/B5)."""
    return _bm25_idx(spark, sf_dir, "spark query join", 10, "scoreall")


def q_bm25_topk_idx_local(spark, sf_dir):
    """The DRIVER-LOCAL serving path under the hard gate: pyarrow
    bucket reads + numpy decode/score with NO Spark job
    (operators/serve.py, Searcher.topk_local) — the same BM25 oracle
    as the distributed scoreall row, so the gate pins the two
    execution paths value-for-value against DuckDB independently."""
    import math

    from elasticsearch_osmosis_plugin_spark.operators.query import Searcher

    idx = _index_for(spark, sf_dir)
    s = Searcher(spark, idx)
    rows = s.topk_local("spark query join", k=30)
    s.close()
    ranked = sorted(
        ((d, int(math.floor(sc * 10000.0 + 0.5))) for d, sc in rows),
        key=lambda r: (-r[1], r[0]))[:10]
    return spark.createDataFrame(ranked, "doc_id long, score_x1e4 long")


def q_bm25_topk_idx_maxscore(spark, sf_dir):
    """SPIMI index + one-shot MaxScore pruning (hot + rare term mix)."""
    return _bm25_idx(spark, sf_dir, "dup table merge", 10, "maxscore")


def q_bm25_topk_idx_blockmax(spark, sf_dir):
    """SPIMI index + single-term block-max pruning."""
    return _bm25_idx(spark, sf_dir, "dup", 10, "blockmax")


def q_bm25_topk_idx_postfilter(spark, sf_dir):
    """B6 under the hard gate: post-filter restricts returned docs,
    scores stay corpus-global, pruning stays exact under the filter."""
    return _bm25_idx(spark, sf_dir, "dup table merge", 10, "maxscore",
                     post_filter=F.col("lang") == "en")


def q_bm25_topk_english(spark, sf_dir):
    """The full english analysis chain (stop set + S-stemmer) under
    the hard gate: 'tables queries join' stems to table/query/join at
    query time, the index tokenized the corpus through the same chain,
    and dl/avgdl reflect stopword removal — any divergence anywhere in
    the chain flips the ranking."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.query import topk

    idx = _index_for(spark, sf_dir, analyzer="english")
    raw = topk(spark, idx, "tables queries join", k=30, strategy="scoreall")
    return (raw.select("doc_id", x1e4(F.col("score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


def q_terms_stats_idx(spark, sf_dir):
    """ES terms_stats facet: per-lang count/min/max/sum/avg of n_chars
    over the docs matching 'spark' (0.90-era bucketed stats)."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        terms_stats_facet,
    )

    idx = _index_for(spark, sf_dir)
    raw = terms_stats_facet(spark, idx, "spark", "lang", "n_chars")
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4

    return raw.select("lang", "n", "min_v", "max_v", "sum_v",
                      x1e4(F.col("avg_v")).alias("avg_x1e4"))


def q_range_agg_idx(spark, sf_dir):
    """ES range aggregation: explicit [from, to) buckets (open ends,
    overlap allowed) of n_chars over the docs matching 'spark'."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        range_agg,
    )

    idx = _index_for(spark, sf_dir)
    return range_agg(spark, idx, "spark", "n_chars",
                     [(None, 200.0), (200.0, 400.0), (300.0, None)])


def q_filters_agg_idx(spark, sf_dir):
    """ES filters agg: named (possibly overlapping) filter buckets over
    the 'spark' hits, one conditional-sum pass."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        filters_agg,
    )

    idx = _index_for(spark, sf_dir)
    return filters_agg(spark, idx, "spark", {
        "english": F.col("lang") == "en",
        "long_doc": F.col("n_chars") >= 300,
        "missing_lang": F.col("lang").isNull(),
    })


def q_term_vectors_idx(spark, sf_dir):
    """ES _termvectors analog for doc 42: per-term tf + positions from
    the stored term vector, df/cf collection stats from the dictionary
    (positions emitted comma-joined for cross-engine compare)."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        term_vectors,
    )

    idx = _index_for(spark, sf_dir)
    tv = term_vectors(spark, idx, 42)
    return tv.select(
        "term", "tf",
        F.array_join(F.col("positions").cast("array<string>"), ",")
         .alias("positions"),
        "df", "cf").orderBy("term")


ANALYZE_TEXT = "The Sparks  QueryJoin of tables  dup dup"


def q_analyze_api(spark, sf_dir):
    """ES _analyze endpoint analog: the token stream (position, token,
    char offsets) two analysis chains emit for one input — `simple`
    carries exact char offsets (repeated token, double spaces); the
    `english` chain (stop removal + S-stemmer) rewrites token text but
    keeps each pre-stem token's char span and emits nothing for
    stopwords — the char map ES's token filters thread through. Same
    ``tokenize_expr`` token stream the index build and query side
    run."""
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import analyze

    a = (analyze(spark, ANALYZE_TEXT, "simple")
         .withColumn("analyzer", F.lit("simple")))
    b = (analyze(spark, ANALYZE_TEXT, "english")
         .withColumn("analyzer", F.lit("english")))
    return a.unionByName(b).select("analyzer", "position", "token",
                                   "start_offset", "end_offset")


def _analyze_oracle_sql() -> str:
    """DuckDB twin: ONE recursive left-to-right cursor walk computes
    every \\S+ token's char span; `simple` emits it verbatim, the
    `english` branch filters stopwords, stems the token TEXT and keeps
    the pre-stem span (renumbering positions over the survivors) —
    the same char-map-through-filters semantics as
    tokenizer.token_spans_py."""
    txt = ANALYZE_TEXT.replace("'", "''")

    def _stem_sql(t: str) -> str:
        return (
            f"CASE WHEN {t} LIKE '%ies' THEN "
            f"CASE WHEN regexp_matches({t}, '^.+[^ea]ies$') "
            f"THEN substr({t}, 1, len({t}) - 3) || 'y' ELSE {t} END "
            f"WHEN {t} LIKE '%es' THEN "
            f"CASE WHEN regexp_matches({t}, '^.+[^aeo]es$') "
            f"THEN substr({t}, 1, len({t}) - 1) ELSE {t} END "
            f"WHEN {t} LIKE '%s' THEN "
            f"CASE WHEN regexp_matches({t}, '^.+[^su]s$') "
            f"THEN substr({t}, 1, len({t}) - 1) ELSE {t} END "
            f"ELSE {t} END")
    return rf"""
WITH RECURSIVE tk AS (
  SELECT lower('{txt}') AS s,
         list_filter(string_split_regex(lower('{txt}'), '\s+'),
                     x -> x <> '') AS toks
), r AS (
  SELECT 0 AS position, toks[1] AS token,
         strpos(s, toks[1]) - 1 AS start_offset,
         strpos(s, toks[1]) - 1 + len(toks[1]) AS end_offset
  FROM tk WHERE len(toks) > 0
  UNION ALL
  SELECT r.position + 1, tk.toks[r.position + 2],
         r.end_offset
           + strpos(substr(tk.s, r.end_offset + 1),
                    tk.toks[r.position + 2]) - 1,
         r.end_offset
           + strpos(substr(tk.s, r.end_offset + 1),
                    tk.toks[r.position + 2]) - 1
           + len(tk.toks[r.position + 2])
  FROM r, tk WHERE r.position + 2 <= len(tk.toks)
)
SELECT 'simple' AS analyzer, position, token,
       start_offset::INT AS start_offset, end_offset::INT AS end_offset
FROM r
UNION ALL
SELECT 'english',
       (row_number() OVER (ORDER BY position) - 1)::INT,
       {_stem_sql('token')},
       start_offset::INT, end_offset::INT
FROM r WHERE token NOT IN ({_STOP_EN_LUCENE})
"""


def q_index_stats(spark, sf_dir):
    """ES _stats / _cat/indices analog: collection-level statistics off
    the dictionary alone; the oracle recomputes every number from the
    raw documents table, so the row ties dictionary df/cf/avgdl to the
    corpus end-to-end (tokenize -> SPIMI -> dictionary aggregation)."""
    from elasticsearch_osmosis_plugin_spark.plans.build import index_stats

    idx = _index_for(spark, sf_dir)
    return index_stats(spark, idx).select(
        "n_docs", "n_terms", "total_tokens", "sum_df", "avgdl_x1e4")


INDEX_STATS_SQL = f"""
WITH {TOK_EXPLODED_CTE},
d AS (SELECT count(DISTINCT term) AS n_terms,
             count(*) AS total_tokens FROM tok),
df AS (SELECT count(*) AS sum_df
       FROM (SELECT DISTINCT term, doc_id FROM tok)),
nd AS (SELECT count(*) AS n_docs FROM documents)
SELECT nd.n_docs, d.n_terms, d.total_tokens, df.sum_df,
       floor(d.total_tokens::DOUBLE / nd.n_docs * 10000.0 + 0.5)::BIGINT
         AS avgdl_x1e4
FROM d, df, nd
"""


def q_categorize_text_events(spark, sf_dir):
    """ES categorize_text agg over log-like event messages: the token
    skeleton (lowercase, non-alphanumeric split, digit-bearing tokens
    dropped — the variable parts) buckets '{event_type} {props}'
    strings whose raw forms are all distinct."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        categorize_text,
    )

    ev = _t(spark, sf_dir, "events")
    msg = ev.select(F.concat_ws(" ", "event_type", "props").alias("message"))
    return categorize_text(msg, "message", size=10, max_matched_tokens=5)


CATEGORIZE_TEXT_SQL = r"""
WITH m AS (SELECT event_type || ' ' || props AS message FROM events),
k AS (SELECT array_to_string(list_slice(list_filter(
        string_split_regex(lower(message), '[^a-z0-9]+'),
        t -> t <> '' AND NOT regexp_matches(t, '[0-9]')), 1, 5), ' ')
        AS category
      FROM m)
SELECT category, count(*) AS doc_count FROM k
GROUP BY category ORDER BY doc_count DESC, category LIMIT 10
"""


def q_var_width_histogram_events(spark, sf_dir):
    """ES variable_width_histogram (deterministic quantile-seeded
    variant) over event values: 4 nearest-centroid buckets with ES's
    (min, key, max, doc_count) response shape."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        variable_width_histogram,
    )

    ev = _t(spark, sf_dir, "events")
    h = variable_width_histogram(ev, "value", buckets=4)
    return h.select(x1e4(F.col("min_v")).alias("min_x1e4"),
                    x1e4(F.col("key")).alias("key_x1e4"),
                    x1e4(F.col("max_v")).alias("max_x1e4"),
                    "doc_count")


VAR_WIDTH_HIST_SQL = """
WITH q AS (SELECT quantile_cont(value, [0.125, 0.375, 0.625, 0.875])
             AS cents FROM events),
c AS (SELECT generate_subscripts(cents, 1) AS idx, unnest(cents) AS cv
      FROM q),
a AS (SELECT e.event_id, e.value, c.idx,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY abs(e.value - c.cv), c.idx) AS rn
      FROM events e CROSS JOIN c),
g AS (SELECT min(value) AS min_v, avg(value) AS key, max(value) AS max_v,
             count(*) AS doc_count
      FROM a WHERE rn = 1 GROUP BY idx)
SELECT floor(min_v * 10000.0 + 0.5)::BIGINT AS min_x1e4,
       floor(key * 10000.0 + 0.5)::BIGINT AS key_x1e4,
       floor(max_v * 10000.0 + 0.5)::BIGINT AS max_x1e4,
       doc_count
FROM g ORDER BY key
"""


def q_frequent_item_sets(spark, sf_dir):
    """ES frequent_item_sets agg: apriori-pruned frequent 1- and
    2-itemsets of per-document distinct terms with min_support=0.55
    (basket-local pair enumeration over the broadcast-pruned frequent
    vocabulary — no self-join)."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        frequent_item_sets,
    )

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.filter(
        F.split(F.lower("text"), r"\s+"),
        lambda t: t != "")).alias("term"))
    return frequent_item_sets(tok, "doc_id", "term",
                              min_support=0.55, size=15)


FREQUENT_ITEM_SETS_SQL = f"""
WITH {TOK_EXPLODED_CTE},
b AS (SELECT DISTINCT doc_id, term FROM tok),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM b),
mc AS (SELECT greatest(1, ceil(0.55 * n)::BIGINT) AS min_cnt FROM nd),
f1 AS (SELECT term, count(*) AS doc_count FROM b GROUP BY term
       HAVING count(*) >= (SELECT min_cnt FROM mc)),
pr AS (SELECT x.doc_id, x.term AS ta, y.term AS tb
       FROM b x JOIN b y USING (doc_id)
       WHERE x.term < y.term
         AND x.term IN (SELECT term FROM f1)
         AND y.term IN (SELECT term FROM f1)),
f2 AS (SELECT ta || ' ' || tb AS items, 2 AS set_size,
              count(*) AS doc_count
       FROM pr GROUP BY ta, tb
       HAVING count(*) >= (SELECT min_cnt FROM mc)),
u AS (SELECT term AS items, 1 AS set_size, doc_count FROM f1
      UNION ALL SELECT * FROM f2)
SELECT items, set_size, doc_count,
       floor(doc_count::DOUBLE / (SELECT n FROM nd) * 10000.0 + 0.5)::BIGINT
         AS support_x1e4
FROM u ORDER BY doc_count DESC, set_size, items LIMIT 15
"""


def q_bm25_topk_shrunk(spark, sf_dir):
    """ES _shrink analog under the hard gate: the cached 8-bucket SPIMI
    index shrinks to 2 term buckets (pure hardlink + partition-dir
    remap — md5(term)%8 coalesced by %2 IS md5(term)%2, zero bytes
    copied), then serves the standard BM25 query against the plain
    corpus-SQL oracle."""
    import os
    import tempfile

    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.query import topk
    from elasticsearch_osmosis_plugin_spark.plans.merge import shrink_index

    src = _index_for(spark, sf_dir)
    dst = os.path.join(os.path.dirname(src), "index_shrunk2")
    if not os.path.exists(os.path.join(dst, "meta.json")):
        shrink_index(spark, src, dst, 2)
    raw = topk(spark, dst, "spark query join", k=30, strategy="scoreall")
    return (raw.select("doc_id", x1e4(F.col("score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


def q_matrix_stats_idx(spark, sf_dir):
    """ES matrix_stats agg (full response shape: mean / population
    variance / skewness g1 / kurtosis m4/m2^2 per field + covariance
    + correlation) for the (dl, n_chars) pair over 'spark window'
    hits — the oracle recomputes every moment from raw tokenization."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        matrix_stats_agg,
    )

    idx = _index_for(spark, sf_dir)
    m = matrix_stats_agg(spark, idx, "spark window", "dl", "n_chars")
    return m.select(
        "n", x1e4(F.col("mean_a")).alias("mean_a_x1e4"),
        x1e4(F.col("var_a")).alias("var_a_x1e4"),
        x1e4(F.col("skew_a")).alias("skew_a_x1e4"),
        x1e4(F.col("kurt_a")).alias("kurt_a_x1e4"),
        x1e4(F.col("mean_b")).alias("mean_b_x1e4"),
        x1e4(F.col("skew_b")).alias("skew_b_x1e4"),
        x1e4(F.col("kurt_b")).alias("kurt_b_x1e4"),
        x1e4(F.col("covariance")).alias("cov_x1e4"),
        x1e4(F.col("correlation")).alias("corr_x1e4"))


MATRIX_STATS_SQL = f"""
WITH {TOK_CTE},
h AS (SELECT len(toks)::DOUBLE AS a, n_chars::DOUBLE AS b FROM toks
      WHERE list_contains(toks, 'spark') OR list_contains(toks, 'window')),
r AS (SELECT count(*) AS n,
             avg(a) AS m1a, avg(a*a) AS m2a, avg(a*a*a) AS m3a,
             avg(a*a*a*a) AS m4a,
             avg(b) AS m1b, avg(b*b) AS m2b, avg(b*b*b) AS m3b,
             avg(b*b*b*b) AS m4b,
             covar_pop(a, b) AS cov, corr(a, b) AS cr
      FROM h),
s AS (SELECT n,
             m1a AS mean_a, m2a - m1a*m1a AS va,
             m3a - 3*m1a*m2a + 2*m1a*m1a*m1a AS c3a,
             m4a - 4*m1a*m3a + 6*m1a*m1a*m2a - 3*m1a*m1a*m1a*m1a AS c4a,
             m1b AS mean_b, m2b - m1b*m1b AS vb,
             m3b - 3*m1b*m2b + 2*m1b*m1b*m1b AS c3b,
             m4b - 4*m1b*m3b + 6*m1b*m1b*m2b - 3*m1b*m1b*m1b*m1b AS c4b,
             cov, cr
      FROM r)
SELECT n,
       floor(mean_a * 10000.0 + 0.5)::BIGINT AS mean_a_x1e4,
       floor(va * 10000.0 + 0.5)::BIGINT AS var_a_x1e4,
       floor(c3a / pow(va, 1.5) * 10000.0 + 0.5)::BIGINT AS skew_a_x1e4,
       floor(c4a / (va * va) * 10000.0 + 0.5)::BIGINT AS kurt_a_x1e4,
       floor(mean_b * 10000.0 + 0.5)::BIGINT AS mean_b_x1e4,
       floor(c3b / pow(vb, 1.5) * 10000.0 + 0.5)::BIGINT AS skew_b_x1e4,
       floor(c4b / (vb * vb) * 10000.0 + 0.5)::BIGINT AS kurt_b_x1e4,
       floor(cov * 10000.0 + 0.5)::BIGINT AS cov_x1e4,
       floor(cr * 10000.0 + 0.5)::BIGINT AS corr_x1e4
FROM s
"""


def q_ingest_pipeline_events(spark, sf_dir):
    """ES ingest pipeline (_ingest) over events: dissect the raw props
    payload, convert the capture, derive a scripted field, uppercase —
    the whole processor chain folds into ONE Catalyst projection; the
    oracle replays each processor in SQL."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.ingest_pipeline import (
        apply_pipeline,
    )

    ev = _t(spark, sf_dir, "events")
    out = apply_pipeline(ev, [
        {"dissect": {"field": "props", "pattern": '{"k": %{kval}}'}},
        {"convert": {"field": "kval", "type": "long", "target_field": "kv"}},
        {"script": {"target_field": "vk", "source": "value * kv"}},
        {"uppercase": {"field": "event_type", "target_field": "etype_u"}},
        {"set": {"field": "high", "value": "hot",
                 "if": "kv >= 50"}},
    ])
    return out.select("event_id", "etype_u", "kv",
                      x1e4(F.col("vk")).alias("vk_x1e4"),
                      F.coalesce(F.col("high"), F.lit("cold")).alias("heat"))


INGEST_PIPELINE_SQL = r"""
SELECT event_id, upper(event_type) AS etype_u,
       CAST(regexp_extract(props, '^\{"k": (.*)\}$', 1) AS BIGINT) AS kv,
       floor(value * CAST(regexp_extract(props, '^\{"k": (.*)\}$', 1)
                          AS BIGINT) * 10000.0 + 0.5)::BIGINT AS vk_x1e4,
       CASE WHEN CAST(regexp_extract(props, '^\{"k": (.*)\}$', 1) AS BIGINT)
                 >= 50 THEN 'hot' ELSE 'cold' END AS heat
FROM events
"""


def q_ingest_pipeline2_events(spark, sf_dir):
    """ES ingest pipeline round-4 processors: json -> map, grok over
    a derived log line, byte-size parse, append/sort/join list ops,
    md5 fingerprint — still ONE folded Catalyst projection."""
    from elasticsearch_osmosis_plugin_spark.operators.ingest_pipeline import (
        apply_pipeline,
    )

    ev = _t(spark, sf_dir, "events")
    out = apply_pipeline(ev, [
        {"json": {"field": "props", "target_field": "pm"}},
        {"script": {"target_field": "k2",
                    "source": "CAST(pm['k'] AS BIGINT)"}},
        {"script": {"target_field": "log",
                    "source": "concat(event_type, ' ', "
                              "CAST(user_id AS STRING), ' ', "
                              "CAST(value AS STRING), 'kb')"}},
        {"grok": {"field": "log", "patterns":
                  ["%{WORD:verb} %{NUMBER:uid:long} "
                   "%{GREEDYDATA:sz}"]}},
        {"bytes": {"field": "sz", "target_field": "szb"}},
        {"split": {"field": "event_type", "target_field": "arr",
                   "separator": "i"}},
        {"append": {"field": "arr", "value": ["z"]}},
        {"sort": {"field": "arr", "order": "desc"}},
        {"join": {"field": "arr", "separator": "-",
                  "target_field": "joined"}},
        {"fingerprint": {"fields": ["event_id"], "target_field": "fp",
                         "method": "md5"}},
    ])
    return out.select("event_id", "verb", "uid", "szb", "joined",
                      "fp", "k2").orderBy("event_id")


INGEST_PIPELINE2_SQL = """
SELECT event_id, event_type AS verb, user_id AS uid,
       trunc(value * 1024)::BIGINT AS szb,
       array_to_string(list_sort(list_append(
         string_split(event_type, 'i'), 'z'), 'DESC'), '-') AS joined,
       md5('event_id=' || event_id) AS fp,
       json_extract_string(props, '$.k')::BIGINT AS k2
FROM events ORDER BY event_id"""


def q_dsl_search(spark, sf_dir):
    """ES JSON search body routed through the DSL compiler — must be
    value-identical to the plain BM25 oracle (the compiler adds
    routing, never semantics)."""
    from elasticsearch_osmosis_plugin_spark.operators.dsl import search

    idx = _index_for(spark, sf_dir)
    raw = search(spark, idx, {
        "query": {"match": {"text": "spark query join"}}, "size": 30})
    return _rerank_score_x1e4(raw, 10)


def q_query_string_idx(spark, sf_dir):
    """Lucene query_string syntax under the hard gate: required term
    (BM25), boosted optional term, constant-score phrase + prefix
    clauses, and an exclusion — one parse, one shared postings decode:
    ``+spark "query join" win* dup^2 -merge``."""
    from elasticsearch_osmosis_plugin_spark.operators.querystring import (
        query_string_topk,
    )

    idx = _index_for(spark, sf_dir)
    raw = query_string_topk(spark, idx, '+spark "query join" win* dup^2 -merge',
                            k=30)
    return _rerank_score_x1e4(raw, 10)


QS_ORACLE_SQL = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('spark', 'dup') GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
bm AS (SELECT tf.doc_id, tf.term,
              ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) AS p
       FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats),
feat AS (SELECT doc_id,
    CASE WHEN len(toks) >= 2 AND list_contains(
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1]), 'query join')
         THEN 1.0 ELSE 0.0 END AS ph,
    CASE WHEN len(list_filter(toks, t -> t LIKE 'win%')) > 0
         THEN 1.0 ELSE 0.0 END AS pf,
    list_contains(toks, 'merge') AS has_merge
  FROM toks),
scored AS (SELECT doc_id,
                  max(CASE WHEN term = 'spark' THEN p END) AS sp,
                  sum(CASE WHEN term = 'dup' THEN 2.0 * p ELSE 0.0 END) AS dp
           FROM bm GROUP BY doc_id)
SELECT s.doc_id,
       floor((s.sp + s.dp + f.ph + f.pf) * 10000.0 + 0.5)::BIGINT AS score_x1e4
FROM scored s JOIN feat f USING (doc_id)
WHERE s.sp IS NOT NULL AND NOT f.has_merge
ORDER BY floor((s.sp + s.dp + f.ph + f.pf) * 10000.0 + 0.5) DESC, doc_id
LIMIT 10
"""


def q_multi_match_cross_idx(spark, sf_dir):
    """multi_match cross_fields under the hard gate: text + source
    field indexes, Lucene blended df (max across fields), per-term
    best-field partial, summed per doc."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        multi_match_cross_fields,
    )

    paths = {"text": _index_for(spark, sf_dir),
             "source": _index_for(spark, sf_dir, field="source")}
    raw = multi_match_cross_fields(spark, paths, "spark src3", k=30)
    return _rerank_score_x1e4(raw, 10)


def q_multi_match_most_idx(spark, sf_dir):
    """multi_match most_fields: per-field BM25 (field-local stats)
    SUMMED per doc."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        multi_match_most_fields,
    )

    paths = {"text": _index_for(spark, sf_dir),
             "source": _index_for(spark, sf_dir, field="source")}
    raw = multi_match_most_fields(spark, paths, "spark src3", k=30)
    return _rerank_score_x1e4(raw, 10)


def _mm_oracle_sql(kind: str) -> str:
    """Shared CTE scaffold for the two multi_match oracles: the text
    field tokenizes via TOK_EXPLODED_CTE; the source field is a single
    'simple'-analyzed token per doc (tf=1, dl=avgdl=1, so its BM25
    partial collapses to the idf)."""
    head = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf_t AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
         WHERE term IN ('spark', 'src3') GROUP BY doc_id, term),
df_t AS (SELECT term, count(*)::DOUBLE AS df FROM tf_t GROUP BY term),
tf_s AS (SELECT doc_id, lower(source) AS term, 1.0 AS tf FROM documents
         WHERE lower(source) IN ('spark', 'src3')),
df_s AS (SELECT term, count(*)::DOUBLE AS df FROM tf_s GROUP BY term)"""
    if kind == "cross":
        return head + f""",
bl AS (SELECT term, max(df) AS df FROM
         (SELECT * FROM df_t UNION ALL SELECT * FROM df_s) GROUP BY term),
pt AS (SELECT tf_t.doc_id, tf_t.term,
              ln(1.0 + (stats.n_docs - bl.df + 0.5) / (bl.df + 0.5))
              * tf_t.tf * ({BM25_K1} + 1.0)
              / (tf_t.tf + {BM25_K1} * (1.0 - {BM25_B}
                                        + {BM25_B} * dl.dl / stats.avgdl)) AS p
       FROM tf_t JOIN dl USING (doc_id) JOIN bl USING (term)
       CROSS JOIN stats),
ps AS (SELECT tf_s.doc_id, tf_s.term,
              ln(1.0 + (stats.n_docs - bl.df + 0.5) / (bl.df + 0.5)) AS p
       FROM tf_s JOIN bl USING (term) CROSS JOIN stats),
best AS (SELECT doc_id, term, max(p) AS p FROM
           (SELECT * FROM pt UNION ALL SELECT * FROM ps)
         GROUP BY doc_id, term),
sc AS (SELECT doc_id, sum(p) AS s FROM best GROUP BY doc_id)
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4 FROM sc
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT 10"""
    return head + f""",
pt AS (SELECT tf_t.doc_id,
              ln(1.0 + (stats.n_docs - df_t.df + 0.5) / (df_t.df + 0.5))
              * tf_t.tf * ({BM25_K1} + 1.0)
              / (tf_t.tf + {BM25_K1} * (1.0 - {BM25_B}
                                        + {BM25_B} * dl.dl / stats.avgdl)) AS p
       FROM tf_t JOIN dl USING (doc_id) JOIN df_t USING (term)
       CROSS JOIN stats),
ps AS (SELECT tf_s.doc_id,
              ln(1.0 + (stats.n_docs - df_s.df + 0.5) / (df_s.df + 0.5)) AS p
       FROM tf_s JOIN df_s USING (term) CROSS JOIN stats),
sc AS (SELECT doc_id, sum(p) AS s FROM
         (SELECT * FROM pt UNION ALL SELECT * FROM ps) GROUP BY doc_id)
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4 FROM sc
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT 10"""


def q_simple_query_string_idx(spark, sf_dir):
    """ES simple_query_string (the lenient search-box language) under
    the hard gate: ``spark + "query join" -dup | win*`` — an AND
    alternative (BM25 term + constant-score phrase), an OR prefix
    alternative, and a group-level exclusion, one shared postings
    decode."""
    from elasticsearch_osmosis_plugin_spark.operators.querystring import (
        simple_query_string_topk,
    )

    idx = _index_for(spark, sf_dir)
    raw = simple_query_string_topk(
        spark, idx, 'spark + "query join" -dup | win*', k=30)
    return _rerank_score_x1e4(raw, 10)


SQS_ORACLE_SQL = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term = 'spark' GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
bm AS (SELECT tf.doc_id,
              ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) AS sp
       FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats),
feat AS (SELECT doc_id,
    CASE WHEN len(toks) >= 2 AND list_contains(
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1]), 'query join')
         THEN 1.0 ELSE 0.0 END AS ph,
    CASE WHEN len(list_filter(toks, t -> t LIKE 'win%')) > 0
         THEN 1.0 ELSE 0.0 END AS pf,
    list_contains(toks, 'dup') AS has_dup
  FROM toks),
sc AS (SELECT f.doc_id,
              CASE WHEN b.sp IS NOT NULL AND f.ph = 1.0
                   THEN b.sp + 1.0 ELSE 0.0 END + f.pf AS s
       FROM feat f LEFT JOIN bm b USING (doc_id)
       WHERE NOT f.has_dup
         AND ((b.sp IS NOT NULL AND f.ph = 1.0) OR f.pf = 1.0))
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4
FROM sc
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id
LIMIT 10
"""


def q_lm_dirichlet_idx(spark, sf_dir):
    """Lucene LMDirichlet similarity (ES similarity module, mu=2000)
    over the persisted index: collection-LM smoothing, per-clause
    0-clamp, zero-evidence docs dropped."""
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_lm

    idx = _index_for(spark, sf_dir)
    raw = topk_lm(spark, idx, "spark query join", k=30,
                  similarity="lm_dirichlet", mu=2000.0)
    return _rerank_score_x1e4(raw, 10)


def q_lm_jelinek_mercer_idx(spark, sf_dir):
    """Lucene LMJelinekMercer similarity (lambda=0.1) over the
    persisted index."""
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_lm

    idx = _index_for(spark, sf_dir)
    raw = topk_lm(spark, idx, "dup table merge", k=30,
                  similarity="lm_jelinek_mercer", lam=0.1)
    return _rerank_score_x1e4(raw, 10)


LM_MU, LM_LAM = 2000.0, 0.1


def _lm_oracle_sql(terms: list[str], k: int, similarity: str) -> str:
    """DuckDB twin of topk_lm: P(t|C) = (cf+1)/(T+1) with T = ALL
    corpus tokens; per-clause greatest(0, .); HAVING s > 0 mirrors the
    engine's zero-evidence drop."""
    term_list = ", ".join(f"'{t}'" for t in terms)
    if similarity == "lm_dirichlet":
        clause = (f"ln(1.0 + tf.tf / ({LM_MU} * ((cf.cf + 1.0) / (tot.t + 1.0))))"
                  f" + ln({LM_MU} / (dl.dl + {LM_MU}))")
    else:
        clause = (f"ln(1.0 + (1.0 - {LM_LAM}) * tf.tf "
                  f"/ (dl.dl * {LM_LAM} * ((cf.cf + 1.0) / (tot.t + 1.0))))")
    return f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
tot AS (SELECT count(*)::DOUBLE AS t FROM tok),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ({term_list}) GROUP BY doc_id, term),
cf AS (SELECT term, count(*)::DOUBLE AS cf FROM tok
       WHERE term IN ({term_list}) GROUP BY term),
scored AS (
  SELECT tf.doc_id, sum(greatest(0.0, {clause})) AS s
  FROM tf JOIN dl USING (doc_id) JOIN cf USING (term) CROSS JOIN tot
  GROUP BY tf.doc_id
  HAVING sum(greatest(0.0, {clause})) > 0.0)
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4 FROM scored
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT {k}
"""


def q_classic_tfidf_idx(spark, sf_dir):
    """Lucene ClassicSimilarity top-k (the ES 0.90 default TF-IDF the
    reference stack actually ranked with); 'zzz' is (near-)absent, so
    its clause exercises queryNorm/coord absent-term semantics."""
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_classic

    idx = _index_for(spark, sf_dir)
    raw = topk_classic(spark, idx, "spark query zzz", k=30)
    return _rerank_score_x1e4(raw, 10)


CLASSIC_TERMS = ["query", "spark", "zzz"]


def _classic_oracle_sql(terms: list[str], k: int) -> str:
    """DuckDB twin of ClassicSimilarity: coord * queryNorm *
    sum idf^2 sqrt(tf)/sqrt(dl), idf = 1 + ln(N/(df+1)); absent terms
    keep their clause (LEFT JOIN + coalesce(df, 0))."""
    term_list = ", ".join(f"'{t}'" for t in terms)
    score = "s * qn.qnorm * nt / qn.mo"
    return f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ({term_list}) GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
q AS (SELECT unnest([{term_list}]) AS term),
qidf AS (SELECT q.term, 1.0 + ln(stats.n_docs / (coalesce(df.df, 0.0) + 1.0))
           AS qi
         FROM q LEFT JOIN df USING (term) CROSS JOIN stats),
qn AS (SELECT 1.0 / sqrt(sum(qi * qi)) AS qnorm,
              count(*)::DOUBLE AS mo FROM qidf),
scored AS (SELECT tf.doc_id,
                  sum(qidf.qi * qidf.qi * sqrt(tf.tf) / sqrt(dl.dl)) AS s,
                  count(DISTINCT tf.term)::DOUBLE AS nt
           FROM tf JOIN dl USING (doc_id) JOIN qidf USING (term)
           GROUP BY tf.doc_id)
SELECT doc_id, floor({score} * 10000.0 + 0.5)::BIGINT AS score_x1e4
FROM scored CROSS JOIN qn
ORDER BY floor({score} * 10000.0 + 0.5) DESC, doc_id LIMIT {k}
"""


BATCH_QUERIES = {"q0": "spark query join", "q1": "dup table merge",
                 "q2": "window"}


def q_bm25_topk_batch(spark, sf_dir):
    """Batched serving path: all queries in ONE decode + aggregation
    (operators.query.topk_many), rank-identical per query."""
    from pyspark.sql import Window as PW

    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_many

    idx = _index_for(spark, sf_dir)
    raw = topk_many(spark, idx, BATCH_QUERIES, k=30)
    w = PW.partitionBy("query_id").orderBy(F.desc("score_x1e4"),
                                           F.asc("doc_id"))
    return (raw.select("query_id", "doc_id",
                       x1e4(F.col("score")).alias("score_x1e4"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= 10).drop("_rn"))


def q_phrase_match_idx(spark, sf_dir):
    """Positional-postings phrase match over the persisted index (the
    index-side path; q_phrase_match is the pure-DataFrame twin)."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import match_phrase

    idx = _index_for(spark, sf_dir)
    return match_phrase(spark, idx, "query join")


def q_bm25_explain(spark, sf_dir):
    """ES _explain analog: per-(doc, term) tf/dl/idf/partial breakdown
    for the flagship query's terms."""
    from elasticsearch_osmosis_plugin_spark.operators.bm25 import bm25_explain

    docs = _t(spark, sf_dir, "documents")
    return bm25_explain(docs, sorted({"spark", "query", "join"}),
                        EngineConfig(k1=BM25_K1, b=BM25_B),
                        id_col="doc_id", text_col="text", analyzer="simple")


def q_prefix_match_idx(spark, sf_dir):
    """ES prefix-query analog: dictionary expansion (term order,
    capped) -> constant-score doc set, fully index-side."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        match_expanded,
    )

    idx = _index_for(spark, sf_dir)
    return match_expanded(spark, idx, "win", mode="prefix",
                          max_expansions=1000)


def q_regex_match_idx(spark, sf_dir):
    """ES regexp-query analog (full-term anchored match, Java∩RE2
    pattern subset)."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        match_expanded,
    )

    idx = _index_for(spark, sf_dir)
    return match_expanded(spark, idx, "d[ue]p.*", mode="regex",
                          max_expansions=1000)


MLT_SRC_DOC = 7  # more_like_this source doc (exists at every SF)


def q_bm25_topk_boosted(spark, sf_dir):
    """Query-time per-term boost (ES ^boost analog): boost folds into
    idf so MaxScore bounds scale with it — pruning stays exact."""
    return _bm25_idx(spark, sf_dir, "dup table merge", 10, "maxscore",
                     boosts={"dup": 3.0, "merge": 0.5})


def q_search_after_idx(spark, sf_dir):
    """ES search_after analog: keyset pagination at the x1e4 fixed
    point — page 1's cursor (score_x1e4, doc_id) filters page 2 out of
    the SAME scored relation (two jobs, one postings decode plan)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_after

    idx = _index_for(spark, sf_dir)
    raw = topk_after(spark, idx, "spark query join", k=40)
    page = raw.select("doc_id", x1e4(F.col("score")).alias("score_x1e4"))
    p1 = (page.orderBy(F.desc("score_x1e4"), F.asc("doc_id"))
          .limit(10).collect())
    s10, d10 = p1[-1]["score_x1e4"], p1[-1]["doc_id"]
    return (page.filter((F.col("score_x1e4") < s10)
                        | ((F.col("score_x1e4") == s10)
                           & (F.col("doc_id") > d10)))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


def q_more_like_this_idx(spark, sf_dir):
    """ES more_like_this analog: top tf*idf terms of the source doc's
    stored term vector -> BM25 top-k excluding the source."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        more_like_this,
    )

    idx = _index_for(spark, sf_dir)
    raw = more_like_this(spark, idx, MLT_SRC_DOC, max_query_terms=5, k=30)
    return (raw.select("doc_id", x1e4(F.col("score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


def q_bool_query_idx(spark, sf_dir):
    """ES bool query: must + should(minimum_should_match) + must_not,
    set algebra over pruned posting streams."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import match_bool

    idx = _index_for(spark, sf_dir)
    return match_bool(spark, idx, must="spark", should="window dup",
                      must_not="merge", minimum_should_match=1)


def q_terms_set_idx(spark, sf_dir):
    """ES terms_set query: per-doc minimum_should_match threshold
    (here the field form, threshold = doc_id % 3 + 1)."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import terms_set

    idx = _index_for(spark, sf_dir)
    return terms_set(spark, idx, "spark window dup join",
                     (F.col("doc_id") % 3 + 1).cast("long"))


TERMS_SET_SQL = f"""
WITH {TOK_EXPLODED_CTE},
m AS (SELECT doc_id, count(DISTINCT term) AS n_matched FROM tok
      WHERE term IN ('dup', 'join', 'spark', 'window') GROUP BY doc_id)
SELECT doc_id, n_matched FROM m
WHERE n_matched >= (doc_id % 3 + 1) ORDER BY doc_id
"""


def q_distance_feature_idx(spark, sf_dir):
    """ES distance_feature query: BM25 + weight*pivot/(pivot+|v-origin|)
    additive boost (the WAND-friendly function_score alternative)."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        distance_feature,
        function_score_topk,
    )

    idx = _index_for(spark, sf_dir)
    raw = function_score_topk(
        spark, idx, "spark query", k=30,
        functions=[distance_feature("n_chars", 300.0, 50.0, weight=2.0)],
        boost_mode="sum")
    return _rerank_score_x1e4(raw, 10)


DIST_FEAT_SQL = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('query', 'spark') GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id),
boosted AS (
  SELECT s.doc_id,
         s.s + 2.0 * 50.0 / (50.0 + abs(d.n_chars::DOUBLE - 300.0)) AS b
  FROM scored s JOIN documents d USING (doc_id))
SELECT doc_id, floor(b * 10000.0 + 0.5)::BIGINT AS score_x1e4 FROM boosted
ORDER BY floor(b * 10000.0 + 0.5) DESC, doc_id LIMIT 10
"""


def q_rank_feature_idx(spark, sf_dir):
    """ES rank_feature query (saturation): BM25 + w * x/(x+pivot)
    static-feature boost over the n_chars carry column — bounded by w,
    the WAND-safe static signal ES recommends over function_score."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        function_score_topk,
        rank_feature,
    )

    idx = _index_for(spark, sf_dir)
    raw = function_score_topk(
        spark, idx, "spark query", k=30,
        functions=[rank_feature("n_chars", "saturation", pivot=300.0,
                                weight=2.0)],
        boost_mode="sum")
    return _rerank_score_x1e4(raw, 10)


RANK_FEATURE_SQL = DIST_FEAT_SQL.replace(
    "s.s + 2.0 * 50.0 / (50.0 + abs(d.n_chars::DOUBLE - 300.0))",
    "s.s + 2.0 * greatest(0.0, d.n_chars::DOUBLE)"
    " / (greatest(0.0, d.n_chars::DOUBLE) + 300.0)")


def q_min_should_match_idx(spark, sf_dir):
    """ES minimum_should_match: >= 2 of 4 optional terms."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        match_min_should,
    )

    idx = _index_for(spark, sf_dir)
    return match_min_should(spark, idx, "spark window dup join", 2)


def q_stats_agg_idx(spark, sf_dir):
    """ES stats-aggregation analog over query hits (avg derived from
    the exact integer sum for cross-engine determinism)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import stats_agg

    idx = _index_for(spark, sf_dir)
    s = stats_agg(spark, idx, "spark window", "dl")
    return s.select(
        F.col("n"), F.col("min_v").cast("long").alias("min_v"),
        F.col("max_v").cast("long").alias("max_v"),
        F.col("sum_v").cast("long").alias("sum_v"),
        x1e4(F.col("sum_v").cast("double") / F.col("n")).alias("avg_x1e4"))


def q_extended_stats_idx(spark, sf_dir):
    """ES extended_stats: stats + sum_of_squares + population std-dev
    bounds over query hits (integer sums exact cross-engine; std on
    the x1e4 fixed point)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        extended_stats_agg,
    )

    idx = _index_for(spark, sf_dir)
    s = extended_stats_agg(spark, idx, "spark window", "dl", sigma=2.0)
    return s.select(
        "n", F.col("min_v").cast("long").alias("min_v"),
        F.col("max_v").cast("long").alias("max_v"),
        F.col("sum_v").cast("long").alias("sum_v"),
        F.col("sum_sq").cast("long").alias("sum_sq"),
        x1e4(F.col("avg_v")).alias("avg_x1e4"),
        x1e4(F.col("std_deviation")).alias("std_x1e4"),
        x1e4(F.col("std_upper")).alias("upper_x1e4"),
        x1e4(F.col("std_lower")).alias("lower_x1e4"))


def q_top_metrics_idx(spark, sf_dir):
    """ES top_metrics: the lang of the longest hit (max dl, ties to min
    doc_id) — one mergeable max_by, no sort."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        top_metrics_agg,
    )

    idx = _index_for(spark, sf_dir)
    t = top_metrics_agg(spark, idx, "spark window", "lang", "dl")
    return t.select(F.col("sort_value").cast("long").alias("sort_value"),
                    "metric_value", "doc_id")


def q_mad_idx(spark, sf_dir):
    """ES median_absolute_deviation (exact twin: interpolated median in
    both engines; mad doubled to a long — halves stay exact)."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        median_absolute_deviation_agg,
    )

    idx = _index_for(spark, sf_dir)
    m = median_absolute_deviation_agg(spark, idx, "spark window", "dl")
    return m.select("n", (F.col("mad") * 2).cast("long").alias("mad_x2"))


def q_t_test_idx(spark, sf_dir):
    """ES t_test (Welch): dl distribution of 'spark' hits vs 'dup'
    hits."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        t_test_agg,
    )

    idx = _index_for(spark, sf_dir)
    t = t_test_agg(spark, idx, "spark", "dup", "dl")
    return t.select("n_a", "n_b", x1e4(F.col("t_stat")).alias("t_x1e4"))


def q_histogram_filled_idx(spark, sf_dir):
    """ES histogram with min_doc_count=0 + extended_bounds: the gapless
    bucket grid pipeline aggs assume, empty buckets emitted."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        histogram_filled,
    )

    idx = _index_for(spark, sf_dir)
    return histogram_filled(spark, idx, "spark", "dl", 20,
                            extended_bounds=(0.0, 400.0))


def q_histogram_agg_idx(spark, sf_dir):
    """ES histogram-aggregation analog: fixed-width dl buckets over
    query hits."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        histogram_agg,
    )

    idx = _index_for(spark, sf_dir)
    return histogram_agg(spark, idx, "spark", "dl", 20)


def q_highlight_idx(spark, sf_dir):
    """ES highlight analog: snippet around the first query-term
    occurrence, positions decoded index-side."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import highlight

    idx = _index_for(spark, sf_dir)
    return highlight(spark, idx, "window dup", window=3)


def q_highlight_frags_idx(spark, sf_dir):
    """ES highlight with number_of_fragments=2 + pre/post tags: up to
    two position-ordered tagged snippets per matching doc, fragments
    anchored at each distinct matched term's first occurrence."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        highlight_fragments,
    )

    idx = _index_for(spark, sf_dir)
    return highlight_fragments(spark, idx, "window dup", window=3,
                               number_of_fragments=2)


HIGHLIGHT_FRAGS_SQL = f"""
WITH {TOK_CTE},
qt AS (SELECT unnest(['window', 'dup']) AS term),
occ AS (SELECT doc_id, toks, qt.term,
               list_min(list_filter(generate_series(1, len(toks)),
                        i -> toks[i] = qt.term)) AS p1
        FROM toks CROSS JOIN qt),
sel AS (SELECT doc_id, toks, term, p1,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY p1, term) AS rn
        FROM occ WHERE p1 IS NOT NULL),
fr AS (SELECT doc_id, p1, term,
         array_to_string(list_transform(
           list_slice(toks, greatest(1, p1 - 3), least(len(toks), p1 + 3)),
           t -> CASE WHEN t IN ('window', 'dup')
                THEN '<em>' || t || '</em>' ELSE t END), ' ') AS frag
       FROM sel WHERE rn <= 2)
SELECT doc_id, list(frag ORDER BY p1, term) AS fragments
FROM fr GROUP BY doc_id ORDER BY doc_id
"""


def q_boosting_idx(spark, sf_dir):
    """ES boosting query: 'spark query' ranking with docs containing
    'dup' demoted to 0.3x — soft must_not under the hard gate."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        boosting_topk,
    )

    idx = _index_for(spark, sf_dir)
    raw = boosting_topk(spark, idx, "spark query", "dup", k=30,
                        negative_boost=0.3)
    return _rerank_score_x1e4(raw, 10)


def q_collapse_idx(spark, sf_dir):
    """ES field-collapsing analog: the BM25 ranking keeping only the
    best hit per source, top-10 groups. k=25 >= the 20 distinct
    sources, so the raw-score cut inside collapse_topk drops nothing
    before the fixed-point re-rank."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import collapse_topk

    idx = _index_for(spark, sf_dir)
    raw = collapse_topk(spark, idx, "spark window", "source", k=25)
    return (raw.select("source", "doc_id",
                       x1e4(F.col("score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


def _rerank_score_x1e4(raw, k):
    """Re-rank raw-scored rows at the x1e4 fixed point the oracle
    sorts on (rounding can reorder raw near-ties)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4

    return (raw.select("doc_id", x1e4(F.col("score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(k))


def q_function_score_idx(spark, sf_dir):
    """ES function_score analog: BM25 * field_value_factor
    (log1p of n_chars) — relevance reshaped by a document feature."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        field_value_factor,
        function_score_topk,
    )

    idx = _index_for(spark, sf_dir)
    raw = function_score_topk(
        spark, idx, "spark query", k=30,
        functions=[field_value_factor("n_chars", 1.0, "log1p")])
    return _rerank_score_x1e4(raw, 10)


def q_decay_score_idx(spark, sf_dir):
    """ES gauss-decay function_score: prefer docs whose n_chars is
    near 300 (decays to 0.5 at distance 150)."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        decay_fn,
        function_score_topk,
    )

    idx = _index_for(spark, sf_dir)
    raw = function_score_topk(
        spark, idx, "spark query", k=30,
        functions=[decay_fn("n_chars", 300.0, 150.0, decay=0.5,
                            kind="gauss")])
    return _rerank_score_x1e4(raw, 10)


def q_dis_max_idx(spark, sf_dir):
    """ES dis_max analog: best subquery score + tie_breaker * rest,
    one postings decode for the union of subquery terms."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import dis_max_topk

    idx = _index_for(spark, sf_dir)
    raw = dis_max_topk(spark, idx, ["spark query", "dup merge table"],
                       k=30, tie_breaker=0.3)
    return _rerank_score_x1e4(raw, 10)


def q_multi_match_idx(spark, sf_dir):
    """ES multi_match best_fields analog: per-field indexes (text +
    source keyword field), per-field BM25, dis_max combine."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        multi_match_best_fields,
    )

    txt = _index_for(spark, sf_dir)
    src = _index_for(spark, sf_dir, field="source")
    raw = multi_match_best_fields(spark, {"text": txt, "source": src},
                                  "spark src3", k=30, tie_breaker=0.2)
    return _rerank_score_x1e4(raw, 10)


def q_suggest_term_idx(spark, sf_dir):
    """ES term-suggester analog (did-you-mean): dictionary terms
    within edit distance 2 of a misspelling, closest + most frequent
    first — metadata-only, no posting decode."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        suggest_terms,
    )

    idx = _index_for(spark, sf_dir)
    return suggest_terms(spark, idx, "dat", max_edits=2, size=5)


def q_suggest_prefix_idx(spark, sf_dir):
    """ES completion-suggester analog: prefix -> top terms by
    collection frequency."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        suggest_prefix,
    )

    idx = _index_for(spark, sf_dir)
    return suggest_prefix(spark, idx, "s", size=5)


def q_suggest_phrase_idx(spark, sf_dir):
    """ES phrase-suggester analog: whole-input did-you-mean
    ('qery windoq' -> 'query window'), per-slot dictionary candidates
    rescored by a StupidBackoff bigram LM from positional postings."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        suggest_phrase,
    )

    idx = _index_for(spark, sf_dir)
    s = suggest_phrase(spark, idx, "qery windoq", max_edits=1,
                       per_slot=5, size=5)
    return s.select("phrase", x1e4(F.col("score")).alias("score_x1e4"))


def _suggest_phrase_oracle_sql() -> str:
    def cand(tok: str) -> str:
        return (f"(SELECT term, cf FROM (SELECT term, cf, row_number() OVER ("
                f"ORDER BY levenshtein(term, '{tok}'), df DESC, term) AS rn "
                f"FROM uni WHERE abs(len(term) - {len(tok)}) <= 1 "
                f"AND levenshtein(term, '{tok}') <= 1) WHERE rn <= 5)")
    return f"""
WITH {TOK_EXPLODED_CTE},
uni AS (SELECT term, count(*)::DOUBLE AS cf,
               count(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY term),
tot AS (SELECT count(*)::DOUBLE AS t FROM tok),
c0 AS {cand("qery")},
c1 AS {cand("windoq")},
bg AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                    i -> toks[i] || ' ' || toks[i+1]))
         AS bigram FROM toks WHERE len(toks) >= 2),
bcnt AS (SELECT bigram, count(*)::DOUBLE AS c FROM bg GROUP BY bigram),
scored AS (
  SELECT c0.term || ' ' || c1.term AS phrase,
         ln(c0.cf / tot.t)
         + (CASE WHEN bc.c > 0 THEN ln(bc.c / c0.cf)
                 ELSE ln(0.4 * c1.cf / tot.t) END) AS s
  FROM c0 CROSS JOIN c1 CROSS JOIN tot
  LEFT JOIN bcnt bc ON bc.bigram = c0.term || ' ' || c1.term
  ORDER BY s DESC, phrase LIMIT 5)
SELECT phrase, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4 FROM scored
"""


def q_cardinality_idx(spark, sf_dir):
    """ES cardinality-aggregation analog (exact twin; the approx HLL
    path is pytest-checked against this within rsd)."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        cardinality_agg,
    )

    idx = _index_for(spark, sf_dir)
    return cardinality_agg(spark, idx, "spark window", "source", exact=True)


def q_significant_terms_idx(spark, sf_dir):
    """ES significant_terms analog: JLH-scored over-representation of
    hit-set terms vs the background corpus."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        significant_terms,
    )

    idx = _index_for(spark, sf_dir)
    s = significant_terms(spark, idx, "window dup", size=10, min_doc_count=3)
    return s.select("term", "df_fg", "df_bg",
                    x1e4(F.col("jlh")).alias("jlh_x1e4"))


def q_terms_enum_idx(spark, sf_dir):
    """ES _terms_enum: ordered prefix enumeration of index terms with
    doc counts — metadata-only (dictionary scan, no posting decode);
    page 2 fetched through page 1's keyset cursor like ES's
    search_after."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        terms_enum,
    )

    idx = _index_for(spark, sf_dir)
    page1 = terms_enum(spark, idx, prefix="s", size=4)
    after = page1.collect()[-1]["term"]
    page2 = terms_enum(spark, idx, prefix="s", size=4, search_after=after)
    return (page1.withColumn("page", F.lit(1))
            .unionByName(page2.withColumn("page", F.lit(2))))


TERMS_ENUM_SQL = f"""
WITH {TOK_EXPLODED_CTE},
d AS (SELECT term, count(DISTINCT doc_id) AS doc_count FROM tok
      WHERE term LIKE 's%' GROUP BY term),
p1 AS (SELECT term, doc_count, 1 AS page FROM d ORDER BY term LIMIT 4),
cur AS (SELECT max(term) AS after FROM p1),
p2 AS (SELECT term, doc_count, 2 AS page FROM d CROSS JOIN cur
       WHERE term > after ORDER BY term LIMIT 4)
SELECT * FROM p1 UNION ALL SELECT * FROM p2
"""


def q_sig_terms_chi2_idx(spark, sf_dir):
    """significant_terms with the chi_square heuristic (ES's pluggable
    significance family): Pearson chi² of the 2x2 term-by-hit-set
    contingency table, background-is-superset cell algebra."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        significant_terms,
    )

    idx = _index_for(spark, sf_dir)
    s = significant_terms(spark, idx, "window dup", size=10,
                          min_doc_count=3, heuristic="chi_square")
    return s.select("term", "df_fg", "df_bg",
                    x1e4(F.col("chi_square")).alias("chi2_x1e4"))


SIG_CHI2_SQL = f"""
WITH {TOK_CTE},
tokd AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM toks),
hits AS (SELECT doc_id FROM toks
         WHERE list_contains(toks, 'window') OR list_contains(toks, 'dup')),
nfg AS (SELECT count(*)::DOUBLE AS n_fg FROM hits),
nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
fg AS (SELECT term, count(*)::DOUBLE AS df_fg FROM tokd
       WHERE doc_id IN (SELECT doc_id FROM hits) GROUP BY term),
bg AS (SELECT term, count(*)::DOUBLE AS df_bg FROM tokd GROUP BY term),
cells AS (SELECT term, df_fg, df_bg, n_fg, n_docs,
                 df_fg AS a, df_bg - df_fg AS b, n_fg - df_fg AS c,
                 n_docs - n_fg - (df_bg - df_fg) AS d
          FROM fg JOIN bg USING (term) CROSS JOIN nfg CROSS JOIN nd
          WHERE df_fg >= 3),
sc AS (SELECT term, df_fg, df_bg,
              CASE WHEN (a+b)*(c+d)*(a+c)*(b+d) > 0
                   THEN n_docs * (a*d - b*c) * (a*d - b*c)
                        / ((a+b)*(c+d)*(a+c)*(b+d))
                   ELSE 0.0 END AS chi2
       FROM cells)
SELECT term, df_fg::BIGINT AS df_fg, df_bg::BIGINT AS df_bg,
       floor(chi2 * 10000.0 + 0.5)::BIGINT AS chi2_x1e4
FROM sc ORDER BY chi2 DESC, term LIMIT 10
"""


def q_fuzzy_match_idx(spark, sf_dir):
    """ES fuzzy-query analog: Levenshtein dictionary expansion
    (closest-first, capped) -> constant-score doc set, index-side."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import match_fuzzy

    idx = _index_for(spark, sf_dir)
    return match_fuzzy(spark, idx, "windoe", max_edits=1,
                       max_expansions=1000)


def q_terms_sharded_idx(spark, sf_dir):
    """ES distributed terms agg under the hard gate: 4 hash-shards each
    return their local top-6 source buckets, coordinator-merged counts
    + ES's doc_count_error_upper_bound + sum_other_doc_count, all
    value-for-value vs the SQL twin of the same scatter-gather."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        terms_agg_sharded,
    )

    idx = _index_for(spark, sf_dir)
    return terms_agg_sharded(spark, idx, "spark", "source",
                             size=5, shard_size=6, n_shards=4)


TERMS_SHARDED_SQL = f"""
WITH {TOK_CTE},
hits AS (SELECT doc_id, source FROM toks WHERE list_contains(toks, 'spark')),
sh AS (SELECT source,
              ('0x' || substr(md5(doc_id::VARCHAR), 2, 15))
                ::UBIGINT::BIGINT % 4 AS shard
       FROM hits),
per AS (SELECT shard, source, count(*) AS c FROM sh GROUP BY shard, source),
ranked AS (SELECT *,
                  row_number() OVER (PARTITION BY shard
                                     ORDER BY c DESC, source) AS rn,
                  count(*) OVER (PARTITION BY shard) AS n_tot
           FROM per),
ret AS (SELECT * FROM ranked WHERE rn <= 6),
serr AS (SELECT shard,
                CASE WHEN max(n_tot) <= 6 THEN 0 ELSE min(c) END AS err
         FROM ret GROUP BY shard),
tot AS (SELECT sum(err) AS total_err FROM serr),
cand AS (SELECT source, sum(c) AS doc_count FROM ret GROUP BY source),
pres AS (SELECT r.source, sum(s.err) AS perr
         FROM ret r JOIN serr s USING (shard) GROUP BY r.source),
th AS (SELECT count(*) AS total_hits FROM hits),
top AS (SELECT c.source, c.doc_count,
               (t.total_err - p.perr) AS doc_count_error_upper_bound
        FROM cand c JOIN pres p USING (source) CROSS JOIN tot t
        ORDER BY c.doc_count DESC, c.source LIMIT 5)
SELECT source, doc_count, doc_count_error_upper_bound,
       th.total_hits - sum(doc_count) OVER () AS sum_other_doc_count
FROM top CROSS JOIN th
"""


def q_facet_counts_idx(spark, sf_dir):
    """ES terms-aggregation analog over the index: docs matching the
    query (OR) bucketed by the lang carry column."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        facet_counts,
    )

    idx = _index_for(spark, sf_dir)
    return facet_counts(spark, idx, "spark window", "lang")


def q_span_near_idx(spark, sf_dir):
    """ES/Lucene span_near (in order): terms within slop intervening
    positions, checked index-side over positional postings."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import span_near

    idx = _index_for(spark, sf_dir)
    return span_near(spark, idx, "spark join", slop=4, in_order=True)


def q_span_near_unordered_idx(spark, sf_dir):
    """span_near with in_order=False: any-order window containment."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import span_near

    idx = _index_for(spark, sf_dir)
    return span_near(spark, idx, "merge window", slop=8, in_order=False)


def q_synonym_topk_idx(spark, sf_dir):
    """Lucene SynonymQuery (ES query-time synonym expansion): clause 1
    = {spark, window} scored as one pseudo-term (tf summed, df = max
    member df), clause 2 = {join}."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_synonyms

    idx = _index_for(spark, sf_dir)
    raw = topk_synonyms(spark, idx, [["spark", "window"], ["join"]], k=30)
    return (raw.select("doc_id", x1e4(F.col("score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


def q_span_first_idx(spark, sf_dir):
    """Lucene span_first: term span must end at or before position 10
    (0-based pos < 10), checked from positional postings."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import span_first

    idx = _index_for(spark, sf_dir)
    return span_first(spark, idx, "spark", end=10)


def q_span_not_idx(spark, sf_dir):
    """Lucene span_not: a 'query' occurrence with no 'spark' within
    one position either side (pre=1, post=1)."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import span_not

    idx = _index_for(spark, sf_dir)
    return span_not(spark, idx, "query", "spark", pre=1, post=1)


def q_span_or_near_idx(spark, sf_dir):
    """Lucene span_or under span_near: (spark|merge) then 'join' within
    slop=4 intervening positions, in order."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        span_or_near,
    )

    idx = _index_for(spark, sf_dir)
    return span_or_near(spark, idx, [["spark", "merge"], ["join"]],
                        slop=4, in_order=True)


def q_span_multi_near_idx(spark, sf_dir):
    """Lucene span_multi (SpanMultiTermQueryWrapper) under span_near,
    through the JSON DSL: prefix 's' expands against the dictionary
    (scan/slow/small/sort/spark/stream) to a span_or slot, then 'join'
    within slop=3 intervening positions, in order."""
    from elasticsearch_osmosis_plugin_spark.operators.dsl import search

    idx = _index_for(spark, sf_dir)
    raw = search(spark, idx, {"query": {"span_near": {"clauses": [
        {"span_multi": {"match": {"prefix": {"text": {"value": "s"}}}}},
        {"span_term": {"text": "join"}}],
        "slop": 3, "in_order": True}}, "size": 2000})
    return raw.select("doc_id").orderBy("doc_id")


def q_phrase_prefix_idx(spark, sf_dir):
    """ES match_phrase_prefix: fixed terms contiguous + ANY dictionary
    expansion of the trailing prefix at the next position."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        match_phrase_prefix,
    )

    idx = _index_for(spark, sf_dir)
    return match_phrase_prefix(spark, idx, "query jo", max_expansions=1000)


def q_rescore_idx(spark, sf_dir):
    """ES rescore analog: re-rank the top-30 window of a cheap primary
    query with a secondary query (score = 1.0*primary + 0.5*secondary,
    ES score_mode=total); secondary decode is window-bounded."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import rescore_topk

    idx = _index_for(spark, sf_dir)
    raw = rescore_topk(spark, idx, "spark query join", "dup merge",
                       k=30, window_size=30, query_weight=1.0,
                       rescore_query_weight=0.5)
    return _rerank_score_x1e4(raw, 10)


def q_top_hits_idx(spark, sf_dir):
    """ES terms-agg + top_hits sub-agg analog: per-lang top-3 hits by
    BM25 (one postings decode; WindowGroupLimit n-per-group cut)."""
    from pyspark.sql import Window as PW

    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import top_hits

    idx = _index_for(spark, sf_dir)
    raw = top_hits(spark, idx, "spark window", "lang", n_hits=8)
    w = PW.partitionBy("lang").orderBy(F.desc("score_x1e4"), F.asc("doc_id"))
    return (raw.select("lang", "doc_id",
                       x1e4(F.col("score")).alias("score_x1e4"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 3)
            .select("lang", "rank", "doc_id", "score_x1e4")
            .orderBy("lang", "rank"))


def q_percentiles_idx(spark, sf_dir):
    """ES percentiles-agg analog over query hits: exact twin under the
    gate (dyadic pct fractions -> bit-identical interpolation across
    engines); the approx (Greenwald-Khanna) path is pytest-checked."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        percentiles_agg,
    )

    idx = _index_for(spark, sf_dir)
    return percentiles_agg(spark, idx, "spark", "dl",
                           percentiles=(0.25, 0.5, 0.75), exact=True)


def q_scan_scroll_idx(spark, sf_dir):
    """ES 0.90 scan+scroll analog: page 2 of the keyset-paged
    (_doc-ordered) full match set for 'spark' — the cursor is page 1's
    last doc_id, read from the SAME scan relation (no scoring, no
    global sort; each page is a pruned scan + per-partition top-N)."""
    from elasticsearch_osmosis_plugin_spark.operators.query import scan_after

    idx = _index_for(spark, sf_dir)
    p1 = scan_after(spark, idx, "spark", page_size=50).collect()
    return scan_after(spark, idx, "spark", page_size=50,
                      after_doc_id=p1[-1]["doc_id"])


def q_scan_sliced_idx(spark, sf_dir):
    """ES sliced scroll: slice 1 of 3 of the 'spark' match set — a
    codegen md5-fold predicate on the pruned scan, no shuffle."""
    from elasticsearch_osmosis_plugin_spark.operators.query import scan_sliced

    idx = _index_for(spark, sf_dir)
    return scan_sliced(spark, idx, 1, 3, "spark").orderBy("doc_id")


def q_shuffle_order(spark, sf_dir):
    """Reproducible training-order shuffle: first 50 epoch positions of
    the hash-ordered (seed=3) permutation of the documents table."""
    from elasticsearch_osmosis_plugin_spark.functions.sampling import (
        shuffle_order,
    )

    out = shuffle_order(_t(spark, sf_dir, "documents"), seed=3)
    return (out.filter(F.col("shuffle_pos") < 50)
            .select("doc_id", "shuffle_pos"))


SHUFFLE_ORDER_SQL = """
WITH k AS (
  SELECT doc_id,
         ('0x' || substr(md5('shuf3:' || doc_id::VARCHAR), 2, 15))
           ::UBIGINT::BIGINT AS key
  FROM documents),
p AS (SELECT doc_id,
             (row_number() OVER (ORDER BY key, doc_id) - 1)::BIGINT
               AS shuffle_pos
      FROM k)
SELECT doc_id, shuffle_pos FROM p WHERE shuffle_pos < 50
"""


def q_bm25_topk_hot(spark, sf_dir):
    """BM25 with a stop-like hot term + rare term mix (skew fixture)."""
    return _bm25(spark, sf_dir, "dup table merge", 10)


def q_term_stats(spark, sf_dir):
    """Posting-list stats per term: document frequency + collection
    frequency (SURVEY B1: dictionary build)."""
    docs = _t(spark, sf_dir, "documents")
    terms = ["spark", "dup", "window", "zzz"]
    tok = docs.select("doc_id", F.explode(analysis.tokens_col("text")).alias("term"))
    return (tok.filter(F.col("term").isin(terms))
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"),
                 F.count(F.lit(1)).alias("cf")))


def q_doc_lengths(spark, sf_dir):
    """Per-doc token length (SURVEY A7 analog: per-doc stats)."""
    docs = _t(spark, sf_dir, "documents")
    return analysis.token_count(docs).withColumnRenamed("n_tokens", "dl")


def q_boolean_and(spark, sf_dir):
    """Conjunctive AND = posting intersection (SURVEY §2.C joins)."""
    docs = _t(spark, sf_dir, "documents")
    toks = analysis.tokens_col("text")
    return (docs.filter(F.array_contains(toks, "spark")
                        & F.array_contains(toks, "window")
                        & F.array_contains(toks, "dup"))
            .select("doc_id").orderBy("doc_id"))


def q_phrase_match(spark, sf_dir):
    """Phrase query: terms contiguous and in order (ES match_phrase
    analog; index-side variant in operators.intersect.match_phrase)."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        phrase_match_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    return (docs.filter(phrase_match_expr(analysis.tokens_col("text"),
                                          ["query", "join"]))
            .select("doc_id").orderBy("doc_id"))


def q_count_by_lang(spark, sf_dir):
    """Count by type/partition (SURVEY A21/B4)."""
    return (_t(spark, sf_dir, "documents")
            .groupBy("lang").agg(F.count(F.lit(1)).alias("n")))


def q_exact_filter(spark, sf_dir):
    """not_analyzed exact-match term filter (SURVEY B2)."""
    return (_t(spark, sf_dir, "documents")
            .filter(F.col("lang") == "fr")
            .select("doc_id", "source", "n_chars"))


def q_top_docs_by_len(spark, sf_dir):
    """Sort by metric + limit (SURVEY B9)."""
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", "n_chars")
            .orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(20))


MGET_IDS = [5, 3, 9, 1, 7, 400, 12]


def q_mget_order_preserving(spark, sf_dir):
    """Multi-get preserving request order (SURVEY A16,
    EntityDaoITest.java:266-280 analog)."""
    docs = _t(spark, sf_dir, "documents")
    req = spark.createDataFrame(
        [(i, d) for i, d in enumerate(MGET_IDS)], "pos int, doc_id long")
    return (docs.join(F.broadcast(req), "doc_id", "inner")
            .select("pos", "doc_id", "lang").orderBy("pos"))


def q_token_count(spark, sf_dir):
    return analysis.token_count(_t(spark, sf_dir, "documents"))


def q_token_count_bpe(spark, sf_dir):
    """BPE-ish pre-tokenization count (LLM context budgeting)."""
    return analysis.token_count_bpe(_t(spark, sf_dir, "documents"))


def q_quality_score(spark, sf_dir):
    return analysis.quality_score(_t(spark, sf_dir, "documents"))


def q_lang_id(spark, sf_dir):
    return analysis.lang_id(_t(spark, sf_dir, "documents")) \
        .select("doc_id", "pred_lang")


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition features: duplicate-line fractions +
    dominant/duplicated n-gram character shares."""
    return analysis.repetition_stats(_t(spark, sf_dir, "documents"))


def q_pii_stats(spark, sf_dir):
    """PII triage counts (emails / IPv4 / phone-like runs), JVM regex
    on both engines (RE2-compatible pattern subset)."""
    return analysis.pii_stats(_t(spark, sf_dir, "documents"))


def q_fingerprint(spark, sf_dir):
    return analysis.fingerprint(_t(spark, sf_dir, "documents"))


def q_shingle_fingerprint(spark, sf_dir):
    return analysis.shingle_fingerprint(_t(spark, sf_dir, "documents"), n=5)


def q_exact_dup_groups(spark, sf_dir):
    return dedupe.exact_duplicate_groups(_t(spark, sf_dir, "documents"))


def q_ngram_jaccard_pairs(spark, sf_dir):
    return dedupe.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                      n=3, threshold=0.5)


def q_ngram_jaccard_prefix(spark, sf_dir):
    """Prefix-filtered set-similarity join — must return exactly the
    rows of the naive shared-shingle plan (same oracle SQL)."""
    return dedupe.ngram_jaccard_pairs_prefix(_t(spark, sf_dir, "documents"),
                                             n=3, threshold=0.5)


def q_minhash_signatures(spark, sf_dir):
    return dedupe.minhash_signatures(_t(spark, sf_dir, "documents"),
                                     n_hashes=4, n=3)


def q_minhash_lsh_pairs(spark, sf_dir):
    return dedupe.minhash_lsh_pairs(_t(spark, sf_dir, "documents"),
                                    n_hashes=4, band_size=2, n=3)


def q_dup_clusters(spark, sf_dir):
    """Pairs -> clusters -> keep list: connected components (alternating
    large-star/small-star) over the MinHash-LSH candidate pairs, every
    doc labeled with its cluster's min id + keeper flag. The step that
    turns pair emitters into an actual dedup decision (a~b~c collapses
    to ONE survivor even though (a, c) never surfaced as a pair)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedupe.minhash_lsh_pairs(docs, n_hashes=4, band_size=2, n=3)
    return cluster.duplicate_clusters(docs, pairs)


def q_dup_clusters_keep_best(spark, sf_dir):
    """duplicate_clusters with the keep-best rule: the survivor of
    each MinHash-LSH duplicate cluster is the member with MAX n_chars
    (doc_id tiebreak) — the keep rule real curation pipelines use —
    instead of the arbitrary min id."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedupe.minhash_lsh_pairs(docs, n_hashes=4, band_size=2, n=3)
    return cluster.duplicate_clusters(docs, pairs,
                                      keep_by=F.col("n_chars"))


def _dup_keep_best_sql() -> str:
    return f"""
WITH RECURSIVE {TOK_CTE}, {_SHINGLE3},
sig AS (SELECT doc_id, {_MINHASH_SIGS} FROM gr),
stacked AS (
  SELECT doc_id, 0 AS band_no,
         md5(sig0::VARCHAR || '|' || sig1::VARCHAR) AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_no,
         md5(sig2::VARCHAR || '|' || sig3::VARCHAR) AS band_key FROM sig),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM stacked a JOIN stacked b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(node, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node),
cc AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node),
lab AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
               d.n_chars
        FROM documents d LEFT JOIN cc USING (doc_id)),
rk AS (SELECT doc_id, cluster_id,
              row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY n_chars DESC, doc_id) AS rn
       FROM lab)
SELECT doc_id, cluster_id, rn = 1 AS is_keep FROM rk"""


def _dsir_slices(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tgt = docs.filter(F.col("doc_id") % 17 == 0)
    raw = docs.filter(F.col("doc_id") % 17 != 0)
    return raw, tgt


def q_dsir_weights(spark, sf_dir):
    """DSIR (Xie et al. 2023) importance log-weights of every raw doc
    against the eval-slice target LM (hashed unigram+bigram buckets,
    Laplace smoothing) — the data-selection scorer, full relation."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.functions.sampling import (
        dsir_log_weights,
    )

    raw, tgt = _dsir_slices(spark, sf_dir)
    w = dsir_log_weights(raw, tgt, n_buckets=256)
    return w.select("doc_id", x1e4(F.col("logw")).alias("logw_x1e4"))


def q_dsir_sample(spark, sf_dir):
    """DSIR selection: Gumbel top-k resampling (deterministic md5
    uniforms), the 50 raw docs drawn toward the target distribution."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.functions.sampling import dsir_sample

    raw, tgt = _dsir_slices(spark, sf_dir)
    s = dsir_sample(raw, tgt, 50, n_buckets=256, seed=7)
    return s.select("doc_id", x1e4(F.col("key")).alias("key_x1e4"))


_DSIR_B = 256
_DSIR_BASE = f"""
WITH {TOK_CTE},
gl AS (SELECT doc_id,
              toks || list_filter(
                list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                               i -> toks[i] || ' ' || toks[i+1]),
                x -> x IS NOT NULL) AS grams
       FROM toks),
g AS (SELECT doc_id,
             (('0x' || substr(md5(unnest(grams)), 2, 15))::UBIGINT
              % {_DSIR_B})::BIGINT AS b
      FROM gl),
ctt AS (SELECT b, count(*)::DOUBLE AS c FROM g WHERE doc_id % 17 = 0 GROUP BY b),
ctr AS (SELECT b, count(*)::DOUBLE AS c FROM g WHERE doc_id % 17 <> 0 GROUP BY b),
tt AS (SELECT sum(c) AS t FROM ctt),
tr AS (SELECT sum(c) AS t FROM ctr),
lr AS (SELECT list(v ORDER BY b) AS arr FROM (
    SELECT ab.b,
           ln((coalesce(ctt.c, 0.0) + 1.0) / (tt.t + {_DSIR_B}.0))
           - ln((coalesce(ctr.c, 0.0) + 1.0) / (tr.t + {_DSIR_B}.0)) AS v
    FROM (SELECT unnest(generate_series(0, {_DSIR_B - 1})) AS b) ab
    LEFT JOIN ctt USING (b) LEFT JOIN ctr USING (b)
    CROSS JOIN tt CROSS JOIN tr)),
lw AS (SELECT doc_id,
              list_aggregate(list_transform(grams,
                x -> lr.arr[(('0x' || substr(md5(x), 2, 15))::UBIGINT
                             % {_DSIR_B})::BIGINT + 1]), 'sum') AS logw
       FROM gl CROSS JOIN lr WHERE doc_id % 17 <> 0)
"""

DSIR_WEIGHTS_SQL = _DSIR_BASE + """
SELECT doc_id, floor(logw * 10000.0 + 0.5)::BIGINT AS logw_x1e4 FROM lw
"""

DSIR_SAMPLE_SQL = _DSIR_BASE + """
, keyed AS (SELECT doc_id,
    logw - ln(-ln(((('0x' || substr(md5(doc_id::VARCHAR || ':7'), 2, 15))
                    ::UBIGINT % 1000000)::DOUBLE + 0.5) / 1000000.0)) AS key
  FROM lw
  ORDER BY 2 DESC, doc_id LIMIT 50)
SELECT doc_id, floor(key * 10000.0 + 0.5)::BIGINT AS key_x1e4 FROM keyed
"""


def q_contamination(spark, sf_dir):
    """Train-eval decontamination: overlap of each training doc's
    5-gram shingles against the (broadcast) eval set's shingles; the
    eval set is the deterministic doc_id % 17 == 0 slice."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 17 == 0)
    tr = docs.filter(F.col("doc_id") % 17 != 0)
    return dedupe.contamination(tr, ev, n=5, threshold=0.5)


SPARSE_QW = {"spark": 1.0, "query": 0.6, "dup": 2.0}


def q_sparse_vector_topk(spark, sf_dir):
    """Learned sparse retrieval (ES rank_features / ELSER shape):
    doc features = tf/dl impact weights built from the text, query =
    a tiny {token: weight} dict, score = sparse dot product. The
    map-column path and the inverted impact layout are rank-identical
    (pytest); the driver row runs the map path."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.sparsevec import (
        sparse_topk,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = analysis.tokens_col("text")
    tf = (docs.select("doc_id", F.size(toks).alias("_dl"),
                      F.explode(toks).alias("term"))
          .groupBy("doc_id", "term", "_dl")
          .agg(F.count(F.lit(1)).alias("_tf")))
    feats = (tf.groupBy("doc_id")
             .agg(F.map_from_entries(F.collect_list(F.struct(
                 F.col("term"),
                 (F.col("_tf").cast("double") / F.col("_dl"))
                 .alias("w")))).alias("features")))
    raw = sparse_topk(feats, SPARSE_QW, k=10)
    return (raw.select("doc_id", x1e4(F.col("score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


SPARSE_VECTOR_SQL = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('dup', 'query', 'spark') GROUP BY doc_id, term),
qw AS (SELECT * FROM (VALUES ('spark', 1.0), ('query', 0.6), ('dup', 2.0))
       AS t(term, w)),
scored AS (SELECT tf.doc_id, sum(qw.w * tf.tf / dl.dl) AS s
           FROM tf JOIN dl USING (doc_id) JOIN qw USING (term)
           GROUP BY tf.doc_id)
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4
FROM scored WHERE s > 0.0
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT 10
"""


def q_common_terms_idx(spark, sf_dir):
    """ES `common` terms query (dynamic-stopword, 0.90/1.x era):
    'dup' (df ~0.05) selects, 'table'/'merge' (df ~0.78) only boost —
    cutoff 0.5 splits them by df/N computed from the index dictionary
    in Spark and from the corpus in DuckDB."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        common_terms_topk,
    )

    idx = _index_for(spark, sf_dir)
    raw = common_terms_topk(spark, idx, "dup table merge", k=30,
                            cutoff_frequency=0.5)
    return _rerank_score_x1e4(raw, 10)


COMMON_TERMS_SQL = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('dup', 'merge', 'table') GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
cls AS (SELECT df.term,
               CASE WHEN df.df / stats.n_docs <= 0.5 THEN 1 ELSE 0 END
                 AS is_low
        FROM df CROSS JOIN stats),
bm AS (SELECT tf.doc_id, tf.term,
              ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) AS p
       FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats),
agg AS (SELECT bm.doc_id, sum(bm.p) AS s, sum(cls.is_low) AS n_low
        FROM bm JOIN cls USING (term) GROUP BY bm.doc_id)
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4
FROM agg WHERE n_low >= 1
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT 10
"""


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid search (modern ES `rrf` retriever): BM25 over the
    persisted index fused with embedding-cosine ranking by
    reciprocal-rank fusion — ranks assigned at the x1e4 fixed point in
    both engines, window 20 per source, 1/(60+rank) sum."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import rrf_fuse

    bm = _bm25_idx(spark, sf_dir, "spark query join", 20, "scoreall")
    emb = _t(spark, sf_dir, "embeddings")
    cos = (similarity.cosine_scores(emb, _query_vec(spark, sf_dir))
           .select(F.col("vec_id").alias("doc_id"),
                   x1e4(F.col("cos")).alias("score_x1e4"))
           .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(20))
    return rrf_fuse({"bm25": bm, "cos": cos}, k=10, rrf_k=60)


HYBRID_RRF_SQL = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('join', 'query', 'spark') GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id),
bmr AS (SELECT doc_id, row_number() OVER (
          ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id) AS rank
        FROM scored),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
cs AS (SELECT vec_id AS doc_id,
              floor(list_dot_product(embedding::DOUBLE[], qv)
              / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                 * sqrt(list_dot_product(qv, qv))) * 10000.0 + 0.5) AS cx
      FROM embeddings CROSS JOIN q),
csr AS (SELECT doc_id, row_number() OVER (ORDER BY cx DESC, doc_id) AS rank
        FROM cs),
u AS (SELECT doc_id, rank FROM bmr WHERE rank <= 20
      UNION ALL SELECT doc_id, rank FROM csr WHERE rank <= 20)
SELECT doc_id,
       floor(sum(1.0 / (60 + rank)) * 1000000.0 + 0.5)::BIGINT AS rrf_x1e6,
       count(*) AS n_sources
FROM u GROUP BY doc_id
ORDER BY floor(sum(1.0 / (60 + rank)) * 1000000.0 + 0.5) DESC, doc_id
LIMIT 10
"""


def q_hybrid_linear(spark, sf_dir):
    """Modern ES `linear` retriever: the same BM25 + cosine rankings
    as hybrid_rrf, fused by weighted minmax-normalized SCORES
    (bm25 weight 2, cosine weight 1, window 20 per source) instead of
    ranks. Normalization constants come from the x1e4 fixed-point
    window, so every fused value is engine-deterministic."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import linear_fuse

    bm = _bm25_idx(spark, sf_dir, "spark query join", 20, "scoreall")
    emb = _t(spark, sf_dir, "embeddings")
    cos = (similarity.cosine_scores(emb, _query_vec(spark, sf_dir))
           .select(F.col("vec_id").alias("doc_id"),
                   x1e4(F.col("cos")).alias("score_x1e4"))
           .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(20))
    return linear_fuse({"bm25": bm, "cos": cos},
                       weights={"bm25": 2.0, "cos": 1.0}, k=10,
                       normalizer="minmax", window=20)


HYBRID_LINEAR_SQL = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('join', 'query', 'spark') GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id),
bmw AS (SELECT doc_id, floor(s * 10000.0 + 0.5) AS sx,
               row_number() OVER (
                 ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id) AS rank
        FROM scored),
bm20 AS (SELECT doc_id, sx FROM bmw WHERE rank <= 20),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
cs AS (SELECT vec_id AS doc_id,
              floor(list_dot_product(embedding::DOUBLE[], qv)
              / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                 * sqrt(list_dot_product(qv, qv))) * 10000.0 + 0.5) AS sx
      FROM embeddings CROSS JOIN q),
csw AS (SELECT doc_id, sx, row_number() OVER (ORDER BY sx DESC, doc_id)
          AS rank FROM cs),
cs20 AS (SELECT doc_id, sx FROM csw WHERE rank <= 20),
bmn AS (SELECT min(sx)::DOUBLE AS lo, max(sx)::DOUBLE AS hi FROM bm20),
csn AS (SELECT min(sx)::DOUBLE AS lo, max(sx)::DOUBLE AS hi FROM cs20),
u AS (SELECT doc_id, 2.0 * (CASE WHEN hi > lo
              THEN (sx - lo) / (hi - lo) ELSE 1.0 END) AS contrib
      FROM bm20 CROSS JOIN bmn
      UNION ALL
      SELECT doc_id, 1.0 * (CASE WHEN hi > lo
              THEN (sx - lo) / (hi - lo) ELSE 1.0 END) AS contrib
      FROM cs20 CROSS JOIN csn)
SELECT doc_id,
       floor(sum(contrib) * 1000000.0 + 0.5)::BIGINT AS linear_x1e6,
       count(*) AS n_sources
FROM u GROUP BY doc_id
ORDER BY floor(sum(contrib) * 1000000.0 + 0.5) DESC, doc_id
LIMIT 10
"""


def q_duplicate_spans(spark, sf_dir):
    """Substring-level dedup (Lee et al.): every repeated 5-token
    window corpus-wide, first occurrence kept, all others merged into
    maximal per-doc token spans to cut."""
    out = dedupe.duplicate_spans(_t(spark, sf_dir, "documents"), k=5)
    return out.select("doc_id",
                      F.col("span_start").cast("long").alias("span_start"),
                      F.col("span_end").cast("long").alias("span_end"),
                      "n_windows")


DUP_SPANS_SQL = f"""
WITH {TOK_CTE},
occ AS (SELECT doc_id, unnest(list_transform(
          generate_series(1, len(toks) - 4),
          i -> struct_pack(pos := i - 1,
                           g := array_to_string(list_slice(toks, i, i + 4),
                                                ' ')))) AS s
        FROM toks),
o AS (SELECT doc_id, s.pos AS pos, s.g AS g FROM occ),
w AS (SELECT doc_id, pos,
             count(*) OVER (PARTITION BY g) AS n_occ,
             min(doc_id * 1048576 + pos) OVER (PARTITION BY g) AS first_key
      FROM o),
f AS (SELECT doc_id, pos FROM w
      WHERE n_occ > 1 AND doc_id * 1048576 + pos <> first_key),
b AS (SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER wd IS NULL
                       OR pos - lag(pos) OVER wd > 5
                  THEN 1 ELSE 0 END AS brk
      FROM f WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
isl AS (SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM b)
SELECT doc_id, min(pos) AS span_start, max(pos) + 5 AS span_end,
       count(*) AS n_windows
FROM isl GROUP BY doc_id, island
"""


def q_simhash(spark, sf_dir):
    return dedupe.simhash(_t(spark, sf_dir, "documents"))


def q_simhash_neardup(spark, sf_dir):
    return dedupe.simhash_neardup_pairs(_t(spark, sf_dir, "documents"),
                                        max_hamming=7)


def _query_vec(spark, sf_dir):
    row = (_t(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") == 0).select("embedding").collect())
    return list(row[0][0])


def q_cosine_topk(spark, sf_dir):
    """Brute-force exact ANN baseline: cosine top-k vs vec 0."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4

    emb = _t(spark, sf_dir, "embeddings")
    scores = similarity.cosine_scores(emb, _query_vec(spark, sf_dir))
    return (scores.select("vec_id", x1e4(F.col("cos")).alias("cos_x1e4"))
            .orderBy(F.desc("cos_x1e4"), F.asc("vec_id")).limit(10))


def q_knn_filtered(spark, sf_dir):
    """ES 8 filtered kNN through the DSL: the metadata filter restricts
    candidates BEFORE the k-selection (pre-filtering), so the response
    always holds k matching vectors."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.dsl import search

    emb = _t(spark, sf_dir, "embeddings")
    idx = _index_for(spark, sf_dir)
    raw = search(spark, idx, {
        "knn": {"query_vector": _query_vec(spark, sf_dir), "k": 30,
                "filter": {"term": {"label": 1}}}},
        knn_source=emb)
    return (raw.select(F.col("doc_id").alias("vec_id"),
                       x1e4(F.col("score")).alias("cos_x1e4"))
            .orderBy(F.desc("cos_x1e4"), F.asc("vec_id")).limit(10))


def q_embedding_neardup(spark, sf_dir):
    """Exact cosine near-dup pairs (embedding dedupe baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.neardup_pairs_exact(emb, threshold=0.35)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-shaped semantic dedup end-to-end under the hard gate:
    exact cosine pairs (n_lists=1 correctness baseline) -> connected
    components (large-star/small-star) -> every vector labeled
    (doc_id, cluster_id=min id, is_keep). The oracle rebuilds the
    same components with a recursive min-label CTE."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, threshold=0.35, id_col="vec_id")


SEMANTIC_DEDUP_SQL = """
WITH RECURSIVE b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings),
pairs AS (
  SELECT a.vec_id AS doc_a, c.vec_id AS doc_b
  FROM b a JOIN b c ON a.vec_id < c.vec_id
  WHERE list_dot_product(a.v, c.v) / (a.nrm * c.nrm) >= 0.35),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(node, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node),
cc AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
SELECT e.vec_id AS doc_id,
       coalesce(cc.cluster_id, e.vec_id) AS cluster_id,
       e.vec_id = coalesce(cc.cluster_id, e.vec_id) AS is_keep
FROM embeddings e LEFT JOIN cc ON cc.doc_id = e.vec_id
"""


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN (scale path). Deterministic end-to-end: seeded
    hyperplanes + sequential-fold sign bits, so the DuckDB twin
    (same plane literals, list_reduce fold) picks the identical probe
    set — a full value-for-value oracle, not rows-only."""
    emb = _t(spark, sf_dir, "embeddings")
    raw = similarity.ann_topk_lsh(emb, _query_vec(spark, sf_dir), k=30,
                                  n_planes=6, multiprobe_hamming=1)
    return _rerank_x1e4(raw, 10)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN: md5-ordered sample -> shared numpy Lloyd
    (bit-identical centroids on both engines) -> sequential-fold
    nearest-list assignment, so the DuckDB twin reproduces the same
    probe lists and candidates — full value-for-value oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    raw = similarity.ann_topk_ivf(emb, _query_vec(spark, sf_dir), k=30,
                                  n_lists=8, n_probe=3)
    return _rerank_x1e4(raw, 10)


def q_ann_smoke(spark, sf_dir):
    """Cheap always-on ANN composite (LSH top-k over the seeded
    hyperplanes, 4 planes / hamming-1 multiprobe): one narrow scan +
    codegen sign-bits, no training on data — registered so random
    driver sampling exercises the ANN family every round (the full
    LSH/IVF/PQ rows share the same kernels)."""
    emb = _t(spark, sf_dir, "embeddings")
    raw = similarity.ann_topk_lsh(emb, _query_vec(spark, sf_dir), k=20,
                                  n_planes=4, multiprobe_hamming=1)
    return _rerank_x1e4(raw, 5)


def _rerank_x1e4(raw: DataFrame, k: int) -> DataFrame:
    """Raw-ranked (vec_id, cos) with headroom -> the oracle's rounded
    fixed-point ordering (rounding can reorder raw near-ties)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4

    return (raw.select("vec_id", x1e4(F.col("cos")).alias("cos_x1e4"))
            .orderBy(F.desc("cos_x1e4"), F.asc("vec_id")).limit(k))


# ---- ANN oracle twins. DuckDB parses bare decimal list literals as
# DECIMAL (1-ulp off after conversion), so every constant is cast
# ::DOUBLE per element; dots that decide SIGNS or ARGMINs use a
# sequential list_reduce fold to match Spark's F.aggregate exactly.

ANN_ORACLE_SF_DIR = "/root/testdata/sf0.01"  # the driver's oracle SF


def _dlist(vals) -> str:
    return "[" + ", ".join(f"{float(v)!r}::DOUBLE" for v in vals) + "]"


def _sql_fold_dot(vexpr: str, lit_list: str, dim: int) -> str:
    return (f"list_reduce(list_transform(generate_series(1, {dim}), "
            f"i -> {vexpr}[i] * ({lit_list})[i]), (acc, x) -> acc + x)")


def _ann_lsh_oracle_sql(dim: int = 64, n_planes: int = 6, seed: int = 42,
                        multiprobe_hamming: int = 1, k: int = 10) -> str:
    planes = similarity.hyperplanes(dim, n_planes, seed)
    bucket_of = lambda vexpr: " + ".join(  # noqa: E731
        f"(CASE WHEN {_sql_fold_dot(vexpr, _dlist(h), dim)} >= 0 "
        f"THEN {1 << i} ELSE 0 END)" for i, h in enumerate(planes))
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
qb AS (SELECT ({bucket_of('qv')})::BIGINT AS qbucket FROM q),
b AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             ({bucket_of('(embedding::DOUBLE[])')})::BIGINT AS bucket
      FROM embeddings),
sel AS (SELECT vec_id, v FROM b CROSS JOIN qb
        WHERE bit_count(xor(bucket, qbucket)) <= {multiprobe_hamming}),
s AS (SELECT vec_id,
             list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
               AS c
      FROM sel CROSS JOIN q)
SELECT vec_id, floor(c * 10000.0 + 0.5)::BIGINT AS cos_x1e4 FROM s
ORDER BY floor(c * 10000.0 + 0.5) DESC, vec_id LIMIT {k}"""


def q_pq_adc_topk(spark, sf_dir):
    """Product quantization end-to-end under the hard gate: seeded
    per-subspace codebooks (trained on the same md5-ordered sample in
    both engines), sequential-fold argmin encoding, ADC table-lookup
    distances — every code and distance value-for-value vs the SQL
    twin. The query never reads a raw vector after encoding."""
    from elasticsearch_osmosis_plugin_spark.functions.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk_adc,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, m=4, k_sub=8, seed=42)
    codes = pq_encode(emb, books)
    raw = pq_topk_adc(codes, _query_vec(spark, sf_dir), books, k=30)
    return (raw.select(
                "vec_id",
                F.floor(F.col("dist2") * 1e6 + F.lit(0.5)).cast("long")
                 .alias("d2_x1e6"))
            .orderBy(F.asc("d2_x1e6"), F.asc("vec_id")).limit(10))


def _pq_oracle_sql(m: int = 4, k_sub: int = 8, seed: int = 42,
                   k: int = 10) -> str:
    """DuckDB PQ twin: trains the same codebooks on the same
    md5-ordered sample (bit-identical numpy), then encodes and ADC-
    scores with sequential folds matching the Spark expressions."""
    import duckdb
    import numpy as np

    from elasticsearch_osmosis_plugin_spark.functions.similarity import (
        _sub_slices,
        lloyd_centroids,
    )

    path = f"{ANN_ORACLE_SF_DIR}/embeddings.parquet"
    con = duckdb.connect()
    sample = con.sql(
        f"SELECT embedding FROM '{path}' "
        f"ORDER BY md5(vec_id::VARCHAR || '|{seed}'), vec_id "
        f"LIMIT 4096").fetchall()
    x = np.asarray([list(r[0]) for r in sample], dtype=np.float64)
    qrow = con.sql(f"SELECT embedding FROM '{path}' WHERE vec_id = 0") \
        .fetchall()[0][0]
    q = [float(t) for t in qrow]
    dim = x.shape[1]
    slices = _sub_slices(dim, m)
    code_exprs, dist_terms = [], []
    for j, (s, ln) in enumerate(slices):
        book = lloyd_centroids(
            np.ascontiguousarray(x[:, s:s + ln]), k_sub,
            seed + 7919 * (j + 1), 5)
        sub = f"list_slice(v, {s + 1}, {s + ln})"
        scores = ", ".join(
            f"({float((c * c).sum())!r}::DOUBLE - 2.0 * "
            f"{_sql_fold_dot(sub, _dlist(c), ln)})" for c in book)
        code_exprs.append(
            f"(list_position([{scores}], list_min([{scores}])) - 1)")
        tbl = []
        for c in book:
            acc = 0.0
            for a, b in zip(q[s:s + ln], c):
                acc += (a - float(b)) * (a - float(b))
            tbl.append(acc)
        dist_terms.append(f"({_dlist(tbl)})[c{j} + 1]")
    codes_sel = ", ".join(f"{e} AS c{j}"
                          for j, e in enumerate(code_exprs))
    dist = " + ".join(dist_terms)
    return f"""
WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
enc AS (SELECT vec_id, {codes_sel} FROM b),
sc AS (SELECT vec_id, {dist} AS d2 FROM enc)
SELECT vec_id, floor(d2 * 1000000.0 + 0.5)::BIGINT AS d2_x1e6
FROM sc ORDER BY floor(d2 * 1000000.0 + 0.5), vec_id LIMIT {k}"""


def _ann_ivf_oracle_sql(n_lists: int = 8, n_probe: int = 3, seed: int = 42,
                        k: int = 10) -> str:
    """Reproduces the Spark path's trained quantizer OUTSIDE Spark:
    the md5-ordered sample is read with DuckDB and run through the
    same numpy Lloyd kernel, giving bit-identical centroid literals."""
    import duckdb
    import numpy as np

    path = f"{ANN_ORACLE_SF_DIR}/embeddings.parquet"
    con = duckdb.connect()
    sample = con.sql(
        f"SELECT embedding FROM '{path}' "
        f"ORDER BY md5(vec_id::VARCHAR || '|{seed}'), vec_id "
        f"LIMIT 4096").fetchall()
    x = np.asarray([list(r[0]) for r in sample], dtype=np.float64)
    cents = similarity.lloyd_centroids(x, n_lists, seed, iters=5)
    q = np.asarray(
        list(con.sql(f"SELECT embedding FROM '{path}' WHERE vec_id = 0")
             .fetchall()[0][0]), dtype=np.float64)
    d2 = ((cents - q[None, :]) ** 2).sum(axis=1)
    probe = [int(i) for i in np.argsort(d2, kind="stable")[:n_probe]]
    dim = x.shape[1]
    scores = ", ".join(
        f"({float((c * c).sum())!r}::DOUBLE - 2.0 * "
        f"{_sql_fold_dot('v', _dlist(c), dim)})" for c in cents)
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
a AS (SELECT vec_id, v, [{scores}] AS sc FROM b),
sel AS (SELECT vec_id, v FROM a
        WHERE list_position(sc, list_min(sc)) - 1 IN ({', '.join(map(str, probe))})),
s AS (SELECT vec_id,
             list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
               AS c
      FROM sel CROSS JOIN q)
SELECT vec_id, floor(c * 10000.0 + 0.5)::BIGINT AS cos_x1e4 FROM s
ORDER BY floor(c * 10000.0 + 0.5) DESC, vec_id LIMIT {k}"""


def _cents(col):
    """Exact integer cents from a 2-decimal double: floor(x*100+0.5)
    kills the binary-representation eps with pure IEEE ops (identical
    in every engine). Integer sums are order-independent — immune to
    partial-agg float drift."""
    return F.floor(col * 100 + 0.5).cast("long")


MIXTURE_RATES = {"en": 0.8, "es": 0.5, "fr": 0.25}


def _synth_points(docs):
    """Deterministic lat/lon per doc (same arithmetic as the oracle)."""
    lat = ((F.col("doc_id") * 7919) % 18000) / 100.0 - 90.0 + 0.005
    lon = ((F.col("doc_id") * 104729) % 36000) / 100.0 - 180.0 + 0.005
    return docs.select("doc_id", lat.alias("lat"), lon.alias("lon"))


def q_geo_line(spark, sf_dir):
    """ES geo_line aggregation: per-bucket LineString of the synthetic
    points in doc_id order, truncated at 8 points (complete=false for
    the bigger buckets), coordinates at the x1e4 fixed point."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import geo_line

    pts = (_synth_points(_t(spark, sf_dir, "documents"))
           .withColumn("bucket", F.col("doc_id") % 5))
    g = geo_line(pts, "bucket", "doc_id", size=8)
    x4 = lambda c: F.floor(c * 10000.0 + F.lit(0.5)).cast("long")  # noqa: E731
    return g.select(
        "bucket",
        F.transform(F.col("line"),
                    lambda p: F.array(x4(p[0]), x4(p[1])))
         .alias("line_x1e4"),
        "doc_count", "complete")


GEO_LINE_SQL = """
WITH p AS (SELECT doc_id,
                  ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005 AS lat,
                  ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005 AS lon,
                  doc_id % 5 AS bucket
           FROM documents),
g AS (SELECT bucket,
             list([floor(lon * 10000.0 + 0.5)::BIGINT,
                   floor(lat * 10000.0 + 0.5)::BIGINT]
                  ORDER BY doc_id) AS pts,
             count(*) AS doc_count
      FROM p GROUP BY bucket)
SELECT bucket, list_slice(pts, 1, 8) AS line_x1e4, doc_count,
       doc_count <= 8 AS complete
FROM g ORDER BY bucket
"""


def q_geo_distance_agg(spark, sf_dir):
    """ES geo_distance aggregation: ring buckets (open-ended +
    overlapping) of haversine km from Paris over the deterministic
    points table — one conditional-count pass."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import (
        geo_distance_agg,
    )

    pts = _synth_points(_t(spark, sf_dir, "documents"))
    return geo_distance_agg(pts, 48.8566, 2.3522,
                            [(None, 3000.0), (3000.0, 9000.0),
                             (6000.0, None)])


GEO_DISTANCE_AGG_SQL = """
WITH pts AS (
  SELECT doc_id,
         ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005 AS lat,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005 AS lon
  FROM documents),
d AS (SELECT 2.0 * 6371.0087714 * asin(sqrt(
        pow(sin(radians(48.8566 - lat) / 2), 2)
        + cos(radians(lat)) * cos(radians(48.8566))
          * pow(sin(radians(2.3522 - lon) / 2), 2))) AS km
      FROM pts)
SELECT '*-3000' AS bucket, count(*) FILTER (km < 3000.0) AS n_docs FROM d
UNION ALL
SELECT '3000-9000', count(*) FILTER (km >= 3000.0 AND km < 9000.0) FROM d
UNION ALL
SELECT '6000-*', count(*) FILTER (km >= 6000.0) FROM d
"""


_POLY = [(-30.0, -60.0), (40.0, -60.0), (40.0, 0.0),
         (0.0, 0.0), (0.0, 60.0), (-30.0, 60.0)]  # concave L


def q_geo_polygon_filter(spark, sf_dir):
    """ES geo_polygon filter: even-odd ray casting against a concave
    query polygon, unrolled into one codegen expression over the
    deterministic points table."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import within_polygon

    pts = _synth_points(_t(spark, sf_dir, "documents"))
    return within_polygon(pts, _POLY).select("doc_id").orderBy("doc_id")


def _geo_polygon_oracle_sql() -> str:
    """DuckDB twin of within_polygon: identical per-edge crossing
    arithmetic (same operand order), horizontal edges skipped just like
    the operator."""
    terms = []
    n = len(_POLY)
    for i in range(n):
        lat1, lon1 = _POLY[i]
        lat2, lon2 = _POLY[(i + 1) % n]
        if lat1 == lat2:
            continue
        terms.append(
            f"(CASE WHEN (({lat1} > lat) <> ({lat2} > lat)) AND "
            f"(lon < ({lon2 - lon1}) * (lat - ({lat1})) / ({lat2 - lat1}) "
            f"+ ({lon1})) THEN 1 ELSE 0 END)")
    return f"""
WITH pts AS (
  SELECT doc_id,
         ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005 AS lat,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005 AS lon
  FROM documents)
SELECT doc_id FROM pts
WHERE ({' + '.join(terms)}) % 2 = 1
ORDER BY doc_id"""


_POLY_WKT = ("POLYGON ((" + ", ".join(f"{lon} {lat}" for lat, lon in _POLY)
             + "))")


def q_esql_st_intersects(spark, sf_dir):
    """ES|QL ST_* spatial relations (new r4): the four relations of
    every synthetic geo_point against the concave L query polygon, as
    boolean EVAL columns — the operators.geo ray-cast kernels wired
    into the language (the point field contains no area, so CONTAINS
    with the point side as container is constant false)."""
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql

    pts = (_synth_points(_t(spark, sf_dir, "documents"))
           .withColumn("location", F.struct("lon", "lat")))
    return esql(spark, f'''
FROM pts
| EVAL inter = ST_INTERSECTS(location, TO_GEOSHAPE("{_POLY_WKT}")),
       co = ST_CONTAINS(TO_GEOSHAPE("{_POLY_WKT}"), location),
       wi = ST_WITHIN(location, TO_GEOSHAPE("{_POLY_WKT}")),
       dis = ST_DISJOINT(location, TO_GEOSHAPE("{_POLY_WKT}"))
| KEEP doc_id, inter, co, wi, dis
| SORT doc_id''', {"pts": pts})


def _esql_st_intersects_sql() -> str:
    """DuckDB twin: the same per-edge crossing arithmetic as
    _geo_polygon_oracle_sql, emitted once and fanned into the four
    relation columns."""
    terms = []
    n = len(_POLY)
    for i in range(n):
        lat1, lon1 = _POLY[i]
        lat2, lon2 = _POLY[(i + 1) % n]
        if lat1 == lat2:
            continue
        terms.append(
            f"(CASE WHEN (({lat1} > lat) <> ({lat2} > lat)) AND "
            f"(lon < ({lon2 - lon1}) * (lat - ({lat1})) / ({lat2 - lat1}) "
            f"+ ({lon1})) THEN 1 ELSE 0 END)")
    return f"""
WITH pts AS (
  SELECT doc_id,
         ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005 AS lat,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005 AS lon
  FROM documents),
r AS (SELECT doc_id, ({' + '.join(terms)}) % 2 = 1 AS inside FROM pts)
SELECT doc_id, inside AS inter, inside AS co, inside AS wi,
       NOT inside AS dis
FROM r ORDER BY doc_id"""


def q_esql_st_distance(spark, sf_dir):
    """ES|QL ST_DISTANCE/ST_X/ST_Y (new r4): haversine-meter filter
    against a Paris query point through the language front end; the
    2000 km radius sits far from any synthetic point's distance so
    libm ulp differences cannot flip membership (same buffer rule as
    geo_distance_filter)."""
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql

    pts = (_synth_points(_t(spark, sf_dir, "documents"))
           .withColumn("location", F.struct("lon", "lat")))
    return esql(spark, '''
FROM pts
| WHERE ST_DISTANCE(location, TO_GEOPOINT("POINT (2.3522 48.8566)"))
        < 2000000.0
| EVAL x = ST_X(location), y = ST_Y(location)
| KEEP doc_id, x, y
| SORT doc_id''', {"pts": pts})


ESQL_ST_DISTANCE_SQL = """
WITH pts AS (
  SELECT doc_id,
         ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005 AS lat,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005 AS lon
  FROM documents)
SELECT doc_id, lon AS x, lat AS y FROM pts
WHERE 2.0 * 6371008.7714 * asin(sqrt(
        pow(sin(radians(48.8566 - lat) / 2), 2)
        + cos(radians(lat)) * cos(radians(48.8566))
          * pow(sin(radians(2.3522 - lon) / 2), 2))) < 2000000.0
ORDER BY doc_id
"""


def q_geo_distance_filter(spark, sf_dir):
    """B8 under the hard gate: haversine geo-distance filter over a
    deterministic synthetic points table (the reference's
    geo-distance query, ``ESNodeITest`` geo surface). The 2000 km
    radius sits far from any point's distance, so trig-library ulp
    differences cannot flip membership."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import (
        within_distance,
    )

    pts = _synth_points(_t(spark, sf_dir, "documents"))
    return (within_distance(pts, 48.8566, 2.3522, 2000.0)
            .select("doc_id").orderBy("doc_id"))


def q_geo_bbox_filter(spark, sf_dir):
    """B7 point-in-envelope under the hard gate (range predicates,
    fully pushed down)."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import within_bbox

    pts = _synth_points(_t(spark, sf_dir, "documents"))
    return (within_bbox(pts, 30.0, 60.0, -10.0, 40.0)
            .select("doc_id").orderBy("doc_id"))


def q_chunk_documents(spark, sf_dir):
    """Long-doc chunking: 64-token windows, 8-token overlap — the
    pre-packing preprocessing step, pure Catalyst."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import (
        chunk_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, 64, overlap=8)


def q_unigram_logprob(spark, sf_dir):
    """CCNet-style unigram LM quality proxy: mean -log2 p(token) under
    the corpus unigram distribution, add-one smoothed."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import (
        unigram_logprob_score,
    )

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob_score(docs)


def q_bigram_logprob(spark, sf_dir):
    """Interpolated bigram-LM (Jelinek-Mercer, lam=0.8) perplexity
    proxy: mean -log2 P(w|v) per doc with unigram add-one backoff —
    the KenLM-shaped curation signal; bigram events come from one
    codegen array zip, never a positional self-join."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import (
        bigram_logprob_score,
    )

    docs = _t(spark, sf_dir, "documents")
    return bigram_logprob_score(docs, lam=0.8)


BIGRAM_LOGPROB_SQL = f"""
WITH {TOK_CTE},
pairs AS (SELECT doc_id, unnest(list_transform(
            generate_series(1, len(toks) - 1),
            i -> {{'v': toks[i], 'w': toks[i+1]}})) AS p
          FROM toks WHERE len(toks) >= 2),
pv AS (SELECT doc_id, p.v AS v, p.w AS w FROM pairs),
bi AS (SELECT v, w, count(*)::DOUBLE AS c_vw FROM pv GROUP BY v, w),
ctx AS (SELECT v, sum(c_vw) AS c_v FROM bi GROUP BY v),
uni AS (SELECT term AS w, count(*)::DOUBLE AS c_w
        FROM (SELECT unnest(toks) AS term FROM toks) GROUP BY term),
tot AS (SELECT sum(c_w) AS n, count(*)::DOUBLE AS vsz FROM uni),
sc AS (SELECT pv.doc_id,
              -log2(0.8 * coalesce(bi.c_vw, 0) / coalesce(ctx.c_v, 1)
                    + 0.2 * (coalesce(uni.c_w, 0) + 1.0)
                          / (tot.n + tot.vsz)) AS nll
       FROM pv LEFT JOIN bi USING (v, w) LEFT JOIN ctx USING (v)
       LEFT JOIN uni USING (w) CROSS JOIN tot)
SELECT doc_id, count(*) AS n_events,
       floor(avg(nll) * 10000.0 + 0.5)::BIGINT AS nll_x1e4
FROM sc GROUP BY doc_id ORDER BY doc_id
"""


def q_geotile_grid(spark, sf_dir):
    """ES geotile_grid over the synthetic points (zoom 4): web-
    mercator z/x/y buckets; the synthetic lat/lon land well inside
    tiles, so trig-library ulp differences cannot flip a bucket."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import geotile_grid

    pts = _synth_points(_t(spark, sf_dir, "documents"))
    return geotile_grid(pts, 4)


def q_geohash_grid(spark, sf_dir):
    """ES geohash_grid over the synthetic points (precision 3): base32
    interleave buckets; the grid arithmetic is identical IEEE ops on
    both engines so cell edges cannot diverge."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import geohash_grid

    pts = _synth_points(_t(spark, sf_dir, "documents"))
    return geohash_grid(pts, 3)


def _geohash_oracle_sql(precision: int) -> str:
    bits = 5 * precision
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    terms = []
    for j in range(bits):
        src, src_bits, kk = ("x", lon_bits, j // 2) if j % 2 == 0 \
            else ("y", lat_bits, (j - 1) // 2)
        terms.append(f"((({src} >> {src_bits - 1 - kk}) & 1) "
                     f"<< {bits - 1 - j})")
    h = " + ".join(terms)
    chars = " || ".join(
        f"substr('0123456789bcdefghjkmnpqrstuvwxyz', "
        f"((h >> {5 * (precision - 1 - i)}) & 31)::INT + 1, 1)"
        for i in range(precision))
    return f"""
WITH pts AS (
  SELECT doc_id,
         ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005 AS lat,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005 AS lon
  FROM documents),
cells AS (
  SELECT doc_id,
         least(greatest(floor((lon + 180.0) / 360.0 * {float(1 << lon_bits)!r}), 0),
               {(1 << lon_bits) - 1})::BIGINT AS x,
         least(greatest(floor((lat + 90.0) / 180.0 * {float(1 << lat_bits)!r}), 0),
               {(1 << lat_bits) - 1})::BIGINT AS y
  FROM pts),
hashes AS (SELECT doc_id, ({h})::BIGINT AS h FROM cells)
SELECT {chars} AS geohash, count(*) AS n_docs
FROM hashes GROUP BY 1 ORDER BY n_docs DESC, geohash
"""


PERCOLATE_QUERIES = {"q_spark": "spark query", "q_dup": "dup",
                     "q_window_merge": "window merge"}


def q_percolate(spark, sf_dir):
    """ES percolator (reverse search): registered queries fold into one
    literal array; docs tokenize once and emit matching query ids —
    map-side only."""
    from elasticsearch_osmosis_plugin_spark.operators.percolate import (
        percolate,
    )

    docs = _t(spark, sf_dir, "documents")
    return percolate(docs, PERCOLATE_QUERIES, analyzer="simple")


def q_temperature_mixture(spark, sf_dir):
    """Temperature-scaled mixture (multilingual alpha-sampling rule):
    per-lang keep rates ~ p^(alpha-1) normalized to max 1, realized by
    the deterministic md5 filter. The oracle inlines the thresholds
    computed by the SAME python rate function over DuckDB's counts."""
    from elasticsearch_osmosis_plugin_spark.functions.sampling import (
        temperature_mixture,
    )

    docs = _t(spark, sf_dir, "documents")
    return (temperature_mixture(docs, stratum_col="lang", alpha=0.3)
            .select("doc_id", "lang").orderBy("doc_id"))


def _temperature_oracle_sql() -> str:
    import duckdb

    from elasticsearch_osmosis_plugin_spark.functions.sampling import (
        temperature_rates,
    )

    con = duckdb.connect()
    sizes = dict(con.execute(
        f"SELECT lang, count(*) FROM read_parquet("
        f"'{ANN_ORACLE_SF_DIR}/documents.parquet') GROUP BY lang"
    ).fetchall())
    con.close()
    rates = temperature_rates(sizes, alpha=0.3)
    cases = " ".join(f"WHEN '{s}' THEN {int(r * 1_000_000)}"
                     for s, r in sorted(rates.items()))
    return f"""
WITH keyed AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 2, 15))::UBIGINT
           % 1000000 AS k
  FROM documents)
SELECT doc_id, lang FROM keyed
WHERE k < (CASE lang {cases} ELSE 0 END)
ORDER BY doc_id
"""


def q_mixture_sample(spark, sf_dir):
    """Deterministic mixture weighting: per-lang sampling rates via a
    cross-engine md5 key hash — pure filter, reproducible under any
    partitioning."""
    from elasticsearch_osmosis_plugin_spark.functions.sampling import (
        stratified_mixture,
    )

    docs = _t(spark, sf_dir, "documents")
    return (stratified_mixture(docs, MIXTURE_RATES, stratum_col="lang",
                               default_rate=0.1)
            .select("doc_id", "lang").orderBy("doc_id"))


def q_train_eval_split(spark, sf_dir):
    """Deterministic train/eval assignment -> per-(split, lang) counts."""
    from elasticsearch_osmosis_plugin_spark.functions.sampling import (
        split_column,
    )

    docs = _t(spark, sf_dir, "documents")
    return (docs.withColumn("split", split_column(eval_frac=0.1))
            .groupBy("split", "lang").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("split", "lang"))


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing: 256-token bins over the
    doc_id-ordered token stream (global-order exact variant)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import token_count
    from elasticsearch_osmosis_plugin_spark.functions.sampling import (
        pack_sequences,
    )

    docs = _t(spark, sf_dir, "documents")
    return (pack_sequences(token_count(docs), 256)
            .orderBy("doc_id"))


def q_revenue_per_order(spark, sf_dir):
    """Equi-join + rollup (SURVEY A6 way⨝node analog on TPC-H).
    Money math in integer cents — exact and shuffle-order-independent."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    rev = _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderkey")
            .agg(F.sum(rev).alias("revenue_x10k"),
                 F.count(F.lit(1)).alias("n_items")))


def q_customers_by_region(spark, sf_dir):
    """Broadcast dim-join chain (customer⨝nation⨝region)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name").agg(F.count(F.lit(1)).alias("n_customers")))


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1-style multi-aggregate (SURVEY §2.C aggregations)."""
    li = _t(spark, sf_dir, "lineitem")
    disc = _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    return (li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(_cents(F.col("l_quantity"))).alias("sum_qty_x100"),
                 F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
                 F.sum(disc).alias("sum_disc_x10k"),
                 F.count(F.lit(1)).alias("count_order")))


def q_top_customers(spark, sf_dir):
    """Top-k by computed metric with deterministic tie-break."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    agg = (o.join(c, o.o_custkey == c.c_custkey)
           .groupBy("c_custkey")
           .agg(F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"),
                F.count(F.lit(1)).alias("n_orders")))
    return agg.orderBy(F.desc("total_cents"), F.asc("c_custkey")).limit(10)


def q_events_windowed(spark, sf_dir):
    """Tumbling-window agg by event_type (streaming analog, batch
    semantics identical — SURVEY §2.C streaming)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(_cents(F.col("value"))).alias("value_cents"))
            .select(F.unix_timestamp(F.col("w.start")).alias("window_start"),
                    "event_type", "n", "value_cents"))


def q_date_histogram_events(spark, sf_dir):
    """ES date_histogram (calendar day buckets, UTC) over the event
    log — one map-side-combined groupBy on date_trunc."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        date_histogram,
    )

    ev = _t(spark, sf_dir, "events")
    return (date_histogram(ev, "ts", "day")
            .select(F.unix_timestamp(F.col("bucket")).alias("bucket_ts"),
                    "n_docs"))


def q_geo_bounds(spark, sf_dir):
    """ES geo_bounds agg: bbox of the deterministic point set (exact
    min/max, no float-order sensitivity)."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import geo_bounds

    pts = _synth_points(_t(spark, sf_dir, "documents"))
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4

    b = geo_bounds(pts)
    return b.select(x1e4(F.col("top")).alias("top_x1e4"),
                    x1e4(F.col("bottom")).alias("bottom_x1e4"),
                    x1e4(F.col("left")).alias("left_x1e4"),
                    x1e4(F.col("right")).alias("right_x1e4"))


GEO_BOUNDS_SQL = """
WITH pts AS (
  SELECT ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005 AS lat,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005 AS lon
  FROM documents)
SELECT floor(max(lat) * 10000.0 + 0.5)::BIGINT AS top_x1e4,
       floor(min(lat) * 10000.0 + 0.5)::BIGINT AS bottom_x1e4,
       floor(min(lon) * 10000.0 + 0.5)::BIGINT AS left_x1e4,
       floor(max(lon) * 10000.0 + 0.5)::BIGINT AS right_x1e4
FROM pts
"""


def q_weighted_avg_idx(spark, sf_dir):
    """ES weighted_avg agg over the 'spark' hits: dl weighted by
    n_chars (integer sums stay exact in doubles -> cross-engine
    bit-identical before the fixed point)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        weighted_avg_agg,
    )

    idx = _index_for(spark, sf_dir)
    r = weighted_avg_agg(spark, idx, "spark", "dl", "n_chars")
    return r.select(x1e4(F.col("weighted_avg")).alias("wavg_x1e4"), "n")


WEIGHTED_AVG_SQL = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
hits AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
v AS (SELECT dl.dl, d.n_chars::DOUBLE AS w
      FROM dl JOIN hits USING (doc_id) JOIN documents d USING (doc_id))
SELECT floor(sum(dl * w) / sum(w) * 10000.0 + 0.5)::BIGINT AS wavg_x1e4,
       count(*) AS n
FROM v
"""


def q_string_stats_idx(spark, sf_dir):
    """ES string_stats agg (show_distribution entropy) over the
    'spark' hits' source field: lengths + Shannon entropy of the
    character distribution."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        string_stats_agg,
    )

    idx = _index_for(spark, sf_dir)
    r = string_stats_agg(spark, idx, "spark", "source")
    return r.select("count", "min_length", "max_length",
                    x1e4(F.col("avg_length")).alias("avg_len_x1e4"),
                    x1e4(F.col("entropy")).alias("entropy_x1e4"))


STRING_STATS_SQL = f"""
WITH {TOK_EXPLODED_CTE},
hits AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
src AS (SELECT d.source FROM documents d JOIN hits USING (doc_id)
        WHERE d.source IS NOT NULL),
lens AS (SELECT count(*) AS count,
                min(len(source))::BIGINT AS min_length,
                max(len(source))::BIGINT AS max_length,
                floor(avg(len(source)) * 10000.0 + 0.5)::BIGINT
                  AS avg_len_x1e4
         FROM src),
chars AS (SELECT unnest(string_split(source, '')) AS c FROM src),
hist AS (SELECT c, count(*)::DOUBLE AS n FROM chars WHERE c <> ''
         GROUP BY c),
ent AS (SELECT floor((log2(sum(n)) - sum(n * log2(n)) / sum(n))
                     * 10000.0 + 0.5)::BIGINT AS entropy_x1e4 FROM hist)
SELECT lens.*, ent.entropy_x1e4 FROM lens CROSS JOIN ent
"""


def q_adjacency_matrix_idx(spark, sf_dir):
    """ES adjacency_matrix agg over the 'spark' hits: per-filter and
    pairwise-intersection doc counts in one conditional-sum pass."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        adjacency_matrix_agg,
    )

    idx = _index_for(spark, sf_dir)
    return adjacency_matrix_agg(spark, idx, "spark", {
        "en": F.col("lang") == "en",
        "fr": F.col("lang") == "fr",
        "long": F.col("n_chars") >= 300,
    })


ADJACENCY_MATRIX_SQL = f"""
WITH {TOK_EXPLODED_CTE},
hits AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
h AS (SELECT d.* FROM documents d JOIN hits USING (doc_id)),
c AS (SELECT
  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
  sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS c_fr,
  sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS c_long,
  sum(CASE WHEN lang = 'en' AND lang = 'fr' THEN 1 ELSE 0 END) AS c_en_fr,
  sum(CASE WHEN lang = 'en' AND n_chars >= 300 THEN 1 ELSE 0 END) AS c_en_long,
  sum(CASE WHEN lang = 'fr' AND n_chars >= 300 THEN 1 ELSE 0 END) AS c_fr_long
  FROM h)
SELECT bucket, n_docs FROM (
  SELECT 'en' AS bucket, c_en AS n_docs FROM c
  UNION ALL SELECT 'en&fr', c_en_fr FROM c
  UNION ALL SELECT 'en&long', c_en_long FROM c
  UNION ALL SELECT 'fr', c_fr FROM c
  UNION ALL SELECT 'fr&long', c_fr_long FROM c
  UNION ALL SELECT 'long', c_long FROM c)
WHERE n_docs > 0 ORDER BY bucket
"""


def q_has_child(spark, sf_dir):
    """ES has_child (score_mode=sum): customers having >= 2 orders
    with o_totalprice > 100000, scored by the exact cents sum of those
    orders' totals — parent/child join over co-partitionable keys."""
    from elasticsearch_osmosis_plugin_spark.operators.parentchild import (
        has_child,
    )

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    out = has_child(cust, orders, "c_custkey", "o_custkey",
                    child_filter=F.col("o_totalprice") > 100000.0,
                    child_score=cents, score_mode="sum", min_children=2)
    return out.select("c_custkey", "c_mktsegment",
                      F.col("score").cast("long").alias("score_cents"))


HAS_CHILD_SQL = """
WITH ch AS (
  SELECT o_custkey, sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS s,
         count(*) AS nc
  FROM orders WHERE o_totalprice > 100000.0 GROUP BY 1)
SELECT c.c_custkey, c.c_mktsegment, ch.s AS score_cents
FROM customer c JOIN ch ON ch.o_custkey = c.c_custkey
WHERE ch.nc >= 2
"""


def q_has_parent(spark, sf_dir):
    """ES has_parent filter: orders whose customer is in the BUILDING
    segment — the filtered parent key set broadcasts."""
    from elasticsearch_osmosis_plugin_spark.operators.parentchild import (
        has_parent,
    )

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    out = has_parent(cust, orders, "c_custkey", "o_custkey",
                     parent_filter=F.col("c_mktsegment") == "BUILDING")
    return out.select("o_orderkey", "o_custkey")


HAS_PARENT_SQL = """
SELECT o.o_orderkey, o.o_custkey
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
"""


def q_children_agg(spark, sf_dir):
    """ES children aggregation: bucket customers by market segment,
    step down into each one's orders (child_filter on order status)
    and compute per-bucket child doc_count + revenue metrics."""
    from elasticsearch_osmosis_plugin_spark.operators.parentchild import (
        children_agg,
    )

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return children_agg(
        cust, orders, "c_custkey", "o_custkey", "c_mktsegment",
        metrics={"sum_price_cents": F.sum(cents),
                 "max_price_cents": F.max(cents)},
        child_filter=F.col("o_orderstatus") == "O")


CHILDREN_AGG_SQL = """
SELECT c.c_mktsegment, count(*) AS doc_count,
       sum(floor(o.o_totalprice * 100 + 0.5)::BIGINT) AS sum_price_cents,
       max(floor(o.o_totalprice * 100 + 0.5)::BIGINT) AS max_price_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus = 'O'
GROUP BY c.c_mktsegment
ORDER BY doc_count DESC, c.c_mktsegment
"""


def q_parent_id(spark, sf_dir):
    """ES parent_id query: all orders of one named customer — a
    pushed-down literal equality over the child table."""
    from elasticsearch_osmosis_plugin_spark.operators.parentchild import (
        parent_id,
    )

    orders = _t(spark, sf_dir, "orders")
    key = orders.agg(F.min("o_custkey")).collect()[0][0]
    return (parent_id(orders, "o_custkey", key)
            .select("o_orderkey", "o_custkey", "o_orderstatus"))


PARENT_ID_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders WHERE o_custkey = (SELECT min(o_custkey) FROM orders)
"""


def q_percentile_ranks_idx(spark, sf_dir):
    """ES percentile_ranks agg (inverse percentiles) over the 'spark'
    hits: % of matching docs with dl <= each probe value — exact and
    mergeable (conditional counts, no sketch)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        percentile_ranks_agg,
    )

    idx = _index_for(spark, sf_dir)
    r = percentile_ranks_agg(spark, idx, "spark", "dl",
                             [150.0, 250.0, 400.0])
    return r.select(F.col("value").cast("long").alias("value"),
                    x1e4(F.col("rank_pct")).alias("rank_pct_x1e4"))


PERCENTILE_RANKS_SQL = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
hits AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
v AS (SELECT dl.dl FROM dl JOIN hits USING (doc_id)),
s AS (SELECT count(*)::DOUBLE AS n,
             sum(CASE WHEN dl <= 150.0 THEN 1 ELSE 0 END)::DOUBLE AS le1,
             sum(CASE WHEN dl <= 250.0 THEN 1 ELSE 0 END)::DOUBLE AS le2,
             sum(CASE WHEN dl <= 400.0 THEN 1 ELSE 0 END)::DOUBLE AS le3
      FROM v)
SELECT 150 AS value,
       floor(le1 * 100.0 / n * 10000.0 + 0.5)::BIGINT AS rank_pct_x1e4 FROM s
UNION ALL SELECT 250, floor(le2 * 100.0 / n * 10000.0 + 0.5)::BIGINT FROM s
UNION ALL SELECT 400, floor(le3 * 100.0 / n * 10000.0 + 0.5)::BIGINT FROM s
"""


def q_composite_agg_events(spark, sf_dir):
    """ES composite aggregation with after-key paging: page 2 of the
    (event_type, day) bucket enumeration, cursor read from page 1 —
    each page is an independent pruned pass, no global state."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        composite_agg,
    )

    ev = (_t(spark, sf_dir, "events")
          .select("event_type",
                  F.unix_timestamp(F.date_trunc("day", F.col("ts")))
                  .alias("day_ts")))
    p1 = composite_agg(ev, ["event_type", "day_ts"], size=10).collect()
    after = (p1[-1]["event_type"], p1[-1]["day_ts"])
    return composite_agg(ev, ["event_type", "day_ts"], size=10, after=after)


COMPOSITE_AGG_SQL = """
SELECT event_type, epoch(date_trunc('day', ts))::BIGINT AS day_ts,
       count(*) AS n_docs
FROM events GROUP BY 1, 2
ORDER BY event_type, day_ts LIMIT 10 OFFSET 10
"""


def q_pipeline_aggs_events(spark, sf_dir):
    """ES pipeline aggs (derivative / cumulative_sum / moving_fn
    unweightedAvg) over the day-bucket date_histogram of the event
    log — window functions over the bucket frame, never the corpus."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        bucket_pipeline,
        date_histogram,
    )

    ev = _t(spark, sf_dir, "events")
    b = bucket_pipeline(date_histogram(ev, "ts", "day"),
                        derivative=True, cumulative_sum=True, moving_avg=3)
    return b.select(
        F.unix_timestamp(F.col("bucket")).alias("bucket_ts"), "n_docs",
        F.col("derivative").cast("long").alias("derivative"),
        F.col("cumulative_sum").cast("long").alias("cumulative_sum"),
        x1e4(F.col("moving_avg")).alias("moving_avg_x1e4"))


PIPELINE_AGGS_SQL = """
WITH b AS (
  SELECT epoch(date_trunc('day', ts))::BIGINT AS bucket_ts,
         count(*)::DOUBLE AS v
  FROM events GROUP BY 1)
SELECT bucket_ts, v::BIGINT AS n_docs,
       (v - lag(v) OVER w)::BIGINT AS derivative,
       sum(v) OVER (ORDER BY bucket_ts
                    ROWS UNBOUNDED PRECEDING)::BIGINT AS cumulative_sum,
       floor(avg(v) OVER (ORDER BY bucket_ts
                          ROWS 2 PRECEDING) * 10000.0 + 0.5)::BIGINT
         AS moving_avg_x1e4
FROM b WINDOW w AS (ORDER BY bucket_ts) ORDER BY bucket_ts
"""


def q_moving_fn_events(spark, sf_dir):
    """ES moving_fn builtins (round 4): stdDev / linearWeightedAvg /
    ewma over the day-bucket histogram with ES's shift alignment —
    each an F.aggregate fold over the window's collected array, all
    codegen, all on the bucket frame."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        date_histogram,
        moving_fn,
    )

    b = date_histogram(_t(spark, sf_dir, "events"), "ts", "day")
    sd = moving_fn(b, "stdDev", 4, shift=1) \
        .withColumnRenamed("moving_fn", "sd")
    lw = moving_fn(sd, "linearWeightedAvg", 3, shift=0) \
        .withColumnRenamed("moving_fn", "lw")
    ew = moving_fn(lw, "ewma", 5, shift=1, alpha=0.3) \
        .withColumnRenamed("moving_fn", "ew")
    return ew.select(
        F.unix_timestamp(F.col("bucket")).alias("bucket_ts"), "n_docs",
        x1e4(F.col("sd")).alias("sd_x1e4"),
        x1e4(F.col("lw")).alias("lw_x1e4"),
        x1e4(F.col("ew")).alias("ew_x1e4"))


MOVING_FN_SQL = """
WITH b AS (
  SELECT epoch(date_trunc('day', ts))::BIGINT AS bucket_ts,
         count(*)::DOUBLE AS v
  FROM events GROUP BY 1),
w AS (
  SELECT bucket_ts, v,
         stddev_pop(v) OVER (ORDER BY bucket_ts
                             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
           AS sd,
         list(v) OVER (ORDER BY bucket_ts
                       ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS lwin,
         list(v) OVER (ORDER BY bucket_ts
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ewin
  FROM b)
SELECT bucket_ts, v::BIGINT AS n_docs,
       floor(sd * 10000.0 + 0.5)::BIGINT AS sd_x1e4,
       CASE WHEN len(lwin) > 0 THEN
         floor(list_sum(list_transform(lwin, (x, i) -> x * i))
               / (len(lwin) * (len(lwin) + 1) / 2.0)
               * 10000.0 + 0.5)::BIGINT END AS lw_x1e4,
       floor(list_reduce(ewin, (a, x) -> 0.3 * x + 0.7 * a)
             * 10000.0 + 0.5)::BIGINT AS ew_x1e4
FROM w ORDER BY bucket_ts
"""


def _synth_ip(ev):
    """Deterministic IPv4 per event (same arithmetic as the oracle)."""
    u = F.col("user_id")
    return ev.select(F.concat_ws(
        ".", F.lit("10"), ((u * 7) % 256).cast("string"),
        ((u * 13) % 256).cast("string"),
        (u % 256).cast("string")).alias("ip"))


_SYNTH_IP_SQL = """
  SELECT '10.' || (user_id * 7) % 256 || '.' || (user_id * 13) % 256
         || '.' || user_id % 256 AS ip
  FROM events"""


def q_ip_range_events(spark, sf_dir):
    """ES ip_range aggregation (round 4): from/to half-open dotted-
    quad buckets + a CIDR mask bucket over synthetic IPv4s — overlap
    allowed (ES semantics), one literal-array explode, no join."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        ip_range_agg,
    )

    ips = _synth_ip(_t(spark, sf_dir, "events"))
    return ip_range_agg(ips, "ip", [
        (None, "10.50.0.0"), ("10.50.0.0", "10.200.0.0"),
        ("10.200.0.0", None), "10.64.0.0/10"])


IP_RANGE_SQL = f"""
WITH ips AS ({_SYNTH_IP_SQL}),
v AS (
  SELECT (split_part(ip, '.', 1)::BIGINT * 16777216
          + split_part(ip, '.', 2)::BIGINT * 65536
          + split_part(ip, '.', 3)::BIGINT * 256
          + split_part(ip, '.', 4)::BIGINT) AS n
  FROM ips),
lab AS (
  SELECT unnest(list_filter([
    CASE WHEN n < 167772160 + 50 * 65536 THEN '*-10.50.0.0' END,
    CASE WHEN n >= 167772160 + 50 * 65536
          AND n < 167772160 + 200 * 65536 THEN '10.50.0.0-10.200.0.0' END,
    CASE WHEN n >= 167772160 + 200 * 65536 THEN '10.200.0.0-*' END,
    CASE WHEN (n // 4194304) = (167772160 + 64 * 65536) // 4194304
         THEN '10.64.0.0/10' END], x -> x IS NOT NULL)) AS bucket
  FROM v)
SELECT bucket, count(*) AS n_docs FROM lab GROUP BY 1 ORDER BY 1"""


def q_ip_prefix_events(spark, sf_dir):
    """ES ip_prefix aggregation (round 4): bucket by the masked
    /12 network of the synthetic IPv4s, keys re-rendered dotted-quad
    — one map-side-combined groupBy over the masked uint32."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        ip_prefix_agg,
    )

    ips = _synth_ip(_t(spark, sf_dir, "events"))
    return ip_prefix_agg(ips, "ip", 12)


IP_PREFIX_SQL = f"""
WITH ips AS ({_SYNTH_IP_SQL}),
m AS (
  SELECT ((split_part(ip, '.', 1)::BIGINT * 16777216
           + split_part(ip, '.', 2)::BIGINT * 65536
           + split_part(ip, '.', 3)::BIGINT * 256
           + split_part(ip, '.', 4)::BIGINT) // 1048576) * 1048576 AS n
  FROM ips)
SELECT (n // 16777216) % 256 || '.' || (n // 65536) % 256 || '.'
       || (n // 256) % 256 || '.' || n % 256 AS prefix,
       count(*) AS n_docs
FROM m GROUP BY 1 ORDER BY 1"""


def q_pipeline2_events(spark, sf_dir):
    """ES bucket_script / bucket_selector / bucket_sort / serial_diff
    pipeline aggs over the day-bucket event histogram: per-bucket
    avg value as a bucket_script, serial_diff lag=7 on counts,
    selector n_docs >= 5, top-10 buckets by the scripted metric."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        bucket_pipeline,
        bucket_script,
        bucket_selector,
        bucket_sort,
    )

    ev = _t(spark, sf_dir, "events")
    b = (ev.groupBy(F.date_trunc("day", F.col("ts")).alias("bucket"))
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("value").alias("sum_value")))
    b = bucket_pipeline(b, serial_diff=7)
    b = bucket_script(b, "sum_value / n_docs", "avg_value")
    b = bucket_selector(b, "n_docs >= 5")
    b = bucket_sort(b, [("avg_value", "desc"), ("bucket", "asc")], size=10)
    return b.select(
        F.unix_timestamp(F.col("bucket")).alias("bucket_ts"), "n_docs",
        x1e4(F.col("avg_value")).alias("avg_value_x1e4"),
        F.col("serial_diff").cast("long").alias("serial_diff"))


PIPELINE2_SQL = """
WITH b AS (
  SELECT epoch(date_trunc('day', ts))::BIGINT AS bucket_ts,
         count(*)::BIGINT AS n_docs, sum(value) AS sv
  FROM events GROUP BY 1),
p AS (
  SELECT bucket_ts, n_docs,
         (n_docs::DOUBLE - lag(n_docs::DOUBLE, 7)
            OVER (ORDER BY bucket_ts)) AS sd,
         sv / n_docs AS av
  FROM b)
SELECT bucket_ts, n_docs,
       floor(av * 10000.0 + 0.5)::BIGINT AS avg_value_x1e4,
       sd::BIGINT AS serial_diff
FROM p WHERE n_docs >= 5 ORDER BY av DESC, bucket_ts LIMIT 10
"""


def q_auto_date_histogram_events(spark, sf_dir):
    """ES auto_date_histogram: the engine picks the smallest calendar
    interval fitting <= 12 estimated buckets, then one date_trunc
    groupBy; the oracle twin reproduces the choice from the same
    microsecond span arithmetic and ladder."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        auto_date_histogram,
    )

    ev = _t(spark, sf_dir, "events")
    b = auto_date_histogram(ev, "ts", target_buckets=12)
    return b.select(F.unix_timestamp(F.col("bucket")).alias("bucket_ts"),
                    "n_docs", "interval")


AUTO_DH_SQL = """
WITH mm AS (
  SELECT epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us FROM events),
iv AS (
  SELECT CASE
    WHEN span_us // (3600::BIGINT * 1000000) + 1 <= 12 THEN 'hour'
    WHEN span_us // (86400::BIGINT * 1000000) + 1 <= 12 THEN 'day'
    WHEN span_us // (604800::BIGINT * 1000000) + 1 <= 12 THEN 'week'
    WHEN span_us // (2629800::BIGINT * 1000000) + 1 <= 12 THEN 'month'
    WHEN span_us // (7889400::BIGINT * 1000000) + 1 <= 12 THEN 'quarter'
    ELSE 'year' END AS p
  FROM mm)
SELECT epoch(date_trunc(iv.p, ts))::BIGINT AS bucket_ts,
       count(*)::BIGINT AS n_docs, iv.p AS interval
FROM events, iv GROUP BY 1, 3 ORDER BY 1
"""


def q_sessionization(spark, sf_dir):
    """Gap-based sessionization via window functions (30 min gap)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # parquet ts is NTZ
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("new_sess", new_sess) \
             .withColumn("sess_no", F.sum("new_sess").over(
                 w.rowsBetween(W.unboundedPreceding, W.currentRow)))
    return (sess.groupBy("user_id")
            .agg(F.max("sess_no").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


def q_type_dispatch_counts(spark, sf_dir):
    """Type split with explicit quarantine accounting (SURVEY A14):
    supported kinds counted, unsupported bucketed as 'quarantined'."""
    ev = _t(spark, sf_dir, "events")
    supported = ["click", "view", "purchase"]
    kind = F.when(F.col("event_type").isin(supported), F.col("event_type")) \
            .otherwise(F.lit("quarantined"))
    return ev.groupBy(kind.alias("kind")).agg(F.count(F.lit(1)).alias("n"))


def q_rare_terms_idx(spark, sf_dir):
    """ES rare_terms agg: long-tail buckets (count <= max_doc_count)
    of a doc-store field over the query hits, rare-first order."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        rare_terms_agg,
    )

    idx = _index_for(spark, sf_dir)
    return rare_terms_agg(spark, idx, "spark window", "n_chars",
                          max_doc_count=2)


def q_multi_terms_idx(spark, sf_dir):
    """ES multi_terms agg: compound (lang, source) buckets over the
    query hits, count desc then key order, top 8."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        multi_terms_agg,
    )

    idx = _index_for(spark, sf_dir)
    return multi_terms_agg(spark, idx, "spark window", ["lang", "source"],
                           size=8)


def q_global_stats_idx(spark, sf_dir):
    """ES global agg: stats escape the query scope — computed over ALL
    live docs (avg from the exact integer sum, cross-engine)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        global_stats_agg,
    )

    idx = _index_for(spark, sf_dir)
    s = global_stats_agg(spark, idx, "n_chars")
    return s.select(
        F.col("n"), F.col("min_v").cast("long").alias("min_v"),
        F.col("max_v").cast("long").alias("max_v"),
        F.col("sum_v").cast("long").alias("sum_v"),
        x1e4(F.col("sum_v").cast("double") / F.col("n")).alias("avg_x1e4"))


DATE_RANGES = [(None, "2024-01-10"), ("2024-01-10", "2024-01-20"),
               ("2024-01-15", None)]


def q_date_range_events(spark, sf_dir):
    """ES date_range agg: explicit [from, to) timestamp buckets (open
    ends, overlapping ranges both count) over the event log."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        date_range,
    )

    return date_range(_t(spark, sf_dir, "events"), "ts", DATE_RANGES)


def q_sampler_idx(spark, sf_dir):
    """ES sampler agg: sub-agg restricted to the shard_size best-
    scoring hits (fixed-point rank boundary, cross-engine)."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        sampler_agg,
    )

    idx = _index_for(spark, sf_dir)
    return sampler_agg(spark, idx, "spark window", "lang", shard_size=50)


def q_diversified_sampler_idx(spark, sf_dir):
    """ES diversified_sampler agg: at most max_docs_per_value docs per
    source survive into the best-hits sample (de-bias), then facet."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        diversified_sampler_agg,
    )

    idx = _index_for(spark, sf_dir)
    return diversified_sampler_agg(spark, idx, "spark window", "lang",
                                   "source", shard_size=50,
                                   max_docs_per_value=2)


def q_random_score_idx(spark, sf_dir):
    """ES random_score function: reproducible (seed, field)-hashed
    weight replacing the relevance score — a deterministic shuffle of
    the hit set, identical across engines via the md5 fold."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        function_score_topk,
        random_score,
    )

    idx = _index_for(spark, sf_dir)
    # fetch extra raw-ranked rows, then cut on the x1e4 fixed point
    # (the oracle's tie rule at the k boundary)
    raw = function_score_topk(spark, idx, "spark window", k=30,
                              functions=[random_score(seed=7)],
                              boost_mode="replace")
    return (raw.select("doc_id", x1e4(F.col("score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


def q_script_score_idx(spark, sf_dir):
    """ES script_score: score = script(_score, doc) as a Catalyst
    column (_score * sqrt(n_chars)) — painless-to-Catalyst, no UDF."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        script_score_topk,
    )

    idx = _index_for(spark, sf_dir)
    raw = script_score_topk(
        spark, idx, "spark window",
        F.col("_score") * F.sqrt(F.col("n_chars").cast("double")), k=30)
    return (raw.select("doc_id", x1e4(F.col("score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


def q_nested_query_events(spark, sf_dir):
    """ES nested type + nested query: events nest per-user as
    array<struct>, the query needs event_type AND value on the SAME
    element (object flattening would match across elements); inner
    hits counted, score_mode=sum over integer cents (exact)."""
    from elasticsearch_osmosis_plugin_spark.operators.nested import (
        nest_children,
        nested_score,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "value")
    nested = nest_children(ev, "user_id", ["event_type", "value"], "evs")
    pred = lambda e: (e["event_type"] == "purchase") & (e["value"] > 150)  # noqa: E731
    out = nested_score(nested, "evs", pred,
                       lambda e: F.round(e["value"] * 100), "sum")
    return (out.select(
        "user_id",
        F.size(F.filter("evs", pred)).alias("n_hits"),
        F.col("score").cast("long").alias("sum_cents"))
        .orderBy("user_id"))


def _synth_url_col():
    """Deterministic pseudo-URL from (source, doc_id) exercising every
    normalization rule: scheme+WWW case, optional trailing slash,
    tracking params, fragments. Both engines build the SAME string,
    then each runs its OWN normalizer — the parity row checks two
    independent implementations agree."""
    d = F.col("doc_id")
    return F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".example.com/p"),
        (d % 7).cast("string"),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.concat(F.lit("?utm_source=x&q="),
                                    (d % 11).cast("string")))
         .when(d % 3 == 1, F.concat(F.lit("?q="), (d % 11).cast("string"),
                                    F.lit("&fbclid=zz")))
         .otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit("#frag")).otherwise(F.lit("")))


def q_url_dup_groups(spark, sf_dir):
    """CCNet-style URL dedup: canonicalize (case/scheme/www/tracking
    params/fragment/trailing slash) then exact-group."""
    from elasticsearch_osmosis_plugin_spark.functions.dedupe import (
        url_dup_groups,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_col().alias("url"))
    out = url_dup_groups(docs, "url")
    return out.select("norm_url", "n_docs", "keep_id",
                      F.array_join("doc_ids", ",").alias("ids_csv"))


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail: corpus ranked by the unigram-LM proxy,
    equal-frequency 3-way split (bucket 1 = head)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import (
        ccnet_buckets,
    )

    return ccnet_buckets(_t(spark, sf_dir, "documents"), n_buckets=3)


def q_c4_quality_flags(spark, sf_dir):
    """C4 page filters: lorem/brace/policy flags, word count, terminal-
    punctuation line ratio, composite keep decision — one codegen pass."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import (
        c4_quality_flags,
    )

    return c4_quality_flags(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q_quality_classifier(spark, sf_dir):
    """fastText-shaped hashed-ngram linear classifier (seeded demo
    weights): unigram+bigram features -> md5 bucket -> integer milli-
    weight -> sigmoid(mean). Pure codegen — no shuffle, no join."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import (
        hashed_ngram_classifier,
    )

    return hashed_ngram_classifier(
        _t(spark, sf_dir, "documents")).orderBy("doc_id")


QUALITY_CLASSIFIER_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents),
gr AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2 THEN
           toks || list_transform(generate_series(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i + 1])
         ELSE toks END AS grams
  FROM toks),
sc AS (
  SELECT doc_id, len(grams)::BIGINT AS n_feats,
         CASE WHEN len(grams) > 0 THEN
           list_sum(list_transform(grams, g ->
             (('0x' || substr(md5('w:7:' ||
                ((('0x' || substr(md5(g), 2, 15))::UBIGINT::BIGINT)
                 % 262144)::VARCHAR),
              2, 15))::UBIGINT::BIGINT % 2001 - 1000)
           ))::DOUBLE / (1000.0 * len(grams))
         ELSE 0.0 END AS mean
  FROM gr)
SELECT doc_id, n_feats,
       floor((1.0 / (1.0 + exp(-mean))) * 10000.0 + 0.5)::BIGINT
         AS prob_x1e4
FROM sc ORDER BY doc_id
"""


def q_quantized_cosine_topk(spark, sf_dir):
    """int8 scalar quantization (SQ8) + exact integer-cosine top-k:
    the per-vector scales cancel, so ranking needs no dequantize."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.functions.similarity import (
        cosine_topk_quantized,
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    dfq = quantize_embeddings(emb)
    raw = cosine_topk_quantized(dfq, _query_vec(spark, sf_dir), k=30)
    return (raw.select("vec_id", x1e4(F.col("cos")).alias("cos_x1e4"))
            .orderBy(F.desc("cos_x1e4"), F.asc("vec_id")).limit(10))


def q_ann_sq_rescored(spark, sf_dir):
    """ES rescore_vector (9.x quantized-index default, round 4):
    int8-SQ candidate search at k*oversample, exact float re-score of
    only those candidates (broadcast join-back), true top-k returned —
    grid error confined to the cut, never the scores."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.functions.similarity import (
        ann_topk_sq_rescored,
    )

    emb = _t(spark, sf_dir, "embeddings")
    raw = ann_topk_sq_rescored(emb, _query_vec(spark, sf_dir), k=10,
                               oversample=3.0)
    return (raw.select("vec_id", x1e4(F.col("cos")).alias("cos_x1e4"))
            .orderBy(F.desc("cos_x1e4"), F.asc("vec_id")))


ANN_SQ_RESCORED_SQL = """
WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (SELECT vec_id, v,
              list_max(list_transform(v, x -> abs(x))) AS amax FROM b),
qv AS (SELECT vec_id,
         list_transform(v, x -> round(
           x / (CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END))
           ::BIGINT) AS q
       FROM sc),
qq AS (SELECT q AS quq FROM qv WHERE vec_id = 0),
s AS (SELECT vec_id,
        list_dot_product(q, quq)::DOUBLE
        / (sqrt(list_dot_product(q, q)::DOUBLE)
           * sqrt(list_dot_product(quq, quq)::DOUBLE)) AS c
      FROM qv CROSS JOIN qq WHERE list_dot_product(q, q) > 0),
cand AS (SELECT vec_id FROM s ORDER BY c DESC, vec_id LIMIT 30),
qf AS (SELECT v AS fq FROM b WHERE vec_id = 0),
ex AS (SELECT b.vec_id,
         list_dot_product(v, fq)
         / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(fq, fq)))
           AS c
       FROM b JOIN cand USING (vec_id) CROSS JOIN qf)
SELECT vec_id, floor(c * 10000.0 + 0.5)::BIGINT AS cos_x1e4 FROM ex
ORDER BY c DESC, vec_id LIMIT 10"""


def q_tsr_retriever(spark, sf_dir):
    """retriever.text_similarity_reranker (round 4): BM25 child window
    of 30 reranked by the builtin lexical endpoint (coverage over the
    stored token streams — pure Catalyst, broadcast window join)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.dsl import search

    idx = _index_for(spark, sf_dir)
    raw = search(spark, idx, {"retriever": {"text_similarity_reranker": {
        "retriever": {"standard": {"query": {
            "match": {"text": "spark window merge"}}}},
        "rank_window_size": 30,
        "inference_text": "spark window merge query",
    }}, "size": 10})
    return (raw.select("doc_id", x1e4(F.col("score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")))


def _tsr_oracle_sql() -> str:
    terms = ["merge", "query", "spark", "window"]
    cov = " + ".join(
        f"CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END"
        for t in terms)
    return f"""
WITH {_scored_fp_cte(['merge', 'spark', 'window'])},
cand AS (SELECT doc_id FROM scored ORDER BY s DESC, doc_id LIMIT 30),
cov AS (SELECT t.doc_id, ({cov}) / {len(terms)}.0 AS sc
        FROM toks t JOIN cand USING (doc_id))
SELECT doc_id, floor(sc * 10000.0 + 0.5)::BIGINT AS score_x1e4
FROM cov ORDER BY sc DESC, doc_id LIMIT 10"""


def _scored_fp_cte(terms: list[str]) -> str:
    """Shared DuckDB CTE chain: BM25 scoreall of ``terms`` ->
    scored(doc_id, s) — the sampler/diversified twins rank on the
    x1e4 fixed point of s."""
    term_list = ", ".join(f"'{t}'" for t in sorted(terms))
    return f"""{TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ({term_list}) GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id)"""


RANK_EVAL_REQS = {"r0": "spark query join", "r1": "dup window merge"}


def q_rank_eval_idx(spark, sf_dir):
    """ES _rank_eval analog: precision/recall/MRR/DCG/NDCG/ERR per
    request over batched index rankings (one postings decode for all
    requests); judgments are a deterministic synthetic rated set."""
    from elasticsearch_osmosis_plugin_spark.operators.rankeval import rank_eval

    idx = _index_for(spark, sf_dir)
    rated = (_t(spark, sf_dir, "documents").select("doc_id")
             .filter(F.col("doc_id") % 5 == 0))
    ratings = None
    for qid in sorted(RANK_EVAL_REQS):
        r = rated.select(F.lit(qid).alias("query_id"), "doc_id",
                         (F.col("doc_id") % 3).cast("int").alias("rating"))
        ratings = r if ratings is None else ratings.unionByName(r)
    return rank_eval(spark, idx, RANK_EVAL_REQS, ratings, k=10)


def _rank_eval_oracle_sql(k: int = 10) -> str:
    """Full metric twin: BM25 fixed-point rankings per request UNION'd,
    ratings = (doc_id %% 5 == 0, rating = doc_id %% 3, max_rating 2),
    ERR's prefix survival product as exp(cumulative ln-sum)."""
    ranked_union = "\nUNION ALL\n".join(
        f"SELECT '{qid}' AS query_id, * FROM ("
        + _bm25_oracle_sql(sorted(set(q.split())), k) + ")"
        for qid, q in sorted(RANK_EVAL_REQS.items()))
    qids_union = " UNION ALL ".join(
        f"SELECT '{qid}' AS query_id" for qid in sorted(RANK_EVAL_REQS))
    return f"""
WITH ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_x1e4 DESC, doc_id) AS rank
  FROM ({ranked_union})),
ratings AS (
  SELECT q.query_id, d.doc_id, (d.doc_id % 3)::INT AS rating
  FROM ({qids_union}) q CROSS JOIN documents d WHERE d.doc_id % 5 = 0),
hits AS (
  SELECT r.query_id, r.rank, coalesce(rt.rating, 0) AS rating
  FROM ranked r LEFT JOIN ratings rt
    ON r.query_id = rt.query_id AND r.doc_id = rt.doc_id),
parts AS (
  SELECT query_id, rank,
         CASE WHEN rating >= 1 THEN 1.0 ELSE 0.0 END AS rel,
         (pow(2.0, rating) - 1.0) / log2(rank + 1.0) AS dcg_part,
         (pow(2.0, rating) - 1.0) / 4.0 / rank
           * exp(coalesce(sum(ln(1.0 - (pow(2.0, rating) - 1.0) / 4.0))
                 OVER (PARTITION BY query_id ORDER BY rank
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0.0)) AS err_part,
         CASE WHEN rating >= 1 THEN 1.0 / rank END AS rr
  FROM hits),
agg AS (
  SELECT query_id, count(*) AS n_retrieved, sum(rel) AS n_rel_ret,
         sum(dcg_part) AS dcg, sum(err_part) AS err,
         coalesce(max(rr), 0.0) AS mrr
  FROM parts GROUP BY query_id),
ideal AS (
  SELECT query_id,
         sum(CASE WHEN rating >= 1 THEN 1 ELSE 0 END) AS n_rel_total,
         sum(CASE WHEN irk <= {k}
             THEN (pow(2.0, rating) - 1.0) / log2(irk + 1.0)
             ELSE 0.0 END) AS idcg
  FROM (SELECT query_id, rating,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rating DESC, doc_id) AS irk
        FROM ratings) GROUP BY query_id)
SELECT a.query_id, a.n_retrieved::BIGINT AS n_retrieved,
  floor(a.n_rel_ret / a.n_retrieved * 10000.0 + 0.5)::BIGINT
    AS precision_x1e4,
  floor(CASE WHEN i.n_rel_total > 0 THEN a.n_rel_ret / i.n_rel_total
        ELSE 0.0 END * 10000.0 + 0.5)::BIGINT AS recall_x1e4,
  floor(a.mrr * 10000.0 + 0.5)::BIGINT AS mrr_x1e4,
  floor(a.dcg * 10000.0 + 0.5)::BIGINT AS dcg_x1e4,
  floor(CASE WHEN i.idcg > 0 THEN a.dcg / i.idcg ELSE 0.0 END
        * 10000.0 + 0.5)::BIGINT AS ndcg_x1e4,
  floor(a.err * 10000.0 + 0.5)::BIGINT AS err_x1e4
FROM agg a LEFT JOIN ideal i USING (query_id) ORDER BY a.query_id
"""


# ---------------------------------------------------------------- registry



def q_boxplot_idx(spark, sf_dir):
    """ES boxplot agg: quartiles + Tukey 1.5*IQR whisker values of dl
    over the 'spark window' hit set (exact interpolated quartiles —
    the quantile_cont rule — so the twin is value-for-value)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        boxplot_agg,
    )

    idx = _index_for(spark, sf_dir)
    b = boxplot_agg(spark, idx, "spark window", "dl")
    return b.select(
        "n", F.col("min_v").cast("long").alias("min_v"),
        F.col("max_v").cast("long").alias("max_v"),
        x1e4(F.col("q1")).alias("q1_x1e4"),
        x1e4(F.col("q2")).alias("q2_x1e4"),
        x1e4(F.col("q3")).alias("q3_x1e4"),
        F.col("lower").cast("long").alias("lower_v"),
        F.col("upper").cast("long").alias("upper_v"))


def q_rate_events(spark, sf_dir):
    """ES rate agg under a month date_histogram: per-day event rate
    with exact calendar-month divisors (Jan/31 vs Feb/28-29)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import rate_agg

    ev = _t(spark, sf_dir, "events")
    r = rate_agg(ev, "ts", "month", "day")
    return r.select(F.unix_timestamp(F.col("bucket")).alias("bucket_ts"),
                    "n_docs", x1e4(F.col("rate")).alias("rate_x1e4"))


def q_normalize_events(spark, sf_dir):
    """ES normalize pipeline agg (percent_of_sum) over the day-bucket
    event histogram — a full-frame window over thousands of buckets."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        date_histogram,
        normalize_pipeline,
    )

    ev = _t(spark, sf_dir, "events")
    b = normalize_pipeline(date_histogram(ev, "ts", "day"),
                           method="percent_of_sum")
    return b.select(F.unix_timestamp(F.col("bucket")).alias("bucket_ts"),
                    "n_docs", x1e4(F.col("normalized")).alias("pct_x1e4"))


def q_moving_percentiles_events(spark, sf_dir):
    """ES moving_percentiles pipeline agg: trailing-3-bucket median of
    the day histogram, exact interpolation (quantile_cont rule)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        date_histogram,
        moving_percentiles,
    )

    ev = _t(spark, sf_dir, "events")
    b = moving_percentiles(date_histogram(ev, "ts", "day"),
                           window=3, percentile=0.5)
    return b.select(F.unix_timestamp(F.col("bucket")).alias("bucket_ts"),
                    "n_docs", x1e4(F.col("moving_pct")).alias("mp_x1e4"))




def _us(col: str):
    """NTZ-safe unix-micros projection (session tz is UTC under the
    gate; the cast shifts both engines identically)."""
    return F.unix_micros(F.col(col).cast("timestamp")).alias(f"{col}_us")


def q_eql_sequence_events(spark, sf_dir):
    """ES EQL `sequence by user_id [view] [click] [error] with
    maxspan=6h` — every minimal chain (skip-to-next-row reading): each
    view event chains to the earliest following click, then the
    earliest error after that; match iff t3 - t1 <= 6h. Pure window +
    co-partitioned join plan (operators/eql.py)."""
    from elasticsearch_osmosis_plugin_spark.operators.eql import sequence

    ev = _t(spark, sf_dir, "events")
    s = sequence(ev, ["view", "click", "error"], maxspan_s=6 * 3600)
    return s.select("user_id", _us("t1"), "id1", _us("t2"), "id2",
                    _us("t3"), "id3")


def q_eql_sequence_until_events(spark, sf_dir):
    """EQL `sequence by user_id [view] [click] [error] with maxspan=6h
    until [signup]`: a signup strictly between a chain's first and
    last consumed events kills it (EQL's in-flight expiry)."""
    from elasticsearch_osmosis_plugin_spark.operators.eql import sequence

    ev = _t(spark, sf_dir, "events")
    s = sequence(ev, ["view", "click", "error"], maxspan_s=6 * 3600,
                 until="signup")
    return s.select("user_id", _us("t1"), "id1", _us("t2"), "id2",
                    _us("t3"), "id3")


def q_eql_sample_events(spark, sf_dir):
    """EQL `sample by user_id [signup] [purchase]`: per user the
    deterministic (earliest) event of each type, no ordering
    constraint between steps; users missing either type drop."""
    from elasticsearch_osmosis_plugin_spark.operators.eql import sample

    ev = _t(spark, sf_dir, "events")
    s = sample(ev, ["signup", "purchase"])
    return s.select("user_id", _us("t1"), "id1", _us("t2"), "id2")


def q_eql_funnel_events(spark, sf_dir):
    """Funnel analysis (EQL-adjacent): per user, the earliest
    view->click->purchase chain rooted at the FIRST view, with partial
    progress (steps_reached) and a 24h-maxspan conversion flag."""
    from elasticsearch_osmosis_plugin_spark.operators.eql import funnel

    ev = _t(spark, sf_dir, "events")
    f = funnel(ev, ["view", "click", "purchase"], maxspan_s=24 * 3600)
    return f.select("user_id", _us("t1"), "id1", _us("t2"), "id2",
                    _us("t3"), "id3", "steps_reached",
                    F.col("converted").cast("long").alias("converted"))


def q_percentiles_bucket_events(spark, sf_dir):
    """ES percentiles_bucket pipeline agg: exact quantile_cont
    percentiles (dyadic fractions -> bit-identical interpolation) of
    the per-day event-count histogram."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        date_histogram,
        percentiles_bucket,
    )

    ev = _t(spark, sf_dir, "events")
    b = percentiles_bucket(date_histogram(ev, "ts", "day"),
                           percentiles=(0.25, 0.5, 0.75))
    return b.select(x1e4(F.col("pct")).alias("pct_x1e4"),
                    x1e4(F.col("value")).alias("value_x1e4"))


def q_suggest_completion_fuzzy_idx(spark, sf_dir):
    """ES completion-suggester fuzzy mode: typed prefix 'sow' within
    edit distance 1 of the length-3 term prefixes (row/slow/sort...),
    ranked distance asc, popularity desc."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        suggest_completion_fuzzy,
    )

    idx = _index_for(spark, sf_dir)
    return suggest_completion_fuzzy(spark, idx, "sow", fuzziness=1, size=5)


TRANSFORM_PIVOT_CFG = {
    "group_by": {
        "etype": {"terms": {"field": "event_type"}},
        "day": {"date_histogram": {"field": "ts",
                                   "calendar_interval": "day"}},
    },
    "aggregations": {
        "avg_value": {"avg": {"field": "value"}},
        "total": {"sum": {"field": "value"}},
        "n": {"value_count": {"field": "value"}},
        "users": {"cardinality": {"field": "user_id"}},
    },
}


def q_transform_pivot_events(spark, sf_dir):
    """ES transform (pivot): entity-centric rollup of events by
    (event_type, day) with avg/sum/value_count/cardinality — the
    destination-index frame, one map-side-combined groupBy."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.plans.transform import compile_pivot

    ev = _t(spark, sf_dir, "events")
    p = compile_pivot(ev, TRANSFORM_PIVOT_CFG)
    return p.select(
        "etype",
        F.unix_micros(F.col("day").cast("timestamp")).alias("day_us"),
        x1e4(F.col("avg_value")).alias("avg_x1e4"),
        x1e4(F.col("total")).alias("total_x1e4"),
        "n", "users")


def q_transform_latest_events(spark, sf_dir):
    """ES transform (latest): most recent event per user_id under the
    ts sort (event_id tie-break) — single max_by reduction, no window
    sort."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.plans.transform import compile_latest

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    latest = compile_latest(ev, {"unique_key": ["user_id"], "sort": "ts"},
                            tie_col="event_id")
    return latest.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id", "event_type",
        x1e4(F.col("value")).alias("value_x1e4"))


PINNED_IDS = [42, 7, 999999999]  # one bogus id: dropped, not an error


def q_pinned_idx(spark, sf_dir):
    """ES pinned query: listed ids first in list order, organic BM25
    after (promoted ids excluded) — emitted as (rank, doc_id); the
    synthetic pinned scores are an implementation detail."""
    from pyspark.sql import Window as PW

    from elasticsearch_osmosis_plugin_spark.operators.scorefn import pinned_topk

    idx = _index_for(spark, sf_dir)
    raw = pinned_topk(spark, idx, PINNED_IDS, "spark query", k=10)
    w = PW.orderBy(F.desc("score"), F.asc("doc_id"))
    return raw.select(F.row_number().over(w).alias("rank"), "doc_id")


PINNED_SQL = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('query', 'spark') GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id),
pin AS (SELECT p.doc_id, p.pos
        FROM (VALUES (42, 0), (7, 1), (999999999, 2)) p(doc_id, pos)
        JOIN documents d USING (doc_id)),
united AS (
  SELECT doc_id, 0 AS grp, pos AS o1, 0.0 AS o2 FROM pin
  UNION ALL
  SELECT doc_id, 1, 0, -floor(s * 10000.0 + 0.5) FROM scored
  WHERE doc_id NOT IN (SELECT doc_id FROM pin))
SELECT row_number() OVER (ORDER BY grp, o1, o2, doc_id) AS rank, doc_id
FROM united ORDER BY grp, o1, o2, doc_id LIMIT 10
"""


def q_match_bool_prefix_idx(spark, sf_dir):
    """ES match_bool_prefix: 'spark' scored BM25 as a should clause,
    trailing 'que' a constant-score prefix clause; union semantics."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        match_bool_prefix_topk,
    )

    idx = _index_for(spark, sf_dir)
    raw = match_bool_prefix_topk(spark, idx, "spark que", k=30,
                                 max_expansions=1000)
    return _rerank_score_x1e4(raw, 10)


MATCH_BOOL_PREFIX_SQL = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok
       WHERE term = 'spark' GROUP BY doc_id),
df AS (SELECT count(*)::DOUBLE AS df FROM tf),
bm AS (SELECT tf.doc_id,
              ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) AS s
       FROM tf JOIN dl USING (doc_id) CROSS JOIN df CROSS JOIN stats),
pref AS (SELECT DISTINCT doc_id FROM tok WHERE term LIKE 'que%'),
united AS (
  SELECT coalesce(b.doc_id, p.doc_id) AS doc_id,
         coalesce(b.s, 0.0)
         + (CASE WHEN p.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END) AS s
  FROM bm b FULL OUTER JOIN pref p ON b.doc_id = p.doc_id)
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4 FROM united
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT 10
"""


CF_WEIGHTS = {"text": 1.0, "source": 2.0}


def q_combined_fields_idx(spark, sf_dir):
    """ES combined_fields (BM25F-lite, term-centric): text + source^2
    blend into one pseudo-field BEFORE BM25 — exact union df, blended
    tf/dl/avgdl; the DuckDB twin recomputes the whole blend."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        combined_fields_topk,
    )

    txt = _index_for(spark, sf_dir)
    srcx = _index_for(spark, sf_dir, field="source")
    raw = combined_fields_topk(spark, {"text": txt, "source": srcx},
                               "spark src3", k=30,
                               field_weights=CF_WEIGHTS)
    return _rerank_score_x1e4(raw, 10)


COMBINED_FIELDS_SQL = f"""
WITH {TOK_CTE},
stoks AS (SELECT doc_id,
                 list_filter(string_split_regex(lower(source), '\\s+'),
                             x -> x <> '') AS stoks FROM documents),
dlc AS (SELECT t.doc_id,
               1.0 * len(t.toks) + 2.0 * len(s.stoks) AS dlc
        FROM toks t JOIN stoks s USING (doc_id)),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dlc) AS avgdl FROM dlc),
q AS (SELECT unnest(['spark', 'src3']) AS term),
tfc AS (SELECT d.doc_id, q.term,
               1.0 * len(list_filter(t.toks, x -> x = q.term))
               + 2.0 * len(list_filter(s.stoks, x -> x = q.term)) AS tfc
        FROM documents d JOIN toks t USING (doc_id)
        JOIN stoks s USING (doc_id) CROSS JOIN q),
nz AS (SELECT * FROM tfc WHERE tfc > 0),
dfc AS (SELECT term, count(*)::DOUBLE AS dfc FROM nz GROUP BY term),
scored AS (
  SELECT nz.doc_id,
         sum( ln(1.0 + (stats.n_docs - dfc.dfc + 0.5) / (dfc.dfc + 0.5))
              * nz.tfc * ({BM25_K1} + 1.0)
              / (nz.tfc + {BM25_K1} * (1.0 - {BM25_B}
                                       + {BM25_B} * dlc.dlc / stats.avgdl))
            ) AS s
  FROM nz JOIN dlc USING (doc_id) JOIN dfc USING (term) CROSS JOIN stats
  GROUP BY nz.doc_id)
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4 FROM scored
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT 10
"""




def q_significant_text_idx(spark, sf_dir):
    """ES significant_text: JLH significance with filter_duplicate_text
    — identical token streams count once in the foreground."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        significant_text,
    )

    idx = _index_for(spark, sf_dir)
    s = significant_text(spark, idx, "window dup", size=10, min_doc_count=3)
    return s.select("term", "df_fg", "df_bg",
                    x1e4(F.col("jlh")).alias("jlh_x1e4"))


# ES Graph explore (_graph/explore): 2-hop JLH vertex discovery + edges
# from a one-term seed. sample_size above the corpus -> no sampling, so
# the SQL twin is the exact same math over the token CTE.
_GRAPH_BODY = {
    "query": {"match": {"text": "spark"}},
    "vertices": [{"field": "text", "size": 5, "min_doc_count": 3}],
    "connections": {"vertices": [{"field": "text", "size": 5,
                                  "min_doc_count": 3}]},
    "controls": {"sample_size": 1000000, "use_significance": True},
}


def q_graph_explore_vertices(spark, sf_dir):
    """ES Graph explore API: hop-0 vertices = top-5 JLH-significant
    terms among seed-hit docs; hop-1 = top-5 among docs containing any
    hop-0 term, excluding hop-0's vertices (ES explore semantics)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.graph import explore

    idx = _index_for(spark, sf_dir)
    verts, _ = explore(spark, idx, _GRAPH_BODY, field="text")
    return verts.select("field", "term", "depth", "doc_count",
                        x1e4(F.col("weight")).alias("weight_x1e4"))


def q_graph_explore_edges(spark, sf_dir):
    """ES Graph explore connections: (hop-0 vertex, hop-1 vertex)
    co-occurrence doc counts within the hop-1 doc set."""
    from elasticsearch_osmosis_plugin_spark.operators.graph import explore

    idx = _index_for(spark, sf_dir)
    _, edges = explore(spark, idx, _GRAPH_BODY, field="text")
    return edges




def q_terms_subaggs_idx(spark, sf_dir):
    """ES terms agg + metric sub-aggs (avg/max/cardinality) in ONE
    groupBy over the hit stream."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        terms_subaggs,
    )

    idx = _index_for(spark, sf_dir)
    t = terms_subaggs(spark, idx, "spark window", "lang",
                      {"avg_dl": ("avg", "dl"),
                       "max_dl": ("max", "dl"),
                       "n_sources": ("cardinality", "source")})
    return t.select("lang", "n_docs", x1e4(F.col("avg_dl")).alias("avg_x1e4"),
                    F.col("max_dl").cast("long").alias("max_dl"),
                    "n_sources")




HN_POSITIVES = [(1, 4), (2, 6)]


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (DPR/ANCE shape): per training query the
    top-k cosine corpus vectors minus self and known positives, one
    corpus scan with a broadcast query batch."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4

    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id").isin([1, 2]))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    positives = spark.createDataFrame(HN_POSITIVES,
                                      "query_id long, vec_id long")
    got = similarity.hard_negatives(emb, queries, positives, k=10)
    return got.select("query_id", "vec_id",
                      x1e4(F.col("cos")).alias("cos_x1e4"))




def q_date_histogram_fixed_events(spark, sf_dir):
    """ES date_histogram fixed_interval (12h): epoch-aligned constant
    buckets, exact microsecond arithmetic."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        date_histogram_fixed,
    )

    ev = _t(spark, sf_dir, "events")
    h = date_histogram_fixed(ev, "ts", "12h")
    return h.select(F.unix_timestamp(F.col("bucket")).alias("bucket_ts"),
                    "n_docs")




def q_span_containing_idx(spark, sf_dir):
    """Lucene span_containing: a 'spark .. join' span (slop 4, in
    order) that covers a 'query' occurrence."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        span_containing,
    )

    idx = _index_for(spark, sf_dir)
    return span_containing(spark, idx, "spark join", "query", slop=4)


MLT_TEXT = "spark query window zzznotaterm"


def q_more_like_this_text(spark, sf_dir):
    """ES more_like_this with free text: analyzed, top tf*idf terms
    selected, no source exclusion."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        more_like_this_text,
    )

    idx = _index_for(spark, sf_dir)
    raw = more_like_this_text(spark, idx, MLT_TEXT, max_query_terms=2, k=30)
    return (raw.select("doc_id", x1e4(F.col("score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


MLT_TEXT_SQL = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
dfall AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok
          GROUP BY term),
srctf AS (SELECT * FROM (VALUES ('spark', 1.0), ('query', 1.0),
                                ('window', 1.0), ('zzznotaterm', 1.0))
          s(term, tf)),
sel AS (SELECT s.term FROM srctf s JOIN dfall USING (term) CROSS JOIN stats
        ORDER BY s.tf * ln(1.0 + (stats.n_docs - dfall.df + 0.5)
                                 / (dfall.df + 0.5)) DESC, s.term
        LIMIT 2),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN (SELECT term FROM sel) GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id)
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4 FROM scored
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT 10"""


def _temperature_tok_oracle_sql() -> str:
    import duckdb

    from elasticsearch_osmosis_plugin_spark.functions.sampling import (
        temperature_rates,
    )

    con = duckdb.connect()
    sizes = dict(con.execute(
        f"SELECT lang, sum(len(list_filter(string_split_regex(lower(text), "
        f"'\\s+'), x -> x <> '')))::DOUBLE FROM read_parquet("
        f"'{ANN_ORACLE_SF_DIR}/documents.parquet') GROUP BY lang"
    ).fetchall())
    con.close()
    rates = temperature_rates(sizes, alpha=0.3)
    cases = " ".join(f"WHEN '{s}' THEN {int(r * 1_000_000)}"
                     for s, r in sorted(rates.items()))
    return f"""
WITH keyed AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 2, 15))::UBIGINT
           % 1000000 AS k
  FROM documents)
SELECT doc_id, lang FROM keyed
WHERE k < (CASE lang {cases} ELSE 0 END)
ORDER BY doc_id
"""


def q_temperature_mixture_tok(spark, sf_dir):
    """Token-budget temperature mixture: stratum size = token SUM (the
    LM-mix form), keep decision per-doc via the md5 filter."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import (
        token_count,
    )
    from elasticsearch_osmosis_plugin_spark.functions.sampling import (
        temperature_mixture,
    )

    docs = _t(spark, sf_dir, "documents")
    weights = token_count(docs, "doc_id", "text")
    kept = temperature_mixture(docs.join(weights, "doc_id"),
                               stratum_col="lang", alpha=0.3,
                               weight_col="n_tokens")
    return kept.select("doc_id", "lang").orderBy("doc_id")




def q_date_histogram_terms_events(spark, sf_dir):
    """ES nested buckets (date_histogram -> terms): per-day event-type
    breakdown in ONE two-key groupBy."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        date_histogram_terms,
    )

    ev = _t(spark, sf_dir, "events")
    h = date_histogram_terms(ev, "ts", "event_type", "day",
                             size_per_bucket=3)
    return h.select(F.unix_timestamp(F.col("bucket")).alias("bucket_ts"),
                    "event_type", "n_docs")




def _synth_segments(docs):
    """Deterministic 2-point segment per doc (twin arithmetic in SQL):
    start = the _synth_points point, end = start + a bounded
    deterministic offset — some segments cross the query envelope with
    both endpoints outside, exercising the separating-axis branch."""
    lat1 = ((F.col("doc_id") * 7919) % 18000) / 100.0 - 90.0 + 0.005
    lon1 = ((F.col("doc_id") * 104729) % 36000) / 100.0 - 180.0 + 0.005
    dlat = ((F.col("doc_id") * 31) % 400) / 10.0 - 20.0 + 0.003
    dlon = ((F.col("doc_id") * 53) % 800) / 10.0 - 40.0 + 0.003
    coords = F.array(
        F.struct(lat1.alias("lat"), lon1.alias("lon")),
        F.struct((lat1 + dlat).alias("lat"), (lon1 + dlon).alias("lon")))
    return docs.select("doc_id", coords.alias("coords"))


SHAPE_BOX = (30.0, 60.0, -10.0, 40.0)  # lat_min, lat_max, lon_min, lon_max


def q_shape_intersects(spark, sf_dir):
    """geo_shape relation=intersects under the hard gate: segment vs
    envelope separating-axis test (crossings with both endpoints
    outside must match)."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import (
        shape_bbox_relation,
    )

    segs = _synth_segments(_t(spark, sf_dir, "documents"))
    return (segs.filter(shape_bbox_relation(F.col("coords"), *SHAPE_BOX,
                                            relation="intersects"))
            .select("doc_id").orderBy("doc_id"))


def q_shape_within(spark, sf_dir):
    """geo_shape relation=within: every vertex inside the envelope."""
    from elasticsearch_osmosis_plugin_spark.operators.geo import (
        shape_bbox_relation,
    )

    segs = _synth_segments(_t(spark, sf_dir, "documents"))
    return (segs.filter(shape_bbox_relation(F.col("coords"), *SHAPE_BOX,
                                            relation="within"))
            .select("doc_id").orderBy("doc_id"))


_SEG_CTE = """
segs AS (
  SELECT doc_id,
         ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005 AS lat1,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005 AS lon1,
         ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005
           + ((doc_id * 31) % 400) / 10.0 - 20.0 + 0.003 AS lat2,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005
           + ((doc_id * 53) % 800) / 10.0 - 40.0 + 0.003 AS lon2
  FROM documents)
"""

SHAPE_INTERSECTS_SQL = f"""
WITH {_SEG_CTE}
SELECT doc_id FROM segs
WHERE (lat1 BETWEEN 30.0 AND 60.0 AND lon1 BETWEEN -10.0 AND 40.0)
   OR (lat2 BETWEEN 30.0 AND 60.0 AND lon2 BETWEEN -10.0 AND 40.0)
   OR (greatest(lon1, lon2) >= -10.0 AND least(lon1, lon2) <= 40.0
       AND greatest(lat1, lat2) >= 30.0 AND least(lat1, lat2) <= 60.0
       AND least(
             (lon2 - lon1) * (30.0 - lat1) - (lat2 - lat1) * (-10.0 - lon1),
             (lon2 - lon1) * (60.0 - lat1) - (lat2 - lat1) * (-10.0 - lon1),
             (lon2 - lon1) * (30.0 - lat1) - (lat2 - lat1) * (40.0 - lon1),
             (lon2 - lon1) * (60.0 - lat1) - (lat2 - lat1) * (40.0 - lon1)
           ) <= 0
       AND greatest(
             (lon2 - lon1) * (30.0 - lat1) - (lat2 - lat1) * (-10.0 - lon1),
             (lon2 - lon1) * (60.0 - lat1) - (lat2 - lat1) * (-10.0 - lon1),
             (lon2 - lon1) * (30.0 - lat1) - (lat2 - lat1) * (40.0 - lon1),
             (lon2 - lon1) * (60.0 - lat1) - (lat2 - lat1) * (40.0 - lon1)
           ) >= 0)
ORDER BY doc_id"""

SHAPE_WITHIN_SQL = f"""
WITH {_SEG_CTE}
SELECT doc_id FROM segs
WHERE lat1 BETWEEN 30.0 AND 60.0 AND lon1 BETWEEN -10.0 AND 40.0
  AND lat2 BETWEEN 30.0 AND 60.0 AND lon2 BETWEEN -10.0 AND 40.0
ORDER BY doc_id"""


MTV_IDS = [7, 42]


def q_mtermvectors_idx(spark, sf_dir):
    """ES _mtermvectors: batched per-doc term statistics."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        mtermvectors,
    )

    idx = _index_for(spark, sf_dir)
    tv = mtermvectors(spark, idx, MTV_IDS)
    return tv.select(
        "doc_id", "term", "tf",
        F.array_join(F.col("positions").cast("array<string>"), ",")
         .alias("positions"),
        "df", "cf").orderBy("doc_id", "term")


def q_terms_lookup_idx(spark, sf_dir):
    """ES terms lookup: the term list fetched from doc 42's stored
    term vector, then the standard terms (OR) query."""
    from elasticsearch_osmosis_plugin_spark.operators.dsl import search

    idx = _index_for(spark, sf_dir)
    hits = search(spark, idx, {
        "query": {"terms": {"text": {"index": idx, "id": 42,
                                     "path": "tokens"}}},
        "size": 10**6})
    return hits.select("doc_id").orderBy("doc_id")




def q_curation_verdict(spark, sf_dir):
    """The composed curation keep/drop decision (C4 + Gopher + PII)
    with every failing rule named — under the hard gate."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import (
        curation_verdict,
    )

    docs = _t(spark, sf_dir, "documents")
    v = curation_verdict(docs)
    return v.select("doc_id", "keep",
                    F.array_join("reasons", ",").alias("reasons"))


def q_scripted_metric_idx(spark, sf_dir):
    """ES scripted_metric agg under the painless-to-Catalyst contract:
    per-doc SQL map over the 'spark' hits + one declarative aggregate
    (Spark's partial aggregation == ES combine_script, the final merge
    == reduce_script)."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        scripted_metric_agg,
    )

    idx = _index_for(spark, sf_dir)
    out = scripted_metric_agg(
        spark, idx, "spark",
        map_script="n_chars * CASE WHEN lang = 'en' THEN 2 ELSE 1 END",
        reduce_script="sum(_mapped)")
    return out.select(
        F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("value"))


def q_nested_terms_agg_orders(spark, sf_dir):
    """ES nested agg + terms sub-agg + reverse_nested in ONE pass over
    orders nested per customer: n_nested = the nested doc_count
    (element multiplicity counts), n_docs = the reverse_nested parent
    count (distinct customers)."""
    from elasticsearch_osmosis_plugin_spark.operators.nested import (
        nest_children,
        nested_terms_agg,
    )

    orders = _t(spark, sf_dir, "orders")
    nested = nest_children(orders, "o_custkey", ["o_orderstatus"], "os")
    return nested_terms_agg(nested, "os", "o_orderstatus", "o_custkey")


def q_track_total_hits_idx(spark, sf_dir):
    """ES track_total_hits=true: the exact query-match total carried
    alongside the size-cut ranking (match_all totals come straight off
    index meta; match totals via the dictionary/postings count)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators import dsl

    idx = _index_for(spark, sf_dir)
    raw = dsl.search(spark, idx, {
        "query": {"match": {"text": "spark query join"}},
        "size": 25, "track_total_hits": True})
    return (raw.select("doc_id", x1e4(F.col("score")).alias("score_x1e4"),
                       "total_hits")
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(5))


# --------------------------------------------------------------- BPE rows

def q_bpe_token_counts(spark, sf_dir):
    """BPE tokenizer training (distributed word count -> driver
    merges over the bounded type dictionary) + per-doc token counts
    under the learned vocabulary. Merge learning is iterative and not
    SQL-expressible — rows-only driver check; the value-level
    verification is tests/test_bpe.py (from-scratch recount oracle,
    Sennrich example, round-trip identity, partitioning invariance)."""
    from elasticsearch_osmosis_plugin_spark.functions.bpe import (
        bpe_token_counts,
        train_bpe,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(docs, vocab_merges=60, max_word_types=5000)
    return bpe_token_counts(docs, merges).orderBy("doc_id")


# -------------------------------------------------------------- TSDS rows

def q_tsds_downsample_events(spark, sf_dir):
    """ES TSDS `_downsample`: gauge rollup to 12h epoch-aligned
    buckets — each (dimensions, bucket) row carries
    min/max/sum/value_count pre-aggregates."""
    import tempfile

    from elasticsearch_osmosis_plugin_spark.plans import tsds

    root = tempfile.mkdtemp()
    tsds.create_tsds(root, "m", dimensions=["event_type"],
                     metrics={"value": "gauge"}, ts_col="ts")
    tsds.append_tsds(spark, root, "m", _t(spark, sf_dir, "events"))
    tsds.downsample(spark, root, "m", "12h")
    got = spark.read.parquet(f"{root}/m/downsample-12h")
    x = lambda c: F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    return (got.select(
        F.unix_timestamp("__bucket").alias("bucket_ts"), "event_type",
        x("value_min").alias("vmin_x100"), x("value_max").alias("vmax_x100"),
        x("value_sum").alias("vsum_x100"),
        F.col("value_value_count").alias("n"))
        .orderBy("bucket_ts", "event_type"))


# ------------------------------------------------------------ ES SQL rows

def q_essql_topk(spark, sf_dir):
    """ES SQL (`POST /_sql`) MATCH + SCORE(): the third query API over
    the one BM25 scorer — rank-identical to DSL and ES|QL paths."""
    from elasticsearch_osmosis_plugin_spark.operators.essql import EsSql

    es = EsSql(spark, {"documents": _t(spark, sf_dir, "documents")})
    return es.df("""
SELECT doc_id,
       CAST(FLOOR(SCORE() * 10000.0 + 0.5) AS BIGINT) AS score_x1e4
FROM documents WHERE MATCH(text, 'dup table')
ORDER BY CAST(FLOOR(SCORE() * 10000.0 + 0.5) AS BIGINT) DESC, doc_id
LIMIT 10""")


def q_essql_group_orders(spark, sf_dir):
    """ES SQL pass-through aggregation (ANSI subset -> spark.sql
    verbatim; double-quoted identifiers rewritten to backticks)."""
    from elasticsearch_osmosis_plugin_spark.operators.essql import EsSql

    es = EsSql(spark, {"orders": _t(spark, sf_dir, "orders")})
    return es.df("""
SELECT "o_orderpriority" AS priority, COUNT(*) AS n,
       CAST(FLOOR(SUM("o_totalprice") * 100.0 + 0.5) AS BIGINT)
         AS total_x100
FROM "orders" GROUP BY "o_orderpriority" ORDER BY priority""")


# ------------------------------------------------------------- ES|QL rows

def _esql(spark, sf_dir, query, names=("events", "documents", "orders",
                                       "customer", "lineitem"), extra=None,
          params=None):
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql

    tables = {n: _t(spark, sf_dir, n) for n in names}
    if extra:
        tables |= extra(tables)
    return esql(spark, query, tables, params=params)


def q_esql_stats_events(spark, sf_dir):
    """ES|QL `STATS .. BY BUCKET(ts, 1 day)` — the language's flagship
    aggregation form, compiled to one hash aggregate; bucket epoch-
    normalized in-language via DATE_DIFF."""
    return _esql(spark, sf_dir, """
FROM events
| WHERE value > 50 AND event_type != "signup"
| STATS n = COUNT(*), sum_x100 = TO_LONG(FLOOR(SUM(value) * 100.0 + 0.5))
    BY day = BUCKET(ts, 1 day), event_type
| EVAL day_ts = DATE_DIFF("seconds", TO_DATETIME("1970-01-01 00:00:00"), day)
| KEEP day_ts, event_type, n, sum_x100
| SORT day_ts, event_type""")


def q_esql_tpch_q1(spark, sf_dir):
    """TPC-H Q1 written in ES|QL — WHERE pushdown + STATS..BY compile
    to the identical Catalyst plan as the DataFrame twin."""
    return _esql(spark, sf_dir, """
FROM lineitem
| WHERE l_shipdate <= TO_DATETIME("1998-09-02 00:00:00")
| STATS sum_qty_x100 = TO_LONG(FLOOR(SUM(l_quantity) * 100.0 + 0.5)),
        sum_base_x100 = TO_LONG(FLOOR(SUM(l_extendedprice) * 100.0 + 0.5)),
        n = COUNT(*),
        avg_disc_x1e4 = TO_LONG(FLOOR(AVG(l_discount) * 10000.0 + 0.5))
    BY l_returnflag, l_linestatus
| SORT l_returnflag, l_linestatus""")


def q_esql_grok_events(spark, sf_dir):
    """ES|QL GROK typed extraction (%{INT:kv:int}) feeding STATS —
    regex stays in whole-stage codegen (regexp_extract), no UDF."""
    return _esql(spark, sf_dir, """
FROM events
| GROK props "\\"k\\": %{INT:kv:int}"
| STATS kv_sum = SUM(kv), n_k = COUNT(kv) BY event_type
| SORT event_type""")


def q_esql_lookup_orders(spark, sf_dir):
    """ES|QL LOOKUP JOIN (ES 8.18 lookup-mode index): broadcast left
    join, collision columns taken from the lookup side."""
    return _esql(spark, sf_dir, """
FROM orders
| LOOKUP JOIN cust ON o_custkey
| STATS n_orders = COUNT(*),
        spend_x100 = TO_LONG(FLOOR(SUM(o_totalprice) * 100.0 + 0.5))
    BY c_mktsegment
| SORT c_mktsegment""", extra=lambda t: {
        "cust": t["customer"].withColumnRenamed("c_custkey", "o_custkey")})


def q_esql_match_score(spark, sf_dir):
    """ES|QL full-text: FROM .. METADATA _score | WHERE MATCH(..) routes
    to the BM25 engine — rank-identical to the _search DSL path, so the
    same oracle covers both APIs."""
    return _esql(spark, sf_dir, """
FROM documents METADATA _score
| WHERE MATCH(text, "spark query")
| EVAL score_x1e4 = TO_LONG(FLOOR(_score * 10000.0 + 0.5))
| KEEP doc_id, score_x1e4
| SORT score_x1e4 DESC, doc_id
| LIMIT 10""")


def q_esql_match_options(spark, sf_dir):
    """ES|QL MATCH named options (9.1, round 4): operator "and"
    requires every analyzed term (filter only), boost scales the
    clause's BM25 contribution — same scorer, tightened row set."""
    return _esql(spark, sf_dir, """
FROM documents METADATA _score
| WHERE MATCH(text, "spark query", {"operator": "and", "boost": 2.0})
| EVAL score_x1e4 = TO_LONG(FLOOR(_score * 10000.0 + 0.5))
| KEEP doc_id, score_x1e4
| SORT score_x1e4 DESC, doc_id
| LIMIT 10""")


def q_esql_match_score_idx(spark, sf_dir):
    """ES|QL over the PERSISTED index (esql_index fast path): the
    canonical search pipeline compiles to MaxScore-pruned topk —
    reads only the query terms' posting bytes."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql_index

    idx = _index_for(spark, sf_dir)
    raw = esql_index(spark, """
FROM documents METADATA _score
| WHERE MATCH(text, "spark query join")
| SORT _score DESC, doc_id
| LIMIT 30""", idx)
    return (raw.select("doc_id", x1e4(F.col("_score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


def q_esql_phrase_idx(spark, sf_dir):
    """ES|QL MATCH_PHRASE conjunct on the persisted-index fast path
    (round 4): the phrase compiles to a contiguous-slice check over
    the docstats term-vector column inside topk's exact post_filter —
    top-k OF the phrase-filtered ranking, scores corpus-global (B6),
    still only the MATCH terms' posting bytes scanned."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql_index

    idx = _index_for(spark, sf_dir)
    raw = esql_index(spark, """
FROM documents METADATA _score
| WHERE MATCH(text, "spark query join") AND MATCH_PHRASE(text, "the table")
| SORT _score DESC, doc_id
| LIMIT 10""", idx)
    return (raw.select("doc_id", x1e4(F.col("_score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")))


def q_esql_match_or_not(spark, sf_dir):
    """ES|QL match() under OR/NOT in a scoring WHERE (round 4): every
    distinct matching clause adds its BM25 score (Lucene boolean
    semantics), the NOT'd clause excludes rows without touching
    corpus-global stats."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4

    raw = _esql(spark, sf_dir, """
FROM documents METADATA _score
| WHERE (match(text, "spark") OR match(text, "join"))
    AND NOT match(text, "batch")
| SORT _score DESC, doc_id
| LIMIT 10
| KEEP doc_id, _score""")
    return (raw.select("doc_id", x1e4(F.col("_score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")))


def q_esql_qstr_idx(spark, sf_dir):
    """ES|QL QSTR conjunct on the persisted-index fast path (round 4):
    the query_string tree evaluates over the docstats term-vector
    column inside topk's exact post_filter."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql_index

    idx = _index_for(spark, sf_dir)
    raw = esql_index(spark, """
FROM documents METADATA _score
| WHERE MATCH(text, "spark query join")
    AND QSTR("(batch OR stream) AND filt* -\\"table hash\\"", "text")
| SORT _score DESC, doc_id
| LIMIT 10""", idx)
    return (raw.select("doc_id", x1e4(F.col("_score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")))


def q_esql_kql_idx(spark, sf_dir):
    """ES|QL KQL conjunct on the persisted-index fast path (round 4):
    text-field leaves read the docstats term-vector column, carry
    columns (lang, n_chars range) evaluate in place inside topk's
    exact post_filter."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql_index

    idx = _index_for(spark, sf_dir)
    raw = esql_index(spark, """
FROM documents METADATA _score
| WHERE MATCH(text, "spark query join")
    AND KQL("lang:(fr or es) and n_chars >= 200 and (batch or stream)")
| SORT _score DESC, doc_id
| LIMIT 10""", idx)
    return (raw.select("doc_id", x1e4(F.col("_score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")))


_DTOK = ("list_filter(string_split_regex(lower(d.text), '\\s+'), "
         "x -> x <> '')")

_KQL_PF_SQL = (
    "d.lang IN ('fr', 'es') AND d.n_chars >= 200 AND "
    f"(list_contains({_DTOK}, 'batch') OR list_contains({_DTOK}, 'stream'))")

_QSTR_PF_SQL = (
    f"(list_contains({_DTOK}, 'batch') OR list_contains({_DTOK}, 'stream'))"
    f" AND len(list_filter({_DTOK}, t -> t LIKE 'filt%')) > 0"
    f" AND NOT position(' table hash ' IN"
    f" ' ' || array_to_string({_DTOK}, ' ') || ' ') > 0")


_SPLIT_IDX_CACHE: dict[str, tuple[str, str]] = {}


def q_esql_multi_idx(spark, sf_dir):
    """ES|QL over TWO persisted half-indexes (even/odd doc_ids) via
    dfs-exact topk_multi: cross-index collection stats make the
    ranking value-identical to ONE index over the union corpus — so
    the single-corpus BM25 oracle is the exact twin."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql_index

    a, b = _split_idx(spark, sf_dir)
    raw = esql_index(spark, """
FROM even, odd METADATA _score
| WHERE MATCH(text, "spark query join")
| SORT _score DESC, doc_id
| LIMIT 30""", [a, b])
    return (raw.select("doc_id", x1e4(F.col("_score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


def _split_idx(spark, sf_dir):
    """The two persisted half-indexes (even/odd doc_ids) used by the
    multi-index gate rows — built once per sf_dir (see
    q_esql_multi_idx for why the union-corpus oracle is exact)."""
    import os
    import tempfile

    from elasticsearch_osmosis_plugin_spark.plans.build import build_index

    if sf_dir not in _SPLIT_IDX_CACHE:
        base = os.path.join(tempfile.gettempdir(),
                            "eosp_entry_splitidx_"
                            + sf_dir.strip("/").replace("/", "_"))
        a, b = os.path.join(base, "even"), os.path.join(base, "odd")
        docs = _t(spark, sf_dir, "documents")
        cfg = EngineConfig(analyzer="simple", n_segments=4, n_buckets=4,
                           block_size=64, resume=False)
        for path, pred in ((a, "doc_id % 2 = 0"), (b, "doc_id % 2 = 1")):
            if not os.path.exists(os.path.join(path, "meta.json")):
                build_index(spark, docs.filter(pred), path, cfg,
                            id_col="doc_id", text_col="text", n_groups=1)
        _SPLIT_IDX_CACHE[sf_dir] = (a, b)
    return _SPLIT_IDX_CACHE[sf_dir]


def q_esql_multi_idx_filtered(spark, sf_dir):
    """Multi-index esql_index WITH a residual WHERE conjunct — the
    modal real-world ES|QL shape (FROM logs-* | WHERE match(..) AND
    host == "x"). The filter compiles to topk_multi's post_filter over
    the UNION of the per-index docstats: B6 semantics (scores stay
    union-corpus global, k after filter), so the single-corpus BM25
    oracle with the same post-filter is the exact twin."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql_index

    a, b = _split_idx(spark, sf_dir)
    raw = esql_index(spark, """
FROM even, odd METADATA _score
| WHERE MATCH(text, "spark query join") AND lang == "en"
| SORT _score DESC, doc_id
| LIMIT 30""", [a, b])
    return (raw.select("doc_id", x1e4(F.col("_score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


def q_esql_multi_idx_keep(spark, sf_dir):
    """Multi-index esql_index with KEEP of a carry column (lang) on top
    of a residual filter: carry columns hydrate from the per-index
    docstats union on the k-bounded hit frame — both round-3
    single-index-only restrictions lifted in one pipeline."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql_index

    a, b = _split_idx(spark, sf_dir)
    raw = esql_index(spark, """
FROM even, odd METADATA _score
| WHERE MATCH(text, "spark query join") AND n_chars > 100
| KEEP doc_id, lang, _score
| SORT _score DESC, doc_id
| LIMIT 30""", [a, b])
    return (raw.select("doc_id", "lang",
                       x1e4(F.col("_score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


def q_esql_multi_idx_options(spark, sf_dir):
    """Multi-index esql_index with MATCH named options (round 5):
    operator "and" maps to topk_multi's minimum_should_match (term
    count analyzed with the shared analyzer), boost scales the one
    scoring clause — the last single-index-only restriction on the
    fast path lifted. dfs-exact stats keep the union-corpus oracle
    exact, so the single-corpus msm+boost oracle is the twin."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql_index

    a, b = _split_idx(spark, sf_dir)
    raw = esql_index(spark, """
FROM even, odd METADATA _score
| WHERE MATCH(text, "spark query", {"operator": "and", "boost": 2.0})
| SORT _score DESC, doc_id
| LIMIT 30""", [a, b])
    return (raw.select("doc_id", x1e4(F.col("_score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")).limit(10))


def q_esql_multi_idx_kql(spark, sf_dir):
    """Multi-index esql_index with a KQL residual conjunct (round 5):
    the KQL tree evaluates over the per-index docstats term-vector
    column inside topk_multi's post_filter — same B6 semantics as the
    single-index path (esql_kql_idx), so the same union-corpus oracle
    applies."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import x1e4
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql_index

    a, b = _split_idx(spark, sf_dir)
    raw = esql_index(spark, """
FROM even, odd METADATA _score
| WHERE MATCH(text, "spark query join")
    AND KQL("lang:(fr or es) and n_chars >= 200 and (batch or stream)")
| SORT _score DESC, doc_id
| LIMIT 10""", [a, b])
    return (raw.select("doc_id", x1e4(F.col("_score")).alias("score_x1e4"))
            .orderBy(F.desc("score_x1e4"), F.asc("doc_id")))


def q_esql_ccs_union(spark, sf_dir):
    """ES|QL cross-cluster search: `FROM events, archive:ev*` mixes a
    local index with a cluster-qualified wildcard. Remote indexes
    resolve from the same tables mapping under their `cluster:name`
    key (how ES registers remote clusters in cluster settings);
    METADATA _index stamps remote hits with the qualified name, as ES
    does. The remote table is a deterministic derivation of events so
    the DuckDB twin is a plain UNION ALL."""
    return _esql(spark, sf_dir, """
FROM events, archive:ev* METADATA _index
| STATS n = COUNT(*),
        vsum_x100 = TO_LONG(FLOOR(SUM(value) * 100.0 + 0.5))
    BY _index, event_type
| SORT _index, event_type""", extra=lambda t: {
        "archive:events": t["events"].filter(F.col("value") > 90)
        .withColumn("value", F.col("value") + 1000.0)})


def q_esql_now_window(spark, sf_dir):
    """ES|QL NOW() with the injected per-request clock + timestamp/
    span arithmetic (`NOW() - 7 day`, `ts + 12 hour`): the modal
    observability filter shape. The clock is pinned so the plan (and
    the DuckDB twin) is deterministic — exactly ES's once-per-request
    now, made explicit."""
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql

    return esql(spark, """
FROM events
| WHERE ts > NOW() - 7 day AND ts <= NOW()
| EVAL shifted_day = DATE_TRUNC(1 day, ts + 12 hour)
| STATS n = COUNT(*) BY day_ts = DATE_DIFF("seconds",
      TO_DATETIME("1970-01-01 00:00:00"), shifted_day), event_type
| SORT day_ts, event_type""",
                {"events": _t(spark, sf_dir, "events")},
                now="2024-01-20 00:00:00")


def q_esql_rerank_docs(spark, sf_dir):
    """ES|QL RERANK (9.1 tech preview) with the builtin lexical-rerank
    endpoint: rescore a LIMIT-bounded window by query-term coverage —
    compiles to pure Catalyst (array_intersect over tokenize_expr, no
    UDF), so it is value-for-value oracle-checkable. Registered
    model endpoints take the Arrow-batched pandas-UDF path
    (pytest-verified; a model score is not SQL-expressible)."""
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql

    return esql(spark, """
FROM documents
| WHERE lang == "en"
| SORT n_chars DESC, doc_id
| LIMIT 50
| RERANK "distributed spark query engine" ON text
| EVAL r_x1e4 = TO_LONG(FLOOR(_score * 10000.0 + 0.5))
| KEEP doc_id, r_x1e4
| SORT r_x1e4 DESC, doc_id
| LIMIT 10""", {"documents": _t(spark, sf_dir, "documents")})


def q_esql_match_phrase(spark, sf_dir):
    """ES|QL MATCH_PHRASE (round 4): consecutive analyzed tokens in
    filter context — pure Catalyst (space-joined token-stream
    substring), the table-path twin of the positional-postings
    intersect.match_phrase."""
    return _esql(spark, sf_dir, """
FROM documents
| WHERE MATCH_PHRASE(text, "table hash")
| KEEP doc_id, lang
| SORT doc_id""")


def q_esql_qstr(spark, sf_dir):
    """ES|QL QSTR (round 4): classic Lucene query_string grammar —
    MUST/SHOULD groups, prefix expansion and a phrase exclusion —
    compiled to one pure-Catalyst boolean over the analyzed tokens."""
    return _esql(spark, sf_dir, """
FROM documents
| WHERE QSTR("(batch OR stream) AND filt* -\\"table hash\\"", "text")
| KEEP doc_id, lang
| SORT doc_id""")


def q_esql_categorize(spark, sf_dir):
    """ES|QL CATEGORIZE grouping function (round 4): STATS .. BY
    CATEGORIZE(msg) buckets by the same deterministic token skeleton
    as the categorize_text agg — one shared codegen kernel, one
    map-side-combined groupBy."""
    return _esql(spark, sf_dir, """
FROM events
| EVAL message = CONCAT(event_type, " ", props)
| STATS doc_count = COUNT(*) BY category = CATEGORIZE(message)
| SORT doc_count DESC, category
| LIMIT 10""")


def q_esql_st_centroid(spark, sf_dir):
    """ES|QL ST_CENTROID_AGG (round 4): per-group mean lon/lat of the
    synthetic geo_points as a geo_point struct, read back via
    ST_X/ST_Y — one hash aggregation."""
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql

    pts = (_synth_points(_t(spark, sf_dir, "documents"))
           .withColumn("location", F.struct("lon", "lat")))
    return esql(spark, """
FROM pts
| EVAL g = doc_id % 7
| STATS c = ST_CENTROID_AGG(location), n = COUNT(*) BY g
| EVAL cx_x1e4 = TO_LONG(FLOOR(ST_X(c) * 10000.0 + 0.5)),
       cy_x1e4 = TO_LONG(FLOOR(ST_Y(c) * 10000.0 + 0.5))
| KEEP g, n, cx_x1e4, cy_x1e4
| SORT g""", {"pts": pts})


def q_esql_rrf(spark, sf_dir):
    """ES|QL RRF (9.2 tech preview, round 4): reciprocal-rank fusion
    of two FORK search branches — per-branch row_number window (the
    branches are LIMIT-bounded, ES's own coordinator-side shape) +
    one hash aggregation on _id, rank_constant 60."""
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql

    return esql(spark, """
FROM documents METADATA _id, _score
| FORK (WHERE match(text, "spark query") | SORT _score DESC, _id | LIMIT 10)
       (WHERE match(text, "join") | SORT _score DESC, _id | LIMIT 10)
| RRF
| EVAL rrf_x1e6 = TO_LONG(FLOOR(_score * 1000000.0 + 0.5))
| KEEP _id, rrf_x1e6
| SORT rrf_x1e6 DESC, _id
| LIMIT 10""", {"documents": _t(spark, sf_dir, "documents")})


def q_esql_show_info(spark, sf_dir):
    """ES|QL SHOW INFO: the deterministic build-identity row."""
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql

    return esql(spark, "SHOW INFO", {})


def q_esql_std_dev(spark, sf_dir):
    """ES|QL STD_DEV aggregate (round 4): population standard
    deviation per group — Spark's stddev_pop (partial-aggregated
    moments; map-side combine, one shuffle) vs DuckDB stddev_pop."""
    return _esql(spark, sf_dir, """
FROM events
| STATS sd = STD_DEV(value) BY event_type
| EVAL sd_x1e4 = TO_LONG(FLOOR(sd * 10000.0 + 0.5))
| KEEP event_type, sd_x1e4
| SORT event_type""")


def q_esql_st_extent(spark, sf_dir):
    """ES|QL ST_EXTENT_AGG (round 4): per-group bounding box of the
    synthetic geo_points — min/max hash aggregation, bounds read back
    via struct field access."""
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql

    pts = (_synth_points(_t(spark, sf_dir, "documents"))
           .withColumn("location", F.struct("lon", "lat")))
    return esql(spark, """
FROM pts
| EVAL g = doc_id % 5
| STATS e = ST_EXTENT_AGG(location), n = COUNT(*) BY g
| EVAL xmin_x1e4 = TO_LONG(FLOOR(e.xmin * 10000.0 + 0.5)),
       xmax_x1e4 = TO_LONG(FLOOR(e.xmax * 10000.0 + 0.5)),
       ymin_x1e4 = TO_LONG(FLOOR(e.ymin * 10000.0 + 0.5)),
       ymax_x1e4 = TO_LONG(FLOOR(e.ymax * 10000.0 + 0.5))
| KEEP g, n, xmin_x1e4, xmax_x1e4, ymin_x1e4, ymax_x1e4
| SORT g""", {"pts": pts})


def q_esql_kql(spark, sf_dir):
    """ES|QL KQL() full-text function (8.16+, round 4): KQL grammar —
    field:value token match, OR value alternatives with a wildcard, a
    NOT'd phrase, and a numeric range — compiled to one pure-Catalyst
    boolean (no index, no UDFs)."""
    return _esql(spark, sf_dir, """
FROM documents
| WHERE KQL("lang:fr and n_chars >= 300 and (text:batch or text:stream*) and not text:\\"table hash\\"")
| KEEP doc_id, lang
| SORT doc_id""")


def q_esql_mad(spark, sf_dir):
    """ES|QL MEDIAN_ABSOLUTE_DEVIATION (round 4): two-pass exact MAD —
    per-group median, null-safe join-back, median of deviations (ES
    approximates with TDigest; exact here, documented divergence)."""
    return _esql(spark, sf_dir, """
FROM events
| STATS mad = MEDIAN_ABSOLUTE_DEVIATION(value) BY event_type
| EVAL mad_x1e4 = TO_LONG(FLOOR(mad * 10000.0 + 0.5))
| KEEP event_type, mad_x1e4
| SORT event_type""")


def q_esql_params(spark, sf_dir):
    """ES|QL named + identifier parameter markers (round 4): ``?name``
    binds a literal, ``??name`` binds a field name — substituted at
    parse time exactly like the ES _query API's ``params`` array, so
    the compiled plan embeds plain literals (no plan-cache surface)."""
    return _esql(spark, sf_dir, """
FROM events
| WHERE value > ?lo AND event_type != ?skip
| STATS n = COUNT(*), m = MEDIAN(??fld) BY event_type
| EVAL m_x1e4 = TO_LONG(FLOOR(m * 10000.0 + 0.5))
| KEEP event_type, n, m_x1e4
| SORT event_type""", params={"lo": 40.0, "skip": "signup",
                              "fld": "value"})


def q_esql_percentile_where(spark, sf_dir):
    """ES|QL per-agg WHERE on MEDIAN/PERCENTILE over an expression
    (round 4): the filter folds into NULLs that percentile skips on
    both engines; positional ``?`` markers bind the thresholds."""
    return _esql(spark, sf_dir, """
FROM events
| STATS p90 = PERCENTILE(value * 2.0, 90) WHERE value > ?,
        med = MEDIAN(value) WHERE event_type == ?
    BY day_of_week = DATE_EXTRACT("day_of_week", ts)
| EVAL p90_x1e4 = TO_LONG(FLOOR(p90 * 10000.0 + 0.5)),
       med_x1e4 = TO_LONG(FLOOR(med * 10000.0 + 0.5))
| KEEP day_of_week, p90_x1e4, med_x1e4
| SORT day_of_week""", params=[25.0, "click"])


def q_esql_st_grid(spark, sf_dir):
    """ES|QL spatial grid functions (round 4): ST_GEOHASH /
    ST_GEOTILE pack cells into Lucene/ES long layouts, the
    _TO_STRING twins decode them — all pure codegen (shared
    geo.geohash_interleave / geotile_xy kernels; dynamic unsigned
    shifts via call_function). Counts per (geohash3, tile4) pair."""
    def extra(tables):
        return {"pts": _synth_points(tables["documents"])}

    return _esql(spark, sf_dir, """
FROM pts
| EVAL p = TO_GEOPOINT(CONCAT("POINT (", TO_STRING(lon), " ",
                              TO_STRING(lat), ")"))
| EVAL gh = ST_GEOHASH_TO_STRING(ST_GEOHASH(p, 3)),
       tile = ST_GEOTILE_TO_STRING(ST_GEOTILE(p, 4))
| STATS n_docs = COUNT(*) BY gh, tile
| SORT gh, tile""", extra=extra)


def _st_grid_oracle_sql() -> str:
    """DuckDB twin of q_esql_st_grid: geohash-3 interleave bits +
    zoom-4 slippy tile, joined per doc."""
    precision, zoom = 3, 4
    bits = 5 * precision
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    terms = []
    for j in range(bits):
        src, src_bits, kk = ("x", lon_bits, j // 2) if j % 2 == 0 \
            else ("y", lat_bits, (j - 1) // 2)
        terms.append(f"((({src} >> {src_bits - 1 - kk}) & 1) "
                     f"<< {bits - 1 - j})")
    h = " + ".join(terms)
    chars = " || ".join(
        f"substr('0123456789bcdefghjkmnpqrstuvwxyz', "
        f"((h >> {5 * (precision - 1 - i)}) & 31)::INT + 1, 1)"
        for i in range(precision))
    n = float(1 << zoom)
    return f"""
WITH pts AS (
  SELECT doc_id,
         ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005 AS lat,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005 AS lon
  FROM documents),
cells AS (
  SELECT doc_id,
         least(greatest(floor((lon + 180.0) / 360.0 * {float(1 << lon_bits)!r}), 0),
               {(1 << lon_bits) - 1})::BIGINT AS x,
         least(greatest(floor((lat + 90.0) / 180.0 * {float(1 << lat_bits)!r}), 0),
               {(1 << lat_bits) - 1})::BIGINT AS y
  FROM pts),
gh AS (SELECT doc_id, ({h})::BIGINT AS h FROM cells),
clamped AS (
  SELECT doc_id, greatest(-85.05112878, least(85.05112878, lat)) AS lat,
         lon FROM pts),
tiles AS (
  SELECT doc_id,
         least(greatest(floor((lon + 180.0) / 360.0 * {n!r}), 0),
               {(1 << zoom) - 1})::BIGINT AS x,
         least(greatest(
           floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat)))
                  / pi()) / 2.0 * {n!r}), 0), {(1 << zoom) - 1})::BIGINT
           AS y
  FROM clamped)
SELECT {chars} AS gh, '{zoom}/' || t.x || '/' || t.y AS tile,
       count(*) AS n_docs
FROM gh JOIN tiles t USING (doc_id)
GROUP BY 1, 2 ORDER BY 1, 2"""


def _ts_events_src(tables):
    """events as a TS source: series id = (user_id, event_type)."""
    return {"ev_ts": {"df": tables["events"], "ts_col": "ts",
                      "dimensions": ["user_id", "event_type"],
                      "metrics": {"value": "gauge"}}}


def q_esql_ts_overtime(spark, sf_dir):
    """ES|QL TS command (9.x time-series mode, round 4): two-stage
    aggregation — *_OVER_TIME collapses each (full-dimension series,
    bucket) first, the outer aggregate combines series within the BY
    group. AVG(LAST_OVER_TIME(...)) is the shape a flat GROUP BY
    cannot express."""
    return _esql(spark, sf_dir, """
TS ev_ts
| STATS a = AVG(LAST_OVER_TIME(value)), m = MAX(MAX_OVER_TIME(value)),
        n = SUM(COUNT_OVER_TIME(value))
    BY b = BUCKET(ts, 1 day), event_type
| EVAL day_ts = DATE_DIFF("seconds", TO_DATETIME("1970-01-01 00:00:00"), b),
       a_x1e4 = TO_LONG(FLOOR(a * 10000.0 + 0.5)),
       m_x1e4 = TO_LONG(FLOOR(m * 10000.0 + 0.5))
| KEEP day_ts, event_type, a_x1e4, m_x1e4, n
| SORT day_ts, event_type""", extra=_ts_events_src)


ESQL_TS_OVERTIME_SQL = """
WITH pts AS (
  SELECT user_id, event_type, ts, value,
         date_trunc('day', ts) AS day,
         row_number() OVER (PARTITION BY user_id, event_type,
                            date_trunc('day', ts)
                            ORDER BY ts DESC, value DESC) AS rn
  FROM events),
series AS (
  SELECT user_id, event_type, day,
         max(CASE WHEN rn = 1 THEN value END) AS last_v,
         max(value) AS max_v, count(value) AS n_v
  FROM pts GROUP BY 1, 2, 3)
SELECT epoch(day)::BIGINT AS day_ts, event_type,
       floor(avg(last_v) * 10000.0 + 0.5)::BIGINT AS a_x1e4,
       floor(max(max_v) * 10000.0 + 0.5)::BIGINT AS m_x1e4,
       sum(n_v)::BIGINT AS n
FROM series GROUP BY 1, 2 ORDER BY 1, 2"""


def q_esql_ts_rate(spark, sf_dir):
    """ES|QL TS RATE over a counter (round 4; round-5 semantics fix):
    WITHIN-bucket only — per (series, bucket) the counter increase
    from first to last observation with ES's reset rule (a drop
    restarts the counter, contributing the post-reset value), divided
    by the OBSERVED timestamp span, then summed across series.
    `value` plays the counter, so resets are everywhere — the rule is
    load-bearing, not decorative. The oracle below is an INDEPENDENT
    formulation (arg_min/arg_max + reset-drop sum, vs the engine's
    sequential lag-delta sum) so the gate checks parity, not just
    determinism."""
    def extra(tables):
        return {"ev_ts": {"df": tables["events"], "ts_col": "ts",
                          "dimensions": ["user_id"],
                          "metrics": {"value": "counter"}}}

    return _esql(spark, sf_dir, """
TS ev_ts
| STATS r = SUM(RATE(value)) BY b = BUCKET(ts, 1 day)
| EVAL day_ts = DATE_DIFF("seconds", TO_DATETIME("1970-01-01 00:00:00"), b),
       r_x1e6 = TO_LONG(FLOOR(r * 1000000.0 + 0.5))
| KEEP day_ts, r_x1e6
| SORT day_ts""", extra=extra)


ESQL_TS_RATE_SQL = """
WITH s AS (
  SELECT user_id, date_trunc('day', ts) AS day, ts, value,
         lag(value) OVER (PARTITION BY user_id, date_trunc('day', ts)
                          ORDER BY ts) AS prev
  FROM events),
per_series AS (
  SELECT user_id, day,
         arg_max(value, ts) - arg_min(value, ts)
           + coalesce(sum(CASE WHEN value < prev THEN prev END), 0)
           AS increase,
         epoch(max(ts)) - epoch(min(ts)) AS span
  FROM s GROUP BY 1, 2)
SELECT epoch(day)::BIGINT AS day_ts,
       floor(sum(increase / nullif(span, 0)) * 1000000.0 + 0.5)::BIGINT
         AS r_x1e6
FROM per_series GROUP BY 1 ORDER BY 1"""


def q_esql_round_to(spark, sf_dir):
    """ES|QL ROUND_TO (9.1 fixed-point histogram) + SCALB/COPY_SIGN
    (round 4): the point chain folds to constants, one codegen pass."""
    return _esql(spark, sf_dir, """
FROM events
| EVAL b = ROUND_TO(value, 0, 10, 25, 50, 75),
       s = TO_LONG(FLOOR(SCALB(value, 2) * 100.0 + 0.5)),
       c = COPY_SIGN(3.0, 0.0 - value)
| STATS n = COUNT(*), ssum = SUM(s), csum = TO_LONG(SUM(c)) BY b
| SORT b""")


ESQL_ROUND_TO_SQL = """
SELECT (CASE WHEN value >= 75 THEN 75.0 WHEN value >= 50 THEN 50.0
             WHEN value >= 25 THEN 25.0 WHEN value >= 10 THEN 10.0
             ELSE 0.0 END)::DOUBLE AS b,
       count(*) AS n,
       sum(floor(value * 4.0 * 100.0 + 0.5)::BIGINT) AS ssum,
       sum(CASE WHEN -value >= 0 THEN 3.0 ELSE -3.0 END)::BIGINT AS csum
FROM events GROUP BY 1 ORDER BY 1"""


def q_esql_hash(spark, sf_dir):
    """ES|QL HASH/MD5/SHA256 (8.17, round 4): JVM MessageDigest
    digests over UTF-8 bytes — byte-identical to DuckDB's md5/sha256
    of the same strings."""
    return _esql(spark, sf_dir, """
FROM documents
| WHERE doc_id < 20
| EVAL h = HASH("md5", CONCAT(lang, source)), m = MD5(lang),
       s = SHA256(lang)
| KEEP doc_id, h, m, s
| SORT doc_id""")


def q_esql_fuse_linear(spark, sf_dir):
    """ES|QL FUSE LINEAR (9.2 tech preview, round 4): linear fusion of
    two FORK branches with per-branch min-max normalization — the
    generalized form of RRF (same window + hash-agg plan, score
    contribution swapped)."""
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql

    return esql(spark, """
FROM documents METADATA _id, _score
| FORK (WHERE match(text, "spark query") | SORT _score DESC, _id | LIMIT 10)
       (WHERE match(text, "join") | SORT _score DESC, _id | LIMIT 10)
| FUSE LINEAR WITH normalizer = "minmax"
| EVAL lin_x1e4 = TO_LONG(FLOOR(_score * 10000.0 + 0.5))
| KEEP _id, lin_x1e4
| SORT lin_x1e4 DESC, _id
| LIMIT 10""", {"documents": _t(spark, sf_dir, "documents")})


def _rrf_branch_sql(tag: str, terms: list[str], k: int) -> str:
    """Per-branch BM25 CTE trio (tf/df/scored on RAW doubles — the
    branch rank inside RRF ties-breaks on the unrounded score exactly
    like the Spark window) + the row_number ranking CTE."""
    tl = ", ".join(f"'{t}'" for t in terms)
    return f"""
tf{tag} AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
            WHERE term IN ({tl}) GROUP BY doc_id, term),
df{tag} AS (SELECT term, count(*)::DOUBLE AS df FROM tf{tag} GROUP BY term),
sc{tag} AS (
  SELECT t.doc_id,
         sum( ln(1.0 + (stats.n_docs - d.df + 0.5) / (d.df + 0.5))
              * t.tf * ({BM25_K1} + 1.0)
              / (t.tf + {BM25_K1} * (1.0 - {BM25_B}
                                     + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf{tag} t JOIN dl USING (doc_id) JOIN df{tag} d USING (term)
  CROSS JOIN stats GROUP BY t.doc_id),
b{tag} AS (SELECT doc_id, s,
                  row_number() OVER (ORDER BY s DESC,
                                     CAST(doc_id AS VARCHAR)) AS r
           FROM sc{tag}
           ORDER BY s DESC, CAST(doc_id AS VARCHAR) LIMIT {k})"""


ESQL_RRF_SQL = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
{_rrf_branch_sql('1', ['query', 'spark'], 10)},
{_rrf_branch_sql('2', ['join'], 10)},
u AS (SELECT doc_id, r FROM b1 UNION ALL SELECT doc_id, r FROM b2),
f AS (SELECT doc_id, sum(1.0 / (60.0 + r)) AS s FROM u GROUP BY doc_id)
SELECT CAST(doc_id AS VARCHAR) AS _id,
       floor(s * 1000000.0 + 0.5)::BIGINT AS rrf_x1e6
FROM f ORDER BY rrf_x1e6 DESC, _id LIMIT 10"""


ESQL_FUSE_LINEAR_SQL = f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
{_rrf_branch_sql('1', ['query', 'spark'], 10)},
{_rrf_branch_sql('2', ['join'], 10)},
n1 AS (SELECT doc_id,
              CASE WHEN max(s) OVER () = min(s) OVER () THEN 1.0
                   ELSE (s - min(s) OVER ())
                        / (max(s) OVER () - min(s) OVER ()) END AS c
       FROM b1),
n2 AS (SELECT doc_id,
              CASE WHEN max(s) OVER () = min(s) OVER () THEN 1.0
                   ELSE (s - min(s) OVER ())
                        / (max(s) OVER () - min(s) OVER ()) END AS c
       FROM b2),
u AS (SELECT * FROM n1 UNION ALL SELECT * FROM n2),
f AS (SELECT doc_id, sum(c) AS s FROM u GROUP BY doc_id)
SELECT CAST(doc_id AS VARCHAR) AS _id,
       floor(s * 10000.0 + 0.5)::BIGINT AS lin_x1e4
FROM f ORDER BY lin_x1e4 DESC, _id LIMIT 10"""


def q_esql_inlinestats_events(spark, sf_dir):
    """ES|QL INLINESTATS (8.14): per-group aggregate appended to every
    row — groupBy + null-safe join-back (window-agg twin in DuckDB)."""
    return _esql(spark, sf_dir, """
FROM events
| INLINESTATS avg_v = AVG(value) BY event_type
| WHERE value > avg_v * 1.5
| STATS n_hot = COUNT(*) BY event_type
| SORT event_type""")


def q_esql_knn(spark, sf_dir):
    """ES|QL KNN() function (9.x): exact cosine top-k under METADATA
    _score — one narrow scan + per-partition heaps, joined back."""
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    lit = ", ".join(repr(x) for x in qv)
    return esql(spark, f"""
FROM embeddings METADATA _score
| WHERE KNN(embedding, [{lit}], 10)
| EVAL cos_x1e4 = TO_LONG(FLOOR(_score * 10000.0 + 0.5))
| KEEP vec_id, cos_x1e4
| SORT cos_x1e4 DESC, vec_id""", {"embeddings": emb}, id_col="vec_id")


def q_change_point_events(spark, sf_dir):
    """ES|QL CHANGE_POINT over the daily event-count series (rows-only:
    the detector is an iterative kernel, not SQL; its value-level
    verification is the synthetic battery in tests/test_esql.py).
    Deterministic: same series -> same (type, pvalue, row)."""
    from elasticsearch_osmosis_plugin_spark.operators.changepoint import (
        change_point,
    )

    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_trunc("day", "ts").alias("day"))
             .agg(F.count(F.lit(1)).cast("double").alias("n")))
    out = change_point(daily, "n", "day")
    p = F.when(F.isnull("pvalue") | F.isnan("pvalue"), F.lit(-1.0)) \
        .otherwise(F.col("pvalue"))
    return (out.select(F.unix_timestamp("day").alias("day_ts"), "n",
                       "type",
                       F.floor(p * 10000 + 0.5).cast("long")
                       .alias("pvalue_x1e4"))
            .orderBy("day_ts"))


def q_cumulative_cardinality_events(spark, sf_dir):
    """ES cumulative_cardinality pipeline agg (exact): distinct users
    seen so far per day — first-seen attribution + bucket-frame
    running sum, never a per-prefix distinct recount."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        cumulative_cardinality,
    )

    ev = _t(spark, sf_dir, "events")
    out = cumulative_cardinality(ev, F.date_trunc("day", "ts"), "user_id")
    return out.select(F.unix_timestamp("bucket").alias("bucket_ts"),
                      "new_entities", "cumulative_cardinality")


def q_esql_fork_events(spark, sf_dir):
    """ES|QL FORK (9.1): two branch sub-pipelines over one frame,
    unioned with the _fork discriminator."""
    return _esql(spark, sf_dir, """
FROM events
| FORK (WHERE event_type == "view"
        | STATS n = COUNT(*), s = TO_LONG(FLOOR(SUM(value) * 100.0 + 0.5)))
       (WHERE event_type == "error"
        | STATS n = COUNT(*), s = TO_LONG(FLOOR(SUM(value) * 100.0 + 0.5)))
| KEEP _fork, n, s
| SORT _fork""")


def q_esql_wordcount_docs(spark, sf_dir):
    """ES|QL SPLIT + MV_EXPAND + STATS: the canonical multivalue
    pipeline (explode_outer, one shuffle)."""
    return _esql(spark, sf_dir, """
FROM documents
| EVAL tok = SPLIT(TO_LOWER(text), " ")
| MV_EXPAND tok
| WHERE tok != ""
| STATS n = COUNT(*) BY tok
| SORT n DESC, tok
| LIMIT 25""")


def q_esql_change_point(spark, sf_dir):
    """ES|QL CHANGE_POINT as a pipeline COMMAND (8.14 tech preview;
    round 5): the daily event buckets carry a synthetic 1->10 step at
    the midpoint of the day span, so the detected (row, type) is
    ANALYTIC — first day of the upper half, step_change — and the
    DuckDB twin derives it independently of the detector kernel
    (which is value-tested by the synthetic battery in
    tests/test_esql.py). pvalue is kernel-only arithmetic, so it
    stays out of the projection."""
    return _esql(spark, sf_dir, """
FROM events
| STATS n = COUNT(*) BY day = BUCKET(ts, 1 day)
| EVAL day_ts = DATE_DIFF("seconds", TO_DATETIME("1970-01-01 00:00:00"), day)
| INLINESTATS mn = MIN(day_ts), mx = MAX(day_ts)
| EVAL v = CASE(day_ts * 2 >= mn + mx, 10.0, 1.0)
| CHANGE_POINT v ON day_ts
| WHERE type IS NOT NULL
| KEEP day_ts, type""")


ESQL_CHANGE_POINT_SQL = """
WITH d AS (SELECT epoch(date_trunc('day', ts))::BIGINT AS day_ts
           FROM events GROUP BY 1),
m AS (SELECT min(day_ts) AS mn, max(day_ts) AS mx FROM d)
SELECT min(day_ts) AS day_ts, 'step_change' AS type
FROM d, m WHERE day_ts * 2 >= mn + mx"""


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "bpe_token_counts": q_bpe_token_counts,
    "tsds_downsample_events": q_tsds_downsample_events,
    "essql_topk": q_essql_topk,
    "essql_group_orders": q_essql_group_orders,
    "esql_stats_events": q_esql_stats_events,
    "esql_tpch_q1": q_esql_tpch_q1,
    "esql_grok_events": q_esql_grok_events,
    "esql_lookup_orders": q_esql_lookup_orders,
    "esql_match_score": q_esql_match_score,
    "esql_match_options": q_esql_match_options,
    "esql_match_score_idx": q_esql_match_score_idx,
    "esql_phrase_idx": q_esql_phrase_idx,
    "esql_qstr_idx": q_esql_qstr_idx,
    "esql_match_or_not": q_esql_match_or_not,
    "esql_kql_idx": q_esql_kql_idx,
    "esql_multi_idx": q_esql_multi_idx,
    "esql_multi_idx_filtered": q_esql_multi_idx_filtered,
    "esql_multi_idx_keep": q_esql_multi_idx_keep,
    "esql_multi_idx_options": q_esql_multi_idx_options,
    "esql_multi_idx_kql": q_esql_multi_idx_kql,
    "esql_ccs_union": q_esql_ccs_union,
    "esql_now_window": q_esql_now_window,
    "esql_rerank_docs": q_esql_rerank_docs,
    "esql_match_phrase": q_esql_match_phrase,
    "esql_qstr": q_esql_qstr,
    "esql_categorize": q_esql_categorize,
    "esql_st_centroid": q_esql_st_centroid,
    "esql_rrf": q_esql_rrf,
    "esql_show_info": q_esql_show_info,
    "esql_std_dev": q_esql_std_dev,
    "esql_st_extent": q_esql_st_extent,
    "esql_kql": q_esql_kql,
    "esql_fuse_linear": q_esql_fuse_linear,
    "esql_mad": q_esql_mad,
    "esql_params": q_esql_params,
    "esql_st_grid": q_esql_st_grid,
    "esql_ts_overtime": q_esql_ts_overtime,
    "esql_ts_rate": q_esql_ts_rate,
    "esql_round_to": q_esql_round_to,
    "esql_percentile_where": q_esql_percentile_where,
    "esql_hash": q_esql_hash,
    "esql_inlinestats_events": q_esql_inlinestats_events,
    "esql_knn": q_esql_knn,
    "esql_fork_events": q_esql_fork_events,
    "esql_st_intersects": q_esql_st_intersects,
    "esql_st_distance": q_esql_st_distance,
    "cumulative_cardinality_events": q_cumulative_cardinality_events,
    "change_point_events": q_change_point_events,
    "esql_change_point": q_esql_change_point,
    "esql_wordcount_docs": q_esql_wordcount_docs,
    "scripted_metric_idx": q_scripted_metric_idx,
    "nested_terms_agg_orders": q_nested_terms_agg_orders,
    "track_total_hits_idx": q_track_total_hits_idx,
    "curation_verdict": q_curation_verdict,
    "shape_intersects": q_shape_intersects,
    "shape_within": q_shape_within,
    "mtermvectors_idx": q_mtermvectors_idx,
    "terms_lookup_idx": q_terms_lookup_idx,
    "date_histogram_terms_events": q_date_histogram_terms_events,
    "span_containing_idx": q_span_containing_idx,
    "more_like_this_text": q_more_like_this_text,
    "temperature_mixture_tok": q_temperature_mixture_tok,
    "date_histogram_fixed_events": q_date_histogram_fixed_events,
    "hard_negatives": q_hard_negatives,
    "terms_subaggs_idx": q_terms_subaggs_idx,
    "significant_text_idx": q_significant_text_idx,
    "pinned_idx": q_pinned_idx,
    "match_bool_prefix_idx": q_match_bool_prefix_idx,
    "combined_fields_idx": q_combined_fields_idx,
    "boxplot_idx": q_boxplot_idx,
    "rate_events": q_rate_events,
    "normalize_events": q_normalize_events,
    "moving_percentiles_events": q_moving_percentiles_events,
    "analyze_api": q_analyze_api,
    "index_stats": q_index_stats,
    "categorize_text_events": q_categorize_text_events,
    "var_width_histogram_events": q_var_width_histogram_events,
    "frequent_item_sets": q_frequent_item_sets,
    "matrix_stats_idx": q_matrix_stats_idx,
    "bm25_topk_shrunk": q_bm25_topk_shrunk,
    "ingest_pipeline_events": q_ingest_pipeline_events,
    "ingest_pipeline2_events": q_ingest_pipeline2_events,
    "bm25_topk": q_bm25_topk,
    "bm25_topk_hot": q_bm25_topk_hot,
    "bm25_topk_idx_scoreall": q_bm25_topk_idx_scoreall,
    "bm25_topk_idx_local": q_bm25_topk_idx_local,
    "bm25_topk_idx_maxscore": q_bm25_topk_idx_maxscore,
    "bm25_topk_idx_blockmax": q_bm25_topk_idx_blockmax,
    "bm25_topk_idx_postfilter": q_bm25_topk_idx_postfilter,
    "classic_tfidf_idx": q_classic_tfidf_idx,
    "lm_dirichlet_idx": q_lm_dirichlet_idx,
    "lm_jelinek_mercer_idx": q_lm_jelinek_mercer_idx,
    "terms_set_idx": q_terms_set_idx,
    "distance_feature_idx": q_distance_feature_idx,
    "rank_feature_idx": q_rank_feature_idx,
    "suggest_phrase_idx": q_suggest_phrase_idx,
    "bm25_topk_english": q_bm25_topk_english,
    "dsl_search": q_dsl_search,
    "query_string_idx": q_query_string_idx,
    "simple_query_string_idx": q_simple_query_string_idx,
    "multi_match_cross_idx": q_multi_match_cross_idx,
    "multi_match_most_idx": q_multi_match_most_idx,
    "scan_scroll_idx": q_scan_scroll_idx,
    "scan_sliced_idx": q_scan_sliced_idx,
    "shuffle_order": q_shuffle_order,
    "term_vectors_idx": q_term_vectors_idx,
    "terms_stats_idx": q_terms_stats_idx,
    "filters_agg_idx": q_filters_agg_idx,
    "range_agg_idx": q_range_agg_idx,
    "bm25_explain": q_bm25_explain,
    "bm25_topk_batch": q_bm25_topk_batch,
    "phrase_match_idx": q_phrase_match_idx,
    "prefix_match_idx": q_prefix_match_idx,
    "regex_match_idx": q_regex_match_idx,
    "bm25_topk_boosted": q_bm25_topk_boosted,
    "search_after_idx": q_search_after_idx,
    "more_like_this_idx": q_more_like_this_idx,
    "bool_query_idx": q_bool_query_idx,
    "min_should_match_idx": q_min_should_match_idx,
    "stats_agg_idx": q_stats_agg_idx,
    "extended_stats_idx": q_extended_stats_idx,
    "top_metrics_idx": q_top_metrics_idx,
    "mad_idx": q_mad_idx,
    "t_test_idx": q_t_test_idx,
    "histogram_filled_idx": q_histogram_filled_idx,
    "geo_polygon_filter": q_geo_polygon_filter,
    "histogram_agg_idx": q_histogram_agg_idx,
    "highlight_idx": q_highlight_idx,
    "highlight_frags_idx": q_highlight_frags_idx,
    "fuzzy_match_idx": q_fuzzy_match_idx,
    "facet_counts_idx": q_facet_counts_idx,
    "terms_sharded_idx": q_terms_sharded_idx,
    "function_score_idx": q_function_score_idx,
    "decay_score_idx": q_decay_score_idx,
    "dis_max_idx": q_dis_max_idx,
    "multi_match_idx": q_multi_match_idx,
    "suggest_term_idx": q_suggest_term_idx,
    "suggest_prefix_idx": q_suggest_prefix_idx,
    "cardinality_idx": q_cardinality_idx,
    "significant_terms_idx": q_significant_terms_idx,
    "sig_terms_chi2_idx": q_sig_terms_chi2_idx,
    "terms_enum_idx": q_terms_enum_idx,
    "span_near_idx": q_span_near_idx,
    "span_near_unordered_idx": q_span_near_unordered_idx,
    "span_first_idx": q_span_first_idx,
    "synonym_topk_idx": q_synonym_topk_idx,
    "span_not_idx": q_span_not_idx,
    "span_or_near_idx": q_span_or_near_idx,
    "span_multi_near_idx": q_span_multi_near_idx,
    "phrase_prefix_idx": q_phrase_prefix_idx,
    "rescore_idx": q_rescore_idx,
    "top_hits_idx": q_top_hits_idx,
    "collapse_idx": q_collapse_idx,
    "boosting_idx": q_boosting_idx,
    "percentiles_idx": q_percentiles_idx,
    "term_stats": q_term_stats,
    "doc_lengths": q_doc_lengths,
    "boolean_and": q_boolean_and,
    "phrase_match": q_phrase_match,
    "count_by_lang": q_count_by_lang,
    "exact_filter": q_exact_filter,
    "top_docs_by_len": q_top_docs_by_len,
    "mget_order_preserving": q_mget_order_preserving,
    "token_count": q_token_count,
    "token_count_bpe": q_token_count_bpe,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "repetition_stats": q_repetition_stats,
    "pii_stats": q_pii_stats,
    "fingerprint": q_fingerprint,
    "shingle_fingerprint": q_shingle_fingerprint,
    "exact_dup_groups": q_exact_dup_groups,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "ngram_jaccard_prefix": q_ngram_jaccard_prefix,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "dup_clusters": q_dup_clusters,
    "dup_clusters_keep_best": q_dup_clusters_keep_best,
    "contamination": q_contamination,
    "dsir_weights": q_dsir_weights,
    "dsir_sample": q_dsir_sample,
    "common_terms_idx": q_common_terms_idx,
    "sparse_vector_topk": q_sparse_vector_topk,
    "hybrid_rrf": q_hybrid_rrf,
    "hybrid_linear": q_hybrid_linear,
    "duplicate_spans": q_duplicate_spans,
    "simhash": q_simhash,
    "simhash_neardup": q_simhash_neardup,
    "cosine_topk": q_cosine_topk,
    "knn_filtered": q_knn_filtered,
    "embedding_neardup": q_embedding_neardup,
    "semantic_dedup": q_semantic_dedup,
    "ann_smoke": q_ann_smoke,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "pq_adc_topk": q_pq_adc_topk,
    "mixture_sample": q_mixture_sample,
    "temperature_mixture": q_temperature_mixture,
    "pack_sequences": q_pack_sequences,
    "percolate": q_percolate,
    "chunk_documents": q_chunk_documents,
    "unigram_logprob": q_unigram_logprob,
    "bigram_logprob": q_bigram_logprob,
    "geo_distance_filter": q_geo_distance_filter,
    "geo_distance_agg": q_geo_distance_agg,
    "geo_line": q_geo_line,
    "geo_bbox_filter": q_geo_bbox_filter,
    "geotile_grid": q_geotile_grid,
    "geohash_grid": q_geohash_grid,
    "train_eval_split": q_train_eval_split,
    "revenue_per_order": q_revenue_per_order,
    "customers_by_region": q_customers_by_region,
    "tpch_q1": q_tpch_q1,
    "top_customers": q_top_customers,
    "events_windowed": q_events_windowed,
    "date_histogram_events": q_date_histogram_events,
    "pipeline_aggs_events": q_pipeline_aggs_events,
    "moving_fn_events": q_moving_fn_events,
    "ip_range_events": q_ip_range_events,
    "ip_prefix_events": q_ip_prefix_events,
    "pipeline2_events": q_pipeline2_events,
    "auto_date_histogram_events": q_auto_date_histogram_events,
    "percentile_ranks_idx": q_percentile_ranks_idx,
    "adjacency_matrix_idx": q_adjacency_matrix_idx,
    "geo_bounds": q_geo_bounds,
    "weighted_avg_idx": q_weighted_avg_idx,
    "string_stats_idx": q_string_stats_idx,
    "has_child": q_has_child,
    "has_parent": q_has_parent,
    "children_agg": q_children_agg,
    "parent_id": q_parent_id,
    "composite_agg_events": q_composite_agg_events,
    "sessionization": q_sessionization,
    "type_dispatch_counts": q_type_dispatch_counts,
    "rank_eval_idx": q_rank_eval_idx,
    "rare_terms_idx": q_rare_terms_idx,
    "multi_terms_idx": q_multi_terms_idx,
    "global_stats_idx": q_global_stats_idx,
    "date_range_events": q_date_range_events,
    "sampler_idx": q_sampler_idx,
    "diversified_sampler_idx": q_diversified_sampler_idx,
    "random_score_idx": q_random_score_idx,
    "script_score_idx": q_script_score_idx,
    "nested_query_events": q_nested_query_events,
    "url_dup_groups": q_url_dup_groups,
    "ccnet_buckets": q_ccnet_buckets,
    "c4_quality_flags": q_c4_quality_flags,
    "quality_classifier": q_quality_classifier,
    "quantized_cosine_topk": q_quantized_cosine_topk,
    "ann_sq_rescored": q_ann_sq_rescored,
    "tsr_retriever": q_tsr_retriever,
    "eql_sequence_events": q_eql_sequence_events,
    "eql_sequence_until_events": q_eql_sequence_until_events,
    "eql_sample_events": q_eql_sample_events,
    "eql_funnel_events": q_eql_funnel_events,
    "percentiles_bucket_events": q_percentiles_bucket_events,
    "suggest_completion_fuzzy_idx": q_suggest_completion_fuzzy_idx,
    "transform_pivot_events": q_transform_pivot_events,
    "transform_latest_events": q_transform_latest_events,
    "graph_explore_vertices": q_graph_explore_vertices,
    "graph_explore_edges": q_graph_explore_edges,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_bm25_topk(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


# ---------------------------------------------------------------- oracles

_SHINGLE3 = (
    "gr AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN "
    "list_distinct(list_transform(generate_series(1, len(toks)-2), "
    "i -> array_to_string(list_slice(toks, i, i+2), ' '))) "
    "ELSE [array_to_string(toks, ' ')] END AS grams FROM toks)"
)
_SHINGLE3_NOFALLBACK = (
    "sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN "
    "list_distinct(list_transform(generate_series(1, len(toks)-2), "
    "i -> array_to_string(list_slice(toks, i, i+2), ' '))) "
    "ELSE [] END) AS shingle FROM toks)"
)

_MINHASH_SIGS = ", ".join(
    f"list_min(list_transform(grams, g -> xor(('0x' || substr(md5(g), 2, 15))"
    f"::UBIGINT::BIGINT, {dedupe.minhash_salt(i)}))) AS sig{i}"
    for i in range(4))

_STOP_EN = "'the','a','of','and','to','in','is','it'"
_STOP_SQL = {
    "en": _STOP_EN,
    "es": "'el','la','de','y','que','en','un','es'",
    "fr": "'le','la','de','et','que','en','un','est'",
    "de": "'der','die','das','und','zu','in','ein','ist'",
}
_HITS = ", ".join(
    f"len(list_filter(toks, x -> x IN ({words}))) AS hits_{lang}"
    for lang, words in _STOP_SQL.items())

_NGRAM_JACCARD_SQL = f"""
WITH {TOK_CTE}, {_SHINGLE3_NOFALLBACK},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b,
       floor(i::DOUBLE / (sa.sz + sb.sz - i) * 10000.0 + 0.5)::BIGINT
         AS jaccard_x1e4
FROM inter JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5"""

_SIMHASH_CTE = f"""
WITH {TOK_EXPLODED_CTE},
tc AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term),
votes AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN ((('0x' || substr(md5(term), 1, 16))::UBIGINT
                         >> b.bit) & 1) = 1 THEN c ELSE -c END) AS vote
  FROM tc CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit) b
  GROUP BY doc_id, b.bit),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN vote > 0 THEN
               CASE WHEN bit = 63 THEN (-9223372036854775807 - 1)::HUGEINT
                    ELSE (1::BIGINT << bit)::HUGEINT END
             ELSE 0::HUGEINT END)::BIGINT AS simhash
  FROM votes GROUP BY doc_id)
"""


def _robust_oracle(gen, name: str) -> str:
    """ANN / temperature oracles train their constants from the
    oracle-SF parquet at oracle_sql() time (tracking the actual gate
    inputs). If that probe fails in the sampling environment, fall
    back to the baked literal twin (generated from sf0.01 by the same
    generator) so the row STAYS a full value-for-value oracle instead
    of regressing to rows-only."""
    try:
        return gen()
    except Exception:  # noqa: BLE001 — oracle generation must not kill the gate
        from elasticsearch_osmosis_plugin_spark.baked_oracles import ORACLES

        return ORACLES[name]


def oracle_sql() -> dict[str, str]:
    out = {
        "ann_smoke": _robust_oracle(
            lambda: _ann_lsh_oracle_sql(n_planes=4, multiprobe_hamming=1,
                                        k=5), "ann_smoke"),
        "ann_lsh_topk": _robust_oracle(_ann_lsh_oracle_sql,
                                       "ann_lsh_topk"),
        "ann_ivf_topk": _robust_oracle(_ann_ivf_oracle_sql,
                                       "ann_ivf_topk"),
        "pq_adc_topk": _robust_oracle(_pq_oracle_sql, "pq_adc_topk"),
        "temperature_mixture": _robust_oracle(_temperature_oracle_sql,
                                              "temperature_mixture"),
        "temperature_mixture_tok": _robust_oracle(
            _temperature_tok_oracle_sql, "temperature_mixture_tok"),
    }
    return out | {
        "bm25_topk": _bm25_oracle_sql(sorted({"spark", "query", "join"}), 10),
        "bm25_topk_hot": _bm25_oracle_sql(sorted({"dup", "table", "merge"}), 10),
        "bm25_topk_idx_scoreall": _bm25_oracle_sql(
            sorted({"spark", "query", "join"}), 10),
        "bm25_topk_idx_local": _bm25_oracle_sql(
            sorted({"spark", "query", "join"}), 10),
        "bm25_topk_idx_maxscore": _bm25_oracle_sql(
            sorted({"dup", "table", "merge"}), 10),
        "bm25_topk_idx_blockmax": _bm25_oracle_sql(["dup"], 10),
        "bm25_topk_idx_postfilter": _bm25_oracle_sql(
            sorted({"dup", "table", "merge"}), 10,
            post_filter_sql="d.lang = 'en'"),
        "classic_tfidf_idx": _classic_oracle_sql(CLASSIC_TERMS, 10),
        "lm_dirichlet_idx": _lm_oracle_sql(
            sorted({"spark", "query", "join"}), 10, "lm_dirichlet"),
        "lm_jelinek_mercer_idx": _lm_oracle_sql(
            sorted({"dup", "table", "merge"}), 10, "lm_jelinek_mercer"),
        "terms_sharded_idx": TERMS_SHARDED_SQL,
        "analyze_api": _analyze_oracle_sql(),
        "index_stats": INDEX_STATS_SQL,
        "categorize_text_events": CATEGORIZE_TEXT_SQL,
        "var_width_histogram_events": VAR_WIDTH_HIST_SQL,
        "frequent_item_sets": FREQUENT_ITEM_SETS_SQL,
        "matrix_stats_idx": MATRIX_STATS_SQL,
        "bm25_topk_shrunk": _bm25_oracle_sql(
            sorted({"spark", "query", "join"}), 10),
        "ingest_pipeline_events": INGEST_PIPELINE_SQL,
        "ingest_pipeline2_events": INGEST_PIPELINE2_SQL,
        "terms_set_idx": TERMS_SET_SQL,
        "distance_feature_idx": DIST_FEAT_SQL,
        "rank_feature_idx": RANK_FEATURE_SQL,
        "suggest_phrase_idx": _suggest_phrase_oracle_sql(),
        "bm25_topk_english": _bm25_oracle_sql(
            ["join", "query", "table"], 10, tok_cte=TOK_EN_EXPLODED_CTE),
        "dsl_search": _bm25_oracle_sql(sorted({"spark", "query", "join"}), 10),
        "query_string_idx": QS_ORACLE_SQL,
        "simple_query_string_idx": SQS_ORACLE_SQL,
        "multi_match_cross_idx": _mm_oracle_sql("cross"),
        "multi_match_most_idx": _mm_oracle_sql("most"),
        # page 2 == rows 51-100 of the doc_id-ordered match set (keyset
        # after page 1's last id is identical to OFFSET on a unique key)
        "shuffle_order": SHUFFLE_ORDER_SQL,
        "scan_sliced_idx": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks
WHERE list_contains(toks, 'spark')
  AND ('0x' || substr(md5(doc_id::VARCHAR), 2, 15))::UBIGINT::BIGINT
      % 3 = 1
ORDER BY doc_id""",
        "scan_scroll_idx": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks WHERE list_contains(toks, 'spark')
ORDER BY doc_id LIMIT 50 OFFSET 50
""",
        "filters_agg_idx": f"""
WITH {TOK_CTE},
hits AS (SELECT * FROM toks WHERE list_contains(toks, 'spark'))
SELECT bucket, n_docs FROM (
  SELECT 'english' AS bucket,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_docs
  FROM hits
  UNION ALL
  SELECT 'long_doc',
         sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)::BIGINT FROM hits
  UNION ALL
  SELECT 'missing_lang',
         sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT FROM hits)
ORDER BY bucket""",
        "terms_stats_idx": f"""
WITH {TOK_CTE}
SELECT lang, count(*) AS n, min(n_chars) AS min_v, max(n_chars) AS max_v,
       sum(n_chars)::BIGINT AS sum_v,
       floor(avg(n_chars) * 10000.0 + 0.5)::BIGINT AS avg_x1e4
FROM toks WHERE list_contains(toks, 'spark')
GROUP BY lang ORDER BY n DESC, lang""",
        "range_agg_idx": f"""
WITH {TOK_CTE},
hits AS (SELECT doc_id, n_chars FROM toks WHERE list_contains(toks, 'spark'))
SELECT bucket, count(*) AS n_docs FROM (
  SELECT '*-200' AS bucket FROM hits WHERE n_chars < 200
  UNION ALL
  SELECT '200-400' FROM hits WHERE n_chars >= 200 AND n_chars < 400
  UNION ALL
  SELECT '300-*' FROM hits WHERE n_chars >= 300)
GROUP BY bucket ORDER BY bucket""",
        "term_vectors_idx": f"""
WITH {TOK_CTE},
pos AS (SELECT doc_id, unnest(toks) AS term,
               generate_subscripts(toks, 1) - 1 AS p
        FROM toks),
dstats AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
           FROM pos GROUP BY term)
SELECT p.term, count(*) AS tf,
       array_to_string(list_sort(list(p.p)), ',') AS positions,
       d.df, d.cf
FROM pos p JOIN dstats d USING (term)
WHERE p.doc_id = 42
GROUP BY p.term, d.df, d.cf
ORDER BY p.term""",
        "bm25_explain": f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('join', 'query', 'spark') GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
SELECT tf.doc_id, tf.term, tf.tf::BIGINT AS tf, dl.dl::BIGINT AS dl,
  floor(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
        * 10000.0 + 0.5)::BIGINT AS idf_x1e4,
  floor(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
        * tf.tf * ({BM25_K1} + 1.0)
        / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                + {BM25_B} * dl.dl / stats.avgdl))
        * 10000.0 + 0.5)::BIGINT AS partial_x1e4
FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats""",
        "bm25_topk_batch": "\nUNION ALL\n".join(
            f"SELECT '{qid}' AS query_id, * FROM ("
            + _bm25_oracle_sql(sorted(set(q.split())), 10) + ")"
            for qid, q in BATCH_QUERIES.items()),
        "term_stats": f"""
WITH {TOK_EXPLODED_CTE}
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf FROM tok
WHERE term IN ('spark','dup','window','zzz') GROUP BY term""",
        "doc_lengths": f"WITH {TOK_CTE} SELECT doc_id, len(toks) AS dl FROM toks",
        "boolean_and": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks
WHERE list_contains(toks, 'spark') AND list_contains(toks, 'window')
  AND list_contains(toks, 'dup') ORDER BY doc_id""",
        "phrase_match": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks
WHERE len(toks) >= 2 AND len(list_filter(generate_series(1, len(toks) - 1),
      i -> toks[i] = 'query' AND toks[i + 1] = 'join')) > 0
ORDER BY doc_id""",
        "phrase_match_idx": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks
WHERE len(toks) >= 2 AND len(list_filter(generate_series(1, len(toks) - 1),
      i -> toks[i] = 'query' AND toks[i + 1] = 'join')) > 0
ORDER BY doc_id""",
        "prefix_match_idx": f"""
WITH {TOK_EXPLODED_CTE}
SELECT DISTINCT doc_id FROM tok WHERE term LIKE 'win%' ORDER BY doc_id""",
        "regex_match_idx": f"""
WITH {TOK_EXPLODED_CTE}
SELECT DISTINCT doc_id FROM tok
WHERE regexp_full_match(term, 'd[ue]p.*') ORDER BY doc_id""",
        "bm25_topk_boosted": _bm25_oracle_sql(
            sorted({"dup", "table", "merge"}), 10,
            boosts={"dup": 3.0, "merge": 0.5}),
        "search_after_idx": _bm25_oracle_sql(
            sorted({"spark", "query", "join"}), 10, offset=10),
        "more_like_this_idx": f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
dfall AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok
          GROUP BY term),
srctf AS (SELECT term, count(*)::DOUBLE AS tf FROM tok
          WHERE doc_id = {MLT_SRC_DOC} GROUP BY term),
sel AS (SELECT s.term FROM srctf s JOIN dfall USING (term) CROSS JOIN stats
        ORDER BY s.tf * ln(1.0 + (stats.n_docs - dfall.df + 0.5)
                                 / (dfall.df + 0.5)) DESC, s.term
        LIMIT 5),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN (SELECT term FROM sel) GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id)
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4 FROM scored
WHERE doc_id <> {MLT_SRC_DOC}
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT 10""",
        "bool_query_idx": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks
WHERE list_contains(toks, 'spark')
  AND (list_contains(toks, 'window') OR list_contains(toks, 'dup'))
  AND NOT list_contains(toks, 'merge')
ORDER BY doc_id""",
        "min_should_match_idx": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks
WHERE list_contains(toks, 'spark')::INT + list_contains(toks, 'window')::INT
    + list_contains(toks, 'dup')::INT + list_contains(toks, 'join')::INT >= 2
ORDER BY doc_id""",
        "geo_polygon_filter": _geo_polygon_oracle_sql(),
        "esql_st_intersects": _esql_st_intersects_sql(),
        "esql_st_distance": ESQL_ST_DISTANCE_SQL,
        "extended_stats_idx": f"""
WITH {TOK_CTE},
hits AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM toks
         WHERE list_contains(toks, 'spark') OR list_contains(toks, 'window'))
SELECT count(*) AS n, min(dl)::BIGINT AS min_v, max(dl)::BIGINT AS max_v,
       sum(dl)::BIGINT AS sum_v, sum(dl * dl)::BIGINT AS sum_sq,
       floor(avg(dl) * 10000.0 + 0.5)::BIGINT AS avg_x1e4,
       floor(stddev_pop(dl) * 10000.0 + 0.5)::BIGINT AS std_x1e4,
       floor((avg(dl) + 2.0 * stddev_pop(dl)) * 10000.0 + 0.5)::BIGINT
         AS upper_x1e4,
       floor((avg(dl) - 2.0 * stddev_pop(dl)) * 10000.0 + 0.5)::BIGINT
         AS lower_x1e4
FROM hits""",
        "top_metrics_idx": f"""
WITH {TOK_CTE}
SELECT len(toks)::BIGINT AS sort_value, lang AS metric_value, doc_id
FROM toks
WHERE list_contains(toks, 'spark') OR list_contains(toks, 'window')
ORDER BY sort_value DESC, doc_id LIMIT 1""",
        "mad_idx": f"""
WITH {TOK_CTE},
hits AS (SELECT len(toks)::DOUBLE AS dl FROM toks
         WHERE list_contains(toks, 'spark') OR list_contains(toks, 'window')),
med AS (SELECT quantile_cont(dl, 0.5) AS m FROM hits)
SELECT count(*) AS n,
       (quantile_cont(abs(dl - med.m), 0.5) * 2)::BIGINT AS mad_x2
FROM hits, med GROUP BY med.m""",
        "t_test_idx": f"""
WITH {TOK_CTE},
a AS (SELECT count(*)::BIGINT AS n, avg(len(toks)::DOUBLE) AS m,
             var_samp(len(toks)::DOUBLE) AS s2
      FROM toks WHERE list_contains(toks, 'spark')),
b AS (SELECT count(*)::BIGINT AS n, avg(len(toks)::DOUBLE) AS m,
             var_samp(len(toks)::DOUBLE) AS s2
      FROM toks WHERE list_contains(toks, 'dup'))
SELECT a.n AS n_a, b.n AS n_b,
       floor((a.m - b.m) / sqrt(a.s2 / a.n + b.s2 / b.n)
             * 10000.0 + 0.5)::BIGINT AS t_x1e4
FROM a, b""",
        "histogram_filled_idx": f"""
WITH {TOK_CTE},
cnt AS (SELECT (floor(len(toks) / 20.0) * 20)::BIGINT AS bucket,
               count(*)::BIGINT AS n_docs
        FROM toks WHERE list_contains(toks, 'spark') GROUP BY 1),
grid AS (SELECT unnest(generate_series(
           least(0, (SELECT min(bucket) FROM cnt)),
           greatest(400, (SELECT max(bucket) FROM cnt)), 20)) AS bucket)
SELECT grid.bucket, coalesce(cnt.n_docs, 0) AS n_docs
FROM grid LEFT JOIN cnt USING (bucket) ORDER BY bucket""",
        "boxplot_idx": f"""
WITH {TOK_CTE},
hits AS (SELECT doc_id, len(toks) AS dl FROM toks
         WHERE list_contains(toks, 'spark') OR list_contains(toks, 'window')),
q AS (SELECT count(*) AS n, min(dl) AS min_v, max(dl) AS max_v,
             quantile_cont(dl, 0.25) AS q1, quantile_cont(dl, 0.5) AS q2,
             quantile_cont(dl, 0.75) AS q3 FROM hits)
SELECT n, min_v::BIGINT AS min_v, max_v::BIGINT AS max_v,
       floor(q1 * 10000.0 + 0.5)::BIGINT AS q1_x1e4,
       floor(q2 * 10000.0 + 0.5)::BIGINT AS q2_x1e4,
       floor(q3 * 10000.0 + 0.5)::BIGINT AS q3_x1e4,
       (SELECT min(dl) FROM hits WHERE dl >= q.q1 - 1.5 * (q.q3 - q.q1))
         ::BIGINT AS lower_v,
       (SELECT max(dl) FROM hits WHERE dl <= q.q3 + 1.5 * (q.q3 - q.q1))
         ::BIGINT AS upper_v
FROM q""",
        "rate_events": """
WITH b AS (SELECT date_trunc('month', ts) AS bucket, count(*) AS n_docs
           FROM events GROUP BY 1)
SELECT epoch(bucket)::BIGINT AS bucket_ts, n_docs,
       floor(n_docs::DOUBLE
             / date_diff('day', bucket, bucket + INTERVAL 1 MONTH)
             * 10000.0 + 0.5)::BIGINT AS rate_x1e4
FROM b ORDER BY 1""",
        "normalize_events": """
WITH b AS (SELECT epoch(date_trunc('day', ts))::BIGINT AS bucket_ts,
                  count(*) AS n_docs FROM events GROUP BY 1)
SELECT bucket_ts, n_docs,
       floor(n_docs::DOUBLE / sum(n_docs) OVER () * 100.0
             * 10000.0 + 0.5)::BIGINT AS pct_x1e4
FROM b ORDER BY bucket_ts""",
        "percentiles_bucket_events": """
WITH b AS (SELECT date_trunc('day', ts) AS bucket, count(*) AS n_docs
           FROM events GROUP BY 1)
SELECT 2500::BIGINT AS pct_x1e4,
       floor(quantile_cont(n_docs::DOUBLE, 0.25) * 10000.0 + 0.5)::BIGINT
         AS value_x1e4 FROM b
UNION ALL
SELECT 5000::BIGINT,
       floor(quantile_cont(n_docs::DOUBLE, 0.50) * 10000.0 + 0.5)::BIGINT
  FROM b
UNION ALL
SELECT 7500::BIGINT,
       floor(quantile_cont(n_docs::DOUBLE, 0.75) * 10000.0 + 0.5)::BIGINT
  FROM b
ORDER BY pct_x1e4""",
        "suggest_completion_fuzzy_idx": f"""
WITH {TOK_EXPLODED_CTE},
cf AS (SELECT term, count(*)::BIGINT AS cf FROM tok GROUP BY term)
SELECT term, cf,
       levenshtein(substr(term, 1, 3), 'sow')::BIGINT AS distance
FROM cf WHERE levenshtein(substr(term, 1, 3), 'sow') <= 1
ORDER BY distance, cf DESC, term LIMIT 5""",
        "eql_sequence_events": """
WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
           WHERE event_type IN ('view', 'click', 'error')),
n AS (SELECT *,
        min(CASE WHEN event_type = 'click'
                 THEN {'ts': ts, 'tie': event_id} END) OVER w AS nxt1,
        min(CASE WHEN event_type = 'error'
                 THEN {'ts': ts, 'tie': event_id} END) OVER w AS nxt2
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
a AS (SELECT user_id, ts AS t1, event_id AS id1, nxt1 FROM n
      WHERE event_type = 'view'),
ab AS (SELECT a.user_id, a.t1, a.id1, b.ts AS t2, b.event_id AS id2, b.nxt2
       FROM a JOIN n b ON a.user_id = b.user_id AND b.event_type = 'click'
        AND a.nxt1 = {'ts': b.ts, 'tie': b.event_id}),
abc AS (SELECT ab.user_id, t1, id1, t2, id2, c.ts AS t3, c.event_id AS id3
        FROM ab JOIN n c ON ab.user_id = c.user_id AND c.event_type = 'error'
         AND ab.nxt2 = {'ts': c.ts, 'tie': c.event_id})
SELECT user_id, epoch_us(t1) AS t1_us, id1, epoch_us(t2) AS t2_us, id2,
       epoch_us(t3) AS t3_us, id3
FROM abc WHERE epoch_us(t3) - epoch_us(t1) <= 21600000000
ORDER BY user_id, t1_us""",
        "eql_sequence_until_events": """
WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
           WHERE event_type IN ('view', 'click', 'error', 'signup')),
n AS (SELECT *,
        min(CASE WHEN event_type = 'click'
                 THEN {'ts': ts, 'tie': event_id} END) OVER w AS nxt1,
        min(CASE WHEN event_type = 'error'
                 THEN {'ts': ts, 'tie': event_id} END) OVER w AS nxt2,
        min(CASE WHEN event_type = 'signup'
                 THEN {'ts': ts, 'tie': event_id} END) OVER w AS nxtu
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
a AS (SELECT user_id, ts AS t1, event_id AS id1, nxt1, nxtu FROM n
      WHERE event_type = 'view'),
ab AS (SELECT a.user_id, a.t1, a.id1, a.nxtu,
              b.ts AS t2, b.event_id AS id2, b.nxt2
       FROM a JOIN n b ON a.user_id = b.user_id AND b.event_type = 'click'
        AND a.nxt1 = {'ts': b.ts, 'tie': b.event_id}),
abc AS (SELECT ab.user_id, t1, id1, ab.nxtu AS nxtu, t2, id2,
               c.ts AS t3, c.event_id AS id3
        FROM ab JOIN n c ON ab.user_id = c.user_id AND c.event_type = 'error'
         AND ab.nxt2 = {'ts': c.ts, 'tie': c.event_id})
SELECT user_id, epoch_us(t1) AS t1_us, id1, epoch_us(t2) AS t2_us, id2,
       epoch_us(t3) AS t3_us, id3
FROM abc
WHERE epoch_us(t3) - epoch_us(t1) <= 21600000000
  AND (nxtu IS NULL OR nxtu > {'ts': t3, 'tie': id3})
ORDER BY user_id, t1_us""",
        "eql_sample_events": """
WITH e AS (SELECT user_id, {'ts': ts, 'tie': event_id} AS s, event_type
           FROM events WHERE event_type IN ('signup', 'purchase')),
g AS (SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN s END) AS s1,
             min(CASE WHEN event_type = 'purchase' THEN s END) AS s2
      FROM e GROUP BY user_id)
SELECT user_id, epoch_us(s1.ts) AS t1_us, s1.tie AS id1,
       epoch_us(s2.ts) AS t2_us, s2.tie AS id2
FROM g WHERE s1 IS NOT NULL AND s2 IS NOT NULL
ORDER BY user_id""",
        "eql_funnel_events": """
WITH e AS (SELECT user_id, ts, event_id, event_type,
                  {'ts': ts, 'tie': event_id} AS s FROM events
           WHERE event_type IN ('view', 'click', 'purchase')),
c1 AS (SELECT user_id, min(s) AS s1 FROM e
       WHERE event_type = 'view' GROUP BY user_id),
c2 AS (SELECT e.user_id, min(e.s) AS s2 FROM e
       JOIN c1 ON e.user_id = c1.user_id
       WHERE e.event_type = 'click' AND e.s > c1.s1 GROUP BY e.user_id),
c3 AS (SELECT e.user_id, min(e.s) AS s3 FROM e
       JOIN c2 ON e.user_id = c2.user_id
       WHERE e.event_type = 'purchase' AND e.s > c2.s2 GROUP BY e.user_id)
SELECT c1.user_id,
       epoch_us(s1.ts) AS t1_us, s1.tie AS id1,
       epoch_us(s2.ts) AS t2_us, s2.tie AS id2,
       epoch_us(s3.ts) AS t3_us, s3.tie AS id3,
       ((s1 IS NOT NULL)::BIGINT + (s2 IS NOT NULL)::BIGINT
        + (s3 IS NOT NULL)::BIGINT) AS steps_reached,
       (s3 IS NOT NULL
        AND epoch_us(s3.ts) - epoch_us(s1.ts) <= 86400000000)::BIGINT
         AS converted
FROM c1 LEFT JOIN c2 ON c1.user_id = c2.user_id
        LEFT JOIN c3 ON c1.user_id = c3.user_id
ORDER BY c1.user_id""",
        "transform_pivot_events": """
SELECT event_type AS etype,
       epoch_us(date_trunc('day', ts)) AS day_us,
       floor(avg(value) * 10000.0 + 0.5)::BIGINT AS avg_x1e4,
       floor(sum(value) * 10000.0 + 0.5)::BIGINT AS total_x1e4,
       count(value) AS n,
       count(DISTINCT user_id) AS users
FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
        "transform_latest_events": """
WITH r AS (SELECT user_id, ts, event_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
       floor(value * 10000.0 + 0.5)::BIGINT AS value_x1e4
FROM r WHERE rn = 1 ORDER BY user_id""",
        "moving_percentiles_events": """
WITH b AS (SELECT epoch(date_trunc('day', ts))::BIGINT AS bucket_ts,
                  count(*) AS n_docs FROM events GROUP BY 1)
SELECT bucket_ts, n_docs,
       floor(quantile_cont(n_docs::DOUBLE, 0.5)
               OVER (ORDER BY bucket_ts ROWS 2 PRECEDING)
             * 10000.0 + 0.5)::BIGINT AS mp_x1e4
FROM b ORDER BY bucket_ts""",
        "pinned_idx": PINNED_SQL,
        "match_bool_prefix_idx": MATCH_BOOL_PREFIX_SQL,
        "combined_fields_idx": COMBINED_FIELDS_SQL,
        "stats_agg_idx": f"""
WITH {TOK_CTE},
hits AS (SELECT doc_id, len(toks) AS dl FROM toks
         WHERE list_contains(toks, 'spark') OR list_contains(toks, 'window'))
SELECT count(*) AS n, min(dl) AS min_v, max(dl) AS max_v,
       sum(dl)::BIGINT AS sum_v,
       floor(sum(dl)::DOUBLE / count(*) * 10000.0 + 0.5)::BIGINT AS avg_x1e4
FROM hits""",
        "histogram_agg_idx": f"""
WITH {TOK_CTE}
SELECT (floor(len(toks) / 20.0) * 20)::BIGINT AS bucket,
       count(*) AS n_docs
FROM toks WHERE list_contains(toks, 'spark')
GROUP BY 1 ORDER BY 1""",
        "highlight_frags_idx": HIGHLIGHT_FRAGS_SQL,
        "highlight_idx": f"""
WITH {TOK_CTE},
firstp AS (SELECT doc_id, toks,
                  list_min(list_filter(generate_series(1, len(toks)),
                           i -> toks[i] IN ('window', 'dup'))) AS p1
           FROM toks)
SELECT doc_id, (p1 - 1)::BIGINT AS first_pos,
       array_to_string(list_slice(toks, greatest(1, p1 - 3),
                                  least(len(toks), p1 + 3)), ' ') AS snippet
FROM firstp WHERE p1 IS NOT NULL ORDER BY doc_id""",
        "fuzzy_match_idx": f"""
WITH {TOK_EXPLODED_CTE},
dict AS (SELECT DISTINCT term FROM tok),
fz AS (SELECT term FROM dict
       WHERE abs(length(term) - 6) <= 1 AND levenshtein(term, 'windoe') <= 1
       ORDER BY levenshtein(term, 'windoe'), term LIMIT 1000)
SELECT DISTINCT doc_id FROM tok WHERE term IN (SELECT term FROM fz)
ORDER BY doc_id""",
        "function_score_idx": f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('query', 'spark') GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id)
SELECT s.doc_id,
       floor(s.s * ln(1.0 + d.n_chars::DOUBLE * 1.0) * 10000.0 + 0.5)::BIGINT
         AS score_x1e4
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
ORDER BY score_x1e4 DESC, s.doc_id LIMIT 10""",
        "decay_score_idx": f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('query', 'spark') GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id),
w AS (SELECT doc_id,
             exp(ln(0.5)
                 * (greatest(0.0, abs(n_chars::DOUBLE - 300.0) - 0.0) / 150.0)
                 * (greatest(0.0, abs(n_chars::DOUBLE - 300.0) - 0.0) / 150.0))
               AS w
      FROM documents)
SELECT s.doc_id, floor(s.s * w.w * 10000.0 + 0.5)::BIGINT AS score_x1e4
FROM scored s JOIN w ON w.doc_id = s.doc_id
ORDER BY score_x1e4 DESC, s.doc_id LIMIT 10""",
        "dis_max_idx": f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('dup', 'merge', 'query', 'spark', 'table')
       GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
part AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
         * tf.tf * ({BM25_K1} + 1.0)
         / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                 + {BM25_B} * dl.dl / stats.avgdl)) AS p
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats),
s1 AS (SELECT doc_id, sum(p) AS s FROM part
       WHERE term IN ('query', 'spark') GROUP BY doc_id),
s2 AS (SELECT doc_id, sum(p) AS s FROM part
       WHERE term IN ('dup', 'merge', 'table') GROUP BY doc_id),
u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
SELECT doc_id,
       floor((max(s) + 0.3 * (sum(s) - max(s))) * 10000.0 + 0.5)::BIGINT
         AS score_x1e4
FROM u GROUP BY doc_id
ORDER BY score_x1e4 DESC, doc_id LIMIT 10""",
        "multi_match_idx": f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('spark', 'src3') GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
s_text AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id),
stoks AS (SELECT doc_id,
                 list_filter(string_split_regex(lower(source), '\\s+'),
                             x -> x <> '') AS toks FROM documents),
stok AS (SELECT doc_id, unnest(toks) AS term FROM stoks),
sdl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM stok GROUP BY doc_id),
sstats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM sdl),
stf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM stok
        WHERE term IN ('spark', 'src3') GROUP BY doc_id, term),
sdf AS (SELECT term, count(*)::DOUBLE AS df FROM stf GROUP BY term),
s_src AS (
  SELECT stf.doc_id,
         sum( ln(1.0 + (sstats.n_docs - sdf.df + 0.5) / (sdf.df + 0.5))
              * stf.tf * ({BM25_K1} + 1.0)
              / (stf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                       + {BM25_B} * sdl.dl / sstats.avgdl)) ) AS s
  FROM stf JOIN sdl USING (doc_id) JOIN sdf USING (term) CROSS JOIN sstats
  GROUP BY stf.doc_id),
u AS (SELECT * FROM s_text UNION ALL SELECT * FROM s_src)
SELECT doc_id,
       floor((max(s) + 0.2 * (sum(s) - max(s))) * 10000.0 + 0.5)::BIGINT
         AS score_x1e4
FROM u GROUP BY doc_id
ORDER BY score_x1e4 DESC, doc_id LIMIT 10""",
        "suggest_term_idx": f"""
WITH {TOK_EXPLODED_CTE},
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term)
SELECT term, levenshtein(term, 'dat') AS distance, df
FROM dict
WHERE abs(length(term) - 3) <= 2 AND levenshtein(term, 'dat') <= 2
ORDER BY distance, df DESC, term LIMIT 5""",
        "suggest_prefix_idx": f"""
WITH {TOK_EXPLODED_CTE},
dict AS (SELECT term, count(*) AS cf FROM tok GROUP BY term)
SELECT term, cf FROM dict WHERE term LIKE 's%'
ORDER BY cf DESC, term LIMIT 5""",
        "cardinality_idx": f"""
WITH {TOK_CTE},
hits AS (SELECT doc_id, source FROM toks
         WHERE list_contains(toks, 'spark') OR list_contains(toks, 'window'))
SELECT count(DISTINCT source) AS cardinality FROM hits""",
        "sig_terms_chi2_idx": SIG_CHI2_SQL,
        "terms_enum_idx": TERMS_ENUM_SQL,
        "significant_terms_idx": f"""
WITH {TOK_CTE},
tokd AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM toks),
hits AS (SELECT doc_id FROM toks
         WHERE list_contains(toks, 'window') OR list_contains(toks, 'dup')),
nfg AS (SELECT count(*)::DOUBLE AS n_fg FROM hits),
nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
fg AS (SELECT term, count(*)::DOUBLE AS df_fg FROM tokd
       WHERE doc_id IN (SELECT doc_id FROM hits) GROUP BY term),
bg AS (SELECT term, count(*)::DOUBLE AS df_bg FROM tokd GROUP BY term)
SELECT term, df_fg::BIGINT AS df_fg, df_bg::BIGINT AS df_bg,
  floor(((df_fg / n_fg) - (df_bg / n_docs))
        * ((df_fg / n_fg) / (df_bg / n_docs)) * 10000.0 + 0.5)::BIGINT
    AS jlh_x1e4
FROM fg JOIN bg USING (term) CROSS JOIN nfg CROSS JOIN nd
WHERE df_fg >= 3
ORDER BY ((df_fg / n_fg) - (df_bg / n_docs))
         * ((df_fg / n_fg) / (df_bg / n_docs)) DESC, term
LIMIT 10""",
        "graph_explore_vertices": f"""
WITH {TOK_CTE},
tokd AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM toks),
nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
bg AS (SELECT term, count(*)::DOUBLE AS df_bg FROM tokd GROUP BY term),
seed AS (SELECT DISTINCT doc_id FROM tokd WHERE term = 'spark'),
n0 AS (SELECT count(*)::DOUBLE AS n_fg FROM seed),
fg0 AS (SELECT term, count(*)::DOUBLE AS df_fg FROM tokd
        WHERE doc_id IN (SELECT doc_id FROM seed) GROUP BY term),
v0 AS (SELECT term, df_fg,
         ((df_fg / n_fg) - (df_bg / n_docs))
         * ((df_fg / n_fg) / (df_bg / n_docs)) AS w
       FROM fg0 JOIN bg USING (term) CROSS JOIN n0 CROSS JOIN nd
       WHERE df_fg >= 3 ORDER BY w DESC, term LIMIT 5),
hop1 AS (SELECT DISTINCT doc_id FROM tokd
         WHERE term IN (SELECT term FROM v0)),
n1 AS (SELECT count(*)::DOUBLE AS n_fg FROM hop1),
fg1 AS (SELECT term, count(*)::DOUBLE AS df_fg FROM tokd
        WHERE doc_id IN (SELECT doc_id FROM hop1) GROUP BY term),
v1 AS (SELECT term, df_fg,
         ((df_fg / n_fg) - (df_bg / n_docs))
         * ((df_fg / n_fg) / (df_bg / n_docs)) AS w
       FROM fg1 JOIN bg USING (term) CROSS JOIN n1 CROSS JOIN nd
       WHERE df_fg >= 3 AND term NOT IN (SELECT term FROM v0)
       ORDER BY w DESC, term LIMIT 5),
u AS (SELECT 'text' AS field, term, 0 AS depth,
             df_fg::BIGINT AS doc_count, w FROM v0
      UNION ALL
      SELECT 'text' AS field, term, 1 AS depth,
             df_fg::BIGINT AS doc_count, w FROM v1)
SELECT field, term, depth, doc_count,
       floor(w * 10000.0 + 0.5)::BIGINT AS weight_x1e4
FROM u ORDER BY depth, w DESC, term""",
        "graph_explore_edges": f"""
WITH {TOK_CTE},
tokd AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM toks),
nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
bg AS (SELECT term, count(*)::DOUBLE AS df_bg FROM tokd GROUP BY term),
seed AS (SELECT DISTINCT doc_id FROM tokd WHERE term = 'spark'),
n0 AS (SELECT count(*)::DOUBLE AS n_fg FROM seed),
fg0 AS (SELECT term, count(*)::DOUBLE AS df_fg FROM tokd
        WHERE doc_id IN (SELECT doc_id FROM seed) GROUP BY term),
v0 AS (SELECT term,
         ((df_fg / n_fg) - (df_bg / n_docs))
         * ((df_fg / n_fg) / (df_bg / n_docs)) AS w
       FROM fg0 JOIN bg USING (term) CROSS JOIN n0 CROSS JOIN nd
       WHERE df_fg >= 3 ORDER BY w DESC, term LIMIT 5),
hop1 AS (SELECT DISTINCT doc_id FROM tokd
         WHERE term IN (SELECT term FROM v0)),
n1 AS (SELECT count(*)::DOUBLE AS n_fg FROM hop1),
fg1 AS (SELECT term, count(*)::DOUBLE AS df_fg FROM tokd
        WHERE doc_id IN (SELECT doc_id FROM hop1) GROUP BY term),
v1 AS (SELECT term,
         ((df_fg / n_fg) - (df_bg / n_docs))
         * ((df_fg / n_fg) / (df_bg / n_docs)) AS w
       FROM fg1 JOIN bg USING (term) CROSS JOIN n1 CROSS JOIN nd
       WHERE df_fg >= 3 AND term NOT IN (SELECT term FROM v0)
       ORDER BY w DESC, term LIMIT 5)
SELECT s.term AS source, t.term AS target, count(*)::BIGINT AS doc_count
FROM (SELECT doc_id, term FROM tokd
      WHERE doc_id IN (SELECT doc_id FROM hop1)
        AND term IN (SELECT term FROM v0)) s
JOIN (SELECT doc_id, term FROM tokd
      WHERE doc_id IN (SELECT doc_id FROM hop1)
        AND term IN (SELECT term FROM v1)) t
  ON s.doc_id = t.doc_id
GROUP BY s.term, t.term ORDER BY source, target""",
        "significant_text_idx": f"""
WITH {TOK_CTE},
hits AS (SELECT doc_id, toks FROM toks
         WHERE list_contains(toks, 'window') OR list_contains(toks, 'dup')),
dedup AS (SELECT min(doc_id) AS doc_id, any_value(toks) AS toks
          FROM hits GROUP BY md5(array_to_string(toks, chr(31)))),
tokd AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM toks),
fgd AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM dedup),
nfg AS (SELECT count(*)::DOUBLE AS n_fg FROM dedup),
nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
fg AS (SELECT term, count(*)::DOUBLE AS df_fg FROM fgd GROUP BY term),
bg AS (SELECT term, count(*)::DOUBLE AS df_bg FROM tokd GROUP BY term)
SELECT term, df_fg::BIGINT AS df_fg, df_bg::BIGINT AS df_bg,
  floor(((df_fg / n_fg) - (df_bg / n_docs))
        * ((df_fg / n_fg) / (df_bg / n_docs)) * 10000.0 + 0.5)::BIGINT
    AS jlh_x1e4
FROM fg JOIN bg USING (term) CROSS JOIN nfg CROSS JOIN nd
WHERE df_fg >= 3
ORDER BY ((df_fg / n_fg) - (df_bg / n_docs))
         * ((df_fg / n_fg) / (df_bg / n_docs)) DESC, term
LIMIT 10""",
        "terms_subaggs_idx": f"""
WITH {TOK_CTE},
hits AS (SELECT * FROM toks
         WHERE list_contains(toks, 'spark') OR list_contains(toks, 'window'))
SELECT lang, count(*) AS n_docs,
       floor(avg(len(toks)) * 10000.0 + 0.5)::BIGINT AS avg_x1e4,
       max(len(toks))::BIGINT AS max_dl,
       count(DISTINCT source) AS n_sources
FROM hits GROUP BY lang ORDER BY n_docs DESC, lang LIMIT 10""",
        "date_histogram_fixed_events": """
SELECT (epoch(ts)::BIGINT // 43200) * 43200 AS bucket_ts,
       count(*) AS n_docs
FROM events GROUP BY 1 ORDER BY 1""",
        "scripted_metric_idx": f"""
WITH {TOK_CTE}
SELECT floor(sum(n_chars * CASE WHEN lang = 'en' THEN 2 ELSE 1 END)
             + 0.5)::BIGINT AS value
FROM toks WHERE list_contains(toks, 'spark')""",
        "nested_terms_agg_orders": """
SELECT o_orderstatus, count(*)::BIGINT AS n_nested,
       count(DISTINCT o_custkey)::BIGINT AS n_docs
FROM orders GROUP BY o_orderstatus
ORDER BY n_nested DESC, o_orderstatus""",
        "track_total_hits_idx": f"""
SELECT b.doc_id, b.score_x1e4, t.total_hits
FROM ({_bm25_oracle_sql(sorted(["spark", "query", "join"]), 5)}) b
CROSS JOIN (
  SELECT count(DISTINCT doc_id)::BIGINT AS total_hits FROM (
    WITH {TOK_EXPLODED_CTE}
    SELECT doc_id FROM tok
    WHERE term IN ('spark', 'query', 'join'))) t
ORDER BY b.score_x1e4 DESC, b.doc_id""",
        "more_like_this_text": MLT_TEXT_SQL,
        "span_containing_idx": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks
WHERE len(list_filter(generate_series(1, len(toks)), i ->
      toks[i] = 'spark' AND len(list_filter(
        generate_series(i + 1, least(i + 5, len(toks))),
        j -> toks[j] = 'join' AND len(list_filter(
          generate_series(i, j), p -> toks[p] = 'query')) > 0)) > 0)) > 0
ORDER BY doc_id""",
        "date_histogram_terms_events": """
WITH b AS (SELECT epoch(date_trunc('day', ts))::BIGINT AS bucket_ts,
                  event_type, count(*) AS n_docs
           FROM events GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY bucket_ts
                                   ORDER BY n_docs DESC, event_type) AS rn
      FROM b)
SELECT bucket_ts, event_type, n_docs FROM r WHERE rn <= 3
ORDER BY bucket_ts, n_docs DESC, event_type""",
        "shape_intersects": SHAPE_INTERSECTS_SQL,
        "shape_within": SHAPE_WITHIN_SQL,
        "mtermvectors_idx": f"""
WITH {TOK_CTE},
pos AS (SELECT doc_id, unnest(toks) AS term,
               generate_subscripts(toks, 1) - 1 AS p
        FROM toks),
dstats AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
           FROM pos GROUP BY term)
SELECT p.doc_id, p.term, count(*) AS tf,
       array_to_string(list_sort(list(p.p)), ',') AS positions,
       d.df, d.cf
FROM pos p JOIN dstats d USING (term)
WHERE p.doc_id IN (7, 42)
GROUP BY p.doc_id, p.term, d.df, d.cf
ORDER BY p.doc_id, p.term""",
        "terms_lookup_idx": f"""
WITH {TOK_CTE},
lookup AS (SELECT DISTINCT unnest(list_distinct(toks)) AS term FROM toks
           WHERE doc_id = 42),
tokd AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM toks)
SELECT DISTINCT doc_id FROM tokd JOIN lookup USING (term)
ORDER BY doc_id""",
        "curation_verdict": f"""
WITH {TOK_CTE},
base AS (
  SELECT doc_id, text,
    regexp_matches(text, '(?i)lorem ipsum') AS has_lorem,
    contains(text, '{{') AS has_brace,
    regexp_matches(text,
      '(?i)(cookie policy|privacy policy|terms of use|uses cookies)')
      AS has_policy,
    len(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''))::BIGINT
      AS n_words
  FROM documents),
ln AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents),
lstat AS (SELECT doc_id,
  CASE WHEN len(lines) > 0
       THEN len(list_filter(lines,
              l -> len(list_filter(lines, x -> x = l)) > 1))::DOUBLE
            / len(lines)
       ELSE 0.0 END AS dlf FROM ln),
tc AS (SELECT doc_id,
              coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
                AS tok_chars FROM toks),
g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-1),
         i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS gram
       FROM toks WHERE len(toks) >= 2),
c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
t2 AS (SELECT doc_id, max(c * (length(gram) - 1)) AS v FROM c2 GROUP BY doc_id),
pii AS (SELECT doc_id,
  len(regexp_extract_all(text, '{analysis.PII_PATTERNS["email"]}')) > 0
  OR len(regexp_extract_all(text, '{analysis.PII_PATTERNS["ipv4"]}')) > 0
  OR len(regexp_extract_all(text, '{analysis.PII_PATTERNS["phone"]}')) > 0
    AS has_pii
  FROM documents),
j AS (SELECT b.doc_id, b.has_lorem, b.has_brace, b.has_policy, b.n_words,
             floor(l.dlf * 10000.0 + 0.5)::BIGINT AS dup_x,
             floor(CASE WHEN tc.tok_chars > 0
                   THEN coalesce(t2.v, 0)::DOUBLE / tc.tok_chars
                   ELSE 0.0 END * 10000.0 + 0.5)::BIGINT AS top2_x,
             p.has_pii
      FROM base b JOIN lstat l USING (doc_id) JOIN tc USING (doc_id)
      LEFT JOIN t2 USING (doc_id) JOIN pii p USING (doc_id))
SELECT doc_id,
  coalesce(array_to_string(list_filter([
    CASE WHEN has_lorem THEN 'c4_lorem' END,
    CASE WHEN has_brace THEN 'c4_brace' END,
    CASE WHEN has_policy THEN 'c4_policy' END,
    CASE WHEN n_words < 5 THEN 'too_short' END,
    CASE WHEN dup_x > 3000 THEN 'dup_lines' END,
    CASE WHEN n_words >= 20 AND top2_x > 2000 THEN 'repetitive_2gram' END,
    CASE WHEN has_pii THEN 'pii' END], x -> x IS NOT NULL), ','), '')
    AS reasons,
  (NOT has_lorem AND NOT has_brace AND NOT has_policy AND n_words >= 5
   AND dup_x <= 3000 AND NOT (n_words >= 20 AND top2_x > 2000)
   AND NOT has_pii) AS keep
FROM j ORDER BY doc_id""",
        "span_near_idx": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks
WHERE len(list_filter(generate_series(1, len(toks)), i ->
      toks[i] = 'spark' AND len(list_filter(
        generate_series(i + 1, least(i + 5, len(toks))),
        j -> toks[j] = 'join')) > 0)) > 0
ORDER BY doc_id""",
        "span_near_unordered_idx": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks
WHERE len(list_filter(generate_series(1, len(toks)), i ->
      toks[i] = 'merge' AND len(list_filter(
        generate_series(greatest(i - 9, 1), least(i + 9, len(toks))),
        j -> toks[j] = 'window')) > 0)) > 0
ORDER BY doc_id""",
        "synonym_topk_idx": f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('spark', 'window', 'join') GROUP BY doc_id, term),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
gdf AS (SELECT g, max(df) AS df FROM (
          SELECT CASE WHEN term IN ('spark', 'window') THEN 0 ELSE 1 END AS g,
                 df FROM dfs) GROUP BY g),
gtf AS (SELECT doc_id,
               CASE WHEN term IN ('spark', 'window') THEN 0 ELSE 1 END AS g,
               sum(tf) AS tf
        FROM tf GROUP BY 1, 2),
scored AS (
  SELECT gtf.doc_id,
         sum( ln(1.0 + (stats.n_docs - gdf.df + 0.5) / (gdf.df + 0.5))
              * gtf.tf * ({BM25_K1} + 1.0)
              / (gtf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                       + {BM25_B} * dl.dl / stats.avgdl)) )
           AS score
  FROM gtf JOIN dl USING (doc_id) JOIN gdf USING (g) CROSS JOIN stats
  GROUP BY gtf.doc_id)
SELECT doc_id, floor(score * 10000.0 + 0.5)::BIGINT AS score_x1e4
FROM scored ORDER BY score_x1e4 DESC, doc_id LIMIT 10""",
        "span_first_idx": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks
WHERE len(list_filter(generate_series(1, least(10, len(toks))),
      i -> toks[i] = 'spark')) > 0
ORDER BY doc_id""",
        "span_not_idx": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks
WHERE len(list_filter(generate_series(1, len(toks)), i ->
      toks[i] = 'query' AND len(list_filter(
        generate_series(greatest(i - 1, 1), least(i + 1, len(toks))),
        j -> toks[j] = 'spark')) = 0)) > 0
ORDER BY doc_id""",
        "span_or_near_idx": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks
WHERE len(list_filter(generate_series(1, len(toks)), i ->
      (toks[i] = 'spark' OR toks[i] = 'merge') AND len(list_filter(
        generate_series(i + 1, least(i + 5, len(toks))),
        j -> toks[j] = 'join')) > 0)) > 0
ORDER BY doc_id""",
        "span_multi_near_idx": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks
WHERE len(list_filter(generate_series(1, len(toks)), i ->
      starts_with(toks[i], 's') AND len(list_filter(
        generate_series(i + 1, least(i + 4, len(toks))),
        j -> toks[j] = 'join')) > 0)) > 0
ORDER BY doc_id""",
        "phrase_prefix_idx": f"""
WITH {TOK_CTE}
SELECT doc_id FROM toks
WHERE len(toks) >= 2 AND len(list_filter(generate_series(1, len(toks) - 1),
      i -> toks[i] = 'query' AND starts_with(toks[i + 1], 'jo'))) > 0
ORDER BY doc_id""",
        "rescore_idx": f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
ptf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
        WHERE term IN ('join', 'query', 'spark') GROUP BY doc_id, term),
pdf AS (SELECT term, count(*)::DOUBLE AS df FROM ptf GROUP BY term),
pscored AS (
  SELECT ptf.doc_id,
         sum( ln(1.0 + (stats.n_docs - pdf.df + 0.5) / (pdf.df + 0.5))
              * ptf.tf * ({BM25_K1} + 1.0)
              / (ptf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                       + {BM25_B} * dl.dl / stats.avgdl)) ) AS p
  FROM ptf JOIN dl USING (doc_id) JOIN pdf USING (term) CROSS JOIN stats
  GROUP BY ptf.doc_id),
win AS (SELECT doc_id, p FROM pscored ORDER BY p DESC, doc_id LIMIT 30),
rtf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
        WHERE term IN ('dup', 'merge') GROUP BY doc_id, term),
rdf AS (SELECT term, count(*)::DOUBLE AS df FROM rtf GROUP BY term),
rscored AS (
  SELECT rtf.doc_id,
         sum( ln(1.0 + (stats.n_docs - rdf.df + 0.5) / (rdf.df + 0.5))
              * rtf.tf * ({BM25_K1} + 1.0)
              / (rtf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                       + {BM25_B} * dl.dl / stats.avgdl)) ) AS r
  FROM rtf JOIN dl USING (doc_id) JOIN rdf USING (term) CROSS JOIN stats
  GROUP BY rtf.doc_id),
comb AS (SELECT win.doc_id, 1.0 * win.p + 0.5 * coalesce(rscored.r, 0.0) AS s
         FROM win LEFT JOIN rscored USING (doc_id))
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4 FROM comb
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT 10""",
        "top_hits_idx": f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('spark', 'window') GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id),
ranked AS (
  SELECT d.lang, s.doc_id, floor(s.s * 10000.0 + 0.5)::BIGINT AS score_x1e4,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY floor(s.s * 10000.0 + 0.5) DESC,
                                     s.doc_id) AS rank
  FROM scored s JOIN documents d USING (doc_id))
SELECT lang, rank, doc_id, score_x1e4 FROM ranked WHERE rank <= 3
ORDER BY lang, rank""",
        "boosting_idx": f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('query', 'spark') GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id),
neg AS (SELECT doc_id FROM toks WHERE list_contains(toks, 'dup')),
boosted AS (
  SELECT s.doc_id,
         CASE WHEN n.doc_id IS NOT NULL THEN s.s * 0.3 ELSE s.s END AS s
  FROM scored s LEFT JOIN neg n USING (doc_id))
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4 FROM boosted
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT 10""",
        "collapse_idx": f"""
WITH {TOK_EXPLODED_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ('spark', 'window') GROUP BY doc_id, term),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id),
best AS (
  SELECT d.source, s.doc_id, s.s,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY s.s DESC, s.doc_id) AS rn
  FROM scored s JOIN documents d USING (doc_id))
SELECT source, doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4
FROM best WHERE rn = 1
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT 10""",
        "percentiles_idx": f"""
WITH {TOK_CTE},
hits AS (SELECT len(toks) AS dl FROM toks WHERE list_contains(toks, 'spark'))
SELECT pct, value FROM (
  SELECT 0.25::DOUBLE AS pct, quantile_cont(dl, 0.25) AS value FROM hits
  UNION ALL SELECT 0.5::DOUBLE, quantile_cont(dl, 0.5) FROM hits
  UNION ALL SELECT 0.75::DOUBLE, quantile_cont(dl, 0.75) FROM hits)
ORDER BY pct""",
        "facet_counts_idx": f"""
WITH {TOK_CTE}
SELECT lang, count(*) AS n_docs FROM toks
WHERE list_contains(toks, 'spark') OR list_contains(toks, 'window')
GROUP BY lang""",
        "count_by_lang": "SELECT lang, count(*) AS n FROM documents GROUP BY lang",
        "exact_filter": ("SELECT doc_id, source, n_chars FROM documents "
                         "WHERE lang = 'fr'"),
        "top_docs_by_len": ("SELECT doc_id, n_chars FROM documents "
                            "ORDER BY n_chars DESC, doc_id LIMIT 20"),
        "mget_order_preserving": f"""
SELECT req.pos, d.doc_id, d.lang
FROM (VALUES {", ".join(f"({i}, {d})" for i, d in enumerate(MGET_IDS))})
     AS req(pos, id)
JOIN documents d ON d.doc_id = req.id ORDER BY req.pos""",
        "token_count": f"WITH {TOK_CTE} SELECT doc_id, len(toks) AS n_tokens FROM toks",
        "token_count_bpe": (
            "SELECT doc_id, len(regexp_extract_all(text, "
            "' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))::BIGINT "
            "AS n_bpe_tokens FROM documents"),
        "quality_score": f"""
WITH {TOK_CTE},
feat AS (
  SELECT doc_id, len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0 THEN
           len(list_filter(toks, x -> x IN ({_STOP_EN})))::DOUBLE / len(toks)
         ELSE 0.0 END AS stop_ratio,
         CASE WHEN len(toks) > 0 THEN
           list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
         ELSE 0.0 END AS mean_tok_len
  FROM toks)
SELECT doc_id, n_tokens,
       floor(stop_ratio * 10000.0 + 0.5)::BIGINT AS stop_ratio_x1e4,
       floor(mean_tok_len * 10000.0 + 0.5)::BIGINT AS mean_tok_len_x1e4,
       floor((least(1.0, n_tokens / 64.0) * 0.5
              + least(1.0, stop_ratio * 4.0) * 0.3
              + least(1.0, mean_tok_len / 8.0) * 0.2) * 10000.0 + 0.5)::BIGINT
         AS quality_x1e4
FROM feat""",
        "lang_id": f"""
WITH {TOK_CTE},
h AS (SELECT doc_id, {_HITS} FROM toks),
g AS (SELECT *, greatest(hits_en, hits_es, hits_fr, hits_de) AS best FROM h)
SELECT doc_id, CASE WHEN best = 0 THEN 'und'
  WHEN hits_de = best THEN 'de' WHEN hits_en = best THEN 'en'
  WHEN hits_es = best THEN 'es' ELSE 'fr' END AS pred_lang FROM g""",
        "repetition_stats": f"""
WITH {TOK_CTE},
ln AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents),
lstat AS (SELECT doc_id,
  CASE WHEN len(lines) > 0
       THEN len(list_filter(lines,
              l -> len(list_filter(lines, x -> x = l)) > 1))::DOUBLE
            / len(lines)
       ELSE 0.0 END AS dlf,
  CASE WHEN coalesce(list_sum(list_transform(lines, l -> length(l))), 0) > 0
       THEN coalesce(list_sum(list_transform(
              list_filter(lines, l -> len(list_filter(lines, x -> x = l)) > 1),
              l -> length(l))), 0)::DOUBLE
            / list_sum(list_transform(lines, l -> length(l)))
       ELSE 0.0 END AS dlcf
  FROM ln),
tc AS (SELECT doc_id,
              coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
                AS tok_chars FROM toks),
g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-1),
         i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS gram
       FROM toks WHERE len(toks) >= 2),
c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
t2 AS (SELECT doc_id, max(c * (length(gram) - 1)) AS v FROM c2 GROUP BY doc_id),
g3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-2),
         i -> array_to_string(list_slice(toks, i, i+2), ' '))) AS gram
       FROM toks WHERE len(toks) >= 3),
c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
t3 AS (SELECT doc_id, max(c * (length(gram) - 2)) AS v FROM c3 GROUP BY doc_id),
g5 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-4),
         i -> array_to_string(list_slice(toks, i, i+4), ' '))) AS gram
       FROM toks WHERE len(toks) >= 5),
c5 AS (SELECT doc_id, gram, count(*) AS c FROM g5 GROUP BY 1, 2),
d5 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c * (length(gram) - 4)
                               ELSE 0 END) AS v FROM c5 GROUP BY doc_id)
SELECT tc.doc_id,
  floor(lstat.dlf * 10000.0 + 0.5)::BIGINT AS dup_line_frac_x1e4,
  floor(lstat.dlcf * 10000.0 + 0.5)::BIGINT AS dup_line_char_frac_x1e4,
  floor(CASE WHEN tok_chars > 0 THEN coalesce(t2.v, 0)::DOUBLE / tok_chars
        ELSE 0.0 END * 10000.0 + 0.5)::BIGINT AS top2_char_frac_x1e4,
  floor(CASE WHEN tok_chars > 0 THEN coalesce(t3.v, 0)::DOUBLE / tok_chars
        ELSE 0.0 END * 10000.0 + 0.5)::BIGINT AS top3_char_frac_x1e4,
  floor(CASE WHEN tok_chars > 0 THEN coalesce(d5.v, 0)::DOUBLE / tok_chars
        ELSE 0.0 END * 10000.0 + 0.5)::BIGINT AS dup5_char_frac_x1e4
FROM tc JOIN lstat USING (doc_id)
LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
LEFT JOIN d5 USING (doc_id)""",
        "pii_stats": f"""
SELECT doc_id,
  len(regexp_extract_all(text, '{analysis.PII_PATTERNS["email"]}'))::BIGINT
    AS n_email,
  len(regexp_extract_all(text, '{analysis.PII_PATTERNS["ipv4"]}'))::BIGINT
    AS n_ipv4,
  len(regexp_extract_all(text, '{analysis.PII_PATTERNS["phone"]}'))::BIGINT
    AS n_phone,
  len(regexp_extract_all(text, '{analysis.PII_PATTERNS["email"]}')) > 0
  OR len(regexp_extract_all(text, '{analysis.PII_PATTERNS["ipv4"]}')) > 0
  OR len(regexp_extract_all(text, '{analysis.PII_PATTERNS["phone"]}')) > 0
    AS has_pii
FROM documents""",
        "fingerprint": (f"WITH {TOK_CTE} SELECT doc_id, "
                        "md5(array_to_string(toks, ' ')) AS fp FROM toks"),
        "shingle_fingerprint": f"""
WITH {TOK_CTE}
SELECT doc_id, CASE WHEN len(toks) >= 5 THEN
  list_min(list_transform(generate_series(1, len(toks)-4),
           i -> md5(array_to_string(list_slice(toks, i, i+4), ' '))))
  ELSE md5(array_to_string(toks, ' ')) END AS shingle_fp FROM toks""",
        "exact_dup_groups": f"""
WITH {TOK_CTE}
SELECT md5(array_to_string(toks, ' ')) AS fp, count(*) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM toks GROUP BY 1 HAVING count(*) > 1""",
        "common_terms_idx": COMMON_TERMS_SQL,
        "sparse_vector_topk": SPARSE_VECTOR_SQL,
        "hybrid_rrf": HYBRID_RRF_SQL,
        "hybrid_linear": HYBRID_LINEAR_SQL,
        "duplicate_spans": DUP_SPANS_SQL,
        "ngram_jaccard_pairs": _NGRAM_JACCARD_SQL,
        # the prefix-filtered plan is an exact optimization: same oracle
        "ngram_jaccard_prefix": _NGRAM_JACCARD_SQL,
        "minhash_signatures": f"""
WITH {TOK_CTE}, {_SHINGLE3}
SELECT doc_id, {_MINHASH_SIGS} FROM gr""",
        "minhash_lsh_pairs": f"""
WITH {TOK_CTE}, {_SHINGLE3},
sig AS (SELECT doc_id, {_MINHASH_SIGS} FROM gr),
stacked AS (
  SELECT doc_id, 0 AS band_no,
         md5(sig0::VARCHAR || '|' || sig1::VARCHAR) AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_no,
         md5(sig2::VARCHAR || '|' || sig3::VARCHAR) AS band_key FROM sig)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands_matched
FROM stacked a JOIN stacked b
  ON a.band_no = b.band_no AND a.band_key = b.band_key AND a.doc_id < b.doc_id
GROUP BY 1, 2""",
        "dup_clusters_keep_best": _dup_keep_best_sql(),
        "dup_clusters": f"""
WITH RECURSIVE {TOK_CTE}, {_SHINGLE3},
sig AS (SELECT doc_id, {_MINHASH_SIGS} FROM gr),
stacked AS (
  SELECT doc_id, 0 AS band_no,
         md5(sig0::VARCHAR || '|' || sig1::VARCHAR) AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_no,
         md5(sig2::VARCHAR || '|' || sig3::VARCHAR) AS band_key FROM sig),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM stacked a JOIN stacked b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(node, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node),
cc AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(cc.cluster_id, d.doc_id) AS is_keep
FROM documents d LEFT JOIN cc USING (doc_id)""",
        "contamination": f"""
WITH {TOK_CTE},
sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 5 THEN
         list_distinct(list_transform(generate_series(1, len(toks)-4),
           i -> array_to_string(list_slice(toks, i, i+4), ' ')))
       ELSE [] END) AS shingle FROM toks),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0),
tr AS (SELECT * FROM sh WHERE doc_id % 17 <> 0),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
hits AS (SELECT doc_id, count(*) AS n_hit FROM tr
         WHERE shingle IN (SELECT shingle FROM ev) GROUP BY doc_id)
SELECT s.doc_id, s.n_shingles, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       floor(coalesce(h.n_hit, 0)::DOUBLE / s.n_shingles * 10000.0 + 0.5)::BIGINT
         AS overlap_x1e4,
       coalesce(h.n_hit, 0)::DOUBLE / s.n_shingles >= 0.5 AS contaminated
FROM sizes s LEFT JOIN hits h USING (doc_id)""",
        "dsir_weights": DSIR_WEIGHTS_SQL,
        "dsir_sample": DSIR_SAMPLE_SQL,
        "simhash": _SIMHASH_CTE + "SELECT doc_id, simhash FROM fp",
        "simhash_neardup": _SIMHASH_CTE + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 7""",
        "knn_filtered": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
s AS (SELECT vec_id,
             list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))) AS c
      FROM embeddings CROSS JOIN q WHERE label = 1)
SELECT vec_id, floor(c * 10000.0 + 0.5)::BIGINT AS cos_x1e4 FROM s
ORDER BY floor(c * 10000.0 + 0.5) DESC, vec_id LIMIT 10""",
        "hard_negatives": """
WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[],
                                        embedding::DOUBLE[])) AS nrm
           FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM b
      WHERE vec_id IN (1, 2)),
pos(query_id, vec_id) AS (VALUES (1, 4), (2, 6)),
s AS (SELECT q.query_id, b.vec_id,
             list_dot_product(b.v, q.qv) / (b.nrm * q.qn) AS c
      FROM b CROSS JOIN q
      WHERE b.vec_id <> q.query_id
        AND NOT EXISTS (SELECT 1 FROM pos p
                        WHERE p.query_id = q.query_id
                          AND p.vec_id = b.vec_id)),
r AS (SELECT query_id, vec_id, c,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY c DESC, vec_id) AS rn
      FROM s)
SELECT query_id, vec_id, floor(c * 10000.0 + 0.5)::BIGINT AS cos_x1e4
FROM r WHERE rn <= 10 ORDER BY query_id, c DESC, vec_id""",
        "cosine_topk": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
s AS (SELECT vec_id,
             list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))) AS c
      FROM embeddings CROSS JOIN q)
SELECT vec_id, floor(c * 10000.0 + 0.5)::BIGINT AS cos_x1e4 FROM s
ORDER BY floor(c * 10000.0 + 0.5) DESC, vec_id LIMIT 10""",
        "semantic_dedup": SEMANTIC_DEDUP_SQL,
        "embedding_neardup": """
WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings)
SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       floor(list_dot_product(a.v, c.v) / (a.nrm * c.nrm) * 10000.0 + 0.5)::BIGINT
         AS cos_x1e4
FROM b a JOIN b c ON a.vec_id < c.vec_id
WHERE list_dot_product(a.v, c.v) / (a.nrm * c.nrm) >= 0.35""",
        "revenue_per_order": """
SELECT o_orderkey,
       sum(floor(l_extendedprice * 100 + 0.5)::BIGINT
           * (100 - floor(l_discount * 100 + 0.5)::BIGINT))::BIGINT AS revenue_x10k,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderkey""",
        "customers_by_region": """
SELECT r_name, count(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name""",
        "chunk_documents": f"""
WITH {TOK_CTE},
st AS (SELECT doc_id, toks,
              unnest(generate_series(1, greatest(len(toks) - 8, 1), 56)) AS s
       FROM toks WHERE len(toks) > 0)
SELECT doc_id, ((s - 1) // 56)::BIGINT AS chunk_id,
       len(list_slice(toks, s, s + 63))::BIGINT AS n_tokens,
       array_to_string(list_slice(toks, s, s + 63), ' ') AS chunk_text
FROM st ORDER BY doc_id, chunk_id""",
        "bigram_logprob": BIGRAM_LOGPROB_SQL,
        "unigram_logprob": f"""
WITH {TOK_EXPLODED_CTE},
vocab AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
tot AS (SELECT sum(cnt)::DOUBLE AS n, count(*)::DOUBLE AS v FROM vocab),
sc AS (SELECT t.doc_id,
              -log2((vocab.cnt + 1.0) / (tot.n + tot.v)) AS nll
       FROM tok t JOIN vocab USING (term) CROSS JOIN tot)
SELECT doc_id, count(*) AS n_tokens,
       floor(avg(nll) * 10000.0 + 0.5)::BIGINT AS nll_x1e4
FROM sc GROUP BY doc_id ORDER BY doc_id""",
        "geohash_grid": _geohash_oracle_sql(3),
        "geotile_grid": """
WITH pts AS (
  SELECT doc_id,
         greatest(-85.05112878, least(85.05112878,
           ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005)) AS lat,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005 AS lon
  FROM documents),
tiles AS (
  SELECT doc_id,
         least(greatest(floor((lon + 180.0) / 360.0 * 16.0), 0), 15)::BIGINT
           AS x,
         least(greatest(
           floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat)))
                  / pi()) / 2.0 * 16.0), 0), 15)::BIGINT AS y
  FROM pts)
SELECT '4/' || x || '/' || y AS tile, count(*) AS n_docs
FROM tiles GROUP BY 1 ORDER BY n_docs DESC, tile""",
        "geo_distance_agg": GEO_DISTANCE_AGG_SQL,
        "geo_line": GEO_LINE_SQL,
        "geo_distance_filter": """
WITH pts AS (
  SELECT doc_id,
         ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005 AS lat,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005 AS lon
  FROM documents)
SELECT doc_id FROM pts
WHERE 2.0 * 6371.0087714 * asin(sqrt(
        pow(sin(radians(48.8566 - lat) / 2), 2)
        + cos(radians(lat)) * cos(radians(48.8566))
          * pow(sin(radians(2.3522 - lon) / 2), 2))) <= 2000.0
ORDER BY doc_id""",
        "geo_bbox_filter": """
WITH pts AS (
  SELECT doc_id,
         ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005 AS lat,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005 AS lon
  FROM documents)
SELECT doc_id FROM pts
WHERE lat BETWEEN 30.0 AND 60.0 AND lon BETWEEN -10.0 AND 40.0
ORDER BY doc_id""",
        "percolate": f"""
WITH {TOK_CTE}
SELECT doc_id, query_id FROM (
  SELECT doc_id, 'q_dup' AS query_id FROM toks
  WHERE list_has_all(toks, ['dup'])
  UNION ALL
  SELECT doc_id, 'q_spark' FROM toks
  WHERE list_has_all(toks, ['query', 'spark'])
  UNION ALL
  SELECT doc_id, 'q_window_merge' FROM toks
  WHERE list_has_all(toks, ['merge', 'window']))
ORDER BY doc_id, query_id""",
        "pack_sequences": f"""
WITH {TOK_CTE},
seq AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
               coalesce(sum(len(toks)) OVER (
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0)::BIGINT AS "offset"
        FROM toks)
SELECT doc_id, n_tokens, ("offset" // 256)::BIGINT AS bin_id, "offset"
FROM seq ORDER BY doc_id""",
        "mixture_sample": """
WITH keyed AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 2, 15))::UBIGINT
           % 1000000 AS k
  FROM documents)
SELECT doc_id, lang FROM keyed
WHERE k < (CASE lang WHEN 'en' THEN 800000 WHEN 'es' THEN 500000
                     WHEN 'fr' THEN 250000 ELSE 100000 END)
ORDER BY doc_id""",
        "train_eval_split": """
WITH keyed AS (
  SELECT lang,
         ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 2, 15))::UBIGINT
           % 1000000 AS k
  FROM documents)
SELECT CASE WHEN k < 100000 THEN 'eval' ELSE 'train' END AS split,
       lang, count(*) AS n
FROM keyed GROUP BY 1, 2 ORDER BY split, lang""",
        "tpch_q1": """
SELECT l_returnflag, l_linestatus,
       sum(floor(l_quantity * 100 + 0.5)::BIGINT)::BIGINT AS sum_qty_x100,
       sum(floor(l_extendedprice * 100 + 0.5)::BIGINT)::BIGINT AS sum_base_cents,
       sum(floor(l_extendedprice * 100 + 0.5)::BIGINT
           * (100 - floor(l_discount * 100 + 0.5)::BIGINT))::BIGINT AS sum_disc_x10k,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
        "top_customers": """
SELECT c_custkey, sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS total_cents,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey ORDER BY total_cents DESC, c_custkey LIMIT 10""",
        "pipeline_aggs_events": PIPELINE_AGGS_SQL,
        "moving_fn_events": MOVING_FN_SQL,
        "ip_range_events": IP_RANGE_SQL,
        "ip_prefix_events": IP_PREFIX_SQL,
        "pipeline2_events": PIPELINE2_SQL,
        "auto_date_histogram_events": AUTO_DH_SQL,
        "percentile_ranks_idx": PERCENTILE_RANKS_SQL,
        "adjacency_matrix_idx": ADJACENCY_MATRIX_SQL,
        "geo_bounds": GEO_BOUNDS_SQL,
        "weighted_avg_idx": WEIGHTED_AVG_SQL,
        "string_stats_idx": STRING_STATS_SQL,
        "has_child": HAS_CHILD_SQL,
        "has_parent": HAS_PARENT_SQL,
        "children_agg": CHILDREN_AGG_SQL,
        "parent_id": PARENT_ID_SQL,
        "composite_agg_events": COMPOSITE_AGG_SQL,
        "date_histogram_events": """
SELECT epoch(date_trunc('day', ts))::BIGINT AS bucket_ts, count(*) AS n_docs
FROM events GROUP BY 1 ORDER BY 1""",
        "events_windowed": """
SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start, event_type,
       count(*) AS n, sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS value_cents
FROM events GROUP BY 1, 2""",
        "sessionization": """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL
         THEN 1 ELSE 0 END AS new_sess
  FROM events)
SELECT user_id, sum(new_sess)::BIGINT AS n_sessions, count(*) AS n_events
FROM g GROUP BY user_id""",
        "type_dispatch_counts": """
SELECT CASE WHEN event_type IN ('click','view','purchase') THEN event_type
            ELSE 'quarantined' END AS kind, count(*) AS n
FROM events GROUP BY 1""",
        "rank_eval_idx": _rank_eval_oracle_sql(10),
        "url_dup_groups": r"""
WITH raw AS (
  SELECT doc_id,
         'HTTPS://WWW.' || source || '.example.com/p' || (doc_id % 7)
         || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&q=' || (doc_id % 11)
                 WHEN doc_id % 3 = 1 THEN '?q=' || (doc_id % 11) || '&fbclid=zz'
                 ELSE '' END
         || CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents),
u1 AS (SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(lower(url),
           '#.*$', ''), '^[a-z][a-z0-9+.-]*://', ''), '^www\.', '') AS u
       FROM raw),
parts AS (SELECT doc_id,
   regexp_replace(CASE WHEN strpos(u, '?') > 0
                       THEN substr(u, 1, strpos(u, '?') - 1) ELSE u END,
                  '/$', '') AS base,
   CASE WHEN strpos(u, '?') > 0 THEN substr(u, strpos(u, '?') + 1)
        ELSE '' END AS qs
  FROM u1),
kept AS (SELECT doc_id, base,
   list_filter(string_split(qs, '&'), p -> p <> '' AND NOT
     regexp_matches(p,
       '^(utm_[a-z]+|fbclid|gclid|msclkid|mc_cid|mc_eid|ref)=')) AS ps
  FROM parts),
norm AS (SELECT doc_id,
   CASE WHEN len(ps) > 0 THEN base || '?' || array_to_string(ps, '&')
        ELSE base END AS norm_url
  FROM kept)
SELECT norm_url, count(*) AS n_docs, min(doc_id) AS keep_id,
       array_to_string(list_sort(list(doc_id)), ',') AS ids_csv
FROM norm GROUP BY norm_url HAVING count(*) >= 2 ORDER BY norm_url""",
        "ccnet_buckets": f"""
WITH {TOK_EXPLODED_CTE},
vocab AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
tot AS (SELECT sum(cnt)::DOUBLE AS n, count(*)::DOUBLE AS v FROM vocab),
sc AS (SELECT t.doc_id,
              -log2((vocab.cnt + 1.0) / (tot.n + tot.v)) AS nll
       FROM tok t JOIN vocab USING (term) CROSS JOIN tot),
per AS (SELECT doc_id, count(*) AS n_tokens,
               floor(avg(nll) * 10000.0 + 0.5)::BIGINT AS nll_x1e4
        FROM sc GROUP BY doc_id)
SELECT doc_id, n_tokens, nll_x1e4,
       ntile(3) OVER (ORDER BY nll_x1e4, doc_id) AS bucket
FROM per ORDER BY doc_id""",
        "quality_classifier": QUALITY_CLASSIFIER_SQL,
        "c4_quality_flags": r"""
WITH base AS (
  SELECT doc_id, text,
    regexp_matches(text, '(?i)lorem ipsum') AS has_lorem,
    contains(text, '{') AS has_brace,
    regexp_matches(text,
      '(?i)(cookie policy|privacy policy|terms of use|uses cookies)')
      AS has_policy,
    len(list_filter(string_split_regex(text, '\s+'), w -> w <> ''))::BIGINT
      AS n_words,
    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
  FROM documents)
SELECT doc_id, has_lorem, has_brace, has_policy, n_words,
  CASE WHEN len(lines) > 0 THEN
    floor(len(list_filter(lines, l -> regexp_matches(trim(l), '[.!?"]$')))
          ::DOUBLE / len(lines) * 10000.0 + 0.5)::BIGINT
  ELSE 0 END AS terminal_ratio_x1e4,
  (NOT has_lorem AND NOT has_brace AND NOT has_policy AND n_words >= 5)
    AS keep
FROM base ORDER BY doc_id""",
        "ann_sq_rescored": ANN_SQ_RESCORED_SQL,
        "tsr_retriever": _tsr_oracle_sql(),
        "quantized_cosine_topk": """
WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (SELECT vec_id, v,
              list_max(list_transform(v, x -> abs(x))) AS amax FROM b),
qv AS (SELECT vec_id,
         list_transform(v, x -> round(
           x / (CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END))
           ::BIGINT) AS q
       FROM sc),
qq AS (SELECT q AS quq FROM qv WHERE vec_id = 0),
s AS (SELECT vec_id,
        list_dot_product(q, quq)::DOUBLE
        / (sqrt(list_dot_product(q, q)::DOUBLE)
           * sqrt(list_dot_product(quq, quq)::DOUBLE)) AS c
      FROM qv CROSS JOIN qq WHERE list_dot_product(q, q) > 0)
SELECT vec_id, floor(c * 10000.0 + 0.5)::BIGINT AS cos_x1e4 FROM s
ORDER BY floor(c * 10000.0 + 0.5) DESC, vec_id LIMIT 10""",
        "nested_query_events": """
SELECT user_id, count(*) AS n_hits,
       sum(round(value * 100))::BIGINT AS sum_cents
FROM events WHERE event_type = 'purchase' AND value > 150
GROUP BY user_id ORDER BY user_id""",
        "rare_terms_idx": f"""
WITH {TOK_CTE},
hits AS (SELECT doc_id, n_chars FROM toks
         WHERE list_contains(toks, 'spark') OR list_contains(toks, 'window'))
SELECT n_chars, count(*) AS n_docs FROM hits GROUP BY n_chars
HAVING count(*) <= 2 ORDER BY n_docs, n_chars""",
        "multi_terms_idx": f"""
WITH {TOK_CTE},
hits AS (SELECT doc_id, lang, source FROM toks
         WHERE list_contains(toks, 'spark') OR list_contains(toks, 'window'))
SELECT lang, source, count(*) AS n_docs FROM hits GROUP BY lang, source
ORDER BY n_docs DESC, lang, source LIMIT 8""",
        "global_stats_idx": """
SELECT count(*) AS n, min(n_chars) AS min_v, max(n_chars) AS max_v,
       sum(n_chars)::BIGINT AS sum_v,
       floor(sum(n_chars)::DOUBLE / count(*) * 10000.0 + 0.5)::BIGINT
         AS avg_x1e4
FROM documents""",
        "date_range_events": """
WITH r AS (
  SELECT unnest([
    struct_pack(bucket := '*-2024-01-10',
                lo := TIMESTAMP '1900-01-01', hi := TIMESTAMP '2024-01-10'),
    struct_pack(bucket := '2024-01-10-2024-01-20',
                lo := TIMESTAMP '2024-01-10', hi := TIMESTAMP '2024-01-20'),
    struct_pack(bucket := '2024-01-15-*',
                lo := TIMESTAMP '2024-01-15', hi := TIMESTAMP '9999-01-01')
  ], recursive := true))
SELECT r.bucket, count(*) AS n_docs
FROM events e JOIN r ON e.ts >= r.lo AND e.ts < r.hi
GROUP BY r.bucket ORDER BY r.bucket""",
        "sampler_idx": f"""
WITH {_scored_fp_cte(['spark', 'window'])},
ranked AS (SELECT doc_id, row_number() OVER (
             ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id) AS rk
           FROM scored)
SELECT d.lang, count(*) AS n_docs
FROM ranked r JOIN documents d USING (doc_id) WHERE r.rk <= 50
GROUP BY d.lang ORDER BY n_docs DESC, lang""",
        "random_score_idx": f"""
WITH {TOK_CTE},
hits AS (SELECT doc_id FROM toks
         WHERE list_contains(toks, 'spark') OR list_contains(toks, 'window')),
w AS (SELECT doc_id,
        (('0x' || substr(md5(doc_id::VARCHAR || ':7'), 2, 15))
         ::UBIGINT::BIGINT % 1000000) / 1000000.0 AS s
      FROM hits)
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4 FROM w
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT 10""",
        "script_score_idx": f"""
WITH {_scored_fp_cte(['spark', 'window'])},
sc AS (SELECT s.doc_id, s.s * sqrt(d.n_chars::DOUBLE) AS s
       FROM scored s JOIN documents d USING (doc_id))
SELECT doc_id, floor(s * 10000.0 + 0.5)::BIGINT AS score_x1e4 FROM sc
ORDER BY floor(s * 10000.0 + 0.5) DESC, doc_id LIMIT 10""",
        "diversified_sampler_idx": f"""
WITH {_scored_fp_cte(['spark', 'window'])},
fp AS (SELECT sc.doc_id, d.lang, d.source,
              floor(sc.s * 10000.0 + 0.5)::BIGINT AS fp
       FROM scored sc JOIN documents d USING (doc_id)),
div AS (SELECT *, row_number() OVER (PARTITION BY source
                                     ORDER BY fp DESC, doc_id) AS rn
        FROM fp),
sample AS (SELECT lang FROM div WHERE rn <= 2
           ORDER BY fp DESC, doc_id LIMIT 50)
SELECT lang, count(*) AS n_docs FROM sample
GROUP BY lang ORDER BY n_docs DESC, lang""",
        "tsds_downsample_events": """
SELECT (floor(epoch(ts) / 43200) * 43200)::BIGINT AS bucket_ts, event_type,
       floor(min(value) * 100 + 0.5)::BIGINT AS vmin_x100,
       floor(max(value) * 100 + 0.5)::BIGINT AS vmax_x100,
       floor(sum(value) * 100 + 0.5)::BIGINT AS vsum_x100,
       count(value) AS n
FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
        "essql_topk": _bm25_oracle_sql(["dup", "table"], 10),
        "essql_group_orders": """
SELECT o_orderpriority AS priority, COUNT(*) AS n,
       floor(sum(o_totalprice) * 100.0 + 0.5)::BIGINT AS total_x100
FROM orders GROUP BY o_orderpriority ORDER BY priority""",
        "esql_stats_events": """
SELECT epoch(date_trunc('day', ts))::BIGINT AS day_ts, event_type,
       count(*) AS n, floor(sum(value) * 100.0 + 0.5)::BIGINT AS sum_x100
FROM events WHERE value > 50 AND event_type <> 'signup'
GROUP BY 1, 2 ORDER BY 1, 2""",
        "esql_tpch_q1": """
SELECT l_returnflag, l_linestatus,
       floor(sum(l_quantity) * 100.0 + 0.5)::BIGINT AS sum_qty_x100,
       floor(sum(l_extendedprice) * 100.0 + 0.5)::BIGINT AS sum_base_x100,
       count(*) AS n,
       floor(avg(l_discount) * 10000.0 + 0.5)::BIGINT AS avg_disc_x1e4
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2 ORDER BY 1, 2""",
        "esql_grok_events": """
WITH g AS (SELECT event_type,
                  CASE WHEN regexp_matches(props, '"k": ([+-]?\\d+)')
                       THEN regexp_extract(props, '"k": ([+-]?\\d+)', 1)
                            ::BIGINT END AS kv
           FROM events)
SELECT event_type, sum(kv)::BIGINT AS kv_sum, count(kv) AS n_k
FROM g GROUP BY event_type ORDER BY event_type""",
        "esql_lookup_orders": """
SELECT c_mktsegment, count(*) AS n_orders,
       floor(sum(o_totalprice) * 100.0 + 0.5)::BIGINT AS spend_x100
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1 ORDER BY 1""",
        "esql_match_score": _bm25_oracle_sql(["query", "spark"], 10),
        "esql_match_options": _bm25_oracle_sql(
            ["query", "spark"], 10,
            post_filter_sql="(SELECT count(DISTINCT tf2.term) FROM tf "
                            "tf2 WHERE tf2.doc_id = d.doc_id) >= 2",
            boosts={"query": 2.0, "spark": 2.0}),
        "esql_match_score_idx": _bm25_oracle_sql(["join", "query", "spark"],
                                                 10),
        "esql_kql_idx": _bm25_oracle_sql(
            ["join", "query", "spark"], 10, post_filter_sql=_KQL_PF_SQL),
        "esql_match_or_not": _bm25_oracle_sql(
            ["join", "spark"], 10,
            post_filter_sql=f"NOT list_contains({_DTOK}, 'batch')"),
        "esql_qstr_idx": _bm25_oracle_sql(
            ["join", "query", "spark"], 10, post_filter_sql=_QSTR_PF_SQL),
        "esql_phrase_idx": _bm25_oracle_sql(
            ["join", "query", "spark"], 10,
            post_filter_sql=(
                "position(' the table ' IN ' ' || array_to_string("
                "list_filter(string_split_regex(lower(d.text), '\\s+'), "
                "x -> x <> ''), ' ') || ' ') > 0")),
        "esql_multi_idx": _bm25_oracle_sql(["join", "query", "spark"], 10),
        "esql_multi_idx_filtered": _bm25_oracle_sql(
            ["join", "query", "spark"], 10, post_filter_sql="d.lang = 'en'"),
        "esql_multi_idx_keep": f"""
SELECT h.doc_id, d.lang, h.score_x1e4
FROM ( {_bm25_oracle_sql(["join", "query", "spark"], 10,
                          post_filter_sql="d.n_chars > 100")} ) h
JOIN documents d USING (doc_id)
ORDER BY h.score_x1e4 DESC, h.doc_id""",
        "esql_multi_idx_options": _bm25_oracle_sql(
            ["query", "spark"], 10,
            post_filter_sql="(SELECT count(DISTINCT tf2.term) FROM tf "
                            "tf2 WHERE tf2.doc_id = d.doc_id) >= 2",
            boosts={"query": 2.0, "spark": 2.0}),
        "esql_multi_idx_kql": _bm25_oracle_sql(
            ["join", "query", "spark"], 10, post_filter_sql=_KQL_PF_SQL),
        "esql_knn": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
s AS (SELECT vec_id,
             list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))) AS c
      FROM embeddings CROSS JOIN q)
SELECT vec_id, floor(c * 10000.0 + 0.5)::BIGINT AS cos_x1e4 FROM s
ORDER BY c DESC, vec_id LIMIT 10""",
        "esql_ccs_union": """
WITH u AS (
  SELECT 'events' AS _idx, event_type, value FROM events
  UNION ALL
  SELECT 'archive:events' AS _idx, event_type, value + 1000.0 AS value
  FROM events WHERE value > 90
)
SELECT _idx AS _index, event_type, count(*) AS n,
       floor(sum(value) * 100.0 + 0.5)::BIGINT AS vsum_x100
FROM u GROUP BY 1, 2 ORDER BY 1, 2""",
        "esql_now_window": """
SELECT epoch(date_trunc('day', ts + INTERVAL 12 HOUR))::BIGINT AS day_ts,
       event_type, count(*) AS n
FROM events
WHERE ts > TIMESTAMP '2024-01-20 00:00:00' - INTERVAL 7 DAY
  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
GROUP BY 1, 2 ORDER BY 1, 2""",
        "esql_rerank_docs": f"""
WITH {TOK_CTE},
win AS (SELECT doc_id, toks FROM toks WHERE lang = 'en'
        ORDER BY n_chars DESC, doc_id LIMIT 50),
rr AS (SELECT doc_id,
              len(list_intersect(list_distinct(toks),
                  ['distributed', 'engine', 'query', 'spark'])) / 4.0 AS r
       FROM win)
SELECT doc_id, floor(r * 10000.0 + 0.5)::BIGINT AS r_x1e4
FROM rr ORDER BY r_x1e4 DESC, doc_id LIMIT 10""",
        "esql_match_phrase": f"""
WITH {TOK_CTE}
SELECT doc_id, lang FROM toks
WHERE position(' table hash ' IN
               ' ' || array_to_string(toks, ' ') || ' ') > 0
ORDER BY doc_id""",
        "esql_qstr": f"""
WITH {TOK_CTE}
SELECT doc_id, lang FROM toks
WHERE (list_contains(toks, 'batch') OR list_contains(toks, 'stream'))
  AND len(list_filter(toks, t -> t LIKE 'filt%')) > 0
  AND NOT position(' table hash ' IN
                   ' ' || array_to_string(toks, ' ') || ' ') > 0
ORDER BY doc_id""",
        "esql_categorize": CATEGORIZE_TEXT_SQL,
        "esql_st_centroid": """
WITH pts AS (
  SELECT doc_id,
         ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005 AS lat,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005 AS lon
  FROM documents)
SELECT doc_id % 7 AS g, count(*) AS n,
       floor(avg(lon) * 10000.0 + 0.5)::BIGINT AS cx_x1e4,
       floor(avg(lat) * 10000.0 + 0.5)::BIGINT AS cy_x1e4
FROM pts GROUP BY 1 ORDER BY 1""",
        "esql_rrf": ESQL_RRF_SQL,
        "esql_std_dev": """
SELECT event_type,
       floor(stddev_pop(value) * 10000.0 + 0.5)::BIGINT AS sd_x1e4
FROM events GROUP BY 1 ORDER BY 1""",
        "esql_st_extent": """
WITH pts AS (
  SELECT doc_id,
         ((doc_id * 7919) % 18000) / 100.0 - 90.0 + 0.005 AS lat,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 + 0.005 AS lon
  FROM documents)
SELECT doc_id % 5 AS g, count(*) AS n,
       floor(min(lon) * 10000.0 + 0.5)::BIGINT AS xmin_x1e4,
       floor(max(lon) * 10000.0 + 0.5)::BIGINT AS xmax_x1e4,
       floor(min(lat) * 10000.0 + 0.5)::BIGINT AS ymin_x1e4,
       floor(max(lat) * 10000.0 + 0.5)::BIGINT AS ymax_x1e4
FROM pts GROUP BY 1 ORDER BY 1""",
        "esql_kql": f"""
WITH {TOK_CTE}
SELECT doc_id, lang FROM toks
WHERE lang = 'fr' AND n_chars >= 300
  AND (list_contains(toks, 'batch')
       OR len(list_filter(toks, t -> t LIKE 'stream%')) > 0)
  AND NOT position(' table hash ' IN
                   ' ' || array_to_string(toks, ' ') || ' ') > 0
ORDER BY doc_id""",
        "esql_fuse_linear": ESQL_FUSE_LINEAR_SQL,
        "esql_mad": """
WITH m AS (SELECT event_type, median(value) AS med
           FROM events GROUP BY 1)
SELECT e.event_type,
       floor(median(abs(e.value - m.med)) * 10000.0 + 0.5)::BIGINT
         AS mad_x1e4
FROM events e JOIN m USING (event_type)
GROUP BY 1 ORDER BY 1""",
        "esql_hash": """
SELECT doc_id, md5(lang || source) AS h, md5(lang) AS m,
       sha256(lang) AS s
FROM documents WHERE doc_id < 20 ORDER BY doc_id""",
        "esql_st_grid": _st_grid_oracle_sql(),
        "esql_ts_overtime": ESQL_TS_OVERTIME_SQL,
        "esql_ts_rate": ESQL_TS_RATE_SQL,
        "esql_change_point": ESQL_CHANGE_POINT_SQL,
        "esql_round_to": ESQL_ROUND_TO_SQL,
        "esql_params": """
SELECT event_type, count(*) AS n,
       floor(median(value) * 10000.0 + 0.5)::BIGINT AS m_x1e4
FROM events WHERE value > 40.0 AND event_type != 'signup'
GROUP BY 1 ORDER BY 1""",
        "esql_percentile_where": """
SELECT dayofweek(ts) + 1 AS day_of_week,
       floor(quantile_cont(value * 2.0, 0.9)
             FILTER (WHERE value > 25.0) * 10000.0 + 0.5)::BIGINT
         AS p90_x1e4,
       floor(median(value) FILTER (WHERE event_type = 'click')
             * 10000.0 + 0.5)::BIGINT AS med_x1e4
FROM events GROUP BY 1 ORDER BY 1""",
        "esql_show_info": """
SELECT '0.1.0' AS version, '2026-08-20' AS "date",
       'spark-native' AS hash""",
        "esql_inlinestats_events": """
WITH w AS (SELECT event_type, value,
                  avg(value) OVER (PARTITION BY event_type) AS avg_v
           FROM events)
SELECT event_type, count(*) AS n_hot FROM w
WHERE value > avg_v * 1.5 GROUP BY 1 ORDER BY 1""",
        "cumulative_cardinality_events": """
WITH fb AS (SELECT user_id, min(date_trunc('day', ts)) AS bk
            FROM events GROUP BY user_id),
nb AS (SELECT bk, count(*) AS new_entities FROM fb GROUP BY bk),
grid AS (SELECT DISTINCT date_trunc('day', ts) AS bk FROM events)
SELECT epoch(grid.bk)::BIGINT AS bucket_ts,
       coalesce(nb.new_entities, 0) AS new_entities,
       sum(coalesce(nb.new_entities, 0)) OVER (ORDER BY grid.bk)::BIGINT
         AS cumulative_cardinality
FROM grid LEFT JOIN nb USING (bk) ORDER BY 1""",
        "esql_fork_events": """
SELECT * FROM (
  SELECT 'fork1' AS _fork, count(*) AS n,
         floor(sum(value) * 100.0 + 0.5)::BIGINT AS s
  FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT 'fork2', count(*), floor(sum(value) * 100.0 + 0.5)::BIGINT
  FROM events WHERE event_type = 'error')
ORDER BY _fork""",
        "esql_wordcount_docs": """
WITH tok AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
                                       x -> x <> '')) AS tok
             FROM documents)
SELECT tok, count(*) AS n FROM tok
GROUP BY tok ORDER BY n DESC, tok LIMIT 25""",
    }
