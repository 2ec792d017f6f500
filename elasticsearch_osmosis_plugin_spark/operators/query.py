"""Top-k BM25 query engine over the persisted SPIMI index.

Reference analog: the search entry point —
``prepareSearch(index).setQuery(...).execute()`` returning a ranked
hit list (``ESNodeITest.java:184-193``); the scoring/traversal that
Elasticsearch did for the reference is implemented here.

Execution of :func:`topk` (Spark-first), one plan:
1. tokenize the query with the SAME analyzer as the build;
2. dictionary lookup: parquet read pruned to the terms' buckets
   (partition pruning) + term predicate (row-group stats) — a few KB,
   read with pyarrow on the driver by a Searcher's
   :class:`DictionaryCache`; idfs (boosts folded in) are computed on
   the driver;
3. postings read pruned the same way — only query terms' rows are
   ever scanned, and only their doc-id/tf/dl payloads;
4. ``groupBy("seg").applyInArrow``: one Arrow kernel per posting
   segment decodes its rows (``functions.varbyte``), weights them
   (:func:`bm25_weight`) and runs ``serve.accumulate_topk`` — per-doc
   sums in sorted-term order, tombstones masked (a sorted id array the
   driver reads), minimum_should_match as a matched-term count, the
   segment's top k. Postings are doc-partitioned (a doc's postings all
   live in the segment built from its input partition, checked by
   ``plans.merge.verify_index``), so a segment's scores are final;
5. deterministic top-k over the k x n_segments rows
   (TakeOrderedAndProject). The shuffle carries compressed posting
   rows, not decoded matches, and a warm query runs 2 Spark jobs.

The per-doc sums are the driver-local path's (``serve.local_topk``)
bit for bit. ``strategy`` names ``"auto"``, ``"scoreall"``,
``"maxscore"`` and ``"blockmax"`` are accepted aliases of this one
plan: MaxScore and block-max pruning were no faster than it on any
query shape measured (``BENCH/BASELINE.md``) and were removed.

Match plan: every other Spark-path scorer gets its term stream from
:func:`_scored` — the indexed terms' constants (:func:`term_idfs` for
BM25), one scoring decode, tombstones dropped (:func:`live_docs`), the
post-filter applied (:func:`allowed_docs`) — and sums it with
:func:`summed`.
"""

from __future__ import annotations

import functools
import math
import os
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
from elasticsearch_osmosis_plugin_spark.functions.varbyte import (
    decode_doc_ids,
    decode_rows,
    delta_decode_groups,
)
from elasticsearch_osmosis_plugin_spark.operators import serve
from elasticsearch_osmosis_plugin_spark.operators.topk import deterministic_topk
from elasticsearch_osmosis_plugin_spark.plans import catalog
from elasticsearch_osmosis_plugin_spark.plans.build import (
    bucket_of,
    dictionary_df,
    load_meta,
    postings_df,
    tombstones_df,
)


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def query_terms(query: str, meta: dict) -> list[str]:
    return sorted(set(tokenize_py(
        query, meta["analyzer"],
        min_len=meta.get("min_token_len", 1),
        max_len=meta.get("max_token_len", 64))))


_DIC_COLS = ["term", "df", "cf", "n_blocks", "max_wand", "bucket"]

# A Searcher's per-term dictionary memo is a byte-budgeted LRU, so an
# adversarial query vocabulary evicts instead of growing the driver
# heap. A row is a tuple of Python values charged its object bytes
# (about 460 B with the per-entry charge), so the budget holds ~16k
# rows. Absent terms are memoized as _ABSENT (an LRU miss is None).
DIC_MEMO_BYTES = 8 << 20
_ABSENT = False


class DictionaryCache:
    """Driver-side per-term dictionary memo for a long-lived Searcher:
    a term's stats row is read once, with pyarrow on the driver from
    its bucket's dictionary files (a few KB), and kept while it stays
    within the ``DIC_MEMO_BYTES`` budget — no lookup costs a Spark job
    (~50-150 ms of fixed scheduling latency, the dominant term in
    serving p95). Negative hits (absent terms) are memoized too, so
    unknown-term queries stay one-time."""

    def __init__(self, index_path: str):
        self.index_path = index_path
        self._rows = serve._ByteLRU(max_bytes=DIC_MEMO_BYTES)

    def rows(self, terms: Sequence[str], meta: dict) -> pd.DataFrame:
        got = {t: self._rows.get(t) for t in dict.fromkeys(terms)}
        missing = sorted(t for t, r in got.items() if r is None)
        if missing:
            nb = meta["n_buckets"]
            files = serve._bucket_files(
                [os.path.join(self.index_path, "dictionary")],
                *sorted({bucket_of(t, nb) for t in missing}))
            tbl = serve._read_filtered(files, _DIC_COLS[:-1], missing) \
                if files else None
            found = {} if tbl is None else {
                r[0]: (*r, bucket_of(r[0], nb)) for r in
                zip(*(tbl[c].to_pylist() for c in _DIC_COLS[:-1]))}
            for t in missing:
                got[t] = found.get(t, _ABSENT)
                self._rows.put(t, got[t], serve._pysize(t, got[t]))
        return pd.DataFrame([r for r in got.values() if r is not _ABSENT],
                            columns=_DIC_COLS)


def dictionary_rows(spark: SparkSession, index_path: str,
                    terms: Sequence[str], meta: dict,
                    dic: DictionaryCache | None = None) -> pd.DataFrame:
    """Tiny dictionary lookup: bucket partition pruning + term
    predicate; a :class:`DictionaryCache` answers without a Spark
    job."""
    if not terms:
        return pd.DataFrame(columns=_DIC_COLS)
    if dic is not None:
        return dic.rows(terms, meta)
    buckets = sorted({bucket_of(t, meta["n_buckets"]) for t in terms})
    return (dictionary_df(spark, index_path)
            .filter(F.col("bucket").isin(buckets)
                    & F.col("term").isin(list(terms)))
            .toPandas())


def _pruned_postings(spark: SparkSession, index_path: str,
                     terms: Sequence[str], meta: dict,
                     posts: DataFrame | None = None) -> DataFrame:
    buckets = sorted({bucket_of(t, meta["n_buckets"]) for t in terms})
    if posts is None:
        posts = postings_df(spark, index_path)
    return posts.filter(F.col("bucket").isin(buckets) & F.col("term").isin(list(terms)))


def bm25_weight(c, tf, dl, k1: float, b: float, avgdl: float):
    """BM25 partial c * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    with c = idf (times any boost). Elementwise over numpy arrays or
    Spark Columns: every BM25 scoring path evaluates this expression."""
    return c * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _posting_rows(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray]:
    """(row index of every posting, doc ids) of an Arrow batch of
    posting rows, postings in (row, then posting) order."""
    ids, n = decode_doc_ids(batch.column("doc_ids_vb"))
    return np.repeat(np.arange(n.size), n), ids


def _out(batch: pa.RecordBatch, rows: np.ndarray, **cols) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [batch.column("term").take(rows), *map(pa.array, cols.values())],
        names=["term", *cols])


def _scored_kernel(c_by_term: dict[str, float], weight):
    """mapInArrow kernel: posting rows -> (term, doc_id, partial) with
    partial = weight(c_term, tf, dl) — one decode per payload column
    per Arrow batch."""
    keys = pa.array(list(c_by_term), pa.string())
    consts = np.fromiter(c_by_term.values(), np.float64, len(c_by_term))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows, ids = _posting_rows(batch)
            tf = decode_rows(batch.column("tfs_vb"))[0].astype(np.float64)
            dl = decode_rows(batch.column("dls_vb"))[0].astype(np.float64)
            c = consts[pc.index_in(batch.column("term"), value_set=keys)
                       .to_numpy()][rows]
            yield _out(batch, rows, doc_id=ids, partial=weight(c, tf, dl))
    return fn


DECODED_SCHEMA = "term string, doc_id long, partial double"


def score_postings(posts: DataFrame, c_by_term: dict[str, float],
                   weight) -> DataFrame:
    """Posting rows -> (term, doc_id, partial). Column-pruned before
    the Arrow exchange: scoring never reads the positional payload."""
    return (posts.select("term", "doc_ids_vb", "tfs_vb", "dls_vb")
            .mapInArrow(_scored_kernel(c_by_term, weight), DECODED_SCHEMA))


def _bm25(meta: dict):
    return functools.partial(bm25_weight, k1=meta["k1"], b=meta["b"],
                             avgdl=meta["avgdl"])


def _raw_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        rows, ids = _posting_rows(batch)
        cols = {"doc_id": ids,
                "tf": decode_rows(batch.column("tfs_vb"))[0].astype(np.int64)}
        if "dls_vb" in batch.schema.names:
            cols["dl"] = decode_rows(batch.column("dls_vb"))[0].astype(np.int64)
        yield _out(batch, rows, **cols)


def raw_postings(posts: DataFrame, with_dl: bool = True) -> DataFrame:
    """Posting rows -> unscored (term, doc_id, tf[, dl]) rows, for
    callers that blend tfs across terms or fields before scoring."""
    payload = ["tfs_vb", "dls_vb"] if with_dl else ["tfs_vb"]
    return (posts.select("term", "doc_ids_vb", *payload)
            .mapInArrow(_raw_kernel, "term string, doc_id long, tf long"
                        + (", dl long" if with_dl else "")))


def _doc_ids_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        rows, ids = _posting_rows(batch)
        yield _out(batch, rows, doc_id=ids)


def live_docs(spark: SparkSession, index_path: str, out: DataFrame,
              meta: dict | None = None) -> DataFrame:
    """``out`` (any stream with a ``doc_id`` column) without tombstoned
    docs: a broadcast anti-join (the tombstone set is small by
    construction — logical deletes awaiting a merge). The one reader
    of the tombstone table on the query path: posting streams pass
    through it in :func:`_scored` / :func:`term_docs`, and forms that
    enumerate the doc store directly (match_all, exists, ids, range)
    call it too, or deleted docs resurface until a purge."""
    denied = tombstones_df(spark, index_path, meta)
    if denied is None:
        return out
    return out.join(F.broadcast(denied), "doc_id", "left_anti")


def allowed_docs(spark: SparkSession, index_path: str,
                 post_filter) -> DataFrame | None:
    """Doc ids passing a ``post_filter`` Column over doc-store columns
    (None without a filter). The predicate pushes down into the
    doc-store parquet scan."""
    if post_filter is None:
        return None
    return (catalog.read_table(spark, index_path, "docstats")
            .filter(post_filter).select("doc_id"))


def term_vector_store(spark: SparkSession, index_path: str,
                      op: str) -> DataFrame:
    """The doc-store frame with its stored term vectors (``tokens``);
    raises ``ValueError("<op> needs the term-vector store")`` when the
    index was built without them or ``merge.drop_term_vectors`` removed
    them."""
    ds = catalog.read_table(spark, index_path, "docstats")
    if "tokens" not in ds.columns or not catalog.read_manifest(
            index_path, "docstats").get("term_vectors", False):
        raise ValueError(f"{op} needs the term-vector store")
    return ds


def term_idfs(dic: pd.DataFrame, meta: dict) -> dict[str, float]:
    """{term: BM25 idf} of the indexed query terms (dictionary rows),
    in row order; empty when no query term is indexed."""
    return {r.term: idf(meta["n_docs"], int(r.df)) for r in dic.itertuples()}


def term_docs(spark: SparkSession, index_path: str, terms: Sequence[str],
              meta: dict, posts: DataFrame | None = None) -> DataFrame:
    """Live (term, doc_id) matches of ``terms`` — reads only the
    ``doc_ids_vb`` payload."""
    pruned = _pruned_postings(spark, index_path, terms, meta, posts)
    return live_docs(spark, index_path,
                     pruned.select("term", "doc_ids_vb")
                     .mapInArrow(_doc_ids_kernel, "term string, doc_id long"),
                     meta)


def _scored(spark, index_path, meta, c_by_term, *, posts=None,
            allowed=None, weight=None) -> DataFrame:
    """The match plan: live (term, doc_id, partial) postings of the
    ``c_by_term`` terms, partial = weight(c_term, tf, dl) (BM25 by
    default); ``allowed`` keeps only those doc ids."""
    rows = _pruned_postings(spark, index_path, list(c_by_term), meta, posts)
    out = live_docs(spark, index_path,
                    score_postings(rows, c_by_term, weight or _bm25(meta)),
                    meta)
    if allowed is not None:
        # post-filter semi-join BEFORE the aggregation: per-doc scores
        # are unaffected (idf/avgdl/N stay corpus-global), only which
        # docs survive changes
        out = out.join(allowed, "doc_id", "left_semi")
    return out


def summed(scored: DataFrame, msm: int = 0, *, keys=("doc_id",),
           count: str = "term") -> DataFrame:
    """Partials summed per ``keys`` -> (*keys, score). ``msm`` > 0
    keeps only groups with >= msm distinct ``count`` values (ES
    minimum_should_match), counted in the same aggregation."""
    if msm <= 0:
        return scored.groupBy(*keys).agg(F.sum("partial").alias("score"))
    return (scored.groupBy(*keys)
            .agg(F.sum("partial").alias("score"),
                 F.countDistinct(count).alias("_nt"))
            .filter(F.col("_nt") >= msm)
            .select(*keys, "score"))


def match_scores(spark: SparkSession, index_path: str, query: str,
                 meta: dict, *, allowed=None) -> DataFrame | None:
    """Scoreall BM25 of ``query`` -> (doc_id, score), or None when no
    query term is indexed."""
    idfs = term_idfs(dictionary_rows(spark, index_path,
                                     query_terms(query, meta), meta), meta)
    if not idfs:
        return None
    return summed(_scored(spark, index_path, meta, idfs, allowed=allowed))


POSITIONS_SCHEMA = "term string, doc_id long, pos long"


def _positions_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        rows, ids = _posting_rows(batch)
        tf = decode_rows(batch.column("tfs_vb"))[0].astype(np.int64)
        pos = delta_decode_groups(decode_rows(batch.column("pos_vb"))[0],
                                  np.cumsum(tf) - tf)
        yield _out(batch, np.repeat(rows, tf), doc_id=np.repeat(ids, tf),
                   pos=pos.astype(np.int64))


def term_positions(posts: DataFrame) -> DataFrame:
    """Posting rows -> one (term, doc_id, pos) row per token
    occurrence. The tf stream is the split key for the per-(term, doc)
    position runs."""
    return (posts.select("term", "doc_ids_vb", "tfs_vb", "pos_vb")
            .mapInArrow(_positions_kernel, POSITIONS_SCHEMA))


# accepted ``strategy`` names: every one runs the segment-local plan
STRATEGIES = ("auto", "scoreall", "maxscore", "blockmax")


def _segment_topk_kernel(c_by_term: dict[str, float], meta: dict,
                         dead: np.ndarray | None, k: int | None, msm: int):
    """applyInArrow kernel over ONE posting segment's rows of the query
    terms -> that segment's top ``k`` (doc_id, score): one decode per
    payload column, BM25 weights, then ``serve.accumulate_topk`` with
    the postings in sorted-term order. A doc's postings all live in
    one segment, so its score here is final."""
    terms = sorted(c_by_term)
    keys = pa.array(terms, pa.string())
    consts = np.array([c_by_term[t] for t in terms], np.float64)
    weight = _bm25(meta)

    def fn(table: pa.Table) -> pa.Table:
        ids, n = decode_doc_ids(table.column("doc_ids_vb"))
        tf = decode_rows(table.column("tfs_vb"))[0].astype(np.float64)
        dl = decode_rows(table.column("dls_vb"))[0].astype(np.float64)
        rank = np.repeat(pc.index_in(table.column("term"), value_set=keys)
                         .to_numpy(), n)
        order = np.argsort(rank, kind="stable")
        w = weight(consts[rank], tf, dl)
        doc_ids, scores = serve.accumulate_topk(ids[order], w[order], dead,
                                                k, msm=msm)
        return pa.table({"doc_id": doc_ids.astype(np.int64),
                         "score": scores.astype(np.float64)})
    return fn


def topk(spark: SparkSession, index_path: str, query: str, k: int = 10,
         strategy: str = "auto", *, post_filter=None, boosts=None,
         minimum_should_match: int = 0,
         _meta=None, _posts=None, _dic=None) -> DataFrame:
    """Top-k BM25 -> DataFrame (doc_id, score), deterministic order.

    One plan for every ``strategy`` name (see the module docstring):
    the query terms' pruned posting rows grouped by posting segment,
    each segment scored and cut to its top k by one Arrow kernel
    (tombstones masked there, from a driver-read sorted id array), then
    a TakeOrderedAndProject merge of k x n_segments rows.

    ``post_filter``: optional Column predicate over doc-store columns
    (B6, ES post_filter semantics, ``ESNodeITest.java:72``): restricts
    which docs are RETURNED without touching scores — idf, avgdl and N
    stay corpus-global, and the k-limit applies AFTER the filter. The
    predicate pushes down into the doc-store parquet scan; the kernel
    then skips its per-segment cut and its rows are semi-joined with
    the passing ids before the merge.

    ``boosts``: optional {term: weight} query-time boosts (ES ^boost
    analog). A boost scales that term's partial score linearly, so it
    folds into the per-term idf.

    ``minimum_should_match``: require >= m DISTINCT query terms per
    returned doc (ES match-query msm), counted per doc in the kernel."""
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown strategy: {strategy}")
    meta = _meta if _meta is not None else load_meta(index_path)
    dic = dictionary_rows(spark, index_path, query_terms(query, meta), meta,
                          dic=_dic)
    if dic.empty or len(dic) < minimum_should_match:
        return spark.createDataFrame([], "doc_id long, score double")
    c_by_term = term_idfs(dic, meta)
    if boosts:
        c_by_term = {t: v * float(boosts.get(t, 1.0))
                     for t, v in c_by_term.items()}
    allowed = allowed_docs(spark, index_path, post_filter)
    kernel = _segment_topk_kernel(
        c_by_term, meta, serve._tombstone_ids(index_path, meta),
        k if allowed is None else None, minimum_should_match)
    out = (_pruned_postings(spark, index_path, list(c_by_term), meta, _posts)
           .select("seg", "term", "doc_ids_vb", "tfs_vb", "dls_vb")
           .groupBy("seg").applyInArrow(kernel, "doc_id long, score double"))
    if allowed is not None:
        out = out.join(allowed, "doc_id", "left_semi")
    return deterministic_topk(out, k)


def topk_after(spark: SparkSession, index_path: str, query: str,
               k: int = 10, *, after: tuple[float, int] | None = None,
               post_filter=None, boosts=None,
               minimum_should_match: int = 0,
               _meta=None, _posts=None, _dic=None) -> DataFrame:
    """Keyset pagination (ES search_after analog): the next ``k`` hits
    strictly AFTER position ``after = (score, doc_id)`` in the global
    (score desc, doc_id asc) ranking. ``after=None`` returns page 1.

    Always scores every matching posting: a per-segment top-k cut
    keeps only the k BEST scores and would drop exactly the docs
    deeper pages need. Page cost is one pruned postings decode — the
    cursor filter is a Catalyst predicate on the aggregated scores, so
    paging N times never re-reads more than the query terms' postings.
    """
    meta = _meta if _meta is not None else load_meta(index_path)
    boosts = boosts or {}
    dic = dictionary_rows(spark, index_path, query_terms(query, meta), meta,
                          dic=_dic)
    idf_by_term = {t: v * float(boosts.get(t, 1.0))
                   for t, v in term_idfs(dic, meta).items()}
    if not idf_by_term or len(idf_by_term) < minimum_should_match:
        return spark.createDataFrame([], "doc_id long, score double")
    # msm pages must use the same match semantics as page 1 or the
    # cursor tiles the wrong ranking
    scores = summed(_scored(spark, index_path, meta, idf_by_term,
                            posts=_posts,
                            allowed=allowed_docs(spark, index_path,
                                                 post_filter)),
                    minimum_should_match)
    if after is not None:
        s, d = float(after[0]), int(after[1])
        scores = scores.filter(
            (F.col("score") < s)
            | ((F.col("score") == s) & (F.col("doc_id") > d)))
    return deterministic_topk(scores, k)


def topk_synonyms(spark: SparkSession, index_path: str,
                  groups: list[list[str]], k: int = 10, *,
                  post_filter=None,
                  _meta=None, _posts=None, _dic=None) -> DataFrame:
    """Top-k BM25 with query-time synonym expansion — Lucene
    ``SynonymQuery`` semantics (what ES's query-time ``synonym`` /
    ``synonym_graph`` token filter compiles match clauses into): each
    ``groups`` entry is ONE scoring clause whose members are treated as
    the same pseudo-term — tf = SUM of member tfs in the doc, df (for
    idf) = MAX member df. A group with no indexed member contributes
    nothing; a doc scores on a group iff it contains >=1 member.

    Plan: one pruned postings decode for the member union (raw tf/dl,
    no per-term scoring), a (doc, group) aggregation blending tfs, the
    BM25 partial computed ON the blended tf as a Catalyst expression,
    then the usual deterministic top-k cut. Group mapping is a literal
    broadcast map — nothing corpus-sized shuffles except the decoded
    postings of the requested terms."""
    meta = _meta if _meta is not None else load_meta(index_path)
    norm: list[list[str]] = []
    for alts in groups:
        members = []
        for a in alts:
            ts = query_terms(a, meta)
            if len(ts) != 1:
                raise ValueError(f"synonym member must analyze to one "
                                 f"token, got {ts!r} from {a!r}")
            members.append(ts[0])
        if not members:
            raise ValueError("empty synonym group")
        norm.append(sorted(set(members)))
    flat = sorted({t for alts in norm for t in alts})
    if len(flat) != sum(len(a) for a in norm):
        raise ValueError("a term may appear in only one synonym group")
    dic = dictionary_rows(spark, index_path, flat, meta, dic=_dic)
    if dic.empty:
        return spark.createDataFrame([], "doc_id long, score double")
    df_by_term = {r.term: int(r.df) for r in dic.itertuples()}
    # group idf from the MAX member df (Lucene SynonymQuery.docFreq)
    gid_of: dict[str, int] = {}
    idf_of_gid: dict[int, float] = {}
    live_terms: list[str] = []
    for gi, alts in enumerate(norm):
        present = [t for t in alts if t in df_by_term]
        if not present:
            continue
        idf_of_gid[gi] = idf(meta["n_docs"],
                             max(df_by_term[t] for t in present))
        for t in present:
            gid_of[t] = gi
        live_terms.extend(present)
    if not live_terms:
        return spark.createDataFrame([], "doc_id long, score double")
    allowed = allowed_docs(spark, index_path, post_filter)
    pruned = _pruned_postings(spark, index_path, sorted(live_terms), meta,
                              _posts)
    raw = live_docs(spark, index_path, raw_postings(pruned), meta)
    if allowed is not None:
        raw = raw.join(allowed, "doc_id", "left_semi")
    gmap = F.create_map(*[x for t, g in gid_of.items()
                          for x in (F.lit(t), F.lit(g))])
    imap = F.create_map(*[x for g, v in idf_of_gid.items()
                          for x in (F.lit(g), F.lit(v))])
    blended = (raw.withColumn("_g", gmap[F.col("term")])
               .groupBy("doc_id", "_g")
               .agg(F.sum("tf").alias("_tf"), F.first("dl").alias("_dl")))
    partial = _bm25(meta)(imap[F.col("_g")], F.col("_tf"), F.col("_dl"))
    scores = (blended.withColumn("_p", partial)
              .groupBy("doc_id").agg(F.sum("_p").alias("score")))
    return deterministic_topk(scores, k)


def lm_weight(similarity: str, mu: float, lam: float):
    """Per-posting weight of the Lucene language-model similarities
    over c = P(t|C) = (cf_t+1)/(T+1) (Lucene
    ``LMSimilarity.DefaultCollectionModel``), each partial clamped at
    0 exactly as Lucene's ``score()`` does:

    - dirichlet:      log(1 + tf/(mu*p)) + log(mu/(dl+mu))
    - jelinek_mercer: log(1 + (1-l)*tf/(dl*l*p))

    ln(1+x) is spelled exactly as the DuckDB twin computes it (same
    double for 1+x into the same libm log)."""
    if similarity == "lm_dirichlet":
        return lambda p, tf, dl: np.maximum(
            np.log(1.0 + tf / (mu * p)) + np.log(mu / (dl + mu)), 0.0)
    return lambda p, tf, dl: np.maximum(
        np.log(1.0 + (1.0 - lam) * tf / (dl * lam * p)), 0.0)


def topk_lm(spark: SparkSession, index_path: str, query: str,
            k: int = 10, *, similarity: str = "lm_dirichlet",
            mu: float = 2000.0, lam: float = 0.1, post_filter=None,
            _meta=None, _posts=None, _dic=None) -> DataFrame:
    """Top-k under the Lucene language-model similarities — the ES
    ``similarity`` module's ``LMDirichlet`` (mu=2000) and
    ``LMJelinekMercer`` (lambda=0.1) settings a reference user could
    select per-field instead of the default (``ESNodeITest.java``-era
    indices chose similarity in the mapping JSON the plugin passes
    verbatim, ``ElasticSearchWriterFactory.java:89-99``).

    Collection model P(t|C) = (cf_t + 1) / (T + 1) with T = total
    tokens in the index; T is recovered EXACTLY from meta as
    round(avgdl * n_docs) (avgdl = T/n_docs in float64 is lossless to
    invert below 2^52 tokens). Per-term partials are clamped at 0
    (Lucene returns max(0, score) per clause), so docs matching only
    with negative LM evidence drop out — same physical plan as
    scoreall BM25, only the decode kernel differs.
    """
    if similarity not in ("lm_dirichlet", "lm_jelinek_mercer"):
        raise ValueError(f"unknown LM similarity: {similarity!r}")
    meta = _meta if _meta is not None else load_meta(index_path)
    dic = dictionary_rows(spark, index_path, query_terms(query, meta), meta,
                          dic=_dic)
    cf_by_term = {r.term: int(r.cf) for r in dic.itertuples()}
    if not cf_by_term:
        return spark.createDataFrame([], "doc_id long, score double")
    total_tokens = round(float(meta["avgdl"]) * int(meta["n_docs"]))
    p_by_term = {t: (cf_by_term[t] + 1.0) / (total_tokens + 1.0)
                 for t in sorted(cf_by_term)}
    out = _scored(spark, index_path, meta, p_by_term, posts=_posts,
                  allowed=allowed_docs(spark, index_path, post_filter),
                  weight=lm_weight(similarity, float(mu), float(lam)))
    return deterministic_topk(summed(out).filter(F.col("score") > 0.0), k)


def classic_weight(c, tf, dl):
    """ClassicSimilarity per-posting partial c * sqrt(tf) / sqrt(dl),
    with c = queryNorm * idf_t^2 folded in on the driver."""
    return c * np.sqrt(tf) / np.sqrt(dl)


def topk_classic(spark: SparkSession, index_path: str, query: str,
                 k: int = 10, *, post_filter=None,
                 _meta=None, _posts=None, _dic=None) -> DataFrame:
    """Top-k under Lucene ClassicSimilarity (TF-IDF) — the DEFAULT
    similarity of the Elasticsearch 0.90 era the reference targets
    (``pom.xml`` elasticsearch 0.90.x; every ranked query the plugin's
    integration tests ran, e.g. ``ESNodeITest.java:184-193``, was
    scored by Lucene's practical scoring function, not BM25):

        score(q, d) = coord(q, d) * queryNorm(q)
                      * sum_t idf(t)^2 * sqrt(tf(t, d)) / sqrt(dl(d))

    with idf(t) = 1 + ln(N / (df_t + 1)), coord = |matched terms| /
    |query terms|, queryNorm = 1 / sqrt(sum_t idf(t)^2). Query terms
    ABSENT from the index still count toward queryNorm and coord's
    denominator (Lucene keeps the clause with df=0), so scores match
    what the reference stack reported. One deliberate exactness
    upgrade: Lucene stored 1/sqrt(dl) quantized to an 8-bit float
    (norms byte); we compute the norm exactly — rankings agree except
    where the quantization itself reordered near-ties.

    Same physical plan as scoreall BM25: pruned dictionary + postings
    scan, Arrow-batch decode, one (doc_id) aggregation — only the
    per-posting weight kernel differs. coord falls out of the same
    aggregation (countDistinct(term)), so it costs nothing extra.
    """
    meta = _meta if _meta is not None else load_meta(index_path)
    terms = query_terms(query, meta)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    dic = dictionary_rows(spark, index_path, terms, meta, dic=_dic)
    df_by_term = {r.term: int(r.df) for r in dic.itertuples()}
    n = float(meta["n_docs"])
    if n <= 0:
        return spark.createDataFrame([], "doc_id long, score double")
    idf_c = {t: 1.0 + math.log(n / (df_by_term.get(t, 0) + 1.0))
             for t in terms}
    qnorm = 1.0 / math.sqrt(sum(v * v for v in idf_c.values()))
    max_overlap = float(len(terms))
    live_terms = sorted(df_by_term)
    if not live_terms:
        return spark.createDataFrame([], "doc_id long, score double")
    w_by_term = {t: qnorm * idf_c[t] * idf_c[t] for t in live_terms}
    out = _scored(spark, index_path, meta, w_by_term, posts=_posts,
                  allowed=allowed_docs(spark, index_path, post_filter),
                  weight=classic_weight)
    # coord numerator: a term's blocks are doc-disjoint, so the decode
    # emits exactly ONE row per (term, doc) — count(1) == distinct
    # term count, without countDistinct's second aggregation pass
    scores = (out.groupBy("doc_id")
              .agg(F.sum("partial").alias("_s"),
                   F.count(F.lit(1)).alias("_nt"))
              .select("doc_id",
                      (F.col("_s") * F.col("_nt") / F.lit(max_overlap))
                      .alias("score")))
    return deterministic_topk(scores, k)


def topk_many(spark: SparkSession, index_path: str,
              queries: dict[str, str], k: int = 10, *,
              _meta=None, _posts=None, _dic=None) -> DataFrame:
    """Batched top-k: ALL queries in ONE Spark job.

    Serving amortization (the 100 TB path for query throughput): the
    postings of the union of all query terms are decoded ONCE, a tiny
    broadcast (query_id, term) relation fans each partial score into
    the queries that contain the term, and one (query_id, doc_id)
    aggregation + per-query window rank produces every ranking —
    N queries cost one postings scan + one shuffle instead of N jobs.

    Returns (query_id, doc_id, score), each query's block ordered and
    rank-identical to ``topk(..., strategy="scoreall")``.
    """
    from pyspark.sql import Window

    meta = _meta if _meta is not None else load_meta(index_path)
    qterms = {qid: query_terms(q, meta) for qid, q in queries.items()}
    all_terms = sorted(set().union(*qterms.values())) if qterms else []
    idf_by_term = term_idfs(dictionary_rows(spark, index_path, all_terms,
                                            meta, dic=_dic), meta)
    if not idf_by_term:
        return spark.createDataFrame(
            [], "query_id string, doc_id long, score double")
    pairs = spark.createDataFrame(
        [(qid, t) for qid, ts in qterms.items() for t in ts
         if t in idf_by_term],
        "query_id string, term string")
    per_q = summed(_scored(spark, index_path, meta, idf_by_term, posts=_posts)
                   .join(F.broadcast(pairs), "term"),
                   keys=("query_id", "doc_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (per_q.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn")
            .orderBy("query_id", F.desc("score"), F.asc("doc_id")))


def topk_clauses(spark: SparkSession, index_path: str,
                 clauses: Sequence[str], k: int = 10, *,
                 post_filter=None, _meta=None, _posts=None,
                 _dic=None) -> DataFrame:
    """Ranked bool.must of match clauses with ES's clause semantics: a
    doc matches iff EVERY clause contributes at least one of its own
    analyzed terms (each match clause is an OR over its terms — NOT a
    conjunction of every term of every clause), scored by BM25 over
    the distinct union of clause terms.

    One decode of the union terms' postings. A term shared by multiple
    clauses would be double-counted by the (clause, term) fan-out, so
    each partial is pre-scaled by 1/|clauses containing the term|
    (driver-known constant) — the aggregation then sums each (doc,
    term) contribution exactly once while ``countDistinct(clause)``
    checks coverage, all in ONE groupBy."""
    meta = _meta if _meta is not None else load_meta(index_path)
    cl_terms = [query_terms(c, meta) for c in clauses]
    if not cl_terms or any(not ts for ts in cl_terms):
        return spark.createDataFrame([], "doc_id long, score double")
    union = sorted(set().union(*cl_terms))
    idf_by_term = term_idfs(dictionary_rows(spark, index_path, union, meta,
                                            dic=_dic), meta)
    # a clause with no indexed term can never match -> empty result
    if any(not (set(ts) & idf_by_term.keys()) for ts in cl_terms):
        return spark.createDataFrame([], "doc_id long, score double")
    n_cl_of = {t: sum(1 for ts in cl_terms if t in ts) for t in idf_by_term}
    scored = _scored(spark, index_path, meta, idf_by_term, posts=_posts,
                     allowed=allowed_docs(spark, index_path, post_filter))
    pairs = spark.createDataFrame(
        [(ci, t, 1.0 / n_cl_of[t])
         for ci, ts in enumerate(cl_terms) for t in ts if t in idf_by_term],
        "clause int, term string, w double")
    weighted = (scored.join(F.broadcast(pairs), "term")
                .withColumn("partial", F.col("partial") * F.col("w")))
    return deterministic_topk(
        summed(weighted, len(cl_terms), count="clause"), k)


def fetch_hits(spark: SparkSession, index_path: str, hits: DataFrame,
               cols: Sequence[str]) -> DataFrame:
    """ES fetch phase (the second half of query_then_fetch): hydrate a
    ranked hit list with doc-store fields (_source filtering) ->
    the hits' columns + ``cols``, ranking order preserved.

    The hit list is top-k-sized, so its ids collect to the driver (the
    coordinator's fetch id list — exactly what an ES coordinating node
    holds between the two phases) and push down into the doc-store
    scan as an In() filter: column-pruned, row-group-pruned, no
    shuffle of the store. Missing doc ids (possible only if the store
    was mutated after scoring) keep the hit with null fields, exactly
    like ES serving a hit whose _source was since deleted."""
    ids = [r["doc_id"] for r in hits.select("doc_id").collect()]
    ds = (catalog.read_table(spark, index_path, "docstats")
          .select("doc_id", *cols)
          .filter(F.col("doc_id").isin(ids)))
    out = hits.join(ds, "doc_id", "left")
    order = [F.desc("score"), F.asc("doc_id")] if "score" in hits.columns \
        else [F.asc("doc_id")]
    return out.orderBy(*order)


def scan_df(spark: SparkSession, index_path: str, query: str | None = None,
            mode: str = "any", post_filter=None) -> DataFrame:
    """ES 0.90 scan (``search_type=scan``) as a DataFrame: the COMPLETE
    match set, unranked and unsorted — the bulk-export path. Scoring
    and the global sort are skipped entirely (exactly why ES scan
    exists: exporting a 100 TB hit set must not pay a top-k ranking),
    so the result streams partition-parallel straight into a write.

    ``query=None`` is match_all (every live doc); ``mode`` is "any"
    (OR) or "all" (AND) over the query terms; ``post_filter`` is a
    Column over doc-store carry columns.
    """
    from elasticsearch_osmosis_plugin_spark.operators import intersect

    if query is None:
        ids = live_docs(spark, index_path,
                        catalog.read_table(spark, index_path, "docstats")
                        .select("doc_id"))
    elif mode == "all":
        ids = intersect.match_all_terms(spark, index_path, query)
    elif mode == "any":
        ids = intersect.match_any_terms(spark, index_path, query)
    else:
        raise ValueError(f"scan_df: unknown mode {mode!r}")
    if post_filter is not None:
        ids = ids.join(allowed_docs(spark, index_path, post_filter),
                       "doc_id", "left_semi")
    return ids.select("doc_id")


def scan_after(spark: SparkSession, index_path: str, query: str | None = None,
               page_size: int = 1000, after_doc_id: int | None = None,
               mode: str = "any", post_filter=None,
               fetch: Sequence[str] | None = None) -> DataFrame:
    """One scroll page of a scan: keyset pagination in ``_doc``
    (doc_id) order — the ES scan+scroll cursor protocol. Each page is
    ``WHERE doc_id > cursor ORDER BY doc_id LIMIT page_size``, so a
    page costs a pruned scan + a per-partition top-N (no global sort
    materialization, no OFFSET re-scan) and pages tile the full match
    set exactly once. ``fetch`` hydrates the page via the fetch phase.
    """
    ids = scan_df(spark, index_path, query, mode, post_filter)
    if after_doc_id is not None:
        ids = ids.filter(F.col("doc_id") > int(after_doc_id))
    page = ids.orderBy("doc_id").limit(int(page_size))
    if fetch:
        return fetch_hits(spark, index_path, page, list(fetch))
    return page


def scan_sliced(spark: SparkSession, index_path: str,
                slice_id: int, max_slices: int,
                query: str | None = None, mode: str = "any",
                post_filter=None) -> DataFrame:
    """ES sliced scroll (``"slice": {"id": i, "max": m}``): partition a
    scan into ``max_slices`` disjoint, collectively-exhaustive slices
    so independent consumers export in parallel. ES slices on a hash
    of _id; here slice membership is ``pmod(md5_fold(doc_id), m) == i``
    (the engine's standard cross-engine hash) — a codegen predicate on
    the already-pruned scan, no shuffle, and the union over i of the
    slices is exactly :func:`scan_df`."""
    m, i = int(max_slices), int(slice_id)
    if not 0 <= i < m:
        raise ValueError(f"slice id {i} outside [0, {m})")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 2, 15),
               16, 10).cast("long")
    ids = scan_df(spark, index_path, query, mode, post_filter)
    return ids.filter(F.pmod(h, F.lit(m)) == F.lit(i))


def scan_iter(spark: SparkSession, index_path: str, query: str | None = None,
              page_size: int = 1000, mode: str = "any", post_filter=None,
              fetch: Sequence[str] | None = None):
    """Driver-side generator over scan pages (the scroll loop a client
    would run). For whole-set EXPORT prefer :func:`scan_df` — one
    distributed write beats O(n/page_size) paged jobs; this iterator
    exists for protocol parity and incremental consumers."""
    cursor = None
    while True:
        rows = scan_after(spark, index_path, query, page_size, cursor,
                          mode, post_filter, fetch).collect()
        if not rows:
            return
        yield rows
        if len(rows) < page_size:
            return
        cursor = rows[-1]["doc_id"]


def multi_docstats(spark: SparkSession, index_paths: Sequence[str],
                   cols: Sequence[str]) -> DataFrame:
    """Union of the per-index docstats projections — the multi-index
    doc store. Valid because doc_ids are globally unique across the
    indexes (sha-derived from the natural key / the data-stream
    convention), so the union IS the doc store of the union corpus.
    Column-pruned before the union so each parquet scan reads only
    ``cols``."""
    frames = [catalog.read_table(spark, p, "docstats").select(*cols)
              for p in index_paths]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def topk_multi(spark: SparkSession, index_paths: Sequence[str],
               query: str, k: int = 10,
               indices_boost: Sequence[float] | None = None,
               post_filter=None,
               minimum_should_match: int = 0) -> DataFrame:
    """ES multi-index search (``GET /idx1,idx2/_search``) with
    ``dfs_query_then_fetch`` semantics: collection statistics (df,
    N, avgdl) are combined across ALL indexes before scoring, so the
    ranking is exactly what one index built over the union corpus
    would produce — unlike ES's default query_then_fetch, whose
    per-shard stats skew scores (the dfs mode exists precisely to fix
    that; here exactness is the default and is pinned by a
    union-rebuild identity test).

    ``indices_boost``: optional per-index score multipliers (ES
    indices_boost body section, one float per index_path) — a boost
    scales that index's partial scores linearly, folded into its
    per-term idf map so every downstream bound stays valid.

    ``post_filter``: optional Column predicate over doc-store columns,
    same B6 semantics as :func:`topk` — restricts which docs are
    RETURNED without touching scores (idf/avgdl/N stay union-corpus
    global, k-limit after the filter). The predicate is evaluated on
    the UNION of the per-index docstats (:func:`multi_docstats`), so
    it pushes into every index's doc-store parquet scan, and the
    surviving ids semi-join each index's decoded stream BEFORE the
    aggregation — per-doc scores unchanged, only survivorship.

    ``minimum_should_match``: require >= m DISTINCT query terms per
    returned doc (ES match-query msm) — same semantics as
    :func:`topk`. A doc lives in exactly ONE index (disjoint ids), so
    the distinct-term count falls out of the same cross-index union
    aggregation that sums the score; no extra shuffle.

    Plan: one tiny dictionary lookup per index (driver-side sum of
    df/cf — the distributed-frequency phase), then each index's pruned
    postings decode runs with the GLOBAL idf/avgdl and the streams
    union into one aggregation — no index is a barrier for another.
    Doc ids must be disjoint across indexes (they are by construction:
    sha-derived from the natural key)."""
    if not index_paths:
        return spark.createDataFrame([], "doc_id long, score double")
    metas = [load_meta(p) for p in index_paths]
    m0 = metas[0]
    for m in metas[1:]:
        for key in ("analyzer", "k1", "b", "min_token_len", "max_token_len"):
            if m.get(key) != m0.get(key):
                raise ValueError(f"indexes disagree on {key}: "
                                 f"{m.get(key)!r} != {m0.get(key)!r}")
    terms = query_terms(query, m0)
    dics = [dictionary_rows(spark, p, terms, m)
            for p, m in zip(index_paths, metas)]
    df_g: dict[str, int] = {}
    for dic in dics:
        for r in dic.itertuples():
            df_g[r.term] = df_g.get(r.term, 0) + int(r.df)
    if not df_g:
        return spark.createDataFrame([], "doc_id long, score double")
    n_g = sum(m["n_docs"] for m in metas)
    # global avgdl: total tokens / total docs, reconstructed exactly
    # from each index's (avgdl * n_docs)
    avgdl_g = sum(m["avgdl"] * m["n_docs"] for m in metas) / n_g
    idf_g = {t: idf(n_g, d) for t, d in df_g.items()}
    if indices_boost is not None and len(indices_boost) != len(index_paths):
        raise ValueError("indices_boost needs one weight per index")
    if minimum_should_match > 0 and len(df_g) < minimum_should_match:
        return spark.createDataFrame([], "doc_id long, score double")
    allowed = None
    if post_filter is not None:
        allowed = functools.reduce(DataFrame.unionByName, [
            allowed_docs(spark, p, post_filter) for p in index_paths])
    parts = []
    for i, (p, m, dic) in enumerate(zip(index_paths, metas, dics)):
        w = 1.0 if indices_boost is None else float(indices_boost[i])
        idf_i = {t: idf_g[t] * w for t in dic["term"]}
        if idf_i:
            parts.append(_scored(spark, p, dict(m, avgdl=avgdl_g), idf_i,
                                 allowed=allowed))
    out = functools.reduce(DataFrame.unionByName, parts)
    return deterministic_topk(summed(out, minimum_should_match), k)


class Searcher:
    """Reusable query handle over one index — the analog of an open ES
    index reader. Loads meta once, keeps ONE postings relation (cached
    parquet file listing) and a driver-side dictionary memo
    (:class:`DictionaryCache`), so repeated queries pay scoring cost
    only, not per-query planning, file-index rebuild, or dictionary
    jobs."""

    def __init__(self, spark: SparkSession, index_path: str):
        self.spark = spark
        # pin the REAL index at open time: a Searcher opened on an ES-
        # style alias (catalog.create_alias) keeps serving its snapshot
        # through an alias swap until refresh() re-resolves it
        self._given_path = index_path
        self.index_path = catalog.resolve_alias(index_path)
        self.meta = load_meta(self.index_path)
        self.posts = postings_df(spark, self.index_path)
        self._dic_cache = DictionaryCache(self.index_path)

    def topk(self, query: str, k: int = 10, strategy: str = "auto",
             post_filter=None, boosts=None,
             minimum_should_match: int = 0) -> DataFrame:
        return topk(self.spark, self.index_path, query, k, strategy,
                    post_filter=post_filter, boosts=boosts,
                    minimum_should_match=minimum_should_match,
                    _meta=self.meta, _posts=self.posts, _dic=self._dic_cache)

    def topk_local(self, query: str, k: int = 10) -> list:
        """Interactive serving path (operators.serve): answer the
        query by reading the query terms' posting buckets directly
        with pyarrow on the driver — no Spark job, no scheduler
        round-trip, no dictionary read (df is the gathered posting
        count), millisecond latencies. Rank-identical to
        ``topk(strategy="scoreall")`` (lifecycle-tested); decoded
        postings, absent terms included, are cached per term across
        calls (the byte-budgeted serve.postings_cache). Returns
        [(doc_id, score)] — post_filter/boosts/msm queries use the
        Spark path."""
        return serve.local_topk(self.index_path,
                                query_terms(query, self.meta), k,
                                meta=self.meta)

    def topk_local_many(self, queries: dict[str, str],
                        k: int = 10) -> dict[str, list]:
        """Concurrent serving: answer N interactive queries through
        the driver-local path in ONE batched pass — postings of the
        term union are read once per touched bucket (decoded arrays
        come from / land in the byte-budgeted serve.postings_cache),
        and each query scores from the shared decode. Per-query
        results are identical to solo ``topk_local``; per-query
        latency under an 8-deep load stays near the solo number
        because reads amortize instead of contending (a thread pool
        would serialize on the GIL between arrow reads — measured 8x
        worse). Returns {name: [(doc_id, score)]}."""
        term_lists = {name: query_terms(q, self.meta)
                      for name, q in queries.items()}
        return serve.local_topk_many(self.index_path, term_lists, k,
                                     meta=self.meta)

    def match_count(self, query: str) -> int:
        return match_count(self.spark, self.index_path, query,
                           _meta=self.meta, _posts=self.posts, _dic=self._dic_cache)

    def topk_classic(self, query: str, k: int = 10,
                     post_filter=None) -> DataFrame:
        return topk_classic(self.spark, self.index_path, query, k,
                            post_filter=post_filter, _meta=self.meta,
                            _posts=self.posts, _dic=self._dic_cache)

    def topk_lm(self, query: str, k: int = 10, *,
                similarity: str = "lm_dirichlet", mu: float = 2000.0,
                lam: float = 0.1, post_filter=None) -> DataFrame:
        return topk_lm(self.spark, self.index_path, query, k,
                       similarity=similarity, mu=mu, lam=lam,
                       post_filter=post_filter, _meta=self.meta,
                       _posts=self.posts, _dic=self._dic_cache)

    def topk_many(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        return topk_many(self.spark, self.index_path, queries, k,
                         _meta=self.meta, _posts=self.posts, _dic=self._dic_cache)

    def refresh(self) -> None:
        """Reload meta + relations after an index mutation (append,
        compaction) or an alias swap — the ES refresh analog (B11): a
        searcher opened before a commit keeps serving the old snapshot
        until refreshed."""
        self.index_path = catalog.resolve_alias(self._given_path)
        self.meta = load_meta(self.index_path)
        self.posts = postings_df(self.spark, self.index_path)
        self._dic_cache = DictionaryCache(self.index_path)  # drop stale rows

    def close(self) -> None:
        """Drop the dictionary memo."""
        self._dic_cache = DictionaryCache(self.index_path)


def match_count(spark: SparkSession, index_path: str, query: str, *,
                _meta=None, _posts=None, _dic=None) -> int:
    """Number of docs matching >=1 query term (reference analog: count
    API, ``PluginIntegrationITest.java:44-45``)."""
    meta = _meta if _meta is not None else load_meta(index_path)
    terms = query_terms(query, meta)
    dic = dictionary_rows(spark, index_path, terms, meta, dic=_dic)
    if dic.empty:
        return 0
    if len(dic) == 1 and not meta.get("tombstones_n"):
        # single-term count is already materialized in the dictionary
        # (df = docs containing the term) — no posting decode at all;
        # with live tombstones the decode path subtracts them instead
        return int(dic["df"].iloc[0])
    return (term_docs(spark, index_path, list(dic["term"]), meta, _posts)
            .select("doc_id").distinct().count())


def delete_by_query(spark: SparkSession, index_path: str,
                    query: str | None = None, mode: str = "any",
                    post_filter=None) -> int:
    """ES _delete_by_query: tombstone every doc matching the query
    (same matching surface as :func:`scan_df`), returning the number
    newly deleted. Logical deletes — the ES/Lucene model exactly:
    version_conflict-free here because the id set is computed and
    applied in one snapshot; ``merge.purge_deletes`` is the physical
    reclaim (ES's forcemerge role)."""
    from elasticsearch_osmosis_plugin_spark.plans.build import delete_docs

    meta = load_meta(index_path)
    before = int(meta.get("tombstones_n") or 0)
    ids = scan_df(spark, index_path, query, mode=mode,
                  post_filter=post_filter)
    total = delete_docs(spark, index_path, ids)
    return total - before


def update_by_query(spark: SparkSession, index_path: str,
                    assignments: dict[str, str],
                    query: str | None = None, mode: str = "any",
                    post_filter=None) -> int:
    """ES _update_by_query: apply a script to every doc matching the
    query. The "script" is a dict of {carry column: SQL expression}
    (the painless-to-Catalyst translation used everywhere else in this
    engine); expressions see the doc's current columns. Returns the
    number of updated docs.

    Only CARRY columns may change — doc_id/seg/grp (identity/layout),
    tokens/dl (the analyzed text: changing it without reindexing would
    silently desync postings — ES recomputes the inverted fields on
    every update_by_query because _source is the truth; here the
    analyzed fields are immutable, use :func:`reindex` to re-analyze),
    and content_sha (the row invariant) are all protected.

    Plan: one conditional projection over docstats (hit flag via a
    left join against the match-id stream), swapped atomically with
    the manifest preserved — the same full-segment-rewrite cost
    profile Lucene pays for updates, minus the merge amplification."""
    protected = {"doc_id", "seg", "grp", "tokens", "dl", "content_sha"}
    ds = catalog.read_table(spark, index_path, "docstats")
    bad = sorted(set(assignments) - set(ds.columns))
    if bad:
        raise ValueError(f"unknown columns: {bad}")
    locked = sorted(set(assignments) & protected)
    if locked:
        raise ValueError(f"cannot update_by_query protected columns "
                         f"{locked}; reindex to re-analyze")
    hits = scan_df(spark, index_path, query, mode=mode,
                   post_filter=post_filter)
    n = hits.count()
    flagged = ds.join(hits.withColumn("_hit", F.lit(True)),
                      "doc_id", "left")
    schema_cols = ds.columns
    for col_name, sql in assignments.items():
        flagged = flagged.withColumn(
            col_name,
            F.when(F.col("_hit"), F.expr(sql).cast(ds.schema[col_name]
                                                   .dataType))
            .otherwise(F.col(col_name)))
    manifest = dict(catalog.read_manifest(index_path, "docstats"))
    manifest["updated_by_query"] = int(manifest.get("updated_by_query",
                                                    0)) + n
    catalog.create_or_replace(flagged.select(*schema_cols), index_path,
                              "docstats", manifest=manifest,
                              partition_by=["grp"])
    return n


def reindex(spark: SparkSession, src_index: str, dest_path: str,
            cfg=None, query: str | None = None, mode: str = "any",
            post_filter=None, n_groups: int = 1) -> dict:
    """ES _reindex: build a NEW index at ``dest_path`` from the live
    (optionally query-filtered) docs of ``src_index``, re-analyzing
    under ``cfg`` (default: the source's config — the
    change-your-mapping workflow). Tombstoned docs are dropped for
    real, exactly like ES reindex skipping deleted docs.

    The source of truth is the stored term vector: the reconstructed
    text is the token stream space-joined (this engine's _source for
    the analyzed field). The built-in analyzer family is idempotent on
    its own output (lowercased, split, filtered), so reindexing under
    the SAME analyzer is score-identical to a purge+rebuild; a
    different analyzer re-tokenizes the reconstruction, which is the
    best any engine can do once the raw field is gone (ES needs
    _source enabled for reindex for the same reason). Requires the
    term-vector store. Carry columns ride along; returns the new
    index's meta."""
    from elasticsearch_osmosis_plugin_spark.config import EngineConfig
    from elasticsearch_osmosis_plugin_spark.plans.build import build_index

    meta = load_meta(src_index)
    ds = term_vector_store(spark, src_index, "reindex")
    ids = scan_df(spark, src_index, query, mode=mode,
                  post_filter=post_filter)
    internal = {"seg", "grp", "tokens", "dl", "content_sha"}
    carry = [c for c in ds.columns if c not in internal | {"doc_id"}]
    docs = (ds.join(ids, "doc_id", "left_semi")
            .select("doc_id", F.array_join("tokens", " ").alias("_text"),
                    *carry))
    if cfg is None:
        src_cfg = dict(catalog.read_manifest(src_index, "docstats")
                       .get("cfg", {}))
        cfg = EngineConfig(
            analyzer=meta.get("analyzer", "code"),
            k1=float(meta.get("k1", 1.2)), b=float(meta.get("b", 0.75)),
            n_segments=int(src_cfg.get("n_segments", 8)),
            n_buckets=int(meta.get("n_buckets", 8)),
            block_size=int(meta.get("block_size", 64)),
            store_positions=bool(meta.get("positions", True)),
            resume=False)
    return build_index(spark, docs, dest_path, cfg, id_col="doc_id",
                       text_col="_text", carry_cols=carry,
                       n_groups=n_groups)


def explain_hits(spark: SparkSession, index_path: str, hits: DataFrame,
                 query: str) -> DataFrame:
    """ES ``explain=true`` per-hit breakdown: attach to each ranked hit
    an ``explanation`` array of (term, partial BM25 contribution)
    structs, term-ordered — the _explanation payload ES builds per hit.

    Costs one extra pruned postings decode semi-joined to the hit ids
    (top-k-sized broadcast), same as ES re-walking the scorer tree for
    explained hits; the ranking itself is untouched."""
    meta = load_meta(index_path)
    idf_by_term = term_idfs(dictionary_rows(
        spark, index_path, query_terms(query, meta), meta), meta)
    if not idf_by_term:
        return hits.withColumn(
            "explanation",
            F.array().cast("array<struct<term:string,partial:double>>"))
    partials = _scored(spark, index_path, meta, idf_by_term,
                       allowed=F.broadcast(hits.select("doc_id")))
    expl = (partials
            .groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(F.struct("term", "partial")))
                 .alias("explanation")))
    order = [F.desc("score"), F.asc("doc_id")] if "score" in hits.columns \
        else [F.asc("doc_id")]
    return hits.join(expl, "doc_id", "left").orderBy(*order)


def explain_doc(spark: SparkSession, index_path: str, doc_id: int,
                query: str) -> dict:
    """ES GET /<index>/_explain/<id>: did THIS doc match, and why —
    {matched, score, explanation: [(term, partial), ...]} for one doc.
    One dictionary lookup + one postings decode pruned to the query
    terms, filtered to the doc — the same plan explain_hits uses with
    a 1-row hit frame."""
    meta = load_meta(index_path)
    idf_by_term = term_idfs(dictionary_rows(
        spark, index_path, query_terms(query, meta), meta), meta)
    if not idf_by_term:
        return {"matched": False, "score": 0.0, "explanation": []}
    hit = spark.createDataFrame([(int(doc_id),)], "doc_id long")
    rows = (_scored(spark, index_path, meta, idf_by_term,
                    allowed=F.broadcast(hit))
            .orderBy("term").collect())
    expl = [(r["term"], float(r["partial"])) for r in rows]
    return {"matched": bool(expl),
            "score": float(sum(p for _, p in expl)),
            "explanation": expl}
