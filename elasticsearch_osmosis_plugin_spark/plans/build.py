"""SPIMI-style distributed inverted-index build (north rule core).

Reference role analog: the whole ingest pipeline — entity stream ->
documents -> bulk index (``ElasticSearchWriterTask.java:40-82``,
``EntityDao.java:91-160``) — except the index itself is ours, not
Elasticsearch's.

Index layout (parquet tables under ``index_path``, committed
atomically via plans.catalog):

- ``docstats`` (partitioned by grp = seg % n_groups): doc_id, seg,
  dl, content_sha, <carry cols>, tokens. This is the doc store AND
  the term-vector store (reference analog: ES keeps ``_source`` plus
  the analyzed form): tokenization runs exactly once, lands here
  columnar, and every later stage — postings groups, corpus stats,
  derived indexes, resume — reads the needed columns only (parquet
  column pruning; doc-store lookups never touch ``tokens``).
  ``drop_term_vectors`` reclaims the space after the build.
- ``postings/group=g`` (each partitioned by bucket): one row per
  (term, seg, block): delta+varbyte doc_ids, varbyte tfs, varbyte dls,
  block_max_wand (exact float64 upper-bound kernel for BM25),
  min/max doc. meta's ``groups`` lists the live groups — build,
  append and compaction each commit one whole group and swap meta;
  :func:`postings_df` is the one reader.
- ``dictionary`` (partitioned by bucket): term, df, cf, n_blocks,
  max_wand.
- ``meta`` manifest: N, avgdl, analyzer, cfg, per-stage metrics +
  per-group lineage (north rule: resumable from per-partition
  checkpoints with lineage and metrics).

Scale design:
- doc ids: 60-bit sha-derived (uniform) or caller-supplied;
  seg hash-bucket = xxhash64(doc_id) % n_segments drives docstats
  bucketing and the resume-group row filter — deterministic and
  skew-proof.
- the corpus is NEVER shuffled: SPIMI segments are built per input
  partition under a memory budget (mapInPandas; a big partition
  flushes multiple segments). Only the already-compressed posting
  rows move (repartition by bucket before the partitioned write).
- the tokenized corpus is staged through PARQUET, not the JVM block
  cache: at 100 TB a MEMORY_AND_DISK persist of token arrays churns
  executor heap + GC and spills through Java serialization, while a
  columnar term-vector table costs one compressed write and gives
  every postings group a partition-pruned (grp=) pruned scan. It also
  makes resume skip tokenization entirely — a restarted build reads
  tokens back instead of recomputing them.
- postings are bucketed by md5(term) % n_buckets -> query-time
  partition pruning; within a bucket file rows are NOT term-sorted
  (Spark's planned write sorts each task's rows by the partition
  column, which drops any sort placed before it), so readers filter
  rows by term after the bucket prune.
- hot terms (stop-term postings) never concentrate: each (term, seg)
  pair is an independent row group of <= block_size entries per block,
  so a term appearing in every doc still parallelizes across segments.
- resume: segments are processed in ``n_groups`` checkpoint groups;
  each group commits atomically with lineage; a restarted build skips
  completed groups (reference analog: the drain-and-flush guarantees
  of the bounded queue + type barrier, ``WorkerPool.java:39-56``,
  restated as idempotent segment commits).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_osmosis_plugin_spark.config import EngineConfig
from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
    tokenize_expr,
    tokenize_udf,
)


def _tokens_col(text_col: str, cfg) -> "F.Column":
    """Tokens as a Catalyst expression when the analyzer supports it
    (whole-stage codegen, no Arrow hop in the docstats scan); pandas
    UDF fallback otherwise."""
    try:
        return tokenize_expr(text_col, cfg.analyzer,
                             min_len=cfg.min_token_len,
                             max_len=cfg.max_token_len)
    except ValueError:
        return tokenize_udf(cfg.analyzer, min_len=cfg.min_token_len,
                            max_len=cfg.max_token_len)(F.col(text_col))
from elasticsearch_osmosis_plugin_spark.functions.varbyte import (
    delta_encode_groups,
    vb_encode_groups,
)
from elasticsearch_osmosis_plugin_spark.plans import catalog

POSTING_SCHEMA = (
    "bucket int, term string, seg long, block int, n int, sum_tf long, "
    "block_max_wand double, min_doc long, max_doc long, "
    "doc_ids_vb binary, tfs_vb binary, dls_vb binary, pos_vb binary"
)

DICT_SCHEMA = ("term string, df long, cf long, n_blocks long, "
               "max_wand double, bucket int")


def dictionary_df(spark: SparkSession, index_path: str) -> DataFrame:
    """Dictionary read with explicit schema (an empty index writes
    partition dirs with no files — inference would fail)."""
    return spark.read.schema(DICT_SCHEMA).parquet(
        catalog.table_path(index_path, "dictionary"))


def bucket_of(term: str, n_buckets: int) -> int:
    """Stable term -> bucket hash (md5-based: identical in build UDFs,
    query driver, and tests; never python hash() which is salted)."""
    return int.from_bytes(hashlib.md5(term.encode("utf-8")).digest()[:4], "big") % n_buckets


def wand_weight(tf, dl, k1: float, b: float, avgdl: float):
    """Per-posting BM25 saturation tf / (tf + k1 * (1 - b + b * dl/avgdl))
    in float64; a block's max of it is the block upper bound
    (``max_wand``) that pruning scales by idf * (k1 + 1). The build and
    the purge rewrite both evaluate this expression."""
    return tf / (tf + k1 * (1.0 - b + b * dl / avgdl))


def add_doc_ids(df: DataFrame, key_cols: Iterable[str]) -> DataFrame:
    """Deterministic 60-bit doc id from the natural key
    (reference: docs keyed by OSM id, ``EntityDao.java:96``)."""
    key = F.concat_ws("\x1f", *[F.col(c) for c in key_cols])
    return df.withColumn(
        "doc_id", F.conv(F.substring(F.sha2(key, 256), 1, 15), 16, 10).cast("long"))


def _seg_col(n_segments: int):
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_segments)).cast("int")


def _empty_postings_pdf() -> pd.DataFrame:
    return pd.DataFrame({
        "bucket": pd.Series(dtype="int32"), "term": pd.Series(dtype="object"),
        "seg": pd.Series(dtype="int32"), "block": pd.Series(dtype="int32"),
        "n": pd.Series(dtype="int32"), "sum_tf": pd.Series(dtype="int64"),
        "block_max_wand": pd.Series(dtype="float64"),
        "min_doc": pd.Series(dtype="int64"), "max_doc": pd.Series(dtype="int64"),
        "doc_ids_vb": pd.Series(dtype="object"), "tfs_vb": pd.Series(dtype="object"),
        "dls_vb": pd.Series(dtype="object"), "pos_vb": pd.Series(dtype="object"),
    })


def _segment_builder(cfg: EngineConfig, avgdl: float):
    """SPIMI posting construction for one in-memory segment:
    pandas/numpy only, fully vectorized."""
    k1, b, block_size, n_buckets = cfg.k1, cfg.b, cfg.block_size, cfg.n_buckets
    store_positions = cfg.store_positions

    def build(pdf: pd.DataFrame, seg: int) -> pd.DataFrame:
        toks = pdf["tokens"]  # pre-tokenized once, upstream, cached
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
        if lens.sum() == 0:
            return _empty_postings_pdf()
        nz = lens > 0
        flat_terms = np.concatenate(
            [np.asarray(t, dtype=object) for t in toks if len(t) > 0])
        flat_docs = np.repeat(doc_ids[nz], lens[nz])
        flat_dls = np.repeat(lens[nz], lens[nz])
        # token position within its doc (for positional postings)
        l_nz = lens[nz]
        flat_pos = np.arange(l_nz.sum(), dtype=np.int64) \
            - np.repeat(np.cumsum(l_nz) - l_nz, l_nz)
        # ONE stable int sort puts the token stream in posting order
        # (term, doc_id) while keeping in-doc position order inside each
        # (term, doc) run: factorize the term strings once (O(T) hash),
        # then lexsort the INT code/doc keys — never a lexicographic
        # string sort of the whole stream. tf/dl fall out of run-length
        # boundaries; the per-run position lists are already contiguous
        # (lexsort is stable and flat_pos ascends within each doc).
        # Term order across groups is factorize (first-appearance)
        # order — irrelevant: no reader relies on the row order of a
        # posting file.
        codes, uniq_terms = pd.factorize(flat_terms)
        order = np.lexsort((flat_docs, codes))
        codes_s = codes[order]
        docs_s = flat_docs[order]
        pos_s = flat_pos[order]
        n_toks = docs_s.size
        new_pair = np.empty(n_toks, dtype=bool)
        new_pair[0] = True
        new_pair[1:] = (codes_s[1:] != codes_s[:-1]) | (docs_s[1:] != docs_s[:-1])
        pair_starts = np.flatnonzero(new_pair)
        pair_ends = np.append(pair_starts[1:], n_toks)
        uniq_terms = np.asarray(uniq_terms, dtype=object)
        pair_codes = codes_s[pair_starts]
        terms = uniq_terms[pair_codes]
        d = docs_s[pair_starts]
        tf = pair_ends - pair_starts
        dl = flat_dls[order[pair_starts]]
        n_rows = d.size

        # ---- fully vectorized (term, block) grouping: no python loop
        # over terms; reduceat kernels over group boundaries. Term
        # boundaries compare int codes, never object strings.
        new_term = np.empty(n_rows, dtype=bool)
        new_term[0] = True
        np.not_equal(pair_codes[1:], pair_codes[:-1], out=new_term[1:])
        term_starts = np.flatnonzero(new_term)
        term_idx = np.cumsum(new_term) - 1                   # row -> term ordinal
        rank_in_term = np.arange(n_rows) - term_starts[term_idx]
        block_no = rank_in_term // block_size
        new_group = new_term | (rank_in_term % block_size == 0)
        g_starts = np.flatnonzero(new_group)
        g_ends = np.append(g_starts[1:], n_rows)

        w = wand_weight(tf, dl, k1, b, avgdl)
        out_n = (g_ends - g_starts).astype(np.int32)
        out_sum_tf = np.add.reduceat(tf, g_starts)
        out_wand = np.maximum.reduceat(w, g_starts)
        out_min = d[g_starts]
        out_max = d[g_ends - 1]
        out_block = block_no[g_starts].astype(np.int32)
        out_terms = terms[g_starts]
        uniq_terms = terms[term_starts]
        bucket_by_term = np.fromiter(
            (bucket_of(t, n_buckets) for t in uniq_terms),
            dtype=np.int32, count=uniq_terms.size)
        out_bucket = bucket_by_term[term_idx[g_starts]]

        ids_vb = vb_encode_groups(
            delta_encode_groups(d.astype(np.uint64), g_starts), g_starts)
        tfs_vb = vb_encode_groups(tf.astype(np.uint64), g_starts)
        dls_vb = vb_encode_groups(dl.astype(np.uint64), g_starts)

        if store_positions:
            # per-(term, doc) position deltas (absolute first, gaps
            # after), concatenated per block in posting order; the tf
            # stream is the split key at decode time
            pos_deltas = delta_encode_groups(
                pos_s.astype(np.uint64), pair_starts)
            pos_vb = vb_encode_groups(pos_deltas, pair_starts[g_starts])
        else:
            pos_vb = [b""] * g_starts.size

        return pd.DataFrame({
            "bucket": out_bucket, "term": out_terms,
            "seg": np.full(g_starts.size, seg, dtype=np.int64),
            "block": out_block, "n": out_n,
            "sum_tf": out_sum_tf.astype(np.int64),
            "block_max_wand": out_wand,
            "min_doc": out_min, "max_doc": out_max,
            "doc_ids_vb": ids_vb, "tfs_vb": tfs_vb, "dls_vb": dls_vb,
            "pos_vb": pos_vb,
        })

    return build


def _spimi_map_builder(cfg: EngineConfig, avgdl: float, group: int,
                       n_groups: int, seg_base: int = 0):
    """mapInPandas SPIMI: build memory-bounded segments PER INPUT
    PARTITION — the corpus is never shuffled (the classic SPIMI
    invert-then-merge layout). A partition larger than
    ``segment_token_budget`` tokens flushes multiple segments; segment
    ids are ``seg_base | (partition * n_groups + group) << 16 | chunk``,
    deterministic for a deterministic input split. A build's ids stay
    below 2^40 (fewer than 2^24 partition x group slots); an appended
    group g passes ``seg_base = g << 40``, so its ids never equal
    another group's."""
    build = _segment_builder(cfg, avgdl)
    budget = cfg.segment_token_budget

    def run(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        buf: list[pd.DataFrame] = []
        buf_tokens = 0
        chunk = 0

        def flush():
            nonlocal buf, buf_tokens, chunk
            if not buf:
                return None
            pdf = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            seg_id = seg_base | ((pid * n_groups + group) << 16) | chunk
            out = build(pdf, seg_id)
            buf, buf_tokens = [], 0
            chunk += 1
            return out

        for pdf in batches:
            if len(pdf) == 0:
                continue
            buf.append(pdf)
            buf_tokens += int(pdf["dl"].sum())
            if buf_tokens >= budget:
                out = flush()
                if out is not None and len(out):
                    yield out
        out = flush()
        if out is not None and len(out):
            yield out

    return run


def build_index(spark: SparkSession, docs: DataFrame, index_path: str,
                cfg: EngineConfig = EngineConfig(),
                key_cols: Iterable[str] = ("repo", "path", "commit"),
                id_col: str | None = None,
                text_col: str = "content",
                carry_cols: Iterable[str] | None = None,
                n_groups: int = 4) -> dict:
    """Build (or resume) the full index. Returns the meta manifest."""
    t0 = time.time()
    metrics: list[dict] = []

    base = (docs.withColumn("doc_id", F.col(id_col).cast("long"))
            if id_col else add_doc_ids(docs, key_cols))
    base = base.withColumn("seg", _seg_col(cfg.n_segments))

    carry = list(carry_cols) if carry_cols is not None else [
        c for c in docs.columns if c not in (text_col, id_col)]

    # ---- stage A: docstats = doc store + term vectors. Tokenize ONCE
    # (vectorized pandas UDF) and land the tokens columnar; every later
    # stage reads back only the columns it needs (see module docstring
    # for why parquet staging beats a block-manager persist at scale).
    _ds_man = (catalog.read_manifest(index_path, "docstats")
               if catalog.table_exists(index_path, "docstats") else {})

    def _tok_cfg(c: dict) -> tuple:
        # the fields that change tokenization / segment layout: reusing
        # docstats across a change in any of these silently pairs new
        # meta with stale tokens (wrong BM25), so resume must rebuild
        return tuple(c.get(k) for k in ("analyzer", "min_token_len",
                                        "max_token_len", "n_segments"))

    have_docstats = (cfg.resume and _ds_man.get("n_groups") == n_groups
                     and _ds_man.get("term_vectors", False)
                     and _tok_cfg(_ds_man.get("cfg", {})) == _tok_cfg(vars(cfg)))
    if not have_docstats:
        # invalidate derived tables BEFORE committing the rebuilt
        # docstats: a crash between a new-docstats commit and the drops
        # would otherwise leave a resumable state pairing new
        # docstats/avgdl with postings from the old tokenization —
        # silently wrong scores. Dropping first fails safe: a crash
        # here just means a full rebuild on the next attempt.
        catalog.drop_table(index_path, "postings")
        catalog.drop_table(index_path, "dictionary")
        t = time.time()
        ds = base.select(
            "doc_id", "seg",
            F.pmod(F.col("seg"), F.lit(n_groups)).cast("int").alias("grp"),
            _tokens_col(text_col, cfg).alias("tokens"),
            F.sha2(F.col(text_col), 256).alias("content_sha"),
            *[F.col(c) for c in carry]) \
            .withColumn("dl", F.size("tokens"))
        catalog.create_or_replace(ds, index_path, "docstats",
                                  manifest={"stage": "docstats",
                                            "cfg": vars(cfg) | {},
                                            "n_groups": n_groups,
                                            "term_vectors": True},
                                  partition_by=["grp"])
        metrics.append({"stage": "docstats", "wall_s": time.time() - t})

    docstats = catalog.read_table(spark, index_path, "docstats")
    # corpus stats: column-pruned scan of `dl` only (never the tokens)
    stats = docstats.agg(F.count(F.lit(1)).alias("n"),
                         F.avg("dl").alias("avgdl")).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 1.0)

    # ---- stage B: postings, in per-group checkpointed commits.
    # NO corpus shuffle: SPIMI segments are built per input partition
    # (mapInPandas, memory-bounded); the only thing that moves is the
    # already-compressed posting rows, repartitioned by bucket.
    lineage = []
    groups_rebuilt = False
    for g in range(n_groups):
        name = f"postings/group={g}"
        if cfg.resume and catalog.table_exists(index_path, name):
            lineage.append(catalog.read_manifest(index_path, name))
            continue
        groups_rebuilt = True
        t = time.time()
        # grp= partition pruning: each group scans ONLY its own slice
        # of the term-vector store (no repeated full passes).
        # coalesce to one task per core: SPIMI total work grows with
        # segment COUNT (every extra segment repeats the per-term row
        # overhead for terms it shares with other segments), so the
        # build must not let segment count scale with split count —
        # measured 2x CPU-work inflation at 8 cores with 3x-core
        # multi-wave splits, flat after pinning segments to cores.
        part = (docstats.filter(F.col("grp") == g)
                .select("doc_id", "dl", "tokens")
                .coalesce(spark.sparkContext.defaultParallelism))
        # repartition postings by bucket before the partitioned write:
        # exactly one file per bucket per group (no small-file spray
        # from every build task).
        seg_postings = (part.mapInPandas(
                            _spimi_map_builder(cfg, avgdl, g, n_groups),
                            POSTING_SCHEMA)
                        .repartition(cfg.n_buckets, "bucket"))
        man = catalog.create_or_replace(
            seg_postings, index_path, name,
            manifest={"stage": "postings", "group": g, "n_groups": n_groups,
                      "doc_hash_buckets": [s for s in range(cfg.n_segments)
                                           if s % n_groups == g],
                      "avgdl": avgdl, "n_docs": n_docs,
                      "wall_s": time.time() - t},
            partition_by=["bucket"])
        lineage.append(man)
        metrics.append({"stage": f"postings:g{g}", "wall_s": time.time() - t})

    # ---- stage C: dictionary (tiny agg over per-block rows; hot terms are
    # pre-aggregated per (seg, block), so no skew salting is needed here)
    if groups_rebuilt or not (cfg.resume and catalog.table_exists(index_path, "dictionary")):
        t = time.time()
        _write_dictionary(spark, index_path, list(range(n_groups)),
                          cfg.n_buckets)
        metrics.append({"stage": "dictionary", "wall_s": time.time() - t})

    meta = {
        "n_docs": n_docs, "avgdl": avgdl,
        "k1": cfg.k1, "b": cfg.b,
        "analyzer": cfg.analyzer,
        "min_token_len": cfg.min_token_len, "max_token_len": cfg.max_token_len,
        "n_segments": cfg.n_segments, "n_buckets": cfg.n_buckets,
        "block_size": cfg.block_size, "n_groups": n_groups,
        "groups": list(range(n_groups)),
        "wand_slack": 1.0,
        "positions": cfg.store_positions,
        "text_col": text_col,
        "lineage": lineage, "metrics": metrics,
        "build_wall_s": time.time() - t0,
    }
    _write_meta(index_path, meta)
    return meta


def _write_meta(index_path: str, meta: dict) -> None:
    """Swap in a new meta.json: a NEW file, then ``os.replace`` — the
    directory entry moves, so a meta.json hardlinked from another index
    (shrink/split trees) is never truncated in place."""
    os.makedirs(index_path, exist_ok=True)
    tmp = os.path.join(index_path, "_meta.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1, default=str)
    os.replace(tmp, os.path.join(index_path, "meta.json"))


def index_groups(meta: dict) -> list[int]:
    return list(meta.get("groups", range(meta["n_groups"])))


def _write_dictionary(spark: SparkSession, index_path: str,
                      groups: list[int], n_buckets: int) -> None:
    """Aggregate the per-(term, seg, block) metadata rows of the given
    groups into the dictionary. Column pruning keeps this off the
    compressed payloads — the scan reads the five stat columns only."""
    dic = (postings_df(spark, index_path, groups).groupBy("term")
           .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("cf"),
                F.count(F.lit(1)).alias("n_blocks"),
                F.max("block_max_wand").alias("max_wand"),
                F.max("bucket").alias("bucket"))
           .repartition(n_buckets, "bucket"))
    catalog.create_or_replace(dic, index_path, "dictionary",
                              manifest={"stage": "dictionary"},
                              partition_by=["bucket"])


def append_index_group(spark: SparkSession, docs: DataFrame, index_path: str,
                       key_cols: Iterable[str] = ("repo", "path", "commit"),
                       id_col: str | None = None,
                       text_col: str = "content",
                       carry_cols: Iterable[str] | None = None) -> dict:
    """Incremental ingest: add ``docs`` to an existing index as one new
    LSM group (the reference's streaming role — entities flow INTO the
    fulltext index, ``ElasticSearchWriterTask.java:40-82`` — restated
    as log-structured group commits instead of ES bulk requests).

    Semantics and exactness:
    - doc ids must be NEW (log-structured add; replacing an id is
      compaction's job — same as appending to any LSM level);
    - scores stay EXACT after an append: per-posting tf/dl are stored
      exactly and BM25 is evaluated at query time with the CURRENT
      n_docs/avgdl/df, so scoreall needs nothing else;
    - the stored pruning bounds (block_max_wand, dictionary max_wand)
      were computed under each group's build-time avgdl; a larger
      current avgdl raises true scores, so meta carries
      ``wand_slack = max_g max(1, avgdl_now / avgdl_built_g)`` and the
      query side multiplies every upper bound by it — bounds remain
      valid upper bounds (w is monotone in avgdl with ratio bounded by
      avgdl_new/avgdl_old), pruning stays exact, merely looser;
    - each append commits atomically: new docstats slice dir, new
      postings group dir, dictionary rebuild (metadata columns only),
      then the meta swap — a reader sees the old or the new index.
    """
    meta = load_meta(index_path)
    cfg = EngineConfig(
        k1=meta["k1"], b=meta["b"], analyzer=meta["analyzer"],
        min_token_len=meta.get("min_token_len", 1),
        max_token_len=meta.get("max_token_len", 64),
        n_segments=meta["n_segments"], n_buckets=meta["n_buckets"],
        block_size=meta["block_size"],
        store_positions=meta.get("positions", True))
    groups = index_groups(meta)
    g = (max(groups) + 1) if groups else 0

    base = (docs.withColumn("doc_id", F.col(id_col).cast("long"))
            if id_col else add_doc_ids(docs, key_cols))
    base = base.withColumn("seg", _seg_col(cfg.n_segments))
    carry = list(carry_cols) if carry_cols is not None else [
        c for c in docs.columns if c not in (text_col, id_col)]
    ds = base.select(
        "doc_id", "seg", F.lit(g).cast("int").alias("grp"),
        _tokens_col(text_col, cfg).alias("tokens"),
        F.sha2(F.col(text_col), 256).alias("content_sha"),
        *[F.col(c) for c in carry]) \
        .withColumn("dl", F.size("tokens"))
    catalog.add_partition(ds, index_path, "docstats", "grp", f"grp={g}")

    docstats = catalog.read_table(spark, index_path, "docstats")
    stats = docstats.agg(F.count(F.lit(1)).alias("n"),
                         F.avg("dl").alias("avgdl")).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 1.0)

    t = time.time()
    part = (docstats.filter(F.col("grp") == g)
            .select("doc_id", "dl", "tokens")
            .coalesce(spark.sparkContext.defaultParallelism))
    seg_postings = (part.mapInPandas(
                        _spimi_map_builder(cfg, avgdl, 0, 1, seg_base=g << 40),
                        POSTING_SCHEMA)
                    .repartition(cfg.n_buckets, "bucket"))
    man = catalog.create_or_replace(
        seg_postings, index_path, f"postings/group={g}",
        manifest={"stage": "postings", "group": g, "append": True,
                  "avgdl": avgdl, "n_docs": n_docs,
                  "wall_s": time.time() - t},
        partition_by=["bucket"])

    groups = groups + [g]
    _write_dictionary(spark, index_path, groups, cfg.n_buckets)

    # per-group build-time avgdl from the group manifests
    slack = 1.0
    for gg in groups:
        gman = catalog.read_manifest(index_path, f"postings/group={gg}")
        if int(gman.get("n_docs", 0)) == 0:
            continue  # empty group: no bounds to protect
        built = float(gman.get("avgdl", avgdl)) or 1.0
        slack = max(slack, avgdl / built)
    meta.update({"n_docs": n_docs, "avgdl": avgdl, "groups": groups,
                 "wand_slack": slack})
    meta["lineage"] = meta.get("lineage", []) + [man]
    meta.setdefault("metrics", []).append(
        {"stage": f"append:g{g}", "wall_s": time.time() - t})
    _write_meta(index_path, meta)
    return meta


def delete_docs(spark: SparkSession, index_path: str,
                doc_ids) -> int:
    """Logical delete from the INDEX (reference analog: ES doc delete,
    ``EntityDao.java:269-280``, with Lucene's pre-merge semantics):
    ids land in a tombstones table and every query path excludes them
    immediately (broadcast anti-join against decoded postings — the
    tombstone set is small by construction), while corpus statistics
    (n_docs, avgdl, df) keep counting them until a rebuild — exactly
    how Lucene scores around deleted-but-unmerged docs. Returns the
    total tombstone count. Accepts a sequence of ids or a DataFrame
    with a ``doc_id`` column."""
    if isinstance(doc_ids, DataFrame):
        new = doc_ids.select(F.col("doc_id").cast("long"))
    else:
        # an Arrow-backed frame: a row-list createDataFrame would run
        # its first job through a Python worker
        new = spark.createDataFrame(pd.DataFrame({"doc_id": np.fromiter(
            (int(d) for d in doc_ids), np.int64)}))
    if catalog.table_exists(index_path, "tombstones"):
        old = catalog.read_table(spark, index_path, "tombstones")
        new = old.unionByName(new)
    # the count is the written file's footer row count (no count job)
    n = catalog.create_or_replace(new.distinct().coalesce(1), index_path,
                                  "tombstones",
                                  manifest={"stage": "tombstones"},
                                  count_key="n")["n"]
    meta = load_meta(index_path)
    meta["tombstones_n"] = n
    _write_meta(index_path, meta)
    return n


def tombstones_df(spark: SparkSession, index_path: str,
                  meta: dict | None = None) -> DataFrame | None:
    meta = meta if meta is not None else load_meta(index_path)
    if not meta.get("tombstones_n"):
        return None
    return catalog.read_table(spark, index_path, "tombstones")


def tombstone_ids(index_path: str, meta: dict) -> np.ndarray | None:
    """The tombstoned doc ids as a sorted int64 array, read on the
    driver with pyarrow (no Spark job); None without tombstones. The
    one driver-side tombstone reader: driver-local serving, the Spark
    top-k kernel and purge's exact path all take their dead set here."""
    if not meta.get("tombstones_n"):
        return None
    import pyarrow.dataset as pds

    files = sorted(glob.glob(
        os.path.join(index_path, "tombstones", "*.parquet")))
    if not files:
        return None
    arr = (pds.dataset(files, format="parquet")
           .to_table(columns=["doc_id"])["doc_id"].to_numpy())
    return np.sort(arr.astype(np.int64))


def load_meta(index_path: str) -> dict:
    with open(os.path.join(index_path, "meta.json")) as f:
        return json.load(f)


def postings_df(spark: SparkSession, index_path: str,
                groups: list[int] | None = None) -> DataFrame:
    """The posting rows of ``groups`` (default: the live ones, meta's
    ``groups``) with their ``group`` column: the one posting reader."""
    if groups is None:
        groups = index_groups(load_meta(index_path))
    schema = POSTING_SCHEMA + ", group int"
    if not groups:
        # a zero-group shell index; Spark refuses a zero-path read
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema) \
        .option("basePath", os.path.join(index_path, "postings")) \
        .parquet(*[os.path.join(index_path, f"postings/group={g}")
                   for g in groups])


def index_stats(spark: SparkSession, index_path: str) -> DataFrame:
    """ES ``GET <index>/_stats`` / ``_cat/indices`` analog: one row of
    collection-level statistics, every corpus-derived number taken from
    the DICTIONARY (the tiny per-term metadata table), never from the
    compressed postings payloads or the doc-store.

    - ``n_docs``/``avgdl_x1e4`` come from the build manifest (meta.json),
    - ``n_terms`` = dictionary cardinality (distinct terms),
    - ``total_tokens`` = sum(cf)  — every token the analyzer emitted,
    - ``sum_df`` = sum(df)        — total (term, doc) postings,
    - ``n_blocks`` = posting blocks (the WAND skip-list grain),
    - ``tombstones`` = docs deleted-but-unmerged (ES's docs.deleted).

    Like ES, stats reflect the PHYSICAL index: tombstoned docs stay in
    cf/df until a merge rewrites the postings. The identities
    ``total_tokens == sum over docs of dl`` and ``avgdl == total_tokens
    / n_docs`` tie the dictionary to the raw corpus — the driver oracle
    recomputes both sides from the documents table in SQL, so a drift
    anywhere in tokenize/SPIMI/merge breaks the row."""
    meta = load_meta(index_path)
    dic = dictionary_df(spark, index_path)
    return dic.agg(
        F.lit(int(meta["n_docs"])).cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("cf").alias("total_tokens"),
        F.sum("df").alias("sum_df"),
        F.sum("n_blocks").alias("n_blocks"),
        F.floor(F.sum("cf") / F.lit(int(meta["n_docs"])) * 10000.0 + 0.5)
         .alias("avgdl_x1e4"),
        F.lit(int(meta.get("tombstones_n") or 0)).cast("long")
         .alias("tombstones"),
    )
