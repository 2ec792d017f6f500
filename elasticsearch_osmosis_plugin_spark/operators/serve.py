"""Driver-local serving path for interactive top-k queries.

Elasticsearch serves searches from open segment readers on the data
node — it never launches a cluster job per query. The analogous split
here: Spark relations remain the BULK path (index builds, analytics,
batched multi-query scoring), while this module answers a single
interactive query by reading the SAME index layout — dictionary and
posting buckets, hive-partitioned parquet — directly through pyarrow
on the driver, decoding with the same numpy varbyte kernels, and
scoring with the same BM25 arithmetic. No Spark job, no scheduler
round-trip: the ~0.4 s fixed per-job latency of the distributed path
drops to single-digit milliseconds for dictionary-pruned reads.

Rank identity with the distributed scoreall path is pinned by tests
(build → append → delete → compact lifecycle); the local path refuses
(ValueError) anything it cannot answer bit-for-bit (post_filter,
boosts, minimum_should_match route to the Spark path).

Scale note: this is a SERVING optimization, not a bypass of the
execution model — the read is bounded by the query terms' buckets,
exactly the data a distributed task would read, just without a
cluster in the loop. Row-group statistics prune only when a bucket
file has several row groups: at Spark's default 128 MB parquet block a
bucket file is one row group, so a term read decompresses that file's
payload columns and the term filter applies after decode. Decoding is
batch-at-a-time: one varbyte pass per posting column per bucket read.
On a real deployment the index lives on shared storage (S3/HDFS);
pyarrow reads it the same way.
"""

from __future__ import annotations

import glob
import os
import threading
import time
from collections import OrderedDict

import numpy as np

from elasticsearch_osmosis_plugin_spark.functions.varbyte import (
    delta_decode_groups,
    vb_decode,
)
from elasticsearch_osmosis_plugin_spark.plans.build import (
    bucket_of,
    index_groups,
    load_meta,
)


class _LRU:
    """Tiny thread-safe LRU (the serving path is multi-threaded:
    concurrent ``Searcher.topk_local_many`` workers share this)."""

    def __init__(self, maxsize: int = 64):
        self.maxsize = maxsize
        self._d: OrderedDict = OrderedDict()
        self._lock = threading.Lock()
        self.hits = self.misses = 0

    def get(self, key):
        with self._lock:
            v = self._d.get(key)
            if v is None:
                self.misses += 1
            else:
                self.hits += 1
                self._d.move_to_end(key)
            return v

    def put(self, key, value) -> None:
        with self._lock:
            self._d[key] = value
            self._d.move_to_end(key)
            while len(self._d) > self.maxsize:
                self._d.popitem(last=False)

    def clear(self) -> None:
        with self._lock:
            self._d.clear()


# Shared dictionary-bucket frame cache: term stats for a WHOLE bucket
# load once (columnar, term-sorted for binary search) and every later
# query touching that bucket resolves its terms driver-locally in
# O(log n) — across queries, Searchers, and serving threads. Keys
# include each file's (mtime, size) signature, so an index mutation
# (append/purge/compact rewrites the bucket files) naturally misses
# and the stale frame ages out of the LRU; no explicit invalidation
# hook needed. Memory bound: maxsize frames × one bucket's term stats
# (~40 B/term) — for very large dictionaries shrink n_buckets' share
# by raising n_buckets at build time, or pass cache=None to fall back
# to the filtered row-group-pruned read.
dictionary_cache = _LRU(maxsize=64)


def _files_sig(files: list[str]) -> tuple:
    return tuple((f, os.stat(f).st_mtime_ns, os.path.getsize(f))
                 for f in files)


# Directory-listing cache: serving resolves each touched bucket with a
# glob (listdir + fnmatch) per call, which at 8-deep concurrency means
# dozens of directory scans per batch. POSIX bumps a directory's mtime
# whenever an entry is added/removed, so a listing validated by the
# dir's mtime_ns is exact for file-set changes; content rewrites of an
# EXISTING file are caught downstream by _files_sig (every consumer
# keys on it). One stat per bucket dir instead of a scan.
#
# Racy timestamps: on a filesystem with coarse mtimes an entry added
# within the same tick as the listing leaves the dir's mtime unchanged,
# so a listing is cached only once the dir's mtime is older than the
# coarsest common granularity (2 s, FAT); any later change then moves
# the mtime.
listing_cache = _LRU(maxsize=512)
_RACY_NS = 2_000_000_000


def _ls_parquet(d: str) -> list[str]:
    try:
        mt = os.stat(d).st_mtime_ns
    except OSError:
        return []
    hit = listing_cache.get(d)
    if hit is not None and hit[0] == mt:
        return hit[1]
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if time.time_ns() - mt > _RACY_NS:
        listing_cache.put(d, (mt, files))
    return files


def _load_dic_bucket(files: list[str]):
    """One dictionary bucket -> (sorted term array, df, cf, max_wand
    numpy columns) for binary-search term lookups. Sorted by Arrow
    (UTF-8 byte order == Python ``str`` order, so ``np.searchsorted``
    over the object array agrees); no per-term Python objects until
    the final term array."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pa.concat_tables([
        pq.ParquetFile(f).read(columns=["term", "df", "cf", "max_wand"],
                               use_threads=False)
        for f in files])
    tbl = tbl.take(pc.sort_indices(tbl["term"]))
    return (tbl["term"].to_numpy(zero_copy_only=False),
            tbl["df"].to_numpy(), tbl["cf"].to_numpy(),
            tbl["max_wand"].to_numpy())


def _posting_dirs(index_path: str, meta: dict) -> list[str]:
    """Live posting table dirs — mirrors plans.build.postings_df's
    merged + fresh-groups read path (compact → append → query must see
    appended docs)."""
    import json

    base = os.path.join(index_path, "postings")
    groups = index_groups(meta)
    merged_dir = os.path.join(index_path, "postings_merged")
    if meta.get("merged") and os.path.exists(
            os.path.join(merged_dir, "_MANIFEST.json")):
        covered = meta.get("merged_groups")
        if covered is None:
            with open(os.path.join(merged_dir, "_MANIFEST.json")) as f:
                n = int(json.load(f).get("merged_groups", len(groups)))
            covered = groups[:n]
        extra = [g for g in groups if g not in set(covered)]
        return [merged_dir] + [os.path.join(base, f"group={g}")
                               for g in extra]
    return [os.path.join(base, f"group={g}") for g in groups]


def _bucket_files(dirs: list[str], bucket: int) -> list[str]:
    out = []
    for d in dirs:
        out.extend(_ls_parquet(os.path.join(d, f"bucket={bucket}")))
    return out


def _read_filtered(files: list[str], columns: list[str],
                   terms: list[str]):
    """Read parquet files with a term-IN filter; the posting layout is
    sortWithinPartitions(term, ...) so row-group statistics prune
    whole runs before any page decodes."""
    import pyarrow.dataset as pds

    if not files:
        return None
    dset = pds.dataset(files, format="parquet")
    return dset.to_table(columns=columns,
                         filter=pds.field("term").isin(terms))


def local_dictionary_rows(index_path: str, meta: dict,
                          terms: list[str],
                          cache: _LRU | None = dictionary_cache
                          ) -> dict[str, dict]:
    """term -> {df, cf, max_wand} via the shared LRU of dictionary
    bucket frames (default), falling back to a driver-local pruned
    filtered read when ``cache=None``."""
    dic_dir = os.path.join(index_path, "dictionary")
    by_bucket: dict[int, list[str]] = {}
    for t in terms:
        by_bucket.setdefault(bucket_of(t, meta["n_buckets"]), []).append(t)
    out: dict[str, dict] = {}
    for b, ts in sorted(by_bucket.items()):
        files = _ls_parquet(os.path.join(dic_dir, f"bucket={b}"))
        if not files:
            continue
        if cache is not None:
            key = (dic_dir, b, _files_sig(files))
            frame = cache.get(key)
            if frame is None:
                frame = _load_dic_bucket(files)
                cache.put(key, frame)
            tv, dfv, cfv, mwv = frame
            pos = np.searchsorted(tv, ts)
            for t, i in zip(ts, pos):
                if i < tv.size and tv[i] == t:
                    out[t] = {"term": t, "df": int(dfv[i]),
                              "cf": int(cfv[i]),
                              "max_wand": float(mwv[i])}
            continue
        tbl = _read_filtered(files, ["term", "df", "cf", "max_wand"], ts)
        if tbl is None:
            continue
        for row in tbl.to_pylist():
            out[row["term"]] = row
    return out


def _tombstone_ids(index_path: str, meta: dict) -> np.ndarray | None:
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


class _ByteLRU:
    """Byte-budgeted thread-safe LRU for numpy payloads (decoded
    posting arrays, merge structures, weight vectors) — the analog of
    Lucene's filesystem cache / ES's shard request cache: the index
    layout on disk stays the source of truth, this only skips
    re-reading and recomputing hot terms. Eviction by total payload
    bytes, so the driver pin is bounded regardless of entry count or
    posting sizes."""

    def __init__(self, max_bytes: int = 256 << 20):
        self.max_bytes = max_bytes
        self._d: OrderedDict = OrderedDict()   # key -> (value, nbytes)
        self._lock = threading.Lock()
        self.bytes = 0
        self.hits = self.misses = 0

    def get(self, key):
        with self._lock:
            v = self._d.get(key)
            if v is None:
                self.misses += 1
                return None
            self.hits += 1
            self._d.move_to_end(key)
            return v[0]

    def put(self, key, value, nbytes: int) -> None:
        if nbytes > self.max_bytes:
            return                      # never cache a whale
        with self._lock:
            old = self._d.pop(key, None)
            if old is not None:
                self.bytes -= old[1]
            self._d[key] = (value, nbytes)
            self.bytes += nbytes
            while self.bytes > self.max_bytes and self._d:
                _, (_, nb) = self._d.popitem(last=False)
                self.bytes -= nb

    def clear(self) -> None:
        with self._lock:
            self._d.clear()
            self.bytes = 0


postings_cache = _ByteLRU(max_bytes=256 << 20)


def _decode_column(col) -> tuple[np.ndarray, np.ndarray]:
    """One ``vb_decode`` over every row of a pyarrow binary column
    (Array or ChunkedArray) -> (uint64 values of all rows in row
    order, int64 value count per row). Works on the array's int32
    offsets and value buffer in place (honouring a slice offset); a
    row's value count is its number of terminator bytes."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    _, obuf, vbuf = col.buffers()
    offs = np.frombuffer(obuf, dtype=np.int32)[
        col.offset:col.offset + len(col) + 1].astype(np.int64)
    data = np.frombuffer(vbuf, dtype=np.uint8)[offs[0]:offs[-1]]
    terms_before = np.zeros(data.size + 1, dtype=np.int64)
    np.cumsum(data >= 0x80, out=terms_before[1:])
    return vb_decode(data), np.diff(terms_before[offs - offs[0]])


def _gather_term_postings(index_path: str, meta: dict,
                          terms: list[str],
                          cache: _ByteLRU | None = postings_cache,
                          sigs_out: dict | None = None
                          ) -> dict[str, tuple]:
    """term -> (doc_ids int64, tf float64, dl float64), concatenated
    across every posting row (block/segment/group) of the term. One
    pruned parquet read per bucket covers ALL requested terms; decoded
    arrays go through the byte-budgeted LRU keyed on the bucket's file
    signature (an index rewrite changes the signature, so stale
    entries age out untouched). Scores are NOT cached — BM25 weights
    depend on meta (n_docs/avgdl), which each caller applies from its
    own snapshot.

    ``sigs_out``: optional dict populated with term -> the bucket file
    signature the term's arrays came from — the invalidation token the
    merge-structure cache keys on (see ``_score_from_postings``)."""
    dirs = _posting_dirs(index_path, meta)
    by_bucket: dict[int, list[str]] = {}
    for t in terms:
        by_bucket.setdefault(bucket_of(t, meta["n_buckets"]), []).append(t)
    out: dict[str, tuple] = {}
    for bkt, ts in sorted(by_bucket.items()):
        files = _bucket_files(dirs, bkt)
        if not files:
            continue
        missing = ts
        sig = None
        if cache is not None:
            sig = _files_sig(files)
            if sigs_out is not None:
                for t in ts:
                    sigs_out[t] = sig
            missing = []
            for t in ts:
                v = cache.get((sig, t))
                if v is not None:
                    out[t] = v
                else:
                    missing.append(t)
        if not missing:
            continue
        tbl = _read_filtered(
            files, ["term", "doc_ids_vb", "tfs_vb", "dls_vb"], missing)
        if tbl is None or tbl.num_rows == 0:
            continue
        # one decode per column for the whole read; each row's doc ids
        # restart from an absolute value (delta-encoded per row)
        deltas, n = _decode_column(tbl["doc_ids_vb"])
        first = np.cumsum(n) - n
        ids = delta_decode_groups(deltas, first[n > 0]).astype(np.int64)
        tfs = _decode_column(tbl["tfs_vb"])[0].astype(np.float64)
        dls = _decode_column(tbl["dls_vb"])[0].astype(np.float64)
        row_terms = tbl["term"].to_numpy(zero_copy_only=False)
        for term in dict.fromkeys(row_terms):
            # the term's rows in table order (file, then row), values
            # concatenated in that order — the order every accumulate
            # sums in
            rows = np.flatnonzero(row_terms == term)
            lens = n[rows]
            take = (np.repeat(first[rows] - (np.cumsum(lens) - lens), lens)
                    + np.arange(lens.sum()))
            v = (ids[take], tfs[take], dls[take])
            out[term] = v
            if cache is not None:
                cache.put((sig, term), v, sum(a.nbytes for a in v))
    return out


# Merge-structure cache: the (unique doc_id array, inverse index)
# pair a query's accumulate runs over depends only on the ORDERED set
# of live terms and each term's posting bytes — not on scores, k, or
# tombstones. Keyed on (term order, per-term bucket file signatures),
# so any index mutation (append/purge/compact rewrites the bucket
# files) changes the signature and the stale structure ages out, same
# invalidation discipline as dictionary_cache / postings_cache. This
# is the serving hot path's biggest CPU item (np.unique is an
# O(n log n) sort per call) and the cached pair is exact — the
# accumulate still runs per call with identical operand order, so
# scores stay bit-for-bit equal to the uncached path.
merge_cache = _ByteLRU(max_bytes=64 << 20)

# Per-term BM25 weight vectors: w = idf * tf * (k1+1) / (tf + k1 *
# (1 - b + b * dl/avgdl)) depends only on the term's posting bytes
# (signature) and the scoring snapshot (n_docs, avgdl, k1, b, df) —
# all in the key, so an index mutation OR a meta change (append moves
# avgdl/n_docs) misses and recomputes. The cached vector is the exact
# array the uncached path builds (same inputs, same expression).
weight_cache = _ByteLRU(max_bytes=64 << 20)


def _topk_order(uids: np.ndarray, scores: np.ndarray,
                k: int) -> np.ndarray:
    """Deterministic (score desc, doc_id asc) top-k WITHOUT sorting
    the full array: select the k-th score by partition (O(n)), keep
    every doc at-or-above it (ties included, so the doc_id tie-break
    stays exact), lexsort only the candidates. Identical output to
    ``np.lexsort((uids, -scores))[:k]``."""
    if k <= 0:
        return np.empty(0, dtype=np.intp)
    if uids.size <= k:
        return np.lexsort((uids, -scores))
    part = np.argpartition(-scores, k - 1)[:k]
    thresh = scores[part].min()
    cand = np.flatnonzero(scores >= thresh)
    return cand[np.lexsort((uids[cand], -scores[cand]))][:k]


def _score_from_postings(live: list[str], posts: dict[str, tuple],
                         dic_rows: dict[str, dict], meta: dict,
                         dead: np.ndarray | None, k: int,
                         sigs: dict | None = None
                         ) -> list[tuple[int, float]]:
    """BM25 accumulate + tombstone mask + deterministic top-k over
    pre-gathered per-term postings — identical arithmetic to
    query._decode_score. ``sigs``: term -> posting bucket signature
    (from ``_gather_term_postings``); when present the doc-id merge
    structure comes from / lands in ``merge_cache``."""
    from elasticsearch_osmosis_plugin_spark.operators.query import idf

    k1, b, avgdl = meta["k1"], meta["b"], float(meta["avgdl"])
    n_docs = int(meta["n_docs"])
    ids_parts, w_parts, terms_used = [], [], []
    for term in dict.fromkeys(live):    # dedupe: one clause per term
        got = posts.get(term)
        if got is None:
            continue
        d, tf, dl = got
        df_t = int(dic_rows[term]["df"])
        wkey = None
        w = None
        if sigs is not None and term in sigs:
            wkey = (term, sigs[term], n_docs, avgdl, k1, b, df_t)
            hit_w = weight_cache.get(wkey)
            if hit_w is not None and hit_w.size == tf.size:
                w = hit_w
        if w is None:
            w = idf(n_docs, df_t) * tf * (k1 + 1.0) \
                / (tf + k1 * (1.0 - b + b * dl / avgdl))
            if wkey is not None:
                weight_cache.put(wkey, w, w.nbytes)
        ids_parts.append(d)
        w_parts.append(w)
        terms_used.append(term)
    if not ids_parts:
        return []
    all_w = np.concatenate(w_parts)
    key = None
    if sigs is not None and all(t in sigs for t in terms_used):
        key = (tuple(terms_used), tuple(sigs[t] for t in terms_used))
        hit = merge_cache.get(key)
    else:
        hit = None
    if hit is not None and hit[2] == all_w.size:
        uids, inv = hit[0], hit[1]
    else:
        all_ids = np.concatenate(ids_parts)
        uids, inv = np.unique(all_ids, return_inverse=True)
        if key is not None:
            merge_cache.put(key, (uids, inv, all_ids.size),
                            uids.nbytes + inv.nbytes)
    scores = np.zeros(uids.size, dtype=np.float64)
    np.add.at(scores, inv, all_w)
    if dead is not None and dead.size:
        pos = np.searchsorted(dead, uids)
        hit_d = (pos < dead.size) & (dead[np.minimum(pos, dead.size - 1)]
                                     == uids)
        uids, scores = uids[~hit_d], scores[~hit_d]
    order = _topk_order(uids, scores, k)
    return [(int(uids[i]), float(scores[i])) for i in order]


def local_topk(index_path: str, query_terms: list[str], k: int = 10,
               meta: dict | None = None,
               dic_rows: dict[str, dict] | None = None
               ) -> list[tuple[int, float]]:
    """Driver-local BM25 top-k: returns [(doc_id, score)] in the same
    deterministic (score desc, doc_id asc) order as the distributed
    scoreall path. ``dic_rows``: optional pre-fetched dictionary rows
    (a Searcher's local memo)."""
    meta = meta if meta is not None else load_meta(index_path)
    if dic_rows is None:
        dic_rows = local_dictionary_rows(index_path, meta, query_terms)
    live = [t for t in query_terms if t in dic_rows]
    if not live:
        return []
    sigs: dict = {}
    posts = _gather_term_postings(index_path, meta, live, sigs_out=sigs)
    dead = _tombstone_ids(index_path, meta)
    return _score_from_postings(live, posts, dic_rows, meta, dead, k,
                                sigs=sigs)


def local_topk_many(index_path: str,
                    term_lists: dict[str, list[str]], k: int = 10,
                    meta: dict | None = None,
                    dic_rows: dict[str, dict] | None = None
                    ) -> dict[str, list[tuple[int, float]]]:
    """Batched concurrent serving: N queries answered from ONE pruned
    read per touched bucket (dictionary and postings) — the local
    analog of the Spark path's ``topk_many``. Per-query results are
    exactly ``local_topk``'s; per-query latency under an 8-deep
    concurrent load stays within ~the solo number because the reads
    amortize instead of contending (a thread pool here would just
    serialize the GIL-bound python between the arrow reads)."""
    meta = meta if meta is not None else load_meta(index_path)
    all_terms = sorted({t for ts in term_lists.values() for t in ts})
    if dic_rows is None:
        dic_rows = local_dictionary_rows(index_path, meta, all_terms)
    live_union = [t for t in all_terms if t in dic_rows]
    sigs: dict = {}
    posts = _gather_term_postings(index_path, meta, live_union,
                                  sigs_out=sigs)
    dead = _tombstone_ids(index_path, meta)
    out = {}
    for name, terms in term_lists.items():
        live = [t for t in terms if t in dic_rows]
        out[name] = _score_from_postings(live, posts, dic_rows, meta,
                                         dead, k, sigs=sigs) if live else []
    return out
