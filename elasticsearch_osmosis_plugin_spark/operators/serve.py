"""Driver-local serving path for interactive top-k queries.

Elasticsearch serves searches from open segment readers on the data
node — it never launches a cluster job per query. The analogous split
here: Spark relations remain the BULK path (index builds, analytics,
batched multi-query scoring), while this module answers a single
interactive query by reading the SAME index layout — the query
terms' posting buckets, hive-partitioned parquet — directly through
pyarrow on the driver, decoding with the same numpy varbyte kernels,
and scoring with the same BM25 arithmetic. The dictionary is never
read: a term's df is its gathered posting count (a term's blocks and
groups hold disjoint docs, and ``plans.merge.verify_index`` checks
dictionary df == posting count). No Spark job, no scheduler
round-trip: the ~0.4 s fixed per-job latency of the distributed path
drops to single-digit milliseconds for bucket-pruned reads.

The accumulate, tombstone mask and top-k (:func:`accumulate_topk`)
are the ones the Spark path's per-segment kernel runs, so the two paths
return the same ids and bit-equal scores, pinned by tests across the
build → append → delete → compact → purge lifecycle; the local path
refuses (ValueError) anything it cannot answer bit-for-bit
(post_filter, boosts, minimum_should_match route to the Spark path).

Scale note: this is a SERVING optimization, not a bypass of the
execution model — the read is bounded by the query terms' buckets,
exactly the data a distributed task would read, just without a
cluster in the loop. Row-group statistics prune only when a bucket
file has several row groups: at Spark's default 128 MB parquet block a
bucket file is one row group, so a term read decompresses that file's
payload columns and the term filter applies after decode. Decoding is
batch-at-a-time through ``functions.varbyte.decode_rows``, the one
posting decoder the Spark kernels and merge use too: one varbyte pass
per posting column per bucket read.
On a real deployment the index lives on shared storage (S3/HDFS);
pyarrow reads it the same way.
"""

from __future__ import annotations

import glob
import os
import sys
import threading
import time
from collections import OrderedDict

import numpy as np

from elasticsearch_osmosis_plugin_spark.functions.varbyte import (
    decode_doc_ids,
    decode_rows,
)
from elasticsearch_osmosis_plugin_spark.plans.build import (
    bucket_of,
    index_groups,
    load_meta,
    # serving calls the one driver-side tombstone reader under this
    # module-level name, so a tracer that wraps
    # ``serve._tombstone_ids`` still sees every serving read
    tombstone_ids as _tombstone_ids,
)


class _ByteLRU:
    """Byte-budgeted thread-safe LRU — the one cache structure on the
    driver (decoded posting arrays, bucket term sets, merge
    structures, weight vectors, directory listings). The analog
    of Lucene's filesystem cache / ES's shard request cache: the index
    layout on disk stays the source of truth, this only skips
    re-reading and recomputing hot entries. Each entry is charged its
    payload bytes plus ``ENTRY_BYTES``, so no entry is free and the
    driver pin is bounded regardless of entry count or size. The
    serving path is multi-threaded (concurrent
    ``Searcher.topk_local_many`` workers share these caches)."""

    def __init__(self, max_bytes: int):
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
        nbytes += ENTRY_BYTES
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


# Per-entry charge on top of the payload: the key, the (value, nbytes)
# slot and the dict entry. An unbounded stream of tiny entries (absent
# terms, short listings) still evicts.
ENTRY_BYTES = 128


def _pysize(*objs) -> int:
    """Heap bytes of plain Python values (str/int/float, nested in
    tuples, lists and frozensets) — the payload charge of a cache entry
    that holds Python objects rather than arrays."""
    return sum(sys.getsizeof(o) + (_pysize(*o) if isinstance(
        o, (tuple, list, frozenset)) else 0) for o in objs)


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
# the mtime. Entries are charged their Python object bytes (about 2 KB
# for 8 file paths); the budget holds 512 such listings.
listing_cache = _ByteLRU(max_bytes=1 << 20)
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
        listing_cache.put(d, (mt, files), _pysize(d, (mt, files)))
    return files


def _posting_dirs(index_path: str, meta: dict) -> list[str]:
    """The dirs of the posting groups meta lists."""
    return [os.path.join(index_path, "postings", f"group={g}")
            for g in index_groups(meta)]


def _bucket_files(dirs: list[str], *buckets: int) -> list[str]:
    return [f for d in dirs for b in buckets
            for f in _ls_parquet(os.path.join(d, f"bucket={b}"))]


def _read_filtered(files: list[str], columns: list[str],
                   terms: list[str]):
    """Read parquet files with a term-IN filter (row-group statistics
    prune only files with several row groups; see the module note)."""
    import pyarrow.dataset as pds

    dset = pds.dataset(files, format="parquet")
    return dset.to_table(columns=columns,
                         filter=pds.field("term").isin(terms))


postings_cache = _ByteLRU(max_bytes=256 << 20)

# A requested term its bucket does not hold: cached like any other
# term, so a repeated unknown term is one cache hit, not a read.
_NO_POSTINGS = (np.empty(0, dtype=np.int64), np.empty(0), np.empty(0))

# A posting bucket's distinct terms (a frozenset), keyed on the
# bucket's file signature and loaded the first time a read there misses
# a requested term. Later new unknown terms in that bucket (typos,
# terms of another index) are then settled by a set lookup, not by a
# bucket read.
vocab_cache = _ByteLRU(max_bytes=64 << 20)


def _gather_term_postings(index_path: str, meta: dict,
                          terms: list[str],
                          cache: _ByteLRU | None = postings_cache,
                          sigs_out: dict | None = None
                          ) -> dict[str, tuple]:
    """term -> (doc_ids int64, tf float64, dl float64), concatenated
    across every posting row (block/segment/group) of the term, for
    the requested terms that have postings. The array size is the
    term's df. One pruned parquet read per bucket covers ALL requested
    terms; decoded arrays, and the absence of a term, go through the
    byte-budgeted LRU keyed on the bucket's file signature (an index
    rewrite changes the signature, so stale entries age out
    untouched). A bucket's term set (``vocab_cache``) settles new
    absent terms without a read. Scores are NOT cached — BM25 weights
    depend on meta (n_docs/avgdl), which each caller applies from its
    own snapshot.

    ``sigs_out``: optional dict populated with term -> the bucket file
    signature the term's arrays came from — the invalidation token the
    merge-structure cache keys on (see ``_score_from_postings``)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pds

    dirs = _posting_dirs(index_path, meta)
    by_bucket: dict[int, list[str]] = {}
    for t in terms:
        by_bucket.setdefault(bucket_of(t, meta["n_buckets"]), []).append(t)
    out: dict[str, tuple] = {}
    for bkt, ts in sorted(by_bucket.items()):
        files = _bucket_files(dirs, bkt)
        if not files:
            continue
        missing, sig, vocab = ts, None, None
        if cache is not None:
            sig = _files_sig(files)
            if sigs_out is not None:
                for t in ts:
                    sigs_out[t] = sig
            missing = []
            for t in ts:
                v = cache.get((sig, t))
                if v is None:
                    missing.append(t)
                elif v[0].size:
                    out[t] = v
            vocab = vocab_cache.get(sig) if missing else None
        # read only terms the bucket holds
        held = missing if vocab is None else [t for t in missing
                                              if t in vocab]
        tbl = _read_filtered(
            files, ["term", "doc_ids_vb", "tfs_vb", "dls_vb"],
            held) if held else None
        if tbl is not None and tbl.num_rows:
            # one decode per column for the whole read
            ids, n = decode_doc_ids(tbl["doc_ids_vb"])
            first = np.cumsum(n) - n
            tfs = decode_rows(tbl["tfs_vb"])[0].astype(np.float64)
            dls = decode_rows(tbl["dls_vb"])[0].astype(np.float64)
            row_terms = tbl["term"].to_numpy(zero_copy_only=False)
            for term in dict.fromkeys(row_terms):
                # the term's rows in table order (file, then row),
                # values concatenated in that order — the order every
                # accumulate sums in
                rows = np.flatnonzero(row_terms == term)
                lens = n[rows]
                take = (np.repeat(first[rows] - (np.cumsum(lens) - lens),
                                  lens) + np.arange(lens.sum()))
                out[term] = (ids[take], tfs[take], dls[take])
        if cache is None:
            continue
        for t in missing:
            v = out.get(t, _NO_POSTINGS)
            cache.put((sig, t), v, sum(a.nbytes for a in v))
        if vocab is None and not out.keys() >= set(missing):
            vocab = frozenset(pc.unique(
                pds.dataset(files, format="parquet")
                .to_table(columns=["term"])["term"])
                .to_numpy(zero_copy_only=False))
            vocab_cache.put(sig, vocab, _pysize(vocab))
    return out


# Merge-structure cache: the (unique doc_id array, inverse index)
# pair a query's accumulate runs over depends only on the ORDERED set
# of live terms and each term's posting bytes — not on scores, k, or
# tombstones. Keyed on (term order, per-term bucket file signatures),
# so any index mutation (append/purge/compact rewrites the bucket
# files) changes the signature and the stale structure ages out, same
# invalidation discipline as postings_cache. This is the serving hot
# path's biggest CPU item (np.unique is an O(n log n) sort per call)
# and the cached pair is exact — the accumulate still runs per call
# with identical operand order, so scores stay bit-for-bit equal to
# the uncached path.
merge_cache = _ByteLRU(max_bytes=64 << 20)

# Per-term BM25 weight vectors: w = query.bm25_weight(idf, tf, dl)
# depends only on the term's posting bytes (signature, which also fixes
# df) and the scoring snapshot (n_docs, avgdl, k1, b) — all in the key,
# so an index mutation OR a meta change (append moves avgdl/n_docs)
# misses and recomputes. The cached vector is the exact array the
# uncached path builds (same inputs, same expression).
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


def accumulate_topk(ids: np.ndarray, w: np.ndarray,
                    dead: np.ndarray | None, k: int | None, *,
                    msm: int = 0, merged: tuple | None = None
                    ) -> tuple[np.ndarray, np.ndarray]:
    """The BM25 accumulate both query paths share (the Spark per-segment
    kernel and the driver-local scorer): per-doc sums of the posting
    weights ``w`` of doc ``ids``, tombstoned ids (sorted ``dead``)
    masked, docs matching fewer than ``msm`` terms dropped, then the
    deterministic (score desc, doc_id asc) top ``k`` — every doc, in
    that order, when ``k`` is None. Postings come in sorted-term order
    and the sum runs in posting order, so a doc's score adds its terms
    in one fixed order and both paths agree bit for bit. A term holds
    one posting per doc, so a doc's posting count is its matched-term
    count. ``merged``: a cached ``np.unique(ids, return_inverse=True)``.
    Returns (doc_ids, scores) in rank order."""
    uids, inv = merged if merged is not None else np.unique(
        ids, return_inverse=True)
    scores = np.bincount(inv, weights=w, minlength=uids.size)
    keep = None
    if dead is not None and dead.size:
        pos = np.searchsorted(dead, uids)
        keep = dead[np.minimum(pos, dead.size - 1)] != uids
    if msm > 0:
        enough = np.bincount(inv, minlength=uids.size) >= msm
        keep = enough if keep is None else keep & enough
    if keep is not None:
        uids, scores = uids[keep], scores[keep]
    order = _topk_order(uids, scores, uids.size if k is None else k)
    return uids[order], scores[order]


def _score_from_postings(terms: list[str], posts: dict[str, tuple],
                         meta: dict, dead: np.ndarray | None, k: int,
                         sigs: dict | None = None
                         ) -> list[tuple[int, float]]:
    """BM25 weights of pre-gathered per-term postings — the Spark
    kernels' weight, ``query.bm25_weight``, with each term's df its
    posting count — through :func:`accumulate_topk`. Terms absent from
    ``posts`` do not match. ``sigs``: term -> posting bucket signature
    (from ``_gather_term_postings``); when present the doc-id merge
    structure comes from / lands in ``merge_cache``."""
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        bm25_weight,
        idf,
    )

    k1, b, avgdl = meta["k1"], meta["b"], float(meta["avgdl"])
    n_docs = int(meta["n_docs"])
    ids_parts, w_parts, terms_used = [], [], []
    for term in dict.fromkeys(terms):   # dedupe: one clause per term
        got = posts.get(term)
        if got is None:
            continue
        d, tf, dl = got
        df_t = d.size
        wkey = None
        w = None
        if sigs is not None and term in sigs:
            wkey = (term, sigs[term], n_docs, avgdl, k1, b)
            hit_w = weight_cache.get(wkey)
            if hit_w is not None and hit_w.size == tf.size:
                w = hit_w
        if w is None:
            w = bm25_weight(idf(n_docs, df_t), tf, dl, k1, b, avgdl)
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
        merged = hit[0], hit[1]
    else:
        all_ids = np.concatenate(ids_parts)
        merged = np.unique(all_ids, return_inverse=True)
        if key is not None:
            merge_cache.put(key, (*merged, all_ids.size),
                            merged[0].nbytes + merged[1].nbytes)
    uids, scores = accumulate_topk(None, all_w, dead, k, merged=merged)
    return list(zip(uids.tolist(), scores.tolist()))


def local_topk(index_path: str, query_terms: list[str], k: int = 10,
               meta: dict | None = None) -> list[tuple[int, float]]:
    """Driver-local BM25 top-k: returns [(doc_id, score)] in the same
    deterministic (score desc, doc_id asc) order as the distributed
    scoreall path."""
    meta = meta if meta is not None else load_meta(index_path)
    sigs: dict = {}
    posts = _gather_term_postings(index_path, meta, query_terms,
                                  sigs_out=sigs)
    if not posts:
        return []
    dead = _tombstone_ids(index_path, meta)
    return _score_from_postings(query_terms, posts, meta, dead, k,
                                sigs=sigs)


def local_topk_many(index_path: str,
                    term_lists: dict[str, list[str]], k: int = 10,
                    meta: dict | None = None
                    ) -> dict[str, list[tuple[int, float]]]:
    """Batched concurrent serving: N queries answered from ONE pruned
    posting read per touched bucket — the local analog of the Spark
    path's ``topk_many``. Per-query results are exactly
    ``local_topk``'s; per-query latency under an 8-deep concurrent
    load stays within ~the solo number because the reads amortize
    instead of contending (a thread pool here would just serialize the
    GIL-bound python between the arrow reads)."""
    meta = meta if meta is not None else load_meta(index_path)
    all_terms = sorted({t for ts in term_lists.values() for t in ts})
    sigs: dict = {}
    posts = _gather_term_postings(index_path, meta, all_terms,
                                  sigs_out=sigs)
    dead = _tombstone_ids(index_path, meta)
    return {name: _score_from_postings(terms, posts, meta, dead, k,
                                       sigs=sigs)
            for name, terms in term_lists.items()}
