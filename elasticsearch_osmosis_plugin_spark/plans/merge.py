"""Log-structured merge of per-group posting segments (SURVEY M3).

The build and every append commit postings as groups
(``postings/group=g``, the LSM segments); meta's ``groups`` is the
commit point listing the live ones. Compaction folds the live groups
into ONE new group, ``max(groups) + 1``, and swaps meta to list only
it — the merge output is just another group, as in Lucene:

- one file per bucket (vs one per bucket per group); rows are not
  term-sorted inside it (Spark's planned write sorts each task's rows
  by the partition column, so a sort placed before it is dropped) —
  readers prune by bucket directory and filter by term,
- atomic swap via the catalog and meta (drop-first semantics, A18),
  queries see old or new, never both. The folded dirs stay on disk
  for readers of the old meta until ``purge_deletes`` or
  ``drop_unmerged_groups`` reclaims them.

Posting payloads are immutable (disjoint doc sets per (term, seg)) so
the merge is a pure re-layout — no decode/re-encode needed; that's the
benefit of segment-local posting construction.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid

from pyspark.sql import SparkSession, functions as F

from elasticsearch_osmosis_plugin_spark.plans import catalog
from elasticsearch_osmosis_plugin_spark.plans.build import (
    POSTING_SCHEMA,
    _write_dictionary,
    _write_meta,
    dictionary_df,
    index_groups,
    load_meta,
    postings_df,
    tombstone_ids,
    tombstones_df,
    wand_weight,
)


def compact_index(spark: SparkSession, index_path: str) -> dict:
    """Fold the live posting groups into one new group,
    ``postings/group=<max(groups) + 1>``, and swap meta to list only
    it. Its manifest keeps the smallest build-time avgdl of the folded
    non-empty groups, so the ``wand_slack`` a later append derives from
    it still bounds every folded block."""
    meta = load_meta(index_path)
    t0 = time.time()
    groups = index_groups(meta)
    g = max(groups, default=-1) + 1
    merged = (postings_df(spark, index_path, groups).drop("group")
              .repartition(meta["n_buckets"], "bucket"))
    built = [catalog.read_manifest(index_path, f"postings/group={x}")
             for x in groups]
    avgdl = min((float(m["avgdl"]) for m in built
                 if int(m.get("n_docs", 0))), default=float(meta["avgdl"]))
    # n_rows from the written files' footers: a merged.count() would
    # re-run the whole shuffle for a number the write already knows
    man = catalog.create_or_replace(
        merged, index_path, f"postings/group={g}",
        manifest={"stage": "merge", "group": g, "merged_groups": groups,
                  "n_docs": meta["n_docs"], "avgdl": avgdl,
                  "wall_s": time.time() - t0},
        partition_by=["bucket"], count_key="n_rows")
    meta["groups"] = [g]
    meta["metrics"].append({"stage": "merge", "wall_s": time.time() - t0,
                            "n_rows": man["n_rows"]})
    _write_meta(index_path, meta)
    return meta


def drop_term_vectors(spark: SparkSession, index_path: str) -> None:
    """Space reclaim: rewrite docstats without the analyzed ``tokens``
    column once no further (resumed) builds or derived stages need it.
    A later ``build_index(resume=True)`` re-tokenizes from source."""
    man = catalog.read_manifest(index_path, "docstats")
    ds = catalog.read_table(spark, index_path, "docstats").drop("tokens")
    man.pop("schema", None)
    man["term_vectors"] = False
    catalog.create_or_replace(ds, index_path, "docstats", manifest=man,
                              partition_by=["grp"])


_POSTING_COLS = [f.split()[0] for f in POSTING_SCHEMA.split(",")]
_BLOCK_KEY = ["bucket", "term", "seg", "block"]


def _purge_kernel(dead_bc, k1: float, b: float, avgdl_eff: float):
    """mapInArrow kernel: drop tombstoned docs from each posting block
    and recompute its stats/payloads, one Arrow batch of blocks at a
    time — no shuffle; blocks that lose every entry are dropped. Each
    payload column decodes once per batch, survivors re-encode with the
    group encoders (one group per block), and the per-block stats are
    ``reduceat``s. Bounds are recomputed under ``avgdl_eff`` = max(old,
    new avgdl), valid for readers of either meta snapshot (w is
    monotone in avgdl). A ``group`` column passes through (last) when
    the batch has one.

    ``dead_bc``: a Spark Broadcast of the SORTED int64 tombstone id
    array — torrent-distributed once per executor, never serialized
    into the task closure or the query plan, so the kernel scales to
    millions of tombstones (membership is one binary search per batch).
    ``None`` on the bloom path: each row then carries the exactly
    verified dead ids of ITS block (``dead_ids``, null when none), and
    the batch's dead set is their union — exact, because a row's list
    holds every tombstoned id present in that block."""
    import numpy as np
    import pyarrow as pa

    from elasticsearch_osmosis_plugin_spark.functions.varbyte import (
        decode_doc_ids,
        decode_rows,
        delta_encode_groups,
        vb_encode_groups,
    )

    def encode(values, starts):
        return pa.array(vb_encode_groups(values.astype(np.uint64), starts),
                        pa.binary())

    def fn(batches):
        for batch in batches:
            dead = (dead_bc.value if dead_bc is not None else
                    np.unique(batch.column("dead_ids").flatten().to_numpy()))
            ids, n = decode_doc_ids(batch.column("doc_ids_vb"))
            keep = (dead[np.minimum(np.searchsorted(dead, ids),
                                    dead.size - 1)] != ids
                    if dead.size else np.ones(ids.size, dtype=bool))
            kept_n = np.bincount(np.repeat(np.arange(n.size), n)[keep],
                                 minlength=n.size)
            live = np.flatnonzero(kept_n)
            if not live.size:
                continue
            tf = decode_rows(batch.column("tfs_vb"))[0].astype(np.int64)
            dl = decode_rows(batch.column("dls_vb"))[0].astype(np.int64)
            pos = decode_rows(batch.column("pos_vb"))[0]
            ids_k, tf_k, dl_k = ids[keep], tf[keep], dl[keep]
            starts = (np.cumsum(kept_n) - kept_n)[live]
            w = wand_weight(tf_k, dl_k, k1, b, avgdl_eff)
            if pos.size:
                # positions are delta-encoded per (term, doc) run, so a
                # kept doc's run re-encodes to the same values
                pos_vb = encode(pos[np.repeat(keep, tf)],
                                (np.cumsum(tf_k) - tf_k)[starts])
            else:
                pos_vb = pa.array([b""] * live.size, pa.binary())
            group = ["group"] if "group" in batch.schema.names else []
            yield pa.RecordBatch.from_arrays([
                *(batch.column(c).take(live) for c in _BLOCK_KEY),
                pa.array(kept_n[live].astype(np.int32)),
                pa.array(np.add.reduceat(tf_k, starts)),
                pa.array(np.maximum.reduceat(w, starts)),
                pa.array(ids_k[starts]),
                pa.array(ids_k[np.append(starts[1:], ids_k.size) - 1]),
                encode(delta_encode_groups(ids_k, starts), starts),
                encode(tf_k, starts), encode(dl_k, starts), pos_vb,
                *(batch.column(c).take(live) for c in group),
            ], names=_POSTING_COLS + group)
    return fn


# --------------------------------------------------- bloom-path purge
# Above `max_exact_broadcast` tombstones the exact sorted-array
# broadcast would pin O(deletes) * 8 B on the driver (8 GB at 1e9).
# The bloom path caps the driver structure at the (bounded) filter
# size: a fixed-size packed bitset built DISTRIBUTEDLY (per-word
# bit_or groupBy — the collect is <= n_bits/64 longs, never
# O(deletes)), broadcast once, probed per block in numpy; bloom-
# positive candidates are then verified EXACTLY by a semi-join against
# the tombstone relation and shipped back per block as an attached
# array — no false deletion is possible, the bloom only bounds how
# many candidates reach the join.

_MASK64 = (1 << 64) - 1


def _mix64(x, seed: int):
    """Vectorized splitmix64 — the same deterministic integer hash on
    the build (tombstone) and probe (posting) sides; pure uint64
    numpy, no Python per row."""
    import numpy as np

    z = x.astype(np.uint64) + np.uint64(
        ((seed + 1) * 0x9E3779B97F4A7C15) & _MASK64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _bloom_bits_for(n_dead: int, cap_bits: int = 1 << 30) -> int:
    """~16 bits/key (fpp ~ 0.24% at k=4), power of two, clamped to
    [2^20, cap]. At the cap the filter degrades gracefully: fpp rises,
    more candidates reach the exact-verify join, correctness holds."""
    want = max(1 << 20, 16 * max(1, n_dead))
    bits = 1 << (want - 1).bit_length()
    return min(bits, cap_bits)


def _bloom_words_build(tombs, n_bits: int, k: int = 4):
    """Distributed Bloom build over tombstone doc_ids -> packed int64
    word array. Each partition emits (word_index, mask) pairs
    (mapInPandas, numpy-vectorized), a map-side-combined groupBy
    bit_or's them, and the driver collects AT MOST n_bits/64 longs —
    the pin is the filter size, independent of the delete count."""
    import numpy as np
    import pandas as pd

    nb = np.uint64(n_bits)

    def emit(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(np.int64).astype(np.uint64)
            if not ids.size:
                continue
            idx = np.concatenate([_mix64(ids, i) % nb for i in range(k)])
            yield pd.DataFrame({
                "w": (idx >> np.uint64(6)).astype(np.int64),
                "m": (np.uint64(1) << (idx & np.uint64(63)))
                     .view(np.int64)})

    words_rows = (tombs.select(F.col("doc_id").cast("long"))
                  .mapInPandas(emit, "w long, m long")
                  .groupBy("w").agg(F.bit_or("m").alias("m")).collect())
    words = np.zeros(n_bits >> 6, dtype=np.int64)
    if words_rows:
        words[np.fromiter((r["w"] for r in words_rows), np.int64)] = \
            np.fromiter((r["m"] for r in words_rows), np.int64)
    return words


def _bloom_probe(words_u64, ids_u64, n_bits: int, k: int = 4):
    """might-contain mask for a uint64 id array (all k bits set)."""
    import numpy as np

    nb = np.uint64(n_bits)
    cand = np.ones(ids_u64.size, dtype=bool)
    for i in range(k):
        h = _mix64(ids_u64, i) % nb
        cand &= ((words_u64[h >> np.uint64(6)] >> (h & np.uint64(63)))
                 & np.uint64(1)).astype(bool)
        if not cand.any():
            break
    return cand


# seg ids are unique per group only, so a block key spanning several
# group tables carries ``group``
_CAND_KEY = _BLOCK_KEY + ["group"]
CAND_SCHEMA = ("bucket int, term string, seg long, block int, "
               "group int, cand long")


def _cand_kernel(bloom_bc, n_bits: int, k: int = 4):
    """mapInArrow: decode a batch's doc ids at once, keep the bloom-
    positive ones as (block key, candidate id) rows. Reads only the
    doc_ids_vb payload (no tf/dl/pos decode)."""
    import numpy as np
    import pyarrow as pa

    from elasticsearch_osmosis_plugin_spark.functions.varbyte import (
        decode_doc_ids,
    )

    def fn(batches):
        words = bloom_bc.value.view(np.uint64)
        for batch in batches:
            ids, n = decode_doc_ids(batch.column("doc_ids_vb"))
            cand = np.flatnonzero(
                _bloom_probe(words, ids.astype(np.uint64), n_bits, k))
            rows = np.repeat(np.arange(n.size), n)[cand]
            yield pa.RecordBatch.from_arrays(
                [batch.column(c).take(rows) for c in _CAND_KEY]
                + [pa.array(ids[cand])], names=_CAND_KEY + ["cand"])
    return fn


def purge_deletes(spark: SparkSession, index_path: str,
                  max_exact_broadcast: int = 10_000_000) -> dict:
    """Physically remove tombstoned docs (the Lucene expunge-deletes /
    forced-merge analog): rewrite the doc store without them, rewrite
    every posting block without their entries (batched kernel, no
    shuffle before it), rebuild the dictionary, recompute corpus stats,
    clear the tombstones. After this, df/avgdl/n_docs no longer count
    the deleted docs — queries score exactly as a fresh build over the
    live corpus.

    The postings of ALL groups are rewritten by one Spark job: one read
    of ``postings/`` carrying the ``group`` column, the kernel, one
    shuffle by bucket and one write partitioned by (group, bucket) —
    one file per bucket per group, as a per-group rewrite writes. Each
    ``postings/group=g`` then commits with its manifest by its own
    rename (a group that lost every row commits empty); meta swaps
    last, and bounds are computed under max(old, new) avgdl so a reader
    in the commit window never over-prunes.

    Tombstone shipment is threshold-switched on ``max_exact_broadcast``
    (the count is meta's ``tombstones_n``): up to that many dead ids,
    ONE sorted numpy array, read on the driver from the tombstone file
    (:func:`build.tombstone_ids`) and broadcast (exact, zero extra
    passes); above it, a capped-size Bloom broadcast + per-block exact
    verification via a semi-join against the tombstone relation — the
    driver pin is the filter size (<= 128 MiB at the 2^30-bit cap),
    independent of the delete count, and no false deletion is possible
    (the bloom only nominates candidates; the semi-join confirms them
    exactly)."""
    meta = load_meta(index_path)
    t0 = time.time()
    n_dead = int(meta.get("tombstones_n") or 0)
    if not n_dead:
        return meta
    tombs = catalog.read_table(spark, index_path, "tombstones").select(
        F.col("doc_id").cast("long"))
    # Distributed tombstone handling (no literal isin list in any
    # plan): the doc-store rewrite is a plain anti-join against the
    # tombstones DataFrame (broadcast by AQE while small, shuffle-join
    # when deletes have accumulated). For the per-block posting kernel
    # the shipment is threshold-switched: exact sorted-array broadcast
    # below ``max_exact_broadcast``, capped-size Bloom + per-block
    # exact verify above it (see the module comment at the bloom
    # section).
    use_bloom = n_dead > max_exact_broadcast
    dead_bc = bloom_bc = None
    if use_bloom:
        n_bits = _bloom_bits_for(n_dead)
        bloom_bc = spark.sparkContext.broadcast(
            _bloom_words_build(tombs, n_bits))
    else:
        dead_bc = spark.sparkContext.broadcast(
            tombstone_ids(index_path, meta))

    ds = catalog.read_table(spark, index_path, "docstats")
    ds_man = catalog.read_manifest(index_path, "docstats")
    live = ds.join(tombs, "doc_id", "left_anti")
    ds_man.pop("schema", None)
    catalog.create_or_replace(live, index_path, "docstats",
                              manifest=ds_man, partition_by=["grp"])
    docstats = catalog.read_table(spark, index_path, "docstats")
    stats = docstats.agg(F.count(F.lit(1)).alias("n"),
                         F.avg("dl").alias("avgdl")).collect()[0]
    n_docs, avgdl_new = int(stats["n"]), float(stats["avgdl"] or 1.0)
    avgdl_eff = max(float(meta["avgdl"]) * float(meta.get("wand_slack", 1.0)),
                    avgdl_new)

    groups = index_groups(meta)
    posts = postings_df(spark, index_path, groups)
    if use_bloom:
        # pass 1: bloom-nominate candidates per block — the scan reads
        # only the block key + doc_ids_vb (column pruning keeps tf/dl/
        # pos payloads on disk); pass 2 verifies them EXACTLY via a
        # semi-join against the tombstone relation, re-groups the
        # survivors per block and joins them back onto the posting
        # rows. Blocks with no verified dead id join to NULL and are
        # re-encoded unchanged.
        dead_per_block = (
            posts.select(*_CAND_KEY, "doc_ids_vb")
            .mapInArrow(_cand_kernel(bloom_bc, n_bits), CAND_SCHEMA)
            .join(tombs.select(F.col("doc_id").alias("cand")).distinct(),
                  "cand", "left_semi")
            .groupBy(*_CAND_KEY)
            .agg(F.collect_list("cand").alias("dead_ids")))
        posts = posts.join(dead_per_block, _CAND_KEY, "left")
    purged = (posts.mapInArrow(
                  _purge_kernel(dead_bc, meta["k1"], meta["b"], avgdl_eff),
                  POSTING_SCHEMA + ", group int")
              .repartition(meta["n_buckets"], "bucket"))
    manifests = {}
    for g in groups:
        gman = catalog.read_manifest(index_path, f"postings/group={g}")
        gman.pop("schema", None)
        gman.update({"avgdl": avgdl_eff, "n_docs": n_docs, "purged": True})
        manifests[g] = gman
    catalog.create_or_replace_each(purged, index_path, "postings", "group",
                                   manifests, partition_by=["bucket"])
    _write_dictionary(spark, index_path, groups, meta["n_buckets"])
    catalog.drop_table(index_path, "tombstones")
    meta.update({"n_docs": n_docs, "avgdl": avgdl_new,
                 "wand_slack": max(1.0, avgdl_new / avgdl_eff),
                 "tombstones_n": 0})
    meta.setdefault("metrics", []).append(
        {"stage": "purge", "n_purged": n_dead,
         "strategy": "bloom" if use_bloom else "exact",
         "wall_s": time.time() - t0})
    _write_meta(index_path, meta)
    drop_unmerged_groups(index_path)
    for bc in (dead_bc, bloom_bc):
        if bc is not None:
            bc.unpersist()
    return meta


def index_stats(spark: SparkSession, index_path: str) -> dict:
    """ES _stats API analog: one dict of index-level statistics.

    Everything except the posting-row count comes from manifests and
    metadata columns — no posting payload is ever decoded. Reference
    analog: the final accounting the plugin logs after a build
    (``IndexAdminService`` index-level introspection surface)."""
    meta = load_meta(index_path)
    dic = dictionary_df(spark, index_path)
    agg = dic.agg(
        F.countDistinct("term").alias("n_terms"),
        F.sum("df").alias("n_postings"),
        F.sum("cf").alias("n_tokens")).collect()[0]
    n_blocks = postings_df(spark, index_path).count()

    def _bytes(name: str) -> int:
        root = catalog.table_path(index_path, name)
        total = 0
        for dirp, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(dirp, f))
                         for f in files)
        return total

    groups = catalog.read_manifest(index_path, "docstats").get("n_groups")
    return {
        "n_docs": int(meta["n_docs"]),
        "n_deleted": int(meta.get("tombstones_n", 0) or 0),
        "n_terms": int(agg["n_terms"]),
        "n_postings": int(agg["n_postings"]),
        "n_tokens": int(agg["n_tokens"]),
        "n_blocks": int(n_blocks),
        "n_segments": int(meta.get("n_segments", 0)),
        "n_groups": int(groups) if groups is not None else None,
        "avgdl": float(meta["avgdl"]),
        "analyzer": meta["analyzer"],
        "positions": bool(meta.get("positions", False)),
        "bytes_postings": _bytes("postings"),
        "bytes_docstats": _bytes("docstats"),
        "bytes_dictionary": _bytes("dictionary"),
    }


def drop_unmerged_groups(index_path: str) -> None:
    """Space reclaim: delete every posting group dir meta does not list
    (the inputs of a compaction). Readers still holding an older meta
    must refresh."""
    live = set(_posting_tables(load_meta(index_path)))
    for d in glob.glob(os.path.join(index_path, "postings", "group=*")):
        name = f"postings/{os.path.basename(d)}"
        if name not in live:
            catalog.drop_table(index_path, name)


def _seg_doc_ids(batches):
    """Posting rows -> one (seg, doc_id) row per posting."""
    import numpy as np
    import pyarrow as pa

    from elasticsearch_osmosis_plugin_spark.functions.varbyte import (
        decode_doc_ids,
    )

    for batch in batches:
        ids, n = decode_doc_ids(batch.column("doc_ids_vb"))
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.repeat(batch.column("seg").to_numpy(), n)),
             pa.array(ids)], names=["seg", "doc_id"])


def verify_index(spark: SparkSession, index_path: str,
                 source_df=None, *, id_col: str = "doc_id",
                 text_col: str = "content") -> dict:
    """Index fsck: distributed integrity audit -> per-check dict
    ``{check: {"ok": bool, "mismatches"/"expected"/...}}``.

    Checks (each one Spark aggregation, no driver-side row loops —
    audit cost is one full scan of the structure being audited, the
    floor for any integrity pass):

    - ``structure``: the dictionary, the doc store and every posting
      group meta lists are committed;
    - ``meta_docs``: docstats row count == meta n_docs;
    - ``row_invariant`` (when ``source_df`` given): the stored
      content sha256 equals sha256 of the source table's text per doc
      id — the north-rule row invariant as a first-class engine API,
      not just a test;
    - ``dictionary``: per-term (df, cf) recomputed from a full decode
      of the posting payloads equals the dictionary metadata;
    - ``doc_lengths``: every decoded (doc_id, dl) pair agrees with
      the docstats doc store, and postings reference no unknown docs;
    - ``segments``: no live doc id has postings in two posting
      segments (``seg`` values) — the per-segment top-k of
      ``query.topk`` is exact only under this invariant;
    - ``tombstones``: tombstoned ids all exist in the doc store.
    """
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        live_docs,
        raw_postings,
    )

    meta = load_meta(index_path)
    ds = catalog.read_table(spark, index_path, "docstats")
    out: dict = {}

    # structure first: a missing committed table is corruption in its
    # own right, and the decode checks below cannot run without it
    expected = ["dictionary", "docstats"] + _posting_tables(meta)
    missing = [t for t in expected
               if not catalog.table_exists(index_path, t)]
    out["structure"] = {"ok": not missing, "missing": missing}

    n_ds = ds.count()
    out["meta_docs"] = {"ok": n_ds == int(meta["n_docs"]),
                        "docstats": n_ds, "meta": int(meta["n_docs"])}

    if source_df is not None:
        src = source_df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.sha2(F.col(text_col), 256).alias("_src_sha"))
        joined = ds.select("doc_id", "content_sha").join(src, "doc_id", "full")
        bad = joined.filter(
            F.col("content_sha").isNull() | F.col("_src_sha").isNull()
            | (F.col("content_sha") != F.col("_src_sha"))).count()
        out["row_invariant"] = {"ok": bad == 0, "mismatches": int(bad)}

    if missing:
        out["dictionary"] = {"ok": False, "mismatched_terms": None,
                             "skipped": "structure incomplete"}
        out["doc_lengths"] = {"ok": False, "mismatches": None,
                              "skipped": "structure incomplete"}
        out["segments"] = {"ok": False, "split_docs": None,
                           "skipped": "structure incomplete"}
        out["ok"] = False
        return out

    decoded = raw_postings(postings_df(spark, index_path)).persist()
    try:
        stats = (decoded.groupBy("term")
                 .agg(F.countDistinct("doc_id").alias("_df"),
                      F.sum("tf").alias("_cf")))
        dic = (dictionary_df(spark, index_path)
               .groupBy("term").agg(F.sum("df").alias("df"),
                                    F.sum("cf").alias("cf")))
        bad_terms = (dic.join(stats, "term", "full")
                     .filter((F.col("df").isNull()) | (F.col("_df").isNull())
                             | (F.col("df") != F.col("_df"))
                             | (F.col("cf") != F.col("_cf"))).count())
        out["dictionary"] = {"ok": bad_terms == 0,
                             "mismatched_terms": int(bad_terms)}

        pairs = decoded.select("doc_id", "dl").distinct()
        bad_dl = (pairs.join(ds.select("doc_id", "dl"), "doc_id", "left")
                  .filter(ds["dl"].isNull() | (pairs["dl"] != ds["dl"]))
                  .count())
        out["doc_lengths"] = {"ok": bad_dl == 0, "mismatches": int(bad_dl)}
    finally:
        decoded.unpersist()

    seg_docs = (postings_df(spark, index_path).select("seg", "doc_ids_vb")
                .mapInArrow(_seg_doc_ids, "seg long, doc_id long"))
    split = live_docs(spark, index_path,
                      seg_docs.distinct().groupBy("doc_id").count()
                      .filter(F.col("count") > 1), meta).count()
    out["segments"] = {"ok": split == 0, "split_docs": int(split)}

    denied = tombstones_df(spark, index_path, meta)
    if denied is not None:
        orphans = denied.join(ds.select("doc_id"), "doc_id",
                              "left_anti").count()
        out["tombstones"] = {"ok": orphans == 0, "orphans": int(orphans)}
    else:
        out["tombstones"] = {"ok": True, "orphans": 0}
    out["ok"] = all(v["ok"] for v in out.values() if isinstance(v, dict))
    return out


def _posting_tables(meta: dict) -> list[str]:
    """The table names of the posting groups meta lists."""
    return [f"postings/group={g}" for g in index_groups(meta)]


def _hardlink_tree(src: str, dst: str) -> None:
    shutil.copytree(os.path.realpath(src), dst, copy_function=os.link)


def _remap_bucket_dirs(table_dir: str, new_n: int) -> None:
    """Coalesce bucket=B partition dirs into bucket=B%new_n by MOVING
    their files (prefixed with the old bucket id so merged dirs never
    collide). The bucket value is directory-encoded, so no data file
    is read, rewritten, or even opened."""
    for d in sorted(os.listdir(table_dir)):
        if not d.startswith("bucket="):
            continue
        old = int(d.split("=", 1)[1])
        nb = old % new_n
        if nb == old:
            continue
        dst = os.path.join(table_dir, f"bucket={nb}")
        os.makedirs(dst, exist_ok=True)
        src = os.path.join(table_dir, d)
        for f in os.listdir(src):
            # keep Hadoop sidecars hidden: ".part-X.crc" must stay
            # dot-prefixed AND keep tracking its renamed data file
            new = (f".b{old}_{f[1:]}" if f.startswith(".")
                   else f"b{old}_{f}")
            os.rename(os.path.join(src, f), os.path.join(dst, new))
        os.rmdir(src)


def shrink_index(spark: SparkSession, src_path: str, dst_path: str,
                 n_buckets: int) -> dict:
    """ES _shrink analog: create ``dst_path`` as a copy of the index
    with FEWER term buckets — ``n_buckets`` must be a factor of the
    source's, exactly ES's shard-count rule, and for the same reason:
    a factor target makes the move pure routing arithmetic. Since
    bucket = md5(term) % n and new_n | n, the new bucket of every row
    is just ``old_bucket % new_n`` — so the whole operation is
    HARDLINKS plus partition-directory renames. No Spark job, no data
    file opened, zero bytes copied (ES's _shrink hardlinks segment
    files for the same reason). Queries over the result prune on the
    coarser buckets immediately; docstats, positions and tombstones
    carry over untouched."""
    meta = load_meta(src_path)
    old_n = meta["n_buckets"]
    if n_buckets <= 0 or old_n % n_buckets != 0 or n_buckets >= old_n:
        raise ValueError(
            f"shrink target n_buckets={n_buckets} must be a proper "
            f"factor of the source's {old_n} (ES _shrink rule)")
    if os.path.exists(dst_path):
        raise FileExistsError(f"shrink target exists: {dst_path}")
    t0 = time.time()
    tmp = f"{dst_path}.tmp.{uuid.uuid4().hex[:8]}"
    try:
        _hardlink_tree(src_path, tmp)
        for name in _posting_tables(meta) + ["dictionary"]:
            _remap_bucket_dirs(catalog.table_path(tmp, name), n_buckets)
        meta["n_buckets"] = n_buckets
        meta.setdefault("metrics", []).append(
            {"stage": "shrink", "from_buckets": old_n,
             "to_buckets": n_buckets, "wall_s": time.time() - t0})
        _write_meta(tmp, meta)
        os.rename(tmp, dst_path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return meta


def split_index(spark: SparkSession, src_path: str, dst_path: str,
                n_buckets: int) -> dict:
    """ES _split analog: create ``dst_path`` with MORE term buckets —
    ``n_buckets`` must be a multiple of the source's (ES's rule).
    Unlike shrink, rows must re-route (md5(term) % new_n splits each
    old bucket), but the pass is over POSTING ROWS ONLY: the corpus is
    never re-tokenized and the compressed payloads move verbatim; the
    dictionary re-buckets the same way. Docstats (and tombstones) are
    hardlinked, not copied. Cost at 100 TB: one shuffle of the
    compressed index (a few % of corpus size), vs a full rebuild."""
    meta = load_meta(src_path)
    old_n = meta["n_buckets"]
    if n_buckets % old_n != 0 or n_buckets <= old_n:
        raise ValueError(
            f"split target n_buckets={n_buckets} must be a proper "
            f"multiple of the source's {old_n} (ES _split rule)")
    if os.path.exists(dst_path):
        raise FileExistsError(f"split target exists: {dst_path}")
    t0 = time.time()
    # same md5-prefix hash as build.bucket_of, as a column expression
    nb = (F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10)
          .cast("long") % n_buckets).cast("int")
    tmp = f"{dst_path}.tmp.{uuid.uuid4().hex[:8]}"
    try:
        _hardlink_tree(src_path, tmp)
        for g in index_groups(meta):
            name = f"postings/group={g}"
            man = catalog.read_manifest(src_path, name)
            man.pop("schema", None)
            rows = (postings_df(spark, src_path, [g]).drop("group")
                    .withColumn("bucket", nb)
                    .repartition(min(n_buckets,
                                     spark.sparkContext.defaultParallelism
                                     * 2), "bucket"))
            catalog.create_or_replace(rows, tmp, name, manifest=man,
                                      partition_by=["bucket"])
        dman = catalog.read_manifest(src_path, "dictionary")
        dman.pop("schema", None)
        dic = (catalog.read_table(spark, src_path, "dictionary")
               .withColumn("bucket", nb)
               .repartition(min(n_buckets, 64), "bucket"))
        catalog.create_or_replace(dic, tmp, "dictionary", manifest=dman,
                                  partition_by=["bucket"])
        meta["n_buckets"] = n_buckets
        meta.setdefault("metrics", []).append(
            {"stage": "split", "from_buckets": old_n,
             "to_buckets": n_buckets, "wall_s": time.time() - t0})
        _write_meta(tmp, meta)
        os.rename(tmp, dst_path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return meta


def _tree_bytes_files(root: str) -> tuple[int, int]:
    total, nf = 0, 0
    for dirp, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirp, f))
            nf += 1
    return total, nf


def cat_indices(paths: list[str]) -> list[dict]:
    """ES ``_cat/indices`` analog: one row of operational vitals per
    index (or alias) path — docs.count (live), docs.deleted
    (tombstoned-not-purged), store.size in bytes, segment/group count,
    bucket count, analyzer, health. Pure metadata + a directory walk;
    NO Spark job and no posting decode (the _cat contract: cheap
    enough to poll). Health mirrors ES coarsely: ``green`` when
    meta.json loads and every manifest-listed group directory exists,
    ``red`` otherwise."""
    out = []
    for p in paths:
        name = os.path.basename(os.path.abspath(p).rstrip("/"))
        try:
            meta = load_meta(p)
        except (OSError, ValueError) as exc:
            out.append({"index": name, "health": "red",
                        "error": str(exc)})
            continue
        groups = _posting_tables(meta)
        missing = [t for t in groups if not catalog.table_exists(p, t)]
        size, _ = _tree_bytes_files(os.path.realpath(p))
        deleted = int(meta.get("tombstones_n", 0))
        out.append({
            "index": name,
            "health": "red" if missing else "green",
            "docs_count": int(meta["n_docs"]) - deleted,
            "docs_deleted": deleted,
            "store_size_bytes": size,
            "groups": len(groups),
            "n_buckets": int(meta["n_buckets"]),
            "analyzer": meta.get("analyzer"),
        })
    return out


def cat_segments(index_path: str) -> list[dict]:
    """ES ``_cat/segments`` analog: one row per live LSM group (the
    segment unit queries union over) — on-disk bytes and file count
    per posting table. Directory metadata only."""
    rows = []
    for g in index_groups(load_meta(index_path)):
        size, nf = _tree_bytes_files(
            catalog.table_path(index_path, f"postings/group={g}"))
        rows.append({"segment": str(g), "size_bytes": size, "files": nf})
    return rows


def cat_aliases(paths: list[str]) -> list[dict]:
    """ES ``_cat/aliases`` analog: (alias, index) for every path that
    IS an alias (symlink); non-aliases are skipped, dangling aliases
    report health red."""
    out = []
    for p in paths:
        if not os.path.islink(p):
            continue
        target = os.path.realpath(p)
        ok = os.path.exists(os.path.join(target, "meta.json"))
        out.append({"alias": os.path.basename(p.rstrip("/")),
                    "index": os.path.basename(target),
                    "health": "green" if ok else "red"})
    return out
