"""Incremental index ingest: appends commit log-structured groups and
queries stay rank-identical (and score-identical to 1e-9) to a
from-scratch rebuild over the union corpus — including the pruning
strategies, whose stored bounds are kept valid via the avgdl slack
(plans.build.append_index_group docstring)."""

import glob
import os
import shutil

import pytest

from elasticsearch_osmosis_plugin_spark.config import EngineConfig
from elasticsearch_osmosis_plugin_spark.operators.query import topk
from elasticsearch_osmosis_plugin_spark.plans.build import (
    append_index_group,
    build_index,
    load_meta,
)

CFG = EngineConfig(n_segments=8, n_buckets=4, block_size=16)

QUERIES = ["id0001", "public static void", "id0042 id0007", "getIndexBuffer"]


def _rows(df, q, strategy):
    return [(r["doc_id"], round(r["score"], 9)) for r in
            topk(df[0], df[1], q, k=10, strategy=strategy).collect()]


@pytest.mark.parametrize("strategy", ["scoreall", "maxscore", "blockmax"])
def test_append_matches_full_rebuild(spark, corpus_df, tmp_path, strategy):
    first = corpus_df.filter("doc_id < 60")
    second = corpus_df.filter("doc_id >= 60")

    inc = str(tmp_path / "inc_idx")
    build_index(spark, first, inc, CFG, id_col="doc_id", n_groups=2)
    meta = append_index_group(spark, second, inc, id_col="doc_id")
    assert meta["n_docs"] == corpus_df.count()
    assert meta["wand_slack"] >= 1.0
    assert len(meta["groups"]) == 3

    full = str(tmp_path / "full_idx")
    build_index(spark, corpus_df, full, CFG, id_col="doc_id", n_groups=2)

    for q in QUERIES:
        got = _rows((spark, inc), q, strategy)
        want = _rows((spark, full), q, strategy)
        assert got == want, (q, strategy)


def test_append_phrase_and_boolean_cross_group(spark, corpus_df, tmp_path):
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        match_all_terms,
        match_phrase,
    )

    inc = str(tmp_path / "inc_idx2")
    build_index(spark, corpus_df.filter("doc_id < 40"), inc, CFG,
                id_col="doc_id", n_groups=1)
    append_index_group(spark, corpus_df.filter("doc_id >= 40"), inc,
                       id_col="doc_id")
    full = str(tmp_path / "full_idx2")
    build_index(spark, corpus_df, full, CFG, id_col="doc_id", n_groups=1)
    for phrase in ("public static", "get index buffer"):
        got = [r["doc_id"] for r in match_phrase(spark, inc, phrase).collect()]
        want = [r["doc_id"] for r in match_phrase(spark, full, phrase).collect()]
        assert got == want, phrase
    got = [r["doc_id"] for r in
           match_all_terms(spark, inc, "public static").collect()]
    want = [r["doc_id"] for r in
            match_all_terms(spark, full, "public static").collect()]
    assert got == want

    # tombstones reach every positional operator through its one
    # occurrence stream: after deleting a few docs from ``inc`` (some
    # from each group), each operator on ``inc`` equals the same call
    # on ``full`` minus the deleted ids
    from elasticsearch_osmosis_plugin_spark.operators import intersect as I
    from elasticsearch_osmosis_plugin_spark.plans.build import delete_docs

    ops = {
        "phrase": lambda p: I.match_phrase(spark, p, "public static"),
        "phrase~2": lambda p: I.match_phrase(spark, p, "public static",
                                             slop=2),
        "prefix": lambda p: I.match_phrase_prefix(spark, p, "public stat"),
        "near": lambda p: I.span_near(spark, p, "public static", slop=1),
        "near_unordered": lambda p: I.span_near(
            spark, p, "public static", slop=1, in_order=False),
        "or_near": lambda p: I.span_or_near(
            spark, p, [["public", "void"], ["static"]], slop=1),
        "containing": lambda p: I.span_containing(
            spark, p, "public static", "id0000", slop=10),
        "first": lambda p: I.span_first(spark, p, "id0000", 5),
        "not": lambda p: I.span_not(spark, p, "public", "static",
                                    pre=1, post=1),
    }
    full_rows = {n: [tuple(r) for r in op(full).collect()]
                 for n, op in ops.items()}
    dead = {full_rows[n][0][0]
            for n in ("phrase", "containing", "first", "not")}
    assert min(dead) < 40 <= max(dead)  # both groups lose docs
    delete_docs(spark, inc, sorted(dead))
    for n, op in ops.items():
        want = [r for r in full_rows[n] if r[0] not in dead]
        assert len(want) < len(full_rows[n]), n  # the delete bites
        assert [tuple(r) for r in op(inc).collect()] == want, n


def test_append_then_compact_preserves_results(spark, corpus_df, tmp_path):
    from elasticsearch_osmosis_plugin_spark.plans.merge import (
        compact_index,
        drop_unmerged_groups,
    )

    inc = str(tmp_path / "inc_idx3")
    build_index(spark, corpus_df.filter("doc_id < 40"), inc, CFG,
                id_col="doc_id", n_groups=1)
    append_index_group(spark, corpus_df.filter("doc_id >= 40"), inc,
                       id_col="doc_id")
    before = _rows((spark, inc), "public static void", "scoreall")
    compact_index(spark, inc)
    drop_unmerged_groups(inc)
    assert not os.path.exists(os.path.join(inc, "postings", "group=1"))
    after = _rows((spark, inc), "public static void", "scoreall")
    assert after == before


def test_streaming_index_ingest(spark, corpus_rows, tmp_path):
    """foreachBatch micro-batches -> log-structured groups; the final
    index answers rank-identically to a batch build of all docs."""
    from elasticsearch_osmosis_plugin_spark.streaming.ingest import (
        stream_index_ingest,
    )

    pdf = corpus_rows.rename(columns={"content": "text"})
    df = spark.createDataFrame(pdf)
    schema = df.schema

    d = tmp_path / "doc_stream"
    d.mkdir()
    for i, pred in enumerate(["doc_id < 40", "doc_id >= 40"]):
        staging = str(tmp_path / f"stage_{i}")
        df.filter(pred).coalesce(1).write.parquet(staging)
        part = glob.glob(staging + "/part-*.parquet")[0]
        dst = str(d / f"batch_{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1000 + i, 1000 + i))

    inc = str(tmp_path / "stream_idx")
    build_index(spark, df.limit(0), inc, CFG, id_col="doc_id",
                text_col="text", n_groups=1)
    stream_index_ingest(spark, str(d), schema, inc, text_col="text",
                        id_col="doc_id")
    meta = load_meta(inc)
    assert meta["n_docs"] == len(pdf)
    assert len(meta["groups"]) == 3  # initial (empty) + 2 batches

    full = str(tmp_path / "stream_full")
    build_index(spark, df, full, CFG, id_col="doc_id", text_col="text",
                n_groups=1)
    for q in QUERIES:
        for strategy in ("scoreall", "maxscore"):
            got = _rows((spark, inc), q, strategy)
            want = _rows((spark, full), q, strategy)
            assert got == want, (q, strategy)


def test_searcher_refresh_sees_append(spark, corpus_df, tmp_path):
    """B11 analog: a Searcher opened before an append keeps serving the
    old snapshot; refresh() flips it to the committed one."""
    from elasticsearch_osmosis_plugin_spark.operators.query import Searcher

    inc = str(tmp_path / "refresh_idx")
    build_index(spark, corpus_df.filter("doc_id < 60"), inc, CFG,
                id_col="doc_id", n_groups=1)
    s = Searcher(spark, inc)
    try:
        before = {r["doc_id"] for r in
                  s.topk("public static void", k=50).collect()}
        append_index_group(spark, corpus_df.filter("doc_id >= 60"), inc,
                           id_col="doc_id")
        assert {r["doc_id"] for r in
                s.topk("public static void", k=50).collect()} == before
        s.refresh()
        after = s.topk("public static void", k=50).collect()
        want = topk(spark, inc, "public static void", k=50).collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in after] == \
               [(r["doc_id"], round(r["score"], 9)) for r in want]
        assert {r["doc_id"] for r in after} != before  # new docs visible
    finally:
        s.close()


def test_logical_deletes_lucene_semantics(spark, corpus_rows, corpus_df, tmp_path):
    """Index-level deletes: tombstoned docs vanish from EVERY query
    path immediately while corpus stats keep counting them until a
    merge — so the oracle is the FULL-corpus ranking with deleted ids
    filtered out (exactly Lucene pre-merge scoring)."""
    from elasticsearch_osmosis_plugin_spark.operators.bm25 import bm25_oracle
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        match_all_terms,
        match_phrase,
    )
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        match_count,
        topk,
    )
    from elasticsearch_osmosis_plugin_spark.plans.build import delete_docs

    idx = str(tmp_path / "del_idx")
    build_index(spark, corpus_df, idx, CFG, id_col="doc_id", n_groups=2)
    q = "public static void"
    full = bm25_oracle(
        list(zip(corpus_rows["doc_id"], corpus_rows["content"])), q, 10_000)
    dead = {d for d, _ in full[:3]} | {5, 7}   # kill top hits + extras
    assert delete_docs(spark, idx, sorted(dead)) == len(dead)

    want = [(d, s) for d, s in full if d not in dead][:10]
    for strategy in ("scoreall", "maxscore", "blockmax"):
        got = topk(spark, idx, q, k=10, strategy=strategy).collect()
        assert [r["doc_id"] for r in got] == [d for d, _ in want], strategy
        for r, (_, sc) in zip(got, want):
            assert abs(r["score"] - sc) < 1e-9
    # boolean / phrase / count paths exclude tombstones too
    assert dead.isdisjoint(
        r["doc_id"] for r in match_all_terms(spark, idx, q).collect())
    assert dead.isdisjoint(
        r["doc_id"] for r in match_phrase(spark, idx, "public static").collect())
    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import tokenize_py
    live_with_public = sum(
        1 for d, t in zip(corpus_rows["doc_id"], corpus_rows["content"])
        if d not in dead and "public" in tokenize_py(t, "code"))
    assert match_count(spark, idx, "public") == live_with_public
    # deleting more ids accumulates
    assert delete_docs(spark, idx, [11]) == len(dead) + 1


def test_purge_deletes_matches_fresh_rebuild(spark, corpus_df, tmp_path):
    """Physical purge (expunge analog): after purge_deletes the index
    scores EXACTLY like a fresh build over the live corpus — df, avgdl
    and n_docs all shrink, payloads/bounds are rewritten per block."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import match_phrase
    from elasticsearch_osmosis_plugin_spark.operators.query import match_count
    from elasticsearch_osmosis_plugin_spark.plans.build import delete_docs
    from elasticsearch_osmosis_plugin_spark.plans.merge import purge_deletes

    dead = [3, 5, 8, 13, 21, 34]
    idx = str(tmp_path / "purge_idx")
    build_index(spark, corpus_df, idx, CFG, id_col="doc_id", n_groups=2)
    delete_docs(spark, idx, dead)
    meta = purge_deletes(spark, idx)
    assert meta["tombstones_n"] == 0
    assert meta["n_docs"] == corpus_df.count() - len(dead)

    fresh = str(tmp_path / "fresh_idx")
    live_df = corpus_df.filter(~corpus_df.doc_id.isin(dead))
    build_index(spark, live_df, fresh, CFG, id_col="doc_id", n_groups=2)

    for q in QUERIES:
        for strategy in ("scoreall", "maxscore", "blockmax"):
            got = _rows((spark, idx), q, strategy)
            want = _rows((spark, fresh), q, strategy)
            assert got == want, (q, strategy)
    for phrase in ("public static", "get index buffer"):
        got = [r["doc_id"] for r in match_phrase(spark, idx, phrase).collect()]
        want = [r["doc_id"] for r in match_phrase(spark, fresh, phrase).collect()]
        assert got == want, phrase
    assert match_count(spark, idx, "public") == match_count(spark, fresh, "public")


def test_purge_100k_tombstones_distributed(spark, corpus_df, tmp_path,
                                           monkeypatch):
    """Scale guard: purge with a 100k-id tombstone set must stay fully
    distributed — the docstats rewrite is an anti-join (no literal
    ``doc_id IN (...)`` list in the plan, which breaks Catalyst at
    millions of ids) and the posting kernel receives the dead set as a
    torrent broadcast, not a task-closure set. Rank identity vs a
    fresh build over the survivors still holds."""
    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.plans import catalog as cat
    from elasticsearch_osmosis_plugin_spark.plans import merge as merge_mod
    from elasticsearch_osmosis_plugin_spark.plans.build import delete_docs
    from elasticsearch_osmosis_plugin_spark.plans.merge import purge_deletes

    idx = str(tmp_path / "purge_big")
    build_index(spark, corpus_df, idx, CFG, id_col="doc_id", n_groups=2)
    # tombstone ids 4..100003: kills every doc but 0-3, plus ~100k ids
    # that never existed (delete-by-query residue shape)
    delete_docs(spark, idx,
                spark.range(4, 100_004).select(F.col("id").alias("doc_id")))

    plans = {}
    orig = cat.create_or_replace

    def spy(df, root, name, **kw):
        if name == "docstats":
            plans["docstats"] = (
                df._jdf.queryExecution().optimizedPlan().toString())
        return orig(df, root, name, **kw)

    monkeypatch.setattr(merge_mod.catalog, "create_or_replace", spy)
    meta = purge_deletes(spark, idx)
    monkeypatch.undo()

    assert meta["n_docs"] == 4 and meta["tombstones_n"] == 0
    p = plans["docstats"]
    assert "Join LeftAnti" in p          # DataFrame anti-join, not isin
    assert len(p) < 20_000               # a 100k literal list is ~0.7 MB
    assert meta["metrics"][-1]["n_purged"] == 100_000

    fresh = str(tmp_path / "purge_big_fresh")
    build_index(spark, corpus_df.filter("doc_id < 4"), fresh, CFG,
                id_col="doc_id", n_groups=2)
    for q in ("public static", "id0001"):
        for strategy in ("scoreall", "maxscore", "blockmax"):
            assert _rows((spark, idx), q, strategy) == \
                _rows((spark, fresh), q, strategy), (q, strategy)


def _spy_bloom_build(monkeypatch, captured):
    from elasticsearch_osmosis_plugin_spark.plans import merge as merge_mod

    orig = merge_mod._bloom_words_build

    def spy(tombs, n_bits, k=4):
        words = orig(tombs, n_bits, k)
        captured["n_bits"] = n_bits
        captured["nbytes"] = words.nbytes
        return words

    monkeypatch.setattr(merge_mod, "_bloom_words_build", spy)


def test_purge_bloom_path_matches_exact(spark, corpus_df, tmp_path,
                                        monkeypatch):
    """Bloom-path purge (forced via max_exact_broadcast=0) is
    value-identical to the exact path: rank identity vs a fresh build
    over the survivors across all pruning strategies AND phrase
    queries (so the positional payload rewrite is exercised too)."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import match_phrase
    from elasticsearch_osmosis_plugin_spark.plans.build import delete_docs
    from elasticsearch_osmosis_plugin_spark.plans.merge import purge_deletes

    captured = {}
    _spy_bloom_build(monkeypatch, captured)
    dead = [3, 5, 8, 13, 21, 34]
    idx = str(tmp_path / "purge_bloom_idx")
    build_index(spark, corpus_df, idx, CFG, id_col="doc_id", n_groups=2)
    delete_docs(spark, idx, dead)
    meta = purge_deletes(spark, idx, max_exact_broadcast=0)
    assert meta["tombstones_n"] == 0
    assert meta["n_docs"] == corpus_df.count() - len(dead)
    assert meta["metrics"][-1]["strategy"] == "bloom"
    assert captured["nbytes"] == captured["n_bits"] >> 3

    fresh = str(tmp_path / "purge_bloom_fresh")
    build_index(spark, corpus_df.filter(~corpus_df.doc_id.isin(dead)),
                fresh, CFG, id_col="doc_id", n_groups=2)
    for q in QUERIES:
        for strategy in ("scoreall", "maxscore", "blockmax"):
            assert _rows((spark, idx), q, strategy) == \
                _rows((spark, fresh), q, strategy), (q, strategy)
    for phrase in ("public static", "get index buffer"):
        got = [r["doc_id"] for r in match_phrase(spark, idx, phrase).collect()]
        want = [r["doc_id"] for r in
                match_phrase(spark, fresh, phrase).collect()]
        assert got == want, phrase


def test_purge_bloom_driver_pin_bounded(spark, corpus_df, tmp_path,
                                        monkeypatch):
    """Scale guard for the threshold switch: at an inflated tombstone
    count (100k ids, threshold 1k) purge takes the bloom path and the
    ONLY driver-pinned structure is the packed filter — strictly
    smaller than the 8 B/id exact array would be, and capped at
    2^30 bits regardless of the delete count. Results still match a
    fresh rebuild over the survivors."""
    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.plans.build import delete_docs
    from elasticsearch_osmosis_plugin_spark.plans.merge import (
        _bloom_bits_for,
        purge_deletes,
    )

    captured = {}
    _spy_bloom_build(monkeypatch, captured)
    idx = str(tmp_path / "purge_bloom_big")
    build_index(spark, corpus_df, idx, CFG, id_col="doc_id", n_groups=2)
    delete_docs(spark, idx,
                spark.range(4, 100_004).select(F.col("id").alias("doc_id")))
    meta = purge_deletes(spark, idx, max_exact_broadcast=1000)
    assert meta["n_docs"] == 4 and meta["tombstones_n"] == 0
    assert meta["metrics"][-1]["strategy"] == "bloom"
    assert meta["metrics"][-1]["n_purged"] == 100_000
    # the pin is the filter, sized by _bloom_bits_for, NOT 8 B/id
    assert captured["n_bits"] == _bloom_bits_for(100_000)
    assert captured["nbytes"] < 8 * 100_000
    assert _bloom_bits_for(10 ** 12) == 1 << 30  # hard cap holds

    fresh = str(tmp_path / "purge_bloom_big_fresh")
    build_index(spark, corpus_df.filter("doc_id < 4"), fresh, CFG,
                id_col="doc_id", n_groups=2)
    for q in ("public static", "id0001"):
        for strategy in ("scoreall", "maxscore", "blockmax"):
            assert _rows((spark, idx), q, strategy) == \
                _rows((spark, fresh), q, strategy), (q, strategy)


def test_alias_swap_zero_downtime(spark, tmp_path):
    """ES alias reindex-swap: build v1, alias -> v1, query through the
    alias; build v2, atomically repoint; a new query sees v2, while a
    Searcher opened pre-swap keeps its v1 snapshot until refresh()."""
    from elasticsearch_osmosis_plugin_spark.corpus import generate_corpus_df
    from elasticsearch_osmosis_plugin_spark.operators.query import Searcher, topk
    from elasticsearch_osmosis_plugin_spark.plans import catalog
    from elasticsearch_osmosis_plugin_spark.plans.build import build_index

    v1 = str(tmp_path / "idx_v1")
    v2 = str(tmp_path / "idx_v2")
    alias = str(tmp_path / "current")
    build_index(spark, generate_corpus_df(spark, seed=1, n=60), v1, CFG,
                n_groups=1)
    with pytest.raises(FileNotFoundError):
        catalog.create_alias(alias, str(tmp_path / "nope"))
    catalog.create_alias(alias, v1)
    assert catalog.resolve_alias(alias) == os.path.realpath(v1)
    want_v1 = topk(spark, v1, "public static", k=5).collect()
    assert topk(spark, alias, "public static", k=5).collect() == want_v1

    s = Searcher(spark, alias)
    build_index(spark, generate_corpus_df(spark, seed=2, n=60), v2, CFG,
                n_groups=1)
    catalog.create_alias(alias, v2)  # atomic repoint
    assert catalog.resolve_alias(alias) == os.path.realpath(v2)
    want_v2 = topk(spark, v2, "public static", k=5).collect()
    assert topk(spark, alias, "public static", k=5).collect() == want_v2
    assert want_v1 != want_v2
    # pre-swap Searcher: v1 snapshot until refresh
    assert s.topk("public static", k=5).collect() == want_v1
    s.refresh()
    assert s.topk("public static", k=5).collect() == want_v2
    s.close()
    assert catalog.drop_alias(alias) is True
    assert catalog.drop_alias(alias) is False
    assert os.path.exists(os.path.join(v2, "meta.json"))  # index untouched


def test_topk_multi_equals_union_rebuild(spark, tmp_path):
    """dfs_query_then_fetch exactness: searching two indexes with
    combined collection stats is rank- AND score-identical to one
    index built over the union corpus."""
    from elasticsearch_osmosis_plugin_spark.corpus import generate_corpus_df
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_multi
    from elasticsearch_osmosis_plugin_spark.plans.build import build_index

    a = generate_corpus_df(spark, seed=11, n=50)
    b = generate_corpus_df(spark, seed=22, n=70)
    pa, pb = str(tmp_path / "ia"), str(tmp_path / "ib")
    pu = str(tmp_path / "iu")
    build_index(spark, a, pa, CFG, n_groups=1)
    build_index(spark, b, pb, CFG, n_groups=1)
    build_index(spark, a.unionByName(b), pu, CFG, n_groups=1)
    for q in ("public static", "getIndexBuffer", "id0001 import"):
        got = topk_multi(spark, [pa, pb], q, k=10).collect()
        want = topk(spark, pu, q, k=10, strategy="scoreall").collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], q
        for g, w in zip(got, want):
            assert abs(g["score"] - w["score"]) < 1e-9
    # minimum_should_match (round 5): same union-rebuild identity,
    # and msm=2 is a strict subset of the unrestricted ranking
    got = topk_multi(spark, [pa, pb], "public static", k=10,
                     minimum_should_match=2).collect()
    want = topk(spark, pu, "public static", k=10,
                minimum_should_match=2).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == \
        [(r["doc_id"], round(r["score"], 9)) for r in want]
    assert got and all(
        r["doc_id"] in {x["doc_id"] for x in topk_multi(
            spark, [pa, pb], "public static", k=200).collect()}
        for r in got)
    assert topk_multi(spark, [pa, pb], "public static", k=10,
                      minimum_should_match=3).count() == 0
    # indices_boost: per-index linear score scaling, same ranking math
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    ids_a = {r["doc_id"] for r in catalog.read_table(spark, pa, "docstats")
             .select("doc_id").collect()}
    base = {r["doc_id"]: r["score"] for r in
            topk_multi(spark, [pa, pb], "public static", k=200).collect()}
    boosted = topk_multi(spark, [pa, pb], "public static", k=200,
                         indices_boost=[2.0, 0.5]).collect()
    assert len(boosted) == len(base)
    for r in boosted:
        w = 2.0 if r["doc_id"] in ids_a else 0.5
        assert abs(r["score"] - w * base[r["doc_id"]]) < 1e-9
    with pytest.raises(ValueError):
        topk_multi(spark, [pa, pb], "public", k=5, indices_boost=[1.0])

    # stats combination refuses mismatched tokenization configs
    pc = str(tmp_path / "ic")
    build_index(spark, b, pc, EngineConfig(analyzer="simple", n_segments=2,
                                           n_buckets=2), n_groups=1)
    with pytest.raises(ValueError):
        topk_multi(spark, [pa, pc], "public", k=5)


def test_snapshot_restore_point_in_time(spark, tmp_path):
    """Snapshot -> mutate (append + delete) -> restore: post-restore
    rankings equal the pre-mutation ones exactly; restore refuses a
    non-snapshot dir; snapshot refuses to overwrite."""
    from elasticsearch_osmosis_plugin_spark.corpus import generate_corpus_df
    from elasticsearch_osmosis_plugin_spark.plans import catalog
    from elasticsearch_osmosis_plugin_spark.plans.build import (
        build_index,
        delete_docs,
    )

    idx = str(tmp_path / "idx")
    snap = str(tmp_path / "snap")
    build_index(spark, generate_corpus_df(spark, seed=5, n=60), idx, CFG,
                n_groups=1)
    before = topk(spark, idx, "public static", k=10).collect()
    catalog.snapshot_index(idx, snap)
    with pytest.raises(FileExistsError):
        catalog.snapshot_index(idx, snap)
    append_index_group(spark, generate_corpus_df(spark, seed=6, n=40), idx)
    delete_docs(spark, idx, [before[0]["doc_id"]])
    assert topk(spark, idx, "public static", k=10).collect() != before
    catalog.restore_index(snap, idx)
    assert topk(spark, idx, "public static", k=10).collect() == before
    with pytest.raises(FileNotFoundError):
        catalog.restore_index(str(tmp_path / "nosnap"), idx)


def test_restore_via_alias_is_atomic(spark, tmp_path):
    """Online restore path: with an alias layout, restore stages the
    copy and atomically repoints — the alias always resolves."""
    from elasticsearch_osmosis_plugin_spark.corpus import generate_corpus_df
    from elasticsearch_osmosis_plugin_spark.plans import catalog
    from elasticsearch_osmosis_plugin_spark.plans.build import (
        build_index,
        delete_docs,
    )

    idx = str(tmp_path / "v1")
    alias = str(tmp_path / "live")
    snap = str(tmp_path / "snap")
    build_index(spark, generate_corpus_df(spark, seed=3, n=40), idx, CFG,
                n_groups=1)
    catalog.create_alias(alias, idx)
    before = topk(spark, alias, "public", k=5).collect()
    catalog.snapshot_index(alias, snap)
    delete_docs(spark, alias, [before[0]["doc_id"]])
    assert topk(spark, alias, "public", k=5).collect() != before
    catalog.restore_index(snap, alias)
    assert os.path.islink(alias)                      # still an alias
    assert topk(spark, alias, "public", k=5).collect() == before
    assert catalog.resolve_alias(alias) != os.path.realpath(idx)


def test_compact_then_append_visible(spark, corpus_df, tmp_path):
    """Regression: a group appended AFTER a compaction serves next to
    the compacted group. compact -> append == append-only, and a
    re-compact folds the new group in."""
    from elasticsearch_osmosis_plugin_spark.plans.merge import compact_index

    half = corpus_df.filter("doc_id % 2 = 0")
    rest = corpus_df.filter("doc_id % 2 = 1")

    i1 = str(tmp_path / "ca")
    build_index(spark, half, i1, CFG, id_col="doc_id", n_groups=2)
    compact_index(spark, i1)
    append_index_group(spark, rest, i1, id_col="doc_id")

    i2 = str(tmp_path / "ao")
    build_index(spark, half, i2, CFG, id_col="doc_id", n_groups=2)
    append_index_group(spark, rest, i2, id_col="doc_id")

    def res(p):
        return [(r["doc_id"], round(r["score"], 9))
                for r in topk(spark, p, "public static", k=500).collect()]

    want = res(i2)
    assert res(i1) == want and want
    compact_index(spark, i1)
    assert res(i1) == want


def test_streaming_ingest_auto_compaction(spark, corpus_rows, tmp_path):
    """compact_every bounds the live group count while the stream
    runs, and the compacted stream index stays rank-identical to the
    batch build."""
    from elasticsearch_osmosis_plugin_spark.streaming.ingest import (
        stream_index_ingest,
    )

    pdf = corpus_rows.rename(columns={"content": "text"})
    df = spark.createDataFrame(pdf)
    schema = df.schema

    d = tmp_path / "doc_stream_ac"
    d.mkdir()
    preds = ["doc_id % 4 = 0", "doc_id % 4 = 1",
             "doc_id % 4 = 2", "doc_id % 4 = 3"]
    for i, pred in enumerate(preds):
        staging = str(tmp_path / f"acstage_{i}")
        df.filter(pred).coalesce(1).write.parquet(staging)
        part = glob.glob(staging + "/part-*.parquet")[0]
        dst = str(d / f"batch_{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1000 + i, 1000 + i))

    inc = str(tmp_path / "stream_idx_ac")
    build_index(spark, df.limit(0), inc, CFG, id_col="doc_id",
                text_col="text", n_groups=1)
    stream_index_ingest(spark, str(d), schema, inc, text_col="text",
                        id_col="doc_id", compact_every=2)
    meta = load_meta(inc)
    assert meta["n_docs"] == len(pdf)
    assert len(meta["groups"]) < 2      # the live count, < compact_every
    assert any(m["stage"] == "merge" for m in meta["metrics"])

    full = str(tmp_path / "stream_full_ac")
    build_index(spark, df, full, CFG, id_col="doc_id", text_col="text",
                n_groups=1)
    for q in QUERIES:
        assert _rows((spark, inc), q, "scoreall") \
            == _rows((spark, full), q, "scoreall"), q


def _purge_reference(row, dead, k1, b, avgdl_eff):
    """Per-block rewrite the batched purge kernel must reproduce byte
    for byte: decode one block, drop dead docs, re-encode, recompute
    stats and the block bound. None when every entry died."""
    import numpy as np

    from elasticsearch_osmosis_plugin_spark.functions.varbyte import (
        delta_decode_groups,
        delta_encode_groups,
        vb_decode,
        vb_encode_groups,
    )

    ids = np.cumsum(vb_decode(row["doc_ids_vb"]),
                    dtype=np.uint64).astype(np.int64)
    keep = ~np.isin(ids, dead)
    if not keep.any():
        return None
    tf = vb_decode(row["tfs_vb"]).astype(np.int64)
    dl = vb_decode(row["dls_vb"]).astype(np.int64)
    pos_all = vb_decode(row["pos_vb"])
    starts = np.zeros(tf.size, dtype=np.int64)
    np.cumsum(tf[:-1], out=starts[1:])
    ids_k, tf_k, dl_k = ids[keep], tf[keep], dl[keep]
    z = np.zeros(1, dtype=np.int64)
    pos_vb = b""
    if pos_all.size:
        pos = delta_decode_groups(pos_all, starts)
        kept_pos = np.concatenate(
            [pos[s:s + n] for s, n in zip(starts[keep], tf[keep])])
        pstarts = np.zeros(tf_k.size, dtype=np.int64)
        np.cumsum(tf_k[:-1], out=pstarts[1:])
        pos_vb = b"".join(vb_encode_groups(
            delta_encode_groups(kept_pos.astype(np.uint64), pstarts), z))
    w = tf_k / (tf_k + k1 * (1.0 - b + b * dl_k / avgdl_eff))
    return {
        "bucket": row["bucket"], "term": row["term"], "seg": row["seg"],
        "block": row["block"], "n": int(tf_k.size),
        "sum_tf": int(tf_k.sum()), "block_max_wand": float(w.max()),
        "min_doc": int(ids_k[0]), "max_doc": int(ids_k[-1]),
        "doc_ids_vb": b"".join(vb_encode_groups(
            delta_encode_groups(ids_k.astype(np.uint64), z), z)),
        "tfs_vb": b"".join(vb_encode_groups(tf_k.astype(np.uint64), z)),
        "dls_vb": b"".join(vb_encode_groups(dl_k.astype(np.uint64), z)),
        "pos_vb": pos_vb,
    }


@pytest.mark.parametrize("positions", [True, False])
def test_purge_kernel_matches_per_block_reference(spark, positions):
    """The batched purge kernel's output equals the per-block
    reference byte for byte, on the exact (broadcast dead array) and
    the bloom (attached per-block ``dead_ids``) inputs, over sliced
    batches: a block that loses every entry is dropped, a block with
    no dead id is re-encoded with its bound recomputed."""
    from types import SimpleNamespace

    import numpy as np
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    from elasticsearch_osmosis_plugin_spark.functions.varbyte import (
        delta_encode,
        delta_encode_groups,
        vb_encode,
    )
    from elasticsearch_osmosis_plugin_spark.plans.build import POSTING_SCHEMA
    from elasticsearch_osmosis_plugin_spark.plans.merge import _purge_kernel

    rng = np.random.default_rng(5)
    rows, block_ids = [], []
    for i in range(9):
        n = int(rng.integers(1, 20))
        ids = np.sort(rng.choice(400, n, replace=False)).astype(np.int64) \
            + (1 << 60) * (i % 2) + 1000 * (i == 1)
        tf = rng.integers(1, 5, n)
        dl = tf + rng.integers(0, 40, n)
        pos = [np.sort(rng.choice(d, t, replace=False))
               for t, d in zip(tf, dl)]
        starts = np.cumsum(tf) - tf
        rows.append({
            "bucket": i % 3, "term": f"t{i % 4}", "seg": i // 4, "block": i,
            "n": n, "sum_tf": int(tf.sum()), "block_max_wand": 1.0,
            "min_doc": int(ids[0]), "max_doc": int(ids[-1]),
            "doc_ids_vb": vb_encode(delta_encode(ids.astype(np.uint64))),
            "tfs_vb": vb_encode(tf.astype(np.uint64)),
            "dls_vb": vb_encode(dl.astype(np.uint64)),
            "pos_vb": vb_encode(delta_encode_groups(
                np.concatenate(pos).astype(np.uint64), starts))
            if positions else b""})
        block_ids.append(ids)
    dead = set(block_ids[0].tolist())                 # block 0 dies
    for ids in block_ids[2:]:                         # block 1 untouched
        dead |= set(rng.choice(ids, ids.size // 3, replace=False).tolist())
    dead = np.array(sorted(dead), dtype=np.int64)
    assert not np.isin(block_ids[1], dead).any()

    schema = to_arrow_schema(_parse_datatype_string(POSTING_SCHEMA))
    table = pa.Table.from_pylist(rows, schema=schema)
    attached = [sorted(set(ids.tolist()) & set(dead.tolist())) or None
                for ids in block_ids]
    k1, b, avgdl_eff = 1.2, 0.75, 21.5
    want = [r for r in (_purge_reference(row, dead, k1, b, avgdl_eff)
                        for row in rows) if r is not None]
    assert len(want) == len(rows) - 1
    cases = [(SimpleNamespace(value=dead), table),
             (None, table.append_column(
                 "dead_ids", pa.array(attached, pa.list_(pa.int64()))))]
    for dead_bc, tbl in cases:
        batch = tbl.combine_chunks().to_batches()[0]
        batches = [batch.slice(0, 4), batch.slice(4)]
        out = list(_purge_kernel(dead_bc, k1, b, avgdl_eff)(iter(batches)))
        assert all(o.schema == schema for o in out)
        assert pa.Table.from_batches(out).to_pylist() == want


def test_appended_segment_ids_disjoint(spark, corpus_df, tmp_path):
    """An appended group's posting segment ids never equal a build
    group's (build ids stay below 2^40; appended group g uses the
    range from g << 40), so ``verify_index``'s ``segments`` check sees
    every doc duplicated into an appended group: one split doc per
    duplicated id."""
    import pyarrow.dataset as pds
    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.plans.merge import verify_index

    idx = str(tmp_path / "segs")
    build_index(spark, corpus_df.filter("doc_id < 60"), idx, CFG,
                id_col="doc_id", n_groups=2)
    # docs 50..59 again under their own ids, plus 20 new ones
    add = corpus_df.filter("doc_id >= 50").withColumn(
        "doc_id", F.when(F.col("doc_id") >= 60, F.col("doc_id") + 1000)
        .otherwise(F.col("doc_id")))
    append_index_group(spark, add, idx, id_col="doc_id")
    segs = [set(pds.dataset(os.path.join(idx, "postings", f"group={g}"),
                            format="parquet")
                .to_table(columns=["seg"])["seg"].to_pylist())
            for g in (0, 1, 2)]
    assert all(segs)
    assert not segs[0] & segs[1] and not (segs[0] | segs[1]) & segs[2]
    rep = verify_index(spark, idx)
    assert rep["segments"] == {"ok": False, "split_docs": 10}, rep


@pytest.mark.parametrize("bloom", [False, True])
def test_purge_empties_appended_group(spark, corpus_df, tmp_path, bloom):
    """Delete every doc of an appended group (and a few build docs),
    then purge — one posting job over all three groups, on the exact
    and the bloom (``max_exact_broadcast=0``) paths: the emptied
    group's table commits empty, ``verify_index`` is ok, and Spark
    ``topk`` == ``topk_local`` == a fresh rebuild over the
    survivors."""
    from elasticsearch_osmosis_plugin_spark.operators import serve
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        query_terms,
    )
    from elasticsearch_osmosis_plugin_spark.plans import catalog
    from elasticsearch_osmosis_plugin_spark.plans.build import delete_docs
    from elasticsearch_osmosis_plugin_spark.plans.merge import (
        purge_deletes,
        verify_index,
    )

    idx = str(tmp_path / "emptied")
    build_index(spark, corpus_df.filter("doc_id < 60"), idx, CFG,
                id_col="doc_id", n_groups=2)
    append_index_group(spark, corpus_df.filter("doc_id >= 60"), idx,
                       id_col="doc_id")
    dead = list(range(60, 80)) + [3, 5, 8, 13, 21, 34]
    delete_docs(spark, idx, dead)
    meta = purge_deletes(spark, idx,
                         **({"max_exact_broadcast": 0} if bloom else {}))
    assert meta["groups"] == [0, 1, 2] and meta["n_docs"] == 54
    assert meta["metrics"][-1]["strategy"] == ("bloom" if bloom else "exact")
    name = "postings/group=2"
    assert catalog.read_manifest(idx, name)["purged"]
    assert catalog.footer_rows(catalog.table_path(idx, name)) == 0
    assert catalog.read_table(spark, idx, name).count() == 0
    assert verify_index(spark, idx)["ok"]

    fresh = str(tmp_path / "emptied_fresh")
    build_index(spark, corpus_df.filter(~corpus_df.doc_id.isin(dead)),
                fresh, CFG, id_col="doc_id", n_groups=2)
    for q in QUERIES:
        got = [(r["doc_id"], r["score"]) for r in
               topk(spark, idx, q, k=10).collect()]
        assert got == serve.local_topk(idx, query_terms(q, meta), 10,
                                       meta=meta), q
        assert [(d, round(s, 9)) for d, s in got] == \
            _rows((spark, fresh), q, "auto"), q
