"""Cross-path identity of BM25 top-k across index mutations: the Spark
segment-local ``topk`` (under every accepted strategy name) equals the
driver-local ``serve.local_topk`` bit for bit, and its post_filter /
boosts / minimum_should_match variants equal the Spark match-plan
reference ``deterministic_topk(summed(_scored(...), msm), k)``, at the
build, append, delete, compact and purge states of one 2-group index,
and on through compact -> append -> drop_unmerged_groups -> purge ->
compact, ending equal to a fresh build over the live docs."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from elasticsearch_osmosis_plugin_spark.config import EngineConfig
from elasticsearch_osmosis_plugin_spark.operators import query, serve
from elasticsearch_osmosis_plugin_spark.operators.topk import deterministic_topk
from elasticsearch_osmosis_plugin_spark.plans import merge
from elasticsearch_osmosis_plugin_spark.plans.build import (
    append_index_group,
    build_index,
    delete_docs,
    load_meta,
)

CFG = EngineConfig(n_segments=8, n_buckets=4, block_size=8, resume=False)
QUERIES = ("public static", "id0001", "public static void import")
K = 10


def _reference(spark, idx, q, *, post_filter=None, boosts=None, msm=0):
    meta = load_meta(idx)
    dic = query.dictionary_rows(spark, idx, query.query_terms(q, meta), meta)
    c = {t: v * float((boosts or {}).get(t, 1.0))
         for t, v in query.term_idfs(dic, meta).items()}
    if len(c) < max(msm, 1):
        return []
    scored = query._scored(spark, idx, meta, c,
                           allowed=query.allowed_docs(spark, idx, post_filter))
    return [(r["doc_id"], r["score"]) for r in
            deterministic_topk(query.summed(scored, msm), K).collect()]


def _check_state(spark, idx, state, full=True):
    """Spark ``topk`` == ``serve.local_topk`` at this state; ``full``
    adds every strategy name and the match-plan variants."""
    meta = load_meta(idx)
    for q in QUERIES:
        want = serve.local_topk(idx, query.query_terms(q, meta), K, meta=meta)
        assert want, (state, q)
        for strategy in query.STRATEGIES if full else ("auto",):
            got = [(r["doc_id"], r["score"]) for r in
                   query.topk(spark, idx, q, K, strategy).collect()]
            assert got == want, (state, q, strategy)
    if not full:
        return
    q = QUERIES[2]
    for kw in ({"post_filter": F.col("dl") > 20},
               {"boosts": {"public": 2.5, "import": 0.5}},
               {"minimum_should_match": 2}):
        ref = _reference(spark, idx, q, post_filter=kw.get("post_filter"),
                         boosts=kw.get("boosts"),
                         msm=kw.get("minimum_should_match", 0))
        got = [(r["doc_id"], r["score"]) for r in
               query.topk(spark, idx, q, K, **kw).collect()]
        assert ref and [d for d, _ in got] == [d for d, _ in ref], (state, kw)
        for (_, a), (_, b) in zip(got, ref):
            assert a == pytest.approx(b, abs=1e-9), (state, kw)


def test_topk_paths_identical_across_mutations(spark, corpus_df, tmp_path):
    idx = str(tmp_path / "paths")
    build_index(spark, corpus_df.filter("doc_id < 60"), idx, CFG,
                id_col="doc_id", n_groups=2)
    _check_state(spark, idx, "build")
    append_index_group(spark, corpus_df.filter("doc_id >= 60"), idx,
                       id_col="doc_id")
    _check_state(spark, idx, "append")
    dead = [r["doc_id"] for r in
            query.topk(spark, idx, "public static", 3).collect()]
    delete_docs(spark, idx, dead)
    _check_state(spark, idx, "delete")
    merge.compact_index(spark, idx)
    _check_state(spark, idx, "compact")
    merge.purge_deletes(spark, idx)
    _check_state(spark, idx, "purge")
    # compact -> purge: one live group, one file per bucket
    groups = load_meta(idx)["groups"]
    assert len(groups) == 1, groups
    for b in range(CFG.n_buckets):
        d = os.path.join(idx, "postings", f"group={groups[0]}", f"bucket={b}")
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d

    # compact -> append -> drop_unmerged_groups -> delete -> purge ->
    # compact: the drop reaches only folded groups, never a live one
    merge.compact_index(spark, idx)
    assert len(load_meta(idx)["groups"]) == 1
    _check_state(spark, idx, "compact2", full=False)
    more = corpus_df.filter("doc_id < 30").withColumn(
        "doc_id", F.col("doc_id") + 1000)
    append_index_group(spark, more, idx, id_col="doc_id")
    merge.drop_unmerged_groups(idx)
    _check_state(spark, idx, "drop", full=False)
    dead2 = [r["doc_id"] for r in
             query.topk(spark, idx, "public static", 3).collect()]
    delete_docs(spark, idx, dead2)
    merge.purge_deletes(spark, idx)
    _check_state(spark, idx, "purge2", full=False)
    merge.compact_index(spark, idx)
    assert len(load_meta(idx)["groups"]) == 1
    _check_state(spark, idx, "compact3", full=False)
    assert merge.verify_index(spark, idx)["ok"]

    # the final state answers as a fresh build over the live docs
    gone = set(dead) | set(dead2)
    live = corpus_df.unionByName(more).filter(~F.col("doc_id").isin(gone))
    fresh = str(tmp_path / "fresh")
    build_index(spark, live, fresh, CFG, id_col="doc_id", n_groups=1)
    for q in QUERIES:
        got = serve.local_topk(idx, query.query_terms(q, load_meta(idx)), K)
        want = serve.local_topk(fresh, query.query_terms(q, load_meta(fresh)),
                                K)
        assert [d for d, _ in got] == [d for d, _ in want], q
        assert [s for _, s in got] == pytest.approx([s for _, s in want],
                                                    abs=1e-9), q
