"""Edge cases: empty corpus, empty/unicode docs, degenerate queries."""

import pytest

from elasticsearch_osmosis_plugin_spark.config import EngineConfig
from elasticsearch_osmosis_plugin_spark.operators.query import match_count, topk
from elasticsearch_osmosis_plugin_spark.plans.build import build_index

CFG = EngineConfig(n_segments=4, n_buckets=4, resume=False)


def test_empty_corpus_builds_and_queries(spark, tmp_path):
    empty = spark.createDataFrame(
        [], "doc_id long, repo string, path string, commit string, "
            "lang string, content string")
    idx = str(tmp_path / "empty_idx")
    meta = build_index(spark, empty, idx, CFG, id_col="doc_id", n_groups=1)
    assert meta["n_docs"] == 0
    assert topk(spark, idx, "anything", k=5).count() == 0


def test_blank_and_unicode_docs(spark, tmp_path):
    rows = [
        (1, "", ""),
        (2, "   \t\n ", ""),
        (3, "naïve café résumé İstanbul", ""),
        (4, "getÜberBuffer parse_ÇFile", ""),
        (5, "plain ascii words here", ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string, lang string")
    idx = str(tmp_path / "uni_idx")
    meta = build_index(spark, docs, idx, CFG, id_col="doc_id", n_groups=1)
    assert meta["n_docs"] == 5
    got = topk(spark, idx, "ascii", k=5).collect()
    assert [r["doc_id"] for r in got] == [5]
    # unicode letters are not [a-z0-9] — code analyzer splits around them
    assert match_count(spark, idx, "caf") == 1
    # blank docs must not break stats or scoring
    assert match_count(spark, idx, "") == 0


def test_duplicate_doc_ids_tolerated_in_dao_not_index(spark, tmp_path):
    # index build trusts unique ids (sha-derived by default); verify the
    # deterministic id derivation is stable and collision-free here
    from elasticsearch_osmosis_plugin_spark.plans.build import add_doc_ids

    from elasticsearch_osmosis_plugin_spark.corpus import generate_corpus_pdf

    pdf = generate_corpus_pdf(seed=42, n=300)
    df = add_doc_ids(spark.createDataFrame(pdf), ("repo", "path", "commit"))
    n = df.count()
    assert df.select("doc_id").distinct().count() == n
    # deterministic across computations
    a = sorted(r["doc_id"] for r in df.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in df.select("doc_id").collect())
    assert a == b


def test_unknown_strategy_rejected_before_lookup(spark, tmp_path):
    """``strategy`` is validated before the dictionary lookup: an
    unknown one raises for a known term, an unknown term and an empty
    query alike (not an empty frame when no term is indexed)."""
    docs = spark.createDataFrame([(1, "apple pie"), (2, "banana split")],
                                 "doc_id long, content string")
    idx = str(tmp_path / "strategy_idx")
    build_index(spark, docs, idx, CFG, id_col="doc_id", n_groups=1)
    assert topk(spark, idx, "apple", k=3, strategy="scoreall").count() == 1
    for q in ("apple", "nosuchterm", ""):
        with pytest.raises(ValueError, match="unknown strategy"):
            topk(spark, idx, q, k=3, strategy="bogus")


def test_query_longer_than_any_doc(spark, corpus_df, tmp_path):
    idx = str(tmp_path / "long_idx")
    build_index(spark, corpus_df, idx, CFG, id_col="doc_id", n_groups=1)
    q = " ".join(f"id{i:04d}" for i in range(50))
    got = topk(spark, idx, q, k=5, strategy="maxscore").collect()
    assert len(got) == 5


def test_new_ops_degenerate_inputs(spark, tmp_path):
    """Round-2 surfaces on empty/absent inputs: classic similarity,
    DSL search, collapse, multi-index, boosting — all return empty
    (never raise) on an empty index or a no-hit query."""
    from elasticsearch_osmosis_plugin_spark.operators import dsl
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        topk_classic,
        topk_multi,
    )
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        boosting_topk,
        collapse_topk,
    )

    empty = spark.createDataFrame(
        [], "doc_id long, repo string, path string, commit string, "
            "lang string, content string")
    idx = str(tmp_path / "e_idx")
    build_index(spark, empty, idx, CFG, id_col="doc_id", n_groups=1)
    assert topk_classic(spark, idx, "anything", k=5).count() == 0
    assert topk_classic(spark, idx, "", k=5).count() == 0
    assert topk_multi(spark, [idx], "anything", k=5).count() == 0
    assert topk_multi(spark, [], "anything", k=5).count() == 0
    assert collapse_topk(spark, idx, "anything", "lang", k=5).count() == 0
    assert boosting_topk(spark, idx, "anything", "other", k=5).count() == 0
    assert dsl.search(spark, idx, {"query": {"match":
                                             {"content": "x"}}}).count() == 0
    assert dsl.search(spark, idx, {"query": {"match_all": {}}}).count() == 0


def test_chunk_and_pack_degenerate(spark):
    from elasticsearch_osmosis_plugin_spark.functions.analysis import (
        chunk_documents,
    )
    from elasticsearch_osmosis_plugin_spark.functions.sampling import (
        pack_sequences,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert chunk_documents(empty, 10).count() == 0
    # max_tokens=1, overlap=0: one chunk per token
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    got = chunk_documents(df, 1).collect()
    assert [r["chunk_text"] for r in got] == ["a", "b", "c"]
    e2 = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert pack_sequences(e2, 16).count() == 0
    with pytest.raises(ValueError):
        pack_sequences(e2, 0)
