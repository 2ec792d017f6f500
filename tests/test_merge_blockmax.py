"""M3 compaction + block-max pruning: results must be identical to the
unmerged / unpruned paths (SURVEY M3 gate: merged index answers ==
M1 answers)."""

import os

import pytest

from elasticsearch_osmosis_plugin_spark.config import EngineConfig
from elasticsearch_osmosis_plugin_spark.operators.bm25 import bm25_oracle
from elasticsearch_osmosis_plugin_spark.operators.query import topk
from elasticsearch_osmosis_plugin_spark.plans.build import build_index, load_meta
from elasticsearch_osmosis_plugin_spark.plans.merge import (
    compact_index,
    drop_unmerged_groups,
)

CFG = EngineConfig(n_segments=8, n_buckets=4, block_size=8)


@pytest.fixture(scope="module")
def index_path(spark, corpus_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("midx") / "index")
    build_index(spark, corpus_df, path, CFG, id_col="doc_id", n_groups=4)
    return path


def _oracle(corpus_rows, query, k):
    rows = list(zip(corpus_rows["doc_id"], corpus_rows["content"]))
    return bm25_oracle(rows, query, k=k)


def test_blockmax_single_term_rank_identical(spark, corpus_rows, index_path):
    # block_size=8 -> many blocks; pruning path must stay exact
    for query in ("id0001", "public", "id0042"):
        got = topk(spark, index_path, query, k=10, strategy="blockmax").collect()
        want = _oracle(corpus_rows, query, 10)
        assert [r["doc_id"] for r in got] == [d for d, _ in want], query
        for r, (_, s) in zip(got, want):
            assert abs(r["score"] - s) < 1e-9


def test_compaction_preserves_results(spark, corpus_rows, index_path):
    before = topk(spark, index_path, "id0001 import", k=10).collect()
    meta = compact_index(spark, index_path)
    # the 4 build groups fold into ONE new group, the only one listed
    assert meta["groups"] == [4]
    after = topk(spark, index_path, "id0001 import", k=10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in before] == \
           [(r["doc_id"], round(r["score"], 9)) for r in after]
    # compacted group: exactly one data file per bucket
    for b in range(CFG.n_buckets):
        d = os.path.join(index_path, "postings", "group=4", f"bucket={b}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, d


def test_drop_unmerged_groups(spark, corpus_rows, index_path):
    drop_unmerged_groups(index_path)
    assert not os.path.exists(os.path.join(index_path, "postings", "group=0"))
    got = topk(spark, index_path, "public static", k=5).collect()
    want = _oracle(corpus_rows, "public static", 5)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]


def test_meta_merge_lineage(index_path):
    meta = load_meta(index_path)
    assert any(m["stage"] == "merge" for m in meta["metrics"])


def test_verify_index_fsck(spark, corpus_df, tmp_path):
    """Integrity audit: clean index passes every check; a tampered
    source flips the sha row-invariant; a deleted postings group flips
    the dictionary consistency check."""
    import shutil

    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.plans.build import build_index
    from elasticsearch_osmosis_plugin_spark.plans.merge import verify_index

    path = str(tmp_path / "fsck")
    build_index(spark, corpus_df, path, CFG, id_col="doc_id", n_groups=2)
    rep = verify_index(spark, path, corpus_df)
    assert rep["ok"] and rep["row_invariant"]["ok"] \
        and rep["dictionary"]["ok"] and rep["doc_lengths"]["ok"], rep

    tampered = corpus_df.withColumn(
        "content", F.when(F.col("doc_id") == 3, F.lit("EVIL"))
        .otherwise(F.col("content")))
    rep2 = verify_index(spark, path, tampered)
    assert not rep2["ok"] and rep2["row_invariant"]["mismatches"] == 1

    shutil.rmtree(os.path.join(path, "postings", "group=1"))
    rep3 = verify_index(spark, path)
    assert not rep3["ok"] and not rep3["structure"]["ok"] \
        and not rep3["dictionary"]["ok"]


def test_verify_index_after_compaction(spark, corpus_df, tmp_path):
    """A compacted index is clean: fsck checks the compacted group, and
    after compact → append also the group appended since the merge
    (its loss is a structure failure, not silently ignored)."""
    import shutil

    from elasticsearch_osmosis_plugin_spark.plans.build import (
        append_index_group,
    )
    from elasticsearch_osmosis_plugin_spark.plans.merge import verify_index

    path = str(tmp_path / "fsck_merged")
    build_index(spark, corpus_df.filter("doc_id < 60"), path, CFG,
                id_col="doc_id", n_groups=2)
    compact_index(spark, path)
    rep = verify_index(spark, path)
    assert rep["ok"] and rep["structure"]["missing"] == [], rep

    append_index_group(spark, corpus_df.filter("doc_id >= 60"), path,
                       id_col="doc_id")
    rep = verify_index(spark, path, corpus_df)
    assert rep["ok"] and rep["dictionary"]["ok"] \
        and rep["row_invariant"]["ok"], rep

    # groups 0, 1 folded into 2; the append is group 3
    assert load_meta(path)["groups"] == [2, 3]
    shutil.rmtree(os.path.join(path, "postings", "group=3"))
    rep = verify_index(spark, path)
    assert not rep["ok"] and rep["structure"]["missing"] == [
        "postings/group=3"], rep


def test_verify_index_flags_doc_in_two_segments(spark, corpus_df, tmp_path):
    """Per-segment top-k needs every live doc's postings in ONE posting
    segment: a clean index passes the ``segments`` check, and a
    hand-built group repeating group 0's doc ids under other segment
    ids is flagged, one split doc per duplicated id."""
    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.plans import catalog
    from elasticsearch_osmosis_plugin_spark.plans.build import _write_meta
    from elasticsearch_osmosis_plugin_spark.plans.merge import verify_index

    path = str(tmp_path / "split")
    build_index(spark, corpus_df.filter("doc_id < 40"), path, CFG,
                id_col="doc_id", n_groups=1)
    rep = verify_index(spark, path)
    assert rep["ok"] and rep["segments"] == {"ok": True, "split_docs": 0}

    dup = (catalog.read_table(spark, path, "postings/group=0")
           .withColumn("seg", F.col("seg") + F.lit(1 << 40)))
    catalog.create_or_replace(dup, path, "postings/group=1",
                              manifest={"stage": "postings", "group": 1},
                              partition_by=["bucket"])
    meta = load_meta(path)
    meta["groups"] = [0, 1]
    _write_meta(path, meta)
    rep = verify_index(spark, path)
    assert not rep["ok"] and rep["segments"] == {"ok": False,
                                                 "split_docs": 40}, rep
