"""Physical-plan assertions: the properties that matter at 100 TB must
be visible in the executed plan, not just hoped for."""

import pytest

from elasticsearch_osmosis_plugin_spark.config import EngineConfig
from elasticsearch_osmosis_plugin_spark.plans.build import build_index


@pytest.fixture(scope="module")
def index_path(spark, corpus_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pidx") / "index")
    build_index(spark, corpus_df, path,
                EngineConfig(n_segments=8, n_buckets=8, resume=False),
                id_col="doc_id", n_groups=1)
    return path


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_postings_scan_prunes_buckets_and_terms(spark, index_path):
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        _pruned_postings,
    )
    from elasticsearch_osmosis_plugin_spark.plans.build import load_meta

    meta = load_meta(index_path)
    plan = _plan(_pruned_postings(spark, index_path, ["public", "static"], meta))
    assert "PartitionFilters: [bucket" in plan          # dir-level pruning
    assert "PushedFilters: [In(term" in plan            # row-group pruning


def test_one_match_plan():
    """Every Spark-path scorer shares one match plan: under operators/,
    ``tombstones_df`` is read only by ``query.live_docs``,
    ``score_postings`` is called only by ``query._scored``, no call
    passes ``denied=``, and ``.filter(post_filter)`` appears once (in
    ``query.allowed_docs``). Tombstone ids reach the driver only
    through ``plans.build.tombstone_ids``."""
    import ast
    import pathlib

    import elasticsearch_osmosis_plugin_spark.operators as ops

    found: dict[str, list[str]] = {"tombstones_df": [], "score_postings": [],
                                   "denied=": [], "filter(post_filter)": []}

    class Calls(ast.NodeVisitor):
        def __init__(self, module: str):
            self.where = [module]

        def visit_FunctionDef(self, node):
            self.where.append(node.name)
            self.generic_visit(node)
            self.where.pop()

        def visit_Call(self, node):
            name = getattr(node.func, "id", None) or getattr(
                node.func, "attr", None)
            at = f"{self.where[0]}:{self.where[-1]}"
            if name in ("tombstones_df", "score_postings"):
                found[name].append(at)
            if any(kw.arg == "denied" for kw in node.keywords):
                found["denied="].append(at)
            if name == "filter" and [getattr(a, "id", None)
                                     for a in node.args] == ["post_filter"]:
                found["filter(post_filter)"].append(at)
            self.generic_visit(node)

    root = pathlib.Path(ops.__file__).parent
    for path in sorted(root.rglob("*.py")):
        Calls(path.stem).visit(ast.parse(path.read_text(), str(path)))
    assert found == {"tombstones_df": ["query:live_docs"],
                     "score_postings": ["query:_scored"],
                     "denied=": [],
                     "filter(post_filter)": ["query:allowed_docs"]}, found

    # one driver-side tombstone reader, ``plans.build.tombstone_ids``
    # (pyarrow, no Spark job): no code under operators/ or plans/
    # defines another, or brings tombstones to the driver with a
    # toPandas()/collect(). The one collect over the tombstone frame
    # left, in the bloom purge path, gathers at most n_bits/64 filter
    # words, never ids.
    import elasticsearch_osmosis_plugin_spark.plans as plans
    from elasticsearch_osmosis_plugin_spark.operators import serve
    from elasticsearch_osmosis_plugin_spark.plans import build

    readers, to_driver = [], []

    def mentions_tombstones(node) -> bool:
        return any("tomb" in str(getattr(n, "id", None)
                                 or getattr(n, "attr", None)
                                 or getattr(n, "value", "")).lower()
                   for n in ast.walk(node))

    for pkg in (ops, plans):
        for path in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py")):
            tree = ast.parse(path.read_text(), str(path))
            for fn in ast.walk(tree):
                if not isinstance(fn, ast.FunctionDef):
                    continue
                if "tombstone_ids" in fn.name:
                    readers.append(f"{path.stem}:{fn.name}")
                for node in ast.walk(fn):
                    if (isinstance(node, ast.Call)
                            and isinstance(node.func, ast.Attribute)
                            and node.func.attr in ("toPandas", "collect")
                            and mentions_tombstones(node.func.value)):
                        to_driver.append(f"{path.stem}:{fn.name}")
    assert readers == ["build:tombstone_ids"], readers
    assert to_driver == ["merge:_bloom_words_build"], to_driver
    assert serve._tombstone_ids is build.tombstone_ids


def test_one_posting_layout():
    """meta's ``groups`` is the one statement of the live postings: no
    package code mentions a ``postings_merged`` table or uses
    ``merged`` / ``merged_groups`` as a meta key (``merged_groups``
    lives only in compaction's group manifest), and
    ``build.postings_df`` is the one ``basePath`` posting reader."""
    import ast
    import pathlib

    import elasticsearch_osmosis_plugin_spark as pkg

    merged_table, meta_keys, manifest_keys, base_path = [], [], [], []
    for path in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py")):
        src = path.read_text()
        if "postings_merged" in src:
            merged_table.append(path.stem)
        tree = ast.parse(src, str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            at = f"{path.stem}:{fn.name}"
            allowed = set()     # the keys of a manifest= dict literal
            for node in ast.walk(fn):
                if isinstance(node, ast.Call):
                    allowed |= {id(k) for kw in node.keywords
                                if kw.arg == "manifest"
                                and isinstance(kw.value, ast.Dict)
                                for k in kw.value.keys}
                    if (getattr(node.func, "attr", None) == "option"
                            and node.args
                            and getattr(node.args[0], "value", None)
                            == "basePath"):
                        base_path.append(at)
            for node in ast.walk(fn):
                if (isinstance(node, ast.Constant)
                        and node.value in ("merged", "merged_groups")):
                    (manifest_keys if id(node) in allowed
                     else meta_keys).append(at)
    assert merged_table == [], merged_table
    assert meta_keys == [], meta_keys
    assert sorted(set(manifest_keys)) == ["merge:compact_index"], manifest_keys
    assert base_path == ["build:postings_df"], base_path


# the query-scoped aggregations of intersect.py
HIT_SET_AGGS = {
    "stats_agg", "date_histogram_agg", "histogram_agg", "terms_stats_facet",
    "range_agg", "filters_agg", "missing_agg", "percentiles_agg",
    "significant_terms", "significant_text", "facet_counts",
    "terms_agg_sharded", "cardinality_agg", "percentile_ranks_agg",
    "adjacency_matrix_agg", "weighted_avg_agg", "string_stats_agg",
    "matrix_stats_agg", "rare_terms_agg", "multi_terms_agg",
    "top_metrics_agg", "scripted_metric_agg", "terms_subaggs",
    "extended_stats_agg", "median_absolute_deviation_agg", "t_test_agg",
    "boxplot_agg", "histogram_filled"}


def test_one_hit_set_per_agg():
    """Every query-scoped agg reads its doc-store rows through
    ``intersect._hit_values`` (directly or via another such agg): none
    resolves its query (match_any_terms / match_all_terms) or reads
    docstats itself, and no intersect function but expand_terms /
    match_expanded has a ``mode`` parameter. ``dsl.search_aggs``
    compiles its query once, through ``_unranked_ids``."""
    import ast
    import inspect

    from elasticsearch_osmosis_plugin_spark.operators import dsl, intersect

    def functions(module):
        tree = ast.parse(inspect.getsource(module))
        return {n.name: n for n in tree.body
                if isinstance(n, ast.FunctionDef)}

    def calls(fn):
        return [getattr(n.func, "id", None) or getattr(n.func, "attr", None)
                for n in ast.walk(fn) if isinstance(n, ast.Call)]

    fns = functions(intersect)
    assert HIT_SET_AGGS <= set(fns)
    bad = []
    for name in sorted(HIT_SET_AGGS):
        called = calls(fns[name])
        bad += [(name, c) for c in called
                if c in ("match_any_terms", "match_all_terms", "read_table")]
        bad += [(name, "docstats") for n in ast.walk(fns[name])
                if isinstance(n, ast.Constant) and n.value == "docstats"]
        if not ({"_hit_values"} | HIT_SET_AGGS) & set(called):
            bad.append((name, "no _hit_values"))
    assert not bad, bad
    with_mode = sorted(name for name, fn in fns.items()
                       if "mode" in {a.arg for a in
                                     fn.args.args + fn.args.kwonlyargs})
    assert with_mode == ["expand_terms", "match_expanded"]

    called = calls(functions(dsl)["search_aggs"])
    assert called.count("_unranked_ids") == 1
    assert not {"match_any_terms", "match_all_terms", "read_table"} \
        & set(called)


# the operators of intersect.py that read positional postings, and the
# private steps of their one plan
POSITIONAL_OPS = {
    "match_phrase", "match_phrase_prefix", "span_near", "span_or_near",
    "span_containing", "span_first", "span_not", "highlight",
    "highlight_fragments", "suggest_phrase", "_near", "_aligned",
    "_slot_position_lists", "_occurrences"}


def test_one_positional_plan():
    """Every phrase and span operator reads its live occurrences from
    ``intersect._occurrences``, the one ``term_positions`` caller in
    the package. ``_slot_position_lists`` takes no candidate frame and
    no positional path computes a candidate intersection
    (match_all_terms / match_any_terms): match_phrase keeps them only
    for a single term and for its term-vector fallback, which read no
    positions. Query text is analyzed against an index only by
    ``query.analyze`` (no ``tokenize_py`` call passes ``min_len=``
    elsewhere), and span_near is span_or_near's window rule, not a copy
    (its body defines no lambda)."""
    import ast
    import inspect
    import pathlib

    import elasticsearch_osmosis_plugin_spark as pkg
    from elasticsearch_osmosis_plugin_spark.operators import intersect

    def name_of(call):
        return getattr(call.func, "id", None) or getattr(
            call.func, "attr", None)

    positions, min_len = [], []
    for path in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if not isinstance(node, ast.Call):
                    continue
                if name_of(node) == "term_positions":
                    positions.append(f"{path.stem}:{fn.name}")
                if name_of(node) == "tokenize_py" and any(
                        kw.arg == "min_len" for kw in node.keywords):
                    min_len.append(f"{path.stem}:{fn.name}")
    assert positions == ["intersect:_occurrences"], positions
    assert sorted(set(min_len)) == ["query:analyze"], min_len

    fns = {n.name: n for n in ast.parse(inspect.getsource(intersect)).body
           if isinstance(n, ast.FunctionDef)}
    assert POSITIONAL_OPS <= set(fns)
    assert [a.arg for a in fns["_slot_position_lists"].args.args] == [
        "spark", "index_path", "meta", "slot_terms", "op"]

    def cand_calls(fn):
        return [n for n in ast.walk(fn) if isinstance(n, ast.Call)
                and name_of(n) in ("match_all_terms", "match_any_terms")]

    bad = [name for name in sorted(POSITIONAL_OPS - {"match_phrase"})
           if cand_calls(fns[name])]
    assert not bad, bad
    # match_phrase: only inside its single-term branch or after the
    # positional return (the term-vector fallback)
    mp = fns["match_phrase"]
    single = next(n for n in ast.walk(mp) if isinstance(n, ast.If)
                  and "len(terms) == 1" in ast.unparse(n.test))
    in_single = {id(n) for n in ast.walk(single)}
    positional_end = max(n.lineno for n in ast.walk(mp)
                         if isinstance(n, ast.Call)
                         and name_of(n) in ("_aligned",
                                            "_slot_position_lists"))
    stray = [n.lineno for n in cand_calls(mp)
             if id(n) not in in_single and n.lineno <= positional_end]
    assert not stray, stray
    assert not [n for n in ast.walk(fns["span_near"])
                if isinstance(n, (ast.Lambda, ast.FunctionDef))
                and n is not fns["span_near"]]


def test_one_dictionary_read(tmp_path):
    """A per-term dictionary lookup has one implementation:
    ``query.dictionary_rows(index_path, terms, meta)``, a pyarrow read
    of the terms' bucket files that starts no Spark job (it neither
    collects to pandas nor builds a dictionary DataFrame). No operator
    function takes a ``_dic`` knob and ``query`` keeps no
    ``DictionaryCache`` memo. An index directory holding only its meta
    gives the empty ``_DIC_COLS`` frame."""
    import ast
    import inspect
    import json
    import pathlib

    from elasticsearch_osmosis_plugin_spark.operators import query

    ops = pathlib.Path(query.__file__).parent
    knobs = []
    for path in sorted(ops.glob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and \
                    "_dic" in [a.arg for a in ast.walk(fn.args)
                               if isinstance(a, ast.arg)]:
                knobs.append(f"{path.stem}:{fn.name}")
    assert not knobs, knobs

    tree = ast.parse(inspect.getsource(query))
    assert not [n for n in ast.walk(tree) if isinstance(n, ast.ClassDef)
                and n.name == "DictionaryCache"]
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef)
              and n.name == "dictionary_rows")
    assert [a.arg for a in fn.args.args + fn.args.kwonlyargs] == [
        "index_path", "terms", "meta"]
    called = {getattr(n.func, "id", None) or getattr(n.func, "attr", None)
              for n in ast.walk(fn) if isinstance(n, ast.Call)}
    assert not {"toPandas", "dictionary_df"} & called, called

    (tmp_path / "meta.json").write_text(json.dumps({"n_buckets": 4}))
    dic = query.dictionary_rows(str(tmp_path), ["public", "nosuch"],
                                query.load_meta(str(tmp_path)))
    assert dic.empty and list(dic.columns) == query._DIC_COLS


def test_bm25_topk_is_take_ordered(spark, corpus_df):
    from elasticsearch_osmosis_plugin_spark.operators.bm25 import bm25_topk

    plan = _plan(bm25_topk(corpus_df, "public static", k=10))
    assert "TakeOrderedAndProject" in plan               # no global sort
    assert "BroadcastHashJoin" in plan                   # dims broadcast


def test_parquet_scan_projects_needed_columns_only(spark, index_path):
    from elasticsearch_osmosis_plugin_spark.plans import catalog

    ds = catalog.read_table(spark, index_path, "docstats") \
        .select("doc_id", "dl")
    plan = _plan(ds)
    assert "ReadSchema: struct<doc_id:bigint,dl:int>" in plan


def test_topk_many_single_decode(spark, index_path):
    """The batched serving path's amortization claim, pinned in the
    plan: ONE MapInArrow decode for the whole batch (not one per
    query) and a broadcast fan-out of the (query_id, term) relation."""
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_many

    df = topk_many(spark, index_path, {"a": "public static",
                                       "b": "static void",
                                       "c": "import"}, k=5)
    plan = _plan(df)
    assert plan.count("MapInArrow") == 1
    assert "BroadcastHashJoin" in plan


def test_collapse_group_limit_below_exchange(spark, index_path):
    """Field collapsing's skew defense, pinned in the plan: the
    1-per-group cut runs as WindowGroupLimit partial+final (a
    mega-group ships one row per map partition, not its hit set) and
    the final k-cut is a TakeOrderedAndProject."""
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import collapse_topk

    plan = _plan(collapse_topk(spark, index_path, "public static", "lang", k=5))
    assert plan.count("WindowGroupLimit") >= 2           # partial + final
    assert "TakeOrderedAndProject" in plan


def test_exact_filter_pushed_down(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(docs.filter(docs.lang == "fr").select("doc_id"))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,fr)]" in plan


def test_map_side_ops_have_no_exchange(spark):
    """The ops sold as map-side-only must show NO Exchange in the
    executed plan: percolate (unordered), stratified mixture sampling,
    and per-partition sequence packing."""
    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.functions.sampling import (
        pack_sequences_partitioned,
        stratified_mixture,
    )
    from elasticsearch_osmosis_plugin_spark.operators.percolate import percolate

    docs = spark.createDataFrame(
        [(i, f"spark join t{i}", "en" if i % 2 else "de", 5)
         for i in range(50)],
        "doc_id long, text string, lang string, n_tokens long")
    p1 = _plan(percolate(docs, {"q": "spark join"}, analyzer="simple",
                         ordered=False))
    assert "Exchange" not in p1
    p2 = _plan(stratified_mixture(docs, {"en": 0.5}, stratum_col="lang"))
    assert "Exchange" not in p2
    p3 = _plan(pack_sequences_partitioned(docs, 64))
    assert "Exchange" not in p3
    from elasticsearch_osmosis_plugin_spark.functions.analysis import (
        chunk_documents,
    )

    p4 = _plan(chunk_documents(docs, 8, ordered=False))
    assert "Exchange" not in p4


def test_classic_similarity_plan(spark, index_path):
    """topk_classic shares scoreall's physical shape: ONE Arrow decode
    and a TakeOrderedAndProject top-k (no global sort)."""
    from elasticsearch_osmosis_plugin_spark.operators.query import topk_classic

    plan = _plan(topk_classic(spark, index_path, "public static", k=10))
    assert plan.count("MapInArrow") == 1
    assert "TakeOrderedAndProject" in plan


def test_duplicate_spans_skew_safe_plan(spark):
    """Substring dedup plan shape, hot-gram-skew safe: the gram-hash
    group stats come from a map-side-combined groupBy (each partition
    contributes ONE partial row per hot gram) equi-joined back — NOT a
    window over the gram hash, which would pin every occurrence of a
    boilerplate gram in one unsplittable task. The only windows left
    are the per-doc island merge; the gram STRING never crosses an
    exchange (hashed before it)."""
    from elasticsearch_osmosis_plugin_spark.functions.dedupe import (
        duplicate_spans,
    )

    from elasticsearch_osmosis_plugin_spark.functions import dedupe

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(20)],
        "doc_id long, text string")
    # bypass the eager localCheckpoint so the full plan is inspectable
    orig = dedupe._materialized
    dedupe._materialized = lambda result, released: result
    try:
        out = duplicate_spans(docs, k=5)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        dedupe._materialized = orig
    final = plan.split("== Initial Plan ==")[0]   # AQE prints both plans
    # every Window operator partitions by doc_id, none by the gram hash
    import re

    for m in re.finditer(r"windowspecdefinition\((\w+)#", final):
        assert m.group(1) == "doc_id", final
    # group stats are partial-aggregated before the g exchange
    assert "partial_count" in final and "partial_min" in final
    assert "Exchange hashpartitioning(g#" in final
    # the gram hash (xxhash64) is computed below the exchanges: no raw
    # gram string column crosses a shuffle
    assert "xxhash64" in final


def test_round2b_operators_plan_shapes(spark, corpus_df, index_path,
                                       tmp_path_factory):
    """pinned / terms_subaggs / combined_fields / explain keep the
    shapes that matter at scale: top-k via TakeOrderedAndProject,
    small sides broadcast, NO sort-merge joins."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        terms_subaggs,
    )
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        explain_hits,
        topk,
    )
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        combined_fields_topk,
        pinned_topk,
    )

    repo_idx = str(tmp_path_factory.mktemp("pidx2") / "index")
    build_index(spark, corpus_df, repo_idx,
                EngineConfig(n_segments=8, n_buckets=8, resume=False),
                id_col="doc_id", text_col="repo", n_groups=1)
    frames = {
        "pinned": pinned_topk(spark, index_path, [3, 5], "public", k=10),
        "subaggs": terms_subaggs(spark, index_path, "public", "lang",
                                 {"a": ("avg", "dl")}),
        "combined": combined_fields_topk(
            spark, {"content": index_path, "repo": repo_idx}, "public", k=10),
        "explain": explain_hits(
            spark, index_path, topk(spark, index_path, "public", k=5),
            "public"),
    }
    for name, df in frames.items():
        plan = _plan(df)
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        if name in ("pinned", "combined"):
            assert "TakeOrderedAndProject" in plan, name


def test_pq_adc_plan_is_narrow(spark):
    """PQ/ADC scoring is one codegen projection + TakeOrderedAndProject:
    no join, no shuffle exchange before the k-cut."""
    from elasticsearch_osmosis_plugin_spark.functions.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk_adc,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_codebooks(emb, m=4, k_sub=8, seed=3)
    codes = pq_encode(emb, books)
    q = [r["embedding"] for r in emb.limit(1).collect()][0]
    plan = _plan(pq_topk_adc(codes, q, books, k=10))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[1] \
        if "TakeOrderedAndProject" in plan else True


def test_linear_fuse_broadcasts_norm_constants(spark, index_path):
    """linear_fuse's per-source normalization constants must join by
    BROADCAST (they are one-row aggregates), never sort-merge."""
    from pyspark.sql import functions as F

    from elasticsearch_osmosis_plugin_spark.operators.query import topk
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        linear_fuse,
    )

    x4 = lambda df: df.select(  # noqa: E731
        "doc_id", F.floor(F.col("score") * 10000.0 + F.lit(0.5))
        .cast("long").alias("score_x1e4"))
    a = x4(topk(spark, index_path, "public static", k=20))
    b = x4(topk(spark, index_path, "import", k=20))
    plan = _plan(linear_fuse({"a": a, "b": b}, {"a": 2.0}, k=10,
                             normalizer="minmax", window=20))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_terms_enum_is_metadata_only(spark, index_path):
    """terms_enum must scan the dictionary (5 stat columns), never a
    posting payload column."""
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        terms_enum,
    )

    plan = _plan(terms_enum(spark, index_path, prefix="p", size=10))
    assert "doc_ids_vb" not in plan and "pos_vb" not in plan
    assert "StartsWith(term,p)" in plan.replace(" ", "") \
        or "PushedFilters" in plan


def test_searcher_topk_job_budget(spark, corpus_df, tmp_path):
    """Segment-local top-k: ``Searcher.topk`` runs at most 2 Spark
    jobs (the posting-segment shuffle and the k x n_segments merge)
    under every strategy name, for 1- and 2-term queries, on an index
    with tombstones; the dictionary lookup runs none, so a bare
    ``query.topk`` stays within the same 2."""
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        STRATEGIES,
        Searcher,
        topk,
    )
    from elasticsearch_osmosis_plugin_spark.plans.build import delete_docs

    path = str(tmp_path / "jobs")
    build_index(spark, corpus_df, path,
                EngineConfig(n_segments=8, n_buckets=8, resume=False),
                id_col="doc_id", n_groups=2)
    delete_docs(spark, path, [1, 2, 3])
    sc = spark.sparkContext
    s = Searcher(spark, path)
    try:
        for q in ("public", "public static"):
            for strategy in STRATEGIES:
                s.topk(q, 5, strategy).collect()           # warm-up
                group = f"jobs-{q}-{strategy}"
                sc.setJobGroup(group, group)
                rows = s.topk(q, 5, strategy).collect()
                n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                assert rows and n_jobs <= 2, (q, strategy, n_jobs)
            group = f"jobs-bare-{q}"
            sc.setJobGroup(group, group)
            rows = topk(spark, path, q, 5).collect()
            n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            assert rows and n_jobs <= 2, (q, "bare", n_jobs)
    finally:
        sc.setJobGroup("", "")
        s.close()


def test_one_topk_kernel():
    """The dominated Spark top-k strategies are gone, and the Spark
    per-segment kernel and the driver-local scorer share one
    accumulate (``serve.accumulate_topk``), defined once."""
    import ast
    import inspect

    from elasticsearch_osmosis_plugin_spark.operators import query, serve

    def functions(module):
        return {n.name: n for n in ast.walk(ast.parse(inspect.getsource(module)))
                if isinstance(n, ast.FunctionDef)}

    def calls(fn):
        return {getattr(n.func, "id", None) or getattr(n.func, "attr", None)
                for n in ast.walk(fn) if isinstance(n, ast.Call)}

    q_fns, s_fns = functions(query), functions(serve)
    assert not {"_topk_maxscore", "_theta_seed", "_topk_single_term_blockmax",
                "_finalize_topk"} & set(q_fns)
    assert "accumulate_topk" not in q_fns and "accumulate_topk" in s_fns
    assert "accumulate_topk" in calls(q_fns["_segment_topk_kernel"])
    assert "accumulate_topk" in calls(s_fns["_score_from_postings"])


def test_write_path_job_budget(spark, corpus_df, tmp_path, monkeypatch):
    """One Spark pass per committed table on the write path: purge runs
    as many jobs after an append (3 groups) as on a 2-group index (one
    posting job rewrites every group), and ``delete_docs`` (a list of
    ids) and ``compact_index`` run no ``count()`` job."""
    from elasticsearch_osmosis_plugin_spark.plans.build import (
        append_index_group,
        delete_docs,
    )
    from elasticsearch_osmosis_plugin_spark.plans.merge import (
        compact_index,
        purge_deletes,
    )

    sc = spark.sparkContext
    frame = type(corpus_df)        # the concrete (classic) DataFrame
    counts = []
    count = frame.count

    def spy(self):
        counts.append(self)
        return count(self)

    def jobs(group, fn, *args):
        sc.setJobGroup(group, group)
        try:
            fn(*args)
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    cfg = EngineConfig(n_segments=8, n_buckets=8, resume=False)
    purge_jobs = {}
    for appended in (False, True):
        path = str(tmp_path / f"write-{appended}")
        build_index(spark, corpus_df.filter("doc_id < 60"), path, cfg,
                    id_col="doc_id", n_groups=2)
        if appended:
            append_index_group(spark, corpus_df.filter("doc_id >= 60"),
                               path, id_col="doc_id")
        monkeypatch.setattr(frame, "count", spy)
        n_delete = jobs(f"delete-{appended}", delete_docs, spark, path,
                        [1, 2, 3, 70])
        n_compact = jobs(f"compact-{appended}", compact_index, spark, path)
        monkeypatch.undo()
        assert not counts and n_delete <= 2 and n_compact <= 3, (
            len(counts), n_delete, n_compact)
        purge_jobs[appended] = jobs(f"purge-{appended}", purge_deletes,
                                    spark, path)
    assert purge_jobs[True] == purge_jobs[False] <= 9, purge_jobs
