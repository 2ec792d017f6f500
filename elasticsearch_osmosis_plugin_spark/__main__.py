"""spark-submit entry point: build / query / maintain an index from
the command line.

The north-rule deployment shape is ``spark-submit --py-files`` on a
multi-executor cluster (reference analog: the osmosis pipeline task
invocation wiring, ``ElasticSearchWriterFactory.java:21-61`` — the
plugin's CLI surface is osmosis ``--write-elasticsearch`` task args;
here the same knobs arrive as argparse flags). Typical use::

    # package the library once for --py-files
    python -m elasticsearch_osmosis_plugin_spark package --out eosp.zip

    spark-submit --py-files eosp.zip -m elasticsearch_osmosis_plugin_spark ...
    # or, equivalently, ship a driver script that calls main()

    # local smoke (no cluster): master defaults to local[*]
    python -m elasticsearch_osmosis_plugin_spark build \
        --input /root/testdata/sf0.001/documents.parquet \
        --index /tmp/idx --id-col doc_id --text-col text --analyzer simple
    python -m elasticsearch_osmosis_plugin_spark query \
        --index /tmp/idx --query "spark query join" --k 10

Under spark-submit the session respects the submitted master/conf
(no master is forced); standalone ``python -m`` falls back to
``local[*]``. Results print as JSON lines on stdout (one per row) so
the CLI composes with shell pipelines; ``--output`` writes parquet
instead for cluster-sized results.
"""

from __future__ import annotations

import argparse
import json
import sys


def _get_spark(args):
    from pyspark import SparkConf

    from elasticsearch_osmosis_plugin_spark.session import get_session

    master = getattr(args, "master", None)
    if not master and not SparkConf().contains("spark.master"):
        master = "local[*]"  # standalone python -m; spark-submit sets conf
    return get_session(app_name="eosp-cli", master=master,
                       shuffle_partitions=args.shuffle_partitions)


def _emit(df, args) -> None:
    if getattr(args, "output", None):
        df.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"written": args.output}))
        return
    for row in df.toLocalIterator():  # stream, never driver-collect all
        print(json.dumps(row.asDict(), default=str))


def _csv(s: str | None) -> list[str] | None:
    return [c for c in s.split(",") if c] if s else None


def _cfg(args):
    from elasticsearch_osmosis_plugin_spark.config import EngineConfig

    return EngineConfig.resolve(
        analyzer=args.analyzer, n_segments=args.n_segments,
        n_buckets=args.n_buckets, block_size=args.block_size,
        store_positions=not args.no_positions, resume=not args.no_resume,
        shuffle_partitions=args.shuffle_partitions)


def _add_common(p):
    p.add_argument("--master", default=None,
                   help="Spark master (default: spark-submit conf, "
                        "else local[*])")
    p.add_argument("--shuffle-partitions", type=int, default=32)


def _add_doc_cols(p):
    p.add_argument("--id-col", default=None,
                   help="numeric id column (default: derive from key cols)")
    p.add_argument("--key-cols", default="repo,path,commit",
                   help="csv key columns for id derivation")
    p.add_argument("--text-col", default="content")
    p.add_argument("--carry-cols", default=None,
                   help="csv doc-store carry columns (default: all non-text)")


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="elasticsearch_osmosis_plugin_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="SPIMI index build from parquet")
    b.add_argument("--input", required=True)
    b.add_argument("--index", required=True)
    _add_doc_cols(b)
    b.add_argument("--analyzer", default="code",
                   choices=["code", "simple", "english"])
    b.add_argument("--n-segments", type=int, default=32)
    b.add_argument("--n-buckets", type=int, default=16)
    b.add_argument("--block-size", type=int, default=128)
    b.add_argument("--n-groups", type=int, default=4)
    b.add_argument("--no-positions", action="store_true")
    b.add_argument("--no-resume", action="store_true")
    _add_common(b)

    a = sub.add_parser("append", help="incremental ingest as one LSM group")
    a.add_argument("--input", required=True)
    a.add_argument("--index", required=True)
    _add_doc_cols(a)
    _add_common(a)

    q = sub.add_parser("query", help="top-k BM25")
    q.add_argument("--index", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--strategy", default="auto",
                   choices=["auto", "scoreall", "maxscore", "blockmax"],
                   help="accepted for compatibility: every name runs "
                   "the one segment-local top-k plan")
    q.add_argument("--output", default=None, help="write parquet here "
                   "instead of printing JSON lines")
    _add_common(q)

    ph = sub.add_parser("phrase", help="positional phrase match")
    ph.add_argument("--index", required=True)
    ph.add_argument("--phrase", required=True)
    ph.add_argument("--slop", type=int, default=0)
    ph.add_argument("--unordered", action="store_true")
    ph.add_argument("--output", default=None)
    _add_common(ph)

    c = sub.add_parser("count", help="matching-doc count")
    c.add_argument("--index", required=True)
    c.add_argument("--query", required=True)
    _add_common(c)

    d = sub.add_parser("delete", help="tombstone doc ids")
    d.add_argument("--index", required=True)
    d.add_argument("--ids", required=True, help="csv doc ids")
    _add_common(d)

    for name, hlp in [("compact", "LSM-merge posting groups"),
                      ("purge", "physically expunge tombstoned docs"),
                      ("stats", "index-level statistics (ES _stats)")]:
        s = sub.add_parser(name, help=hlp)
        s.add_argument("--index", required=True)
        _add_common(s)

    dq = sub.add_parser("delete-by-query",
                        help="tombstone every doc matching a query")
    dq.add_argument("--index", required=True)
    dq.add_argument("--query", required=True)
    dq.add_argument("--mode", default="any", choices=["any", "all"])
    _add_common(dq)

    uq = sub.add_parser("update-by-query",
                        help="apply column=SQL assignments to matching docs")
    uq.add_argument("--index", required=True)
    uq.add_argument("--query", required=True)
    uq.add_argument("--set", required=True, action="append",
                    help="col=SQL expression (repeatable)")
    uq.add_argument("--mode", default="any", choices=["any", "all"])
    _add_common(uq)

    ri = sub.add_parser("reindex", help="rebuild a new index from the "
                        "live (optionally filtered) docs")
    ri.add_argument("--index", required=True, help="source index")
    ri.add_argument("--dest", required=True)
    ri.add_argument("--query", default=None)
    ri.add_argument("--n-groups", type=int, default=1)
    _add_common(ri)

    ro = sub.add_parser("rollover", help="roll an alias to a new index "
                        "generation when a condition is met")
    ro.add_argument("--alias", required=True)
    ro.add_argument("--max-docs", type=int, default=None)
    ro.add_argument("--max-groups", type=int, default=None)

    il = sub.add_parser("ilm", help="apply an ILM policy to an alias "
                        "(rollover conditions + generation retention)")
    il.add_argument("--alias", required=True)
    il.add_argument("--max-docs", type=int, default=None)
    il.add_argument("--max-groups", type=int, default=None)
    il.add_argument("--keep-generations", type=int, default=None)

    cl = sub.add_parser("clone", help="hardlinked same-settings live "
                        "copy of an index (ES _clone)")
    cl.add_argument("--index", required=True)
    cl.add_argument("--to", required=True)

    sh2 = sub.add_parser("shrink", help="ES _shrink: fewer term "
                         "buckets, pure hardlink+rename")
    sh2.add_argument("--index", required=True)
    sh2.add_argument("--to", required=True)
    sh2.add_argument("--n-buckets", type=int, required=True)
    _add_common(sh2)

    sp2 = sub.add_parser("split", help="ES _split: more term buckets, "
                         "one pass over posting rows")
    sp2.add_argument("--index", required=True)
    sp2.add_argument("--to", required=True)
    sp2.add_argument("--n-buckets", type=int, required=True)
    _add_common(sp2)

    pt = sub.add_parser("pit", help="open/close a point-in-time view")
    pt.add_argument("action", choices=("open", "close"))
    pt.add_argument("--index", help="index root (open)")
    pt.add_argument("--id", help="PIT id/path (close)")

    te = sub.add_parser("terms-enum", help="ordered prefix term "
                        "enumeration with doc counts")
    te.add_argument("--index", required=True)
    te.add_argument("--prefix", default="")
    te.add_argument("--size", type=int, default=10)
    te.add_argument("--search-after", default=None)
    _add_common(te)

    fs = sub.add_parser("fsck", help="distributed index integrity audit")
    fs.add_argument("--index", required=True)
    fs.add_argument("--source", default=None,
                    help="source parquet to check sha256 row invariants "
                         "against")
    fs.add_argument("--id-col", default="doc_id")
    fs.add_argument("--text-col", default="content")
    _add_common(fs)

    eq = sub.add_parser("esql", help="ES|QL piped query "
                        "(FROM t | WHERE .. | STATS .. BY ..)")
    eq.add_argument("--query", required=True,
                    help="ES|QL text, or @file.esql")
    eq.add_argument("--table", action="append", default=[],
                    metavar="NAME=PARQUET_PATH",
                    help="bind an index name to a parquet path "
                         "(repeatable)")
    eq.add_argument("--index", action="append", default=[],
                    metavar="INDEX_PATH",
                    help="run on persisted index(es) via the "
                         "esql_index fast path instead of --table "
                         "scans (repeatable for multi-index dfs-exact "
                         "search; canonical FROM .. METADATA _score | "
                         "WHERE MATCH(..) [AND filters] | SORT _score "
                         "DESC | LIMIT k shape)")
    eq.add_argument("--params", default=None, metavar="JSON",
                    help="bind parameter markers: a JSON array for "
                         "positional ?/indexed ?n, a JSON object for "
                         "named ?name / identifier ??name")
    eq.add_argument("--analyzer", default="simple")
    eq.add_argument("--now", default=None, metavar="TIMESTAMP",
                    help="inject the NOW() clock (ISO timestamp) — "
                         "every NOW() in the query sees this instant; "
                         "NOW() errors without it (deterministic plans)")
    eq.add_argument("--output", default=None)
    _add_common(eq)

    sq = sub.add_parser("sql", help="ES SQL (/_sql dialect: MATCH/"
                        "SCORE/QUERY, SHOW/DESCRIBE, ANSI passthrough)")
    sq.add_argument("--query", required=True, help="SQL text, or @file.sql")
    sq.add_argument("--table", action="append", default=[],
                    metavar="NAME=PARQUET_PATH")
    sq.add_argument("--analyzer", default="simple")
    sq.add_argument("--output", default=None)
    _add_common(sq)

    se = sub.add_parser("search", help="ES JSON search body (query DSL)")
    se.add_argument("--index", required=True)
    se.add_argument("--body", required=True,
                    help="JSON search body, or @file.json")
    se.add_argument("--output", default=None)
    _add_common(se)

    al = sub.add_parser("alias", help="create/repoint an index alias "
                        "(atomic zero-downtime swap)")
    al.add_argument("--alias", required=True)
    al.add_argument("--index", default=None,
                    help="target index root (omit with --drop)")
    al.add_argument("--drop", action="store_true")
    _add_common(al)

    sn = sub.add_parser("snapshot", help="point-in-time index copy")
    sn.add_argument("--index", required=True)
    sn.add_argument("--to", required=True)
    _add_common(sn)

    rs = sub.add_parser("restore", help="restore an index from a snapshot")
    rs.add_argument("--snapshot", required=True)
    rs.add_argument("--index", required=True)
    _add_common(rs)

    pk = sub.add_parser("package", help="zip the library for --py-files")
    pk.add_argument("--out", default="eosp.zip")

    ct = sub.add_parser("cat", help="_cat operational vitals "
                        "(indices / segments / aliases) — no Spark job")
    ct.add_argument("what", choices=("indices", "segments", "aliases"))
    ct.add_argument("paths", nargs="+",
                    help="index/alias paths (segments takes exactly one)")

    ql = sub.add_parser("query-local", help="top-k BM25 via the driver-"
                        "local serving path (operators/serve.py): pyarrow "
                        "bucket reads, no Spark session, ms latency")
    ql.add_argument("--index", required=True)
    ql.add_argument("--query", required=True)
    ql.add_argument("--k", type=int, default=10)

    tp = sub.add_parser("template", help="composable index/component "
                        "templates (PUT/GET/DELETE/LIST/_simulate_index) "
                        "— no Spark job")
    tp.add_argument("action", choices=("put-index", "put-component", "get",
                                       "delete", "list", "simulate"))
    tp.add_argument("--registry", required=True)
    tp.add_argument("--name", help="template name (put/get/delete)")
    tp.add_argument("--body", help="JSON body: put-index takes "
                    "{index_patterns, template, composed_of, priority}; "
                    "put-component takes the template block")
    tp.add_argument("--index-name", help="index name for simulate")
    tp.add_argument("--kind", default="index", choices=("index", "component"),
                    help="get/delete/list target kind")

    ge = sub.add_parser("graph-explore", help="ES _graph/explore: hop-wise "
                        "significant-term vertices + co-occurrence edges")
    ge.add_argument("--index", required=True)
    ge.add_argument("--body", required=True, help="ES explore JSON body")
    ge.add_argument("--field", default="content",
                    help="the index's text field name")
    _add_common(ge)

    dst = sub.add_parser("datastream", help="ES data streams: append-only "
                         "@timestamp-gated generations")
    dst.add_argument("action", choices=("create", "append", "rollover",
                                        "search", "stats", "delete"))
    dst.add_argument("--root", required=True)
    dst.add_argument("--name", required=True)
    dst.add_argument("--input", help="parquet path (append)")
    dst.add_argument("--id-col", help="doc id column (append)")
    dst.add_argument("--text-col", default="content")
    dst.add_argument("--query", help="search text")
    dst.add_argument("-k", type=int, default=10)
    dst.add_argument("--max-docs", type=int)
    dst.add_argument("--max-groups", type=int)
    _add_common(dst)

    wa = sub.add_parser("watch", help="ES watcher: stored search + "
                        "condition + actions")
    wa.add_argument("action", choices=("put", "get", "delete", "list",
                                       "execute", "ack", "activate",
                                       "deactivate"))
    wa.add_argument("--registry", required=True)
    wa.add_argument("--id", help="watch id")
    wa.add_argument("--body", help="watch JSON body (put)")
    wa.add_argument("--trigger-time", help="ISO execution time (execute)")
    wa.add_argument("--actions", help="comma action ids (ack)")
    _add_common(wa)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.cmd == "package":
        import os
        import zipfile

        import elasticsearch_osmosis_plugin_spark as pkg

        root = os.path.dirname(os.path.abspath(pkg.__file__))
        base = os.path.dirname(root)
        with zipfile.ZipFile(args.out, "w", zipfile.ZIP_DEFLATED) as z:
            for dirpath, _, files in os.walk(root):
                if "__pycache__" in dirpath:
                    continue
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        z.write(full, os.path.relpath(full, base))
        print(json.dumps({"written": args.out}))
        return 0

    if args.cmd == "query-local":
        from elasticsearch_osmosis_plugin_spark.operators import serve
        from elasticsearch_osmosis_plugin_spark.operators.query import (
            query_terms,
        )
        from elasticsearch_osmosis_plugin_spark.plans.build import load_meta
        from elasticsearch_osmosis_plugin_spark.plans.catalog import (
            resolve_alias,
        )

        path = resolve_alias(args.index)
        meta = load_meta(path)
        for d, s in serve.local_topk(path, query_terms(args.query, meta),
                                     k=args.k, meta=meta):
            print(json.dumps({"doc_id": d, "score": round(s, 9)}))
        return 0

    if args.cmd == "template":
        from elasticsearch_osmosis_plugin_spark.plans import catalog as cat

        if args.action == "put-index":
            body = json.loads(args.body)
            cat.put_index_template(
                args.registry, args.name,
                index_patterns=body["index_patterns"],
                template=body.get("template"),
                composed_of=body.get("composed_of"),
                priority=int(body.get("priority", 0)))
            print(json.dumps({"acknowledged": True, "name": args.name}))
        elif args.action == "put-component":
            cat.put_component_template(args.registry, args.name,
                                       json.loads(args.body))
            print(json.dumps({"acknowledged": True, "name": args.name}))
        elif args.action == "get":
            print(json.dumps(cat.get_template(args.registry, args.kind,
                                              args.name)))
        elif args.action == "delete":
            print(json.dumps({"acknowledged": cat.delete_template(
                args.registry, args.kind, args.name)}))
        elif args.action == "list":
            print(json.dumps(cat.list_templates(args.registry, args.kind)))
        else:
            print(json.dumps(cat.simulate_index(args.registry,
                                                args.index_name)))
        return 0

    if args.cmd == "cat":
        # pure metadata — the _cat contract is "cheap enough to poll"
        from elasticsearch_osmosis_plugin_spark.plans.merge import (
            cat_aliases,
            cat_indices,
            cat_segments,
        )

        if args.what == "indices":
            print(json.dumps(cat_indices(args.paths), default=str))
        elif args.what == "segments":
            if len(args.paths) != 1:
                raise SystemExit("cat segments takes exactly one index")
            print(json.dumps(cat_segments(args.paths[0]), default=str))
        else:
            print(json.dumps(cat_aliases(args.paths), default=str))
        return 0

    if args.cmd == "ilm":
        from elasticsearch_osmosis_plugin_spark.plans.catalog import apply_ilm

        policy: dict = {}
        if args.max_docs is not None or args.max_groups is not None:
            policy["rollover"] = {"max_docs": args.max_docs,
                                  "max_groups": args.max_groups}
        if args.keep_generations is not None:
            policy["retention"] = {"max_generations": args.keep_generations}
        print(json.dumps(apply_ilm(args.alias, policy), default=str))
        return 0

    if args.cmd == "clone":
        from elasticsearch_osmosis_plugin_spark.plans.catalog import (
            clone_index,
        )

        meta = clone_index(args.index, args.to)
        print(json.dumps({"cloned": args.to, "n_docs": meta["n_docs"]}))
        return 0

    if args.cmd == "pit":
        from elasticsearch_osmosis_plugin_spark.plans.catalog import (
            close_pit,
            open_pit,
        )

        if args.action == "open":
            print(json.dumps({"pit_id": open_pit(args.index)}))
        else:
            print(json.dumps({"succeeded": close_pit(args.id)}))
        return 0

    if args.cmd == "rollover":
        # pure catalog/filesystem operation — no Spark session needed
        from elasticsearch_osmosis_plugin_spark.plans.catalog import rollover

        print(json.dumps(rollover(args.alias, max_docs=args.max_docs,
                                  max_groups=args.max_groups), default=str))
        return 0

    if args.cmd == "watch" and args.action != "execute":
        from elasticsearch_osmosis_plugin_spark.operators import watcher

        if args.action == "put":
            print(json.dumps(watcher.put_watch(args.registry, args.id,
                                               json.loads(args.body))))
        elif args.action == "get":
            print(json.dumps(watcher.get_watch(args.registry, args.id)))
        elif args.action == "delete":
            print(json.dumps({"found": watcher.delete_watch(args.registry,
                                                            args.id)}))
        elif args.action == "list":
            print(json.dumps(watcher.list_watches(args.registry)))
        elif args.action == "ack":
            print(json.dumps(watcher.ack_watch(
                args.registry, args.id,
                _csv(args.actions))))
        else:  # activate / deactivate
            watcher.set_active(args.registry, args.id,
                               args.action == "activate")
            print(json.dumps({"acknowledged": True}))
        return 0

    if args.cmd == "datastream" and args.action in ("create", "rollover",
                                                    "stats", "delete"):
        from elasticsearch_osmosis_plugin_spark.plans import datastream

        if args.action == "create":
            print(json.dumps(datastream.create_data_stream(args.root,
                                                           args.name)))
        elif args.action == "rollover":
            print(json.dumps(datastream.rollover_stream(
                args.root, args.name, max_docs=args.max_docs,
                max_groups=args.max_groups), default=str))
        elif args.action == "stats":
            print(json.dumps(datastream.data_stream_stats(args.root,
                                                          args.name)))
        else:
            print(json.dumps({"acknowledged":
                              datastream.delete_data_stream(args.root,
                                                            args.name)}))
        return 0

    spark = _get_spark(args)

    if args.cmd == "graph-explore":
        from elasticsearch_osmosis_plugin_spark.operators.graph import (
            explore,
        )

        verts, edges = explore(spark, args.index, json.loads(args.body),
                               field=args.field)
        print(json.dumps({
            "vertices": [r.asDict() for r in verts.collect()],
            "connections": [r.asDict() for r in edges.collect()]}))
        return 0

    if args.cmd == "datastream":
        from elasticsearch_osmosis_plugin_spark.plans import datastream

        if args.action == "append":
            man = datastream.append_stream(
                spark, args.root, args.name,
                spark.read.parquet(args.input), id_col=args.id_col,
                text_col=args.text_col)
            print(json.dumps({"appended": True,
                              "n_docs": man.get("n_docs")}, default=str))
        else:  # search
            hits = datastream.search_stream(spark, args.root, args.name,
                                            args.query, k=args.k)
            for r in hits.collect():
                print(json.dumps(r.asDict(), default=str))
        return 0

    if args.cmd == "watch":  # execute
        from elasticsearch_osmosis_plugin_spark.operators import watcher

        print(json.dumps(watcher.execute_watch(
            spark, args.registry, args.id, args.trigger_time)))
        return 0

    if args.cmd == "build":
        from elasticsearch_osmosis_plugin_spark.plans.build import build_index

        meta = build_index(
            spark, spark.read.parquet(args.input), args.index, _cfg(args),
            key_cols=_csv(args.key_cols) or (), id_col=args.id_col,
            text_col=args.text_col, carry_cols=_csv(args.carry_cols),
            n_groups=args.n_groups)
        print(json.dumps({"n_docs": meta["n_docs"], "index": args.index,
                          "wall_s": meta.get("build_wall_s"),
                          "metrics": meta.get("metrics")}, default=str))
    elif args.cmd == "append":
        from elasticsearch_osmosis_plugin_spark.plans.build import (
            append_index_group,
        )

        man = append_index_group(
            spark, spark.read.parquet(args.input), args.index,
            key_cols=_csv(args.key_cols) or (), id_col=args.id_col,
            text_col=args.text_col, carry_cols=_csv(args.carry_cols))
        print(json.dumps({"appended_group": man.get("group"),
                          "n_docs": man.get("n_docs")}, default=str))
    elif args.cmd == "query":
        from elasticsearch_osmosis_plugin_spark.operators.query import topk

        _emit(topk(spark, args.index, args.query, k=args.k,
                   strategy=args.strategy), args)
    elif args.cmd == "phrase":
        from elasticsearch_osmosis_plugin_spark.operators.intersect import (
            match_phrase,
            span_near,
        )

        df = (match_phrase(spark, args.index, args.phrase)
              if args.slop == 0 and not args.unordered
              else span_near(spark, args.index, args.phrase, slop=args.slop,
                             in_order=not args.unordered))
        _emit(df, args)
    elif args.cmd == "count":
        from elasticsearch_osmosis_plugin_spark.operators.query import (
            match_count,
        )

        print(json.dumps({"count": match_count(spark, args.index,
                                               args.query)}))
    elif args.cmd == "delete":
        from elasticsearch_osmosis_plugin_spark.plans.build import delete_docs

        n = delete_docs(spark, args.index,
                        [int(x) for x in args.ids.split(",") if x])
        print(json.dumps({"tombstoned": n}))
    elif args.cmd == "compact":
        from elasticsearch_osmosis_plugin_spark.plans.merge import compact_index

        print(json.dumps(compact_index(spark, args.index), default=str))
    elif args.cmd == "purge":
        from elasticsearch_osmosis_plugin_spark.plans.merge import purge_deletes

        print(json.dumps(purge_deletes(spark, args.index), default=str))
    elif args.cmd == "stats":
        from elasticsearch_osmosis_plugin_spark.plans.merge import index_stats

        print(json.dumps(index_stats(spark, args.index), default=str))
    elif args.cmd == "delete-by-query":
        from elasticsearch_osmosis_plugin_spark.operators.query import (
            delete_by_query,
        )

        n = delete_by_query(spark, args.index, args.query, mode=args.mode)
        print(json.dumps({"deleted": n}))
    elif args.cmd == "update-by-query":
        from elasticsearch_osmosis_plugin_spark.operators.query import (
            update_by_query,
        )

        assigns = {}
        for kv in args.set:
            col_name, _, expr = kv.partition("=")
            assigns[col_name.strip()] = expr
        n = update_by_query(spark, args.index, assigns, args.query,
                            mode=args.mode)
        print(json.dumps({"updated": n}))
    elif args.cmd == "reindex":
        from elasticsearch_osmosis_plugin_spark.operators.query import reindex

        meta = reindex(spark, args.index, args.dest, query=args.query,
                       n_groups=args.n_groups)
        print(json.dumps({"dest": args.dest, "n_docs": meta["n_docs"]},
                         default=str))
    elif args.cmd == "shrink":
        from elasticsearch_osmosis_plugin_spark.plans.merge import shrink_index

        meta = shrink_index(spark, args.index, args.to, args.n_buckets)
        print(json.dumps({"shrunk": args.to,
                          "n_buckets": meta["n_buckets"]}, default=str))
    elif args.cmd == "split":
        from elasticsearch_osmosis_plugin_spark.plans.merge import split_index

        meta = split_index(spark, args.index, args.to, args.n_buckets)
        print(json.dumps({"split": args.to,
                          "n_buckets": meta["n_buckets"]}, default=str))
    elif args.cmd == "terms-enum":
        from elasticsearch_osmosis_plugin_spark.operators.intersect import (
            terms_enum,
        )

        _emit(terms_enum(spark, args.index, prefix=args.prefix,
                         size=args.size,
                         search_after=args.search_after), args)
    elif args.cmd == "fsck":
        from elasticsearch_osmosis_plugin_spark.plans.merge import verify_index

        src = spark.read.parquet(args.source) if args.source else None
        rep = verify_index(spark, args.index, src, id_col=args.id_col,
                           text_col=args.text_col)
        print(json.dumps(rep, default=str))
        return 0 if rep["ok"] else 1
    elif args.cmd == "esql":
        from elasticsearch_osmosis_plugin_spark.operators.esql import esql

        q = args.query
        if q.startswith("@"):
            with open(q[1:]) as f:
                q = f.read()
        params = json.loads(args.params) if args.params else None
        if args.index:
            if args.table:
                build_parser().error("esql takes --index OR --table")
            from elasticsearch_osmosis_plugin_spark.operators.esql import (
                esql_index,
            )

            paths = args.index
            _emit(esql_index(spark, q,
                             paths if len(paths) > 1 else paths[0],
                             params=params),
                  args)
            return 0
        tables = {}
        for spec in args.table:
            name, _, path = spec.partition("=")
            if not path:
                build_parser().error("--table needs NAME=PARQUET_PATH")
            tables[name] = spark.read.parquet(path)
        _emit(esql(spark, q, tables, analyzer=args.analyzer,
                   now=args.now, params=params), args)
    elif args.cmd == "sql":
        from elasticsearch_osmosis_plugin_spark.operators.essql import EsSql

        q = args.query
        if q.startswith("@"):
            with open(q[1:]) as f:
                q = f.read()
        tables = {}
        for spec in args.table:
            name, _, path = spec.partition("=")
            if not path:
                build_parser().error("--table needs NAME=PARQUET_PATH")
            tables[name] = spark.read.parquet(path)
        _emit(EsSql(spark, tables, analyzer=args.analyzer).df(q), args)
    elif args.cmd == "search":
        from elasticsearch_osmosis_plugin_spark.operators.dsl import search

        body = args.body
        if body.startswith("@"):
            with open(body[1:]) as f:
                body = f.read()
        _emit(search(spark, args.index, json.loads(body)), args)
    elif args.cmd == "alias":
        from elasticsearch_osmosis_plugin_spark.plans import catalog

        if args.drop:
            print(json.dumps({"dropped": catalog.drop_alias(args.alias)}))
        else:
            if not args.index:
                build_parser().error("alias requires --index (or --drop)")
            catalog.create_alias(args.alias, args.index)
            print(json.dumps({"alias": args.alias,
                              "index": catalog.resolve_alias(args.alias)}))
    elif args.cmd == "snapshot":
        from elasticsearch_osmosis_plugin_spark.plans import catalog

        meta = catalog.snapshot_index(args.index, args.to)
        print(json.dumps({"snapshot": args.to, "n_docs": meta["n_docs"]}))
    elif args.cmd == "restore":
        from elasticsearch_osmosis_plugin_spark.plans import catalog

        catalog.restore_index(args.snapshot, args.index)
        print(json.dumps({"restored": args.index}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
