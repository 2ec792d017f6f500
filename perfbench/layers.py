"""Per-layer tracing: spans from wrappers around engine functions, the
Spark event log, and the build manifest, folded into the per-layer
metrics of BENCHMARK.json.

The wrappers replace module attributes (and two ``Searcher`` methods)
for the duration of a traced run only; the engine's source is not
touched. Engine code that calls these functions through their module
(``serve.local_topk`` from ``Searcher``, ``_read_filtered`` from
``_gather_term_postings``, ...) goes through the wrapper, so each call
becomes a span whose self time is its duration minus its child spans.
A wrapped name that a later engine version no longer has is skipped
and listed in ``Tracer.missing``; its metrics then read 0.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from contextlib import contextmanager

from harness import p50, perf

# Spans whose self time makes up a driver-local query (reconciliation)
SERVE_SPANS = ("serve.local_topk", "serve.local_topk_many",
               "serve.local_dictionary_rows", "serve.dictionary_load",
               "serve.gather", "serve.read", "serve.vb_decode",
               "serve.score", "serve.topk", "serve.tombstones")


class Tracer:
    def __init__(self):
        # span: [name, t0, t1, parent span, op index, counted value]
        self.spans: list[list] = []
        self.ops: list[list] = []      # [label, t0, t1]
        self.missing: list[str] = []
        self._stack: list[int] = []
        self._op = -1
        self._undo: list[tuple] = []

    @contextmanager
    def op(self, label: str):
        self.ops.append([label, perf(), 0.0])
        self._op = len(self.ops) - 1
        try:
            yield
        finally:
            self.ops[self._op][2] = perf()
            self._op = -1

    def _wrap(self, name, fn, count):
        spans, stack = self.spans, self._stack

        def wrapper(*args, **kwargs):
            i = len(spans)
            rec = [name, 0.0, 0.0, stack[-1] if stack else -1, self._op, 0]
            spans.append(rec)
            stack.append(i)
            rec[1] = perf()
            try:
                out = fn(*args, **kwargs)
            finally:
                rec[2] = perf()
                stack.pop()
            if count is not None:
                rec[5] = count(out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self, owner, attr: str, name: str, count=None) -> None:
        fn = getattr(owner, attr, None)
        if fn is None:
            self.missing.append(name)
            return
        setattr(owner, attr, self._wrap(name, fn, count))
        self._undo.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def aggregate(self) -> dict:
        """(op kind, span name) -> [self_s, calls, counted value, dur_s];
        op kind is the label up to its first ':'."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] >= 0:
                child[s[3]] += s[2] - s[1]
        agg: dict = {}
        for i, s in enumerate(self.spans):
            if s[4] < 0:
                continue
            kind = self.ops[s[4]][0].split(":")[0]
            a = agg.setdefault((kind, s[0]), [0.0, 0, 0.0, 0.0])
            a[0] += (s[2] - s[1]) - child[i]
            a[1] += 1
            a[2] += s[5]
            a[3] += s[2] - s[1]
        return agg


def install_engine_wrappers(tracer: Tracer) -> None:
    from elasticsearch_osmosis_plugin_spark.operators import query, serve
    from elasticsearch_osmosis_plugin_spark.plans import build, merge

    def n_values(out):
        return int(out.size)

    def n_bytes(out):
        return int(out.nbytes) if out is not None else 0

    def n_postings(out):
        return sum(len(v[0]) for v in out.values())

    for owner, attr, name, count in (
            (build, "build_index", "build.build_index", None),
            (build, "append_index_group", "build.append_index_group", None),
            (build, "delete_docs", "build.delete_docs", None),
            (merge, "compact_index", "merge.compact_index", None),
            (merge, "purge_deletes", "merge.purge_deletes", None),
            (query, "topk", "query.topk", None),
            (query, "dictionary_rows", "query.dictionary_rows", None),
            (query.Searcher, "topk_local", "query.Searcher.topk_local", None),
            (query.Searcher, "topk_local_many", "query.Searcher.topk_local_many", None),
            (serve, "local_topk", "serve.local_topk", None),
            (serve, "local_topk_many", "serve.local_topk_many", None),
            (serve, "local_dictionary_rows", "serve.local_dictionary_rows", None),
            (serve, "_load_dic_bucket", "serve.dictionary_load", None),
            (serve, "_gather_term_postings", "serve.gather", n_postings),
            (serve, "_read_filtered", "serve.read", n_bytes),
            (serve, "vb_decode", "serve.vb_decode", n_values),
            (serve, "_score_from_postings", "serve.score", None),
            (serve, "_topk_order", "serve.topk", None),
            (serve, "_tombstone_ids", "serve.tombstones", None)):
        tracer.install(owner, attr, name, count)


def cache_counters() -> dict:
    """hits / misses / bytes of the serve module's caches (0 for a
    cache or counter a later engine version does not have)."""
    from elasticsearch_osmosis_plugin_spark.operators import serve

    out = {}
    for name in ("postings_cache", "merge_cache", "weight_cache",
                 "dictionary_cache"):
        c = getattr(serve, name, None)
        out[name] = (getattr(c, "hits", 0), getattr(c, "misses", 0),
                     getattr(c, "bytes", 0))
    return out


def read_event_log(ev_dir: str) -> dict:
    """Job-group -> summed task metrics and job intervals from a Spark
    event log. Groups are the operation labels the benchmark set with
    ``setJobGroup`` before each call."""
    types: dict[int, str] = {}

    def plan_types(node):
        for m in node.get("metrics", []):
            types[m["accumulatorId"]] = m.get("metricType", "")
        for c in node.get("children", []):
            plan_types(c)

    stage_group: dict[int, str] = {}
    jobs: dict[int, list] = {}
    g: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    files = [f for f in sorted(glob.glob(os.path.join(ev_dir, "**", "*"), recursive=True))
             if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))]
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event", "")
                if "sparkPlanInfo" in e:
                    plan_types(e["sparkPlanInfo"])
                if kind == "SparkListenerJobStart":
                    grp = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs[e["Job ID"]] = [grp, e["Submission Time"], None]
                    for s in e["Stage IDs"]:
                        stage_group.setdefault(s, grp)
                    g[grp]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]][2] = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    a = g[stage_group.get(e["Stage ID"], "")]
                    tm = e.get("Task Metrics") or {}
                    a["tasks"] += 1
                    a["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    a["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    a["spill_b"] += tm.get("Disk Bytes Spilled", 0)
                    a["out_b"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == "time to run Python workers":
                            scale = 1e-9 if types.get(acc.get("ID")) == "nsTiming" else 1e-3
                            a["py_s"] += float(acc.get("Update") or 0) * scale
    spans: dict[str, list] = defaultdict(list)
    for grp, t0, t1 in jobs.values():
        if t1 is not None:
            g[grp]["job_s"] += (t1 - t0) / 1e3
            spans[grp].append((t0, t1))
    for grp, iv in spans.items():
        iv.sort()
        total, end = 0, None
        for t0, t1 in iv:
            if end is None or t0 > end:
                total += t1 - t0
                end = t1
            elif t1 > end:
                total += t1 - end
                end = t1
        g[grp]["job_union_s"] = total / 1e3
    return {k: dict(v) for k, v in g.items()}


def _groups(ev: dict, kind: str) -> list[dict]:
    return [v for k, v in ev.items() if k.split(":")[0] == kind]


def _group_mean(groups: list[dict], key: str) -> float:
    return sum(x.get(key, 0.0) for x in groups) / len(groups) if groups else 0.0


def per_layer(run, tracer: Tracer, ev: dict) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not exercise
    reads 0."""
    m: dict[str, float] = {}
    agg = tracer.aggregate()
    op_kinds: dict[str, list] = defaultdict(list)
    for label, t0, t1 in tracer.ops:
        op_kinds[label.split(":")[0]].append((label, t1 - t0))

    def span(kind, name, field=0):
        return agg.get((kind, name), [0.0, 0, 0.0, 0.0])[field]

    m["setup.session_s"] = run.setup["session_s"]
    m["setup.corpus_s"] = run.setup["corpus_s"]
    m["setup.index_s"] = run.setup["index_s"]

    # ---- plans.build: manifest stage walls, event log, index shape
    # the build workload's timed builds; else the set-up build, whose
    # wall also carries the process's one-time warm-up and so is not
    # reconciled against its stages
    timed = bool(op_kinds.get("build"))
    build_kind = "build" if timed else "setup-index"
    stages = defaultdict(list)
    recon = []
    for meta, wall in run.build_metas[-1 if not timed else 0:]:
        walls = defaultdict(float)
        for st in meta.get("metrics", []):
            walls[str(st.get("stage", "")).split(":")[0]] += float(st.get("wall_s", 0.0))
        for name in ("docstats", "postings", "dictionary"):
            stages[name].append(walls[name])
        recon.append(abs(sum(walls[n] for n in ("docstats", "postings", "dictionary"))
                         - wall) / wall)
    for name in ("docstats", "postings", "dictionary"):
        m[f"build.{name}_s"] = p50(stages[name]) if stages[name] else 0.0
    m["trace.build_reconcile_err"] = max(recon) if timed else 0.0
    bg = _groups(ev, build_kind)
    m["build.executor_run_s"] = _group_mean(bg, "run_s")
    m["build.executor_cpu_s"] = _group_mean(bg, "cpu_s")
    m["build.gc_s"] = _group_mean(bg, "gc_s")
    m["build.python_eval_s"] = _group_mean(bg, "py_s")
    m["build.shuffle_write_bytes"] = _group_mean(bg, "shuffle_write_b")
    m["build.spill_bytes"] = _group_mean(bg, "spill_b")
    shape = run.shape or {}
    for key in ("n_postings", "n_posting_rows", "n_terms",
                "doc_ids_bytes_per_posting", "tfs_bytes_per_posting",
                "dls_bytes_per_posting", "pos_bytes_per_posting",
                "postings_bytes", "docstats_bytes", "dictionary_bytes"):
        m[f"build.{key}"] = float(shape.get(key, 0.0))
    ag = _groups(ev, "append")
    m["build.append_executor_run_s"] = _group_mean(ag, "run_s")
    m["build.append_shuffle_write_bytes"] = _group_mean(ag, "shuffle_write_b")
    m["build.delete_s"] = p50(run.walls["delete"]) if run.walls.get("delete") else 0.0

    # ---- plans.merge
    for name in ("compact", "purge"):
        m[f"merge.{name}_s"] = p50(run.walls[name]) if run.walls.get(name) else 0.0
        m[f"merge.{name}_bytes_written"] = _group_mean(_groups(ev, name), "out_b")

    # ---- operators.query, Spark path: one job group per call
    calls = op_kinds.get("spark", [])
    per_call = [(ev.get(label, {}), wall) for label, wall in calls]
    n = max(len(calls), 1)
    m["query.jobs_per_query"] = sum(x.get("jobs", 0) for x, _ in per_call) / n
    m["query.tasks_per_query"] = sum(x.get("tasks", 0) for x, _ in per_call) / n
    m["query.job_s"] = sum(x.get("job_s", 0) for x, _ in per_call) / n
    m["query.task_run_s"] = sum(x.get("run_s", 0) for x, _ in per_call) / n
    m["query.driver_s"] = sum(max(w - x.get("job_union_s", 0), 0.0) for x, w in per_call) / n
    m["query.dictionary_s"] = span("spark", "query.dictionary_rows", 3) / n
    for strategy in ("scoreall", "maxscore", "auto"):
        ws = [w for label, w in calls if label.split(":")[1] == strategy]
        m[f"query.{strategy}_s"] = p50(ws) if ws else 0.0

    # ---- operators.serve read/decode: serve's cold phase, else the
    # lifecycle's driver-local calls
    rk = "cold" if op_kinds.get("cold") else "local"
    ops = op_kinds.get(rk, [])
    n = max(len(ops), 1)
    m["serve.dictionary_ms"] = 1e3 * (span(rk, "serve.local_dictionary_rows")
                                      + span(rk, "serve.dictionary_load")) / n
    m["serve.read_ms"] = 1e3 * span(rk, "serve.read") / n
    m["serve.read_bytes"] = span(rk, "serve.read", 2) / n
    m["serve.gather_self_ms"] = 1e3 * span(rk, "serve.gather") / n
    m["serve.postings_per_query"] = span(rk, "serve.gather", 2) / n
    values = span(rk, "serve.vb_decode", 2)
    dec_s = span(rk, "serve.vb_decode")
    m["varbyte.decode_calls"] = span(rk, "serve.vb_decode", 1) / n
    m["varbyte.decoded_values"] = values / n
    m["varbyte.ns_per_value"] = 1e9 * dec_s / values if values else 0.0
    m["serve.decoded_per_df"] = values / run.cold_sum_df if run.cold_sum_df else 0.0
    wall = sum(w for _, w in ops)
    inside = sum(span(rk, s) for s in SERVE_SPANS)
    m["trace.serve_reconcile_err"] = abs(inside - wall) / wall if wall else 0.0

    # ---- operators.serve score/caches: serve's warm solo calls, else
    # the lifecycle's driver-local calls
    sk = "warm-solo" if op_kinds.get("warm-solo") else "local"
    n = max(len(op_kinds.get(sk, [])), 1)
    m["serve.score_ms"] = 1e3 * span(sk, "serve.score") / n
    m["serve.topk_ms"] = 1e3 * span(sk, "serve.topk") / n
    m["serve.tombstones_ms"] = 1e3 * span(sk, "serve.tombstones") / n
    m["serve.postings_cache_bytes"] = 0.0
    for name, (hits, misses, nbytes) in (run.cache_delta or cache_delta(
            cache_counters(), cache_counters())).items():
        short = name.replace("_cache", "")
        m[f"serve.{short}_cache_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
        if name == "postings_cache":
            m["serve.postings_cache_bytes"] = float(nbytes)
    return m


def cache_delta(before: dict, after: dict) -> dict:
    return {k: (after[k][0] - before[k][0], after[k][1] - before[k][1], after[k][2])
            for k in after}
