"""The two workloads. Each sets up (times land in ``run.setup``),
measures for about ``run.seconds``, checks every result, and fills
``run.e2e`` (the BENCHMARK.json end-to-end metrics) and ``run.named``
(the workload's own metrics, printed in the report line).

All inputs come from ``corpus.generate_corpus_df`` with the run's seed;
the engine only ever sees the generated corpus and query strings.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from elasticsearch_osmosis_plugin_spark.config import EngineConfig
from elasticsearch_osmosis_plugin_spark.corpus import generate_corpus_df
from elasticsearch_osmosis_plugin_spark.operators import query
from elasticsearch_osmosis_plugin_spark.plans import build as build_mod
from elasticsearch_osmosis_plugin_spark.plans import catalog, merge
from harness import CpuRotation, balanced_p50, index_shape, p50, pct, perf, same_ranking
from layers import cache_counters, cache_delta

# Zipf vocabulary large enough that a 2k-12k doc corpus has terms with
# df <= 20 (the rare band); the generator's default of 2000 has none.
VOCAB = 20_000
# The generator's default vocabulary: purge rewrites every posting
# block in Python, and block count grows with distinct (term, segment)
# pairs, so the lifecycle's fixed run stays within the run budget.
LIFECYCLE_VOCAB = 2_000
K = 10
CFG = EngineConfig(n_buckets=16, block_size=128, store_positions=True, resume=False)


def _corpus(run, seed: int, n: int, name: str, vocab: int = VOCAB) -> str:
    """Generate ``n`` docs and persist them as parquet (setup)."""
    path = os.path.join(run.run_dir, name)
    _, dt, _ = run.op("setup-corpus", lambda: generate_corpus_df(
        run.spark, seed, n, vocab_size=vocab).write.parquet(path))
    run.setup["corpus_s"] += dt
    return path


def _setup_index(run, src: str, n_groups: int) -> tuple[str, dict]:
    idx = os.path.join(run.run_dir, "index")
    meta, dt, _ = run.op("setup-index", build_mod.build_index, run.spark,
                         run.spark.read.parquet(src), idx, CFG, n_groups=n_groups)
    run.setup["index_s"] += dt
    run.build_metas.append((meta, dt))
    run.shape = index_shape(idx)
    return idx, meta


def _bands(run, idx: str, meta: dict, n: int) -> dict[str, list[tuple[str, int]]]:
    """Query-term pools from the index dictionary: head (top df), mid
    (df 1-5% of N) and rare (df <= 20). Only terms the analyzer maps
    back to themselves, so a query string hits exactly its terms."""
    t0 = perf()
    pdf = (build_mod.dictionary_df(run.spark, idx).select("term", "df").toPandas()
           .sort_values(["df", "term"], ascending=[False, True]))
    rows = list(zip(pdf["term"], pdf["df"].astype(int)))

    def valid(pool):
        return [(t, df) for t, df in pool if query.query_terms(t, meta) == [t]]

    rare_max = max(2, min(20, n // 200))
    rare = valid([r for r in rows if r[1] <= rare_max])
    bands = {"head": valid(rows[:24])[:12],
             "mid": valid([r for r in rows if 0.01 * n <= r[1] <= 0.05 * n]),
             # a small vocabulary has no df <= 20 terms: take the lowest
             "rare": rare if len(rare) >= 3 else valid(rows[-60:])[-24:]}
    run.setup["index_s"] += perf() - t0
    empty = [b for b, pool in bands.items() if len(pool) < 3]
    if empty:
        raise RuntimeError(f"query bands without terms: {empty}")
    return bands


def _draw(rng, pool, m: int) -> tuple[str, int]:
    """An ``m``-term query from ``pool``; returns (query, sum of df)."""
    m = min(m, len(pool))
    pick = sorted(rng.choice(len(pool), size=m, replace=False).tolist())
    return " ".join(pool[j][0] for j in pick), sum(pool[j][1] for j in pick)


def _mean(xs) -> float:
    """CPU counters tick in coarse steps (4 ms here); a mean over many
    operations is finer than any one reading, a median is not."""
    return sum(xs) / len(xs)


def _local(run, rot: CpuRotation, label: str, fn, *args, **kwargs):
    """A driver-local call pinned to the rotation's next CPU; returns
    (result, (cpu, wall_s), driver cpu_s)."""
    cpu = rot.next()
    out, dt, dc = run.op(label, fn, *args, driver_cpu=True, **kwargs)
    return out, (cpu, dt), dc


def _spark_topk(searcher, q: str, strategy: str) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"])
            for r in searcher.topk(q, K, strategy=strategy).collect()]


# ---------------------------------------------------------------- serve

def serve(run) -> None:
    """Cold then warm driver-local top-k over one index."""
    spark = run.spark
    n = 2000 if run.smoke else 10_000
    min_cold, n_solo, n_batch = (10, 20, 20) if run.smoke else (40, 240, 240)
    src = _corpus(run, run.seed, n, "corpus")
    idx, meta = _setup_index(run, src, n_groups=1)
    bands = _bands(run, idx, meta, n)
    t0 = perf()
    searcher = query.Searcher(spark, idx)
    run.setup["index_s"] += perf() - t0
    rng = np.random.default_rng([run.seed, 1])
    rot = CpuRotation()

    # warm set: a fixed 8-query mix (2 terms each) and its answers from
    # one warm-up pass, solo and batched
    mix = {f"w{j}": _draw(rng, bands[b], 2)[0]
           for j, b in enumerate(("head", "mid", "rare") * 2 + ("head", "mid"))}
    want = {name: run.op("warmup", searcher.topk_local, q, K)[0]
            for name, q in mix.items()}
    got = run.op("warmup", searcher.topk_local_many, mix, K)[0]
    run.expect(all(same_ranking(got[m], want[m]) for m in mix),
               "warm-up batch differs from solo answers")
    names = list(mix)
    solo, batch = [], []
    hits = cache_delta(cache_counters(), cache_counters())   # all zero

    def warm(kind: str) -> None:
        """One timed warm call (solo: the next query of the mix; c8:
        the whole mix as one batch); cache counters count warm calls."""
        nonlocal hits
        before = cache_counters()
        if kind == "solo":
            name = names[len(solo) % len(names)]
            res, sample, _ = _local(run, rot, f"warm-solo:{len(solo)}",
                                    searcher.topk_local, mix[name], K)
            solo.append(sample)
            run.expect(same_ranking(res, want[name]), f"warm solo {mix[name]!r} changed")
        else:
            res, sample, _ = _local(run, rot, f"warm-c8:{len(batch)}",
                                    searcher.topk_local_many, mix, K)
            batch.append(sample)
            run.expect(all(same_ranking(res[m], want[m]) for m in mix),
                       "warm batch differs from solo answers")
        d = cache_delta(before, cache_counters())
        hits = {k: (hits[k][0] + d[k][0], hits[k][1] + d[k][1], d[k][2]) for k in d}

    # Cold queries get a fresh hard-linked copy and a fresh Searcher
    # each: every serve cache keys on file paths, so nothing the driver
    # cached for an earlier copy applies; the OS page cache stays warm.
    # Two warm solo calls and two warm batches follow each cold query, so
    # the warm figures span the same window as the cold ones and a
    # passing slow spell on the host weighs on both alike. The cold
    # copies' cache entries stay far below every cache's bound, so the
    # warm set stays resident.
    cold = {"head": [], "mid": [], "rare": []}
    cold_cpu, checked = [], []
    t_end = perf() + 0.8 * run.seconds
    i = 0
    while (min(map(len, cold.values())) < min_cold or perf() < t_end) \
            and i < 9 * min_cold:
        band = ("head", "mid", "rare")[i % 3]
        # 1, 2, 3 terms in turn: cost grows with the term count, and a
        # seed-drawn count would move the band median between them
        q, sum_df = _draw(rng, bands[band], 1 + len(cold[band]) % 3)
        copy = os.path.join(run.run_dir, "cold", str(i))
        shutil.copytree(idx, copy, copy_function=os.link)
        s = query.Searcher(spark, copy)
        res, sample, dc = _local(run, rot, f"cold:{band}:{i}", s.topk_local, q, K)
        s.close()
        shutil.rmtree(copy)
        cold[band].append(sample)
        cold_cpu.append(dc)
        run.cold_sum_df += sum_df
        run.expect(same_ranking(res, searcher.topk_local(q, K)),
                   f"cold {q!r}: differs from the warm answer")
        if len(cold[band]) == 1:
            checked.append((q, res))
        for kind in ("solo", "c8", "solo", "c8"):
            warm(kind)
        i += 1
    while len(solo) < n_solo:
        warm("solo")
    while len(batch) < n_batch:
        warm("c8")
    run.cache_delta = hits
    rot.release()

    # -- rank identity of sampled answers against the Spark scoreall path
    for j, (q, res) in enumerate(checked):
        ref = run.op(f"check:{j}", _spark_topk, searcher, q, "scoreall")[0]
        run.expect(same_ranking(res, ref), f"topk_local {q!r} != Spark scoreall")
    searcher.close()

    all_cold = [dt for v in cold.values() for _, dt in v]
    band_ms = {b: 1e3 * balanced_p50(v) for b, v in cold.items()}
    run.named.update({
        "cold_head_p50_ms": (band_ms["head"], "ms"),
        "cold_mid_p50_ms": (band_ms["mid"], "ms"),
        "cold_rare_p50_ms": (band_ms["rare"], "ms"),
        "cold_p90_ms": (1e3 * pct(all_cold, 0.9), "ms"),
        "warm_solo_p50_ms": (1e3 * balanced_p50(solo), "ms"),
        "warm_c8_p50_ms": (1e3 * balanced_p50(batch), "ms"),
        "warm_c8_p90_ms": (1e3 * pct([dt for _, dt in batch], 0.9), "ms"),
        "cold_queries": (len(all_cold), "count"),
        "warm_solo_calls": (len(solo), "count"),
        "warm_c8_batches": (len(batch), "count"),
    })
    # the bands differ in cost by 2-3x; pooled, the median would sit on
    # the boundary between them, so the headline is the mean of the
    # band medians
    run.e2e.update({"op_ms": _mean(list(band_ms.values())),
                    "aux_ms": run.named["warm_c8_p50_ms"][0],
                    "query_ms": run.named["warm_solo_p50_ms"][0],
                    "op_cpu_ms": 1e3 * _mean(cold_cpu),
                    "index_bytes": run.shape["index_bytes"]})


# ------------------------------------------------------------ lifecycle

def lifecycle(run) -> None:
    """A fresh two-group build of a persisted corpus, then query passes
    around append + delete and compact + purge."""
    spark = run.spark
    n, n_add = (2000, 400) if run.smoke else (5_000, 1_000)
    src = _corpus(run, run.seed, n, "corpus", LIFECYCLE_VOCAB)
    add = _corpus(run, run.seed + 7919, n_add, "append-corpus", LIFECYCLE_VOCAB)
    # warm the JVM's code paths for the build with a throwaway mini-build
    _, dt, _ = run.op("setup-index", build_mod.build_index, spark,
                      spark.read.parquet(src).limit(300),
                      os.path.join(run.run_dir, "warm-index"), CFG, n_groups=2)
    run.setup["index_s"] += dt

    # -- build: no query layer runs inside it, so a change confined to
    # serving must leave its figures unchanged
    idx = os.path.join(run.run_dir, "index")
    meta, t_build, build_cpu = run.op("build", build_mod.build_index, spark,
                                      spark.read.parquet(src), idx, CFG, n_groups=2)
    run.build_metas.append((meta, t_build))
    run.shape = index_shape(idx)
    run.expect(meta["n_docs"] == n and run.shape["sum_df"] == run.shape["n_postings"],
               f"build: n_docs={meta['n_docs']} (want {n}), sum df="
               f"{run.shape['sum_df']} vs postings={run.shape['n_postings']}")
    bands = _bands(run, idx, meta, n)
    rng = np.random.default_rng([run.seed, 2])
    # Fixed query shapes, so a seed cannot make a run cheaper. Spark calls
    # cover each strategy's own code path once per pass: scoreall and
    # maxscore on a two-term head query, auto on one rare term (the
    # single-term block-max path); auto on two terms of similar df would
    # repeat scoreall. The mid query is served driver-locally only.
    plan = [(_draw(rng, bands["head"], 2)[0], ("scoreall", "maxscore")),
            (_draw(rng, bands["mid"], 2)[0], ()),
            (_draw(rng, bands["rare"], 1)[0], ("auto",))]
    searcher = query.Searcher(spark, idx)
    ids = sorted(r["doc_id"] for r in catalog.read_table(spark, idx, "docstats")
                 .select("doc_id").collect())

    rot = CpuRotation()
    spark_lat, spark_cpu, local_ms = [], [], {}
    deleted: set[int] = set()
    first_hits: list[int] = []

    def query_pass(p: int) -> None:
        """40 rounds of one CPU-rotated ``topk_local`` call per query,
        then the plan's Spark calls. Local calls run first, back to back:
        right after a Spark job the JVM's cleanup threads share the CPUs
        and the local figures would measure that instead. Every answer is
        checked against the pass's first local answer to the query."""
        lat = [[] for _ in plan]
        first: dict[int, list] = {}
        for _ in range(40):
            for qi, (q, _) in enumerate(plan):
                res, sample, _ = _local(run, rot, f"local:{p}:{qi}",
                                        searcher.topk_local, q, K)
                lat[qi].append(sample)
                if qi not in first:
                    first[qi] = res
                    if p == 1 and res:
                        first_hits.append(res[0][0])
                run.expect(same_ranking(res, first[qi])
                           and not deleted.intersection(d for d, _ in res),
                           f"pass {p} topk_local {q!r}: unstable or tombstoned hit")
        rot.release()
        local_ms[p] = [1e3 * balanced_p50(x) for x in lat]
        for qi, (q, strategies) in enumerate(plan):
            for strategy in strategies:
                rows, dt, dc = run.op(f"spark:{strategy}:{p}:{qi}", _spark_topk,
                                      searcher, q, strategy)
                spark_lat.append(dt)
                spark_cpu.append(dc)
                run.expect(same_ranking(rows, first[qi])
                           and not deleted.intersection(d for d, _ in rows),
                           f"pass {p} {strategy} {q!r}: differs from topk_local "
                           f"or returns a tombstoned id")

    before = cache_counters()
    query_pass(1)
    meta, t_append, _ = run.op("append", build_mod.append_index_group, spark,
                               spark.read.parquet(add), idx)
    shape = index_shape(idx)
    run.expect(meta["n_docs"] == n + n_add and shape["sum_df"] == shape["n_postings"],
               f"append: n_docs={meta['n_docs']} (want {n + n_add}), sum df="
               f"{shape['sum_df']} vs postings={shape['n_postings']}")
    pick = rng.choice(len(ids), size=max(1, n // 100), replace=False)
    deleted.update(int(ids[j]) for j in pick)
    deleted.update(first_hits)        # so the deletes change the answers
    n_dead, t_delete, _ = run.op("delete", build_mod.delete_docs, spark, idx,
                                 sorted(deleted))
    run.expect(n_dead == len(deleted), f"delete: {n_dead} tombstones, want {len(deleted)}")
    run.op("refresh:1", searcher.refresh)
    query_pass(2)
    _, t_compact, _ = run.op("compact", merge.compact_index, spark, idx)
    meta, t_purge, _ = run.op("purge", merge.purge_deletes, spark, idx)
    run.expect(meta["n_docs"] == n + n_add - len(deleted),
               f"purge: n_docs={meta['n_docs']}, want {n + n_add - len(deleted)}")
    run.op("refresh:2", searcher.refresh)
    query_pass(3)
    run.cache_delta = cache_delta(before, cache_counters())
    searcher.close()

    run.named.update({
        "build_s": (t_build, "s"),
        "build_cpu_s": (build_cpu, "cpu-s"),
        "index_bytes": (run.shape["index_bytes"], "B"),
        "append_s": (t_append, "s"),
        "maintenance_s": (t_delete + t_compact + t_purge, "s"),
        "spark_topk_p50_s": (p50(spark_lat), "s"),
        "mutated_serve_p50_ms": (_mean(local_ms[2]), "ms"),
        "spark_topk_calls": (len(spark_lat), "count"),
        "purged_index_bytes": (index_shape(idx)["index_bytes"], "B"),
    })
    # the Spark calls are a fixed mix of strategies whose costs differ by
    # about 2x, so a median would sit on the boundary between them
    run.e2e.update({"op_ms": 1e3 * t_build,
                    "aux_ms": 1e3 * (t_append + t_delete + t_compact + t_purge),
                    "query_ms": 1e3 * _mean(spark_lat),
                    "op_cpu_ms": 1e3 * build_cpu, "index_bytes": run.shape["index_bytes"]})


WORKLOADS = {"serve": serve, "lifecycle": lifecycle}
