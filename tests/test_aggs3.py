"""rare_terms / multi_terms / global / date_range / sampler /
diversified_sampler aggregations — recompute goldens from already-
verified building blocks (match_any_terms hit sets, match_scores)."""

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from elasticsearch_osmosis_plugin_spark.config import EngineConfig
from elasticsearch_osmosis_plugin_spark.operators.intersect import (
    date_range,
    global_stats_agg,
    match_any_terms,
    multi_terms_agg,
    rare_terms_agg,
)
from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
    diversified_sampler_agg,
    sampler_agg,
)
from elasticsearch_osmosis_plugin_spark.plans import catalog
from elasticsearch_osmosis_plugin_spark.plans.build import build_index

Q = "id0000 id0001 public"  # Zipf-head terms: most of the corpus matches


@pytest.fixture(scope="module")
def agg_index(spark, corpus_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("agg3") / "index")
    build_index(spark, corpus_df, path,
                EngineConfig(n_segments=4, n_buckets=4, block_size=16),
                id_col="doc_id", n_groups=1)
    return path


@pytest.fixture(scope="module")
def hit_rows(spark, agg_index):
    hits = match_any_terms(spark, agg_index, Q)
    ds = catalog.read_table(spark, agg_index, "docstats") \
        .select("doc_id", "lang", "repo", "dl")
    return ds.join(hits, "doc_id", "left_semi").collect()


def test_rare_terms_matches_recount(spark, agg_index, hit_rows):
    counts = Counter(r["lang"] for r in hit_rows)
    want = sorted(((n, v) for v, n in counts.items() if n <= 3))
    got = rare_terms_agg(spark, agg_index, Q, "lang",
                         max_doc_count=3).collect()
    assert [(r["n_docs"], r["lang"]) for r in got] == want
    # higher threshold keeps everything, rare-first order
    got_all = rare_terms_agg(spark, agg_index, Q, "lang",
                             max_doc_count=10**9).collect()
    assert len(got_all) == len(counts)
    assert [r["n_docs"] for r in got_all] == sorted(counts.values())


def test_multi_terms_matches_recount(spark, agg_index, hit_rows):
    counts = Counter((r["lang"], r["repo"]) for r in hit_rows)
    want = sorted(((-n,) + k for k, n in counts.items()))[:5]
    got = multi_terms_agg(spark, agg_index, Q, ["lang", "repo"],
                          size=5).collect()
    assert [(-r["n_docs"], r["lang"], r["repo"]) for r in got] == want


def test_global_stats_escapes_query_scope(spark, agg_index, corpus_rows):
    row = global_stats_agg(spark, agg_index, "dl").collect()[0]
    assert row["n"] == len(corpus_rows)  # ALL docs, not query hits
    assert row["min_v"] <= row["avg_v"] <= row["max_v"]


def test_date_range_buckets(spark):
    df = spark.createDataFrame(
        [("2024-01-05",), ("2024-02-10",), ("2024-02-20",), ("2024-06-01",)],
        "d string").select(F.col("d").cast("timestamp").alias("ts"))
    out = date_range(df, "ts", [
        (None, "2024-02-01"),
        ("2024-02-01", "2024-03-01"),
        ("2024-02-01", None),  # overlaps the previous range (ES allows)
    ]).collect()
    got = {r["bucket"]: r["n_docs"] for r in out}
    assert got == {"*-2024-02-01": 1, "2024-02-01-2024-03-01": 2,
                   "2024-02-01-*": 3}


def _fp(x: float) -> int:
    return math.floor(x * 10000.0 + 0.5)


@pytest.fixture(scope="module")
def scored_rows(spark, agg_index):
    from elasticsearch_osmosis_plugin_spark.operators.query import (
        match_scores,
    )
    from elasticsearch_osmosis_plugin_spark.plans.build import load_meta

    scores = match_scores(spark, agg_index, Q, load_meta(agg_index))
    ds = catalog.read_table(spark, agg_index, "docstats") \
        .select("doc_id", "lang", "repo")
    return scores.join(ds, "doc_id").collect()


def test_sampler_agg_matches_recompute(spark, agg_index, scored_rows):
    ranked = sorted(scored_rows,
                    key=lambda r: (-_fp(r["score"]), r["doc_id"]))
    sample = ranked[:20]
    assert len(ranked) > 20  # cut must actually bite
    counts = Counter(r["lang"] for r in sample)
    want = sorted(((-n, v) for v, n in counts.items()))
    got = sampler_agg(spark, agg_index, Q, "lang", shard_size=20).collect()
    assert [(-r["n_docs"], r["lang"]) for r in got] == want


def test_diversified_sampler_matches_recompute(spark, agg_index, scored_rows):
    ranked = sorted(scored_rows,
                    key=lambda r: (-_fp(r["score"]), r["doc_id"]))
    per_repo: Counter = Counter()
    diversified = []
    for r in ranked:
        if per_repo[r["repo"]] < 2:
            per_repo[r["repo"]] += 1
            diversified.append(r)
    sample = diversified[:15]
    counts = Counter(r["lang"] for r in sample)
    want = sorted(((-n, v) for v, n in counts.items()))
    got = diversified_sampler_agg(spark, agg_index, Q, "lang", "repo",
                                  shard_size=15,
                                  max_docs_per_value=2).collect()
    assert [(-r["n_docs"], r["lang"]) for r in got] == want
    # the dedup cap must actually bite: megarepo dominates the corpus
    assert any(v > 2 for v in Counter(
        r["repo"] for r in ranked[:15]).values())


def test_random_score_deterministic_and_uniform(spark, agg_index):
    """random_score: reproducible across runs, [0,1), md5-fold twin."""
    import hashlib

    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        function_score_topk,
        random_score,
    )

    got1 = function_score_topk(spark, agg_index, Q, k=10,
                               functions=[random_score(seed=7)],
                               boost_mode="replace").collect()
    got2 = function_score_topk(spark, agg_index, Q, k=10,
                               functions=[random_score(seed=7)],
                               boost_mode="replace").collect()
    assert [(r["doc_id"], r["score"]) for r in got1] == \
           [(r["doc_id"], r["score"]) for r in got2]
    assert all(0.0 <= r["score"] < 1.0 for r in got1)

    def py_weight(doc_id: int) -> float:
        h = int(hashlib.md5(f"{doc_id}:7".encode()).hexdigest()[1:16], 16)
        return (h % 1_000_000) / 1_000_000.0

    for r in got1:
        assert r["score"] == py_weight(r["doc_id"])
    # a different seed produces a different permutation
    other = function_score_topk(spark, agg_index, Q, k=10,
                                functions=[random_score(seed=8)],
                                boost_mode="replace").collect()
    assert [r["doc_id"] for r in other] != [r["doc_id"] for r in got1]


def test_script_score_matches_recompute(spark, agg_index, scored_rows):
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        script_score_topk,
    )

    ds = {r["doc_id"]: r["dl"]
          for r in catalog.read_table(spark, agg_index, "docstats")
          .select("doc_id", "dl").collect()}
    want = sorted(
        ((r["score"] * math.sqrt(ds[r["doc_id"]]), r["doc_id"])
         for r in scored_rows),
        key=lambda t: (-t[0], t[1]))[:10]
    got = script_score_topk(
        spark, agg_index, Q,
        F.col("_score") * F.sqrt(F.col("dl").cast("double")),
        k=10).collect()
    assert [r["doc_id"] for r in got] == [d for _, d in want]
    for r, (s, _) in zip(got, want):
        assert abs(r["score"] - s) < 1e-9


def test_script_score_clamps_negative(spark, agg_index):
    from elasticsearch_osmosis_plugin_spark.operators.scorefn import (
        script_score_topk,
    )

    got = script_score_topk(spark, agg_index, Q,
                            F.col("_score") - F.lit(1e9), k=5).collect()
    assert got and all(r["score"] == 0.0 for r in got)


def test_bucket_script_selector_sort_serial_diff(spark):
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        bucket_pipeline,
        bucket_script,
        bucket_selector,
        bucket_sort,
    )

    rows = [(i, float(10 + (i * 7) % 13), 2 + i % 4) for i in range(12)]
    b = spark.createDataFrame(rows, "bucket long, sum_v double, n_docs long")

    # serial_diff lag=3: v[i] - v[i-3] on n_docs, null for first 3
    sd = {r["bucket"]: r["serial_diff"]
          for r in bucket_pipeline(b, serial_diff=3).collect()}
    for i in range(12):
        exp = None if i < 3 else float((2 + i % 4) - (2 + (i - 3) % 4))
        assert sd[i] == exp

    # bucket_script computes the ratio per bucket
    bs = bucket_script(b, "sum_v / n_docs", "ratio").collect()
    for r in bs:
        assert r["ratio"] == pytest.approx(r["sum_v"] / r["n_docs"])

    # bucket_selector drops non-matching buckets
    kept = bucket_selector(b, "n_docs >= 4").collect()
    assert {r["bucket"] for r in kept} == {i for i in range(12) if 2 + i % 4 >= 4}

    # bucket_sort orders + pages like ES from/size
    srt = bucket_sort(b, [("sum_v", "desc"), ("bucket", "asc")],
                      from_=2, size=3).collect()
    expect = sorted(rows, key=lambda r: (-r[1], r[0]))[2:5]
    assert [(r["bucket"], r["sum_v"]) for r in srt] \
        == [(e[0], e[1]) for e in expect]


def test_auto_date_histogram_interval_choice(spark):
    import datetime as dt

    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        auto_date_histogram,
    )

    base = dt.datetime(2024, 1, 1)
    # 40 days of hourly-ish events: day gives 41 > 12 buckets, week gives
    # floor(40d span / 7d) + 1 = 6 <= 12 -> week chosen
    rows = [(i, base + dt.timedelta(days=(i * 40) / 99)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = auto_date_histogram(df, "ts", target_buckets=12)
    got = out.collect()
    assert {r["interval"] for r in got} == {"week"}
    assert sum(r["n_docs"] for r in got) == 100
    # a 6-hour span fits in <= 12 hour-buckets -> hour chosen
    rows2 = [(i, base + dt.timedelta(hours=(i * 6) / 19)) for i in range(20)]
    out2 = auto_date_histogram(
        spark.createDataFrame(rows2, "id long, ts timestamp"), "ts", 12)
    assert {r["interval"] for r in out2.collect()} == {"hour"}
    # empty input -> empty frame, stable schema
    empty = auto_date_histogram(
        spark.createDataFrame([], "id long, ts timestamp"), "ts", 12)
    assert empty.columns == ["bucket", "n_docs", "interval"]
    assert empty.count() == 0


def test_boxplot_agg_matches_numpy_rule(spark, agg_index, hit_rows):
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        boxplot_agg,
    )

    vals = sorted(float(r["dl"]) for r in hit_rows)

    def q(p):
        idx = p * (len(vals) - 1)
        lo = int(math.floor(idx))
        frac = idx - lo
        hi = min(lo + 1, len(vals) - 1)
        return vals[lo] * (1 - frac) + vals[hi] * frac

    q1, q2, q3 = q(0.25), q(0.5), q(0.75)
    iqr = q3 - q1
    lower = min(v for v in vals if v >= q1 - 1.5 * iqr)
    upper = max(v for v in vals if v <= q3 + 1.5 * iqr)
    row = boxplot_agg(spark, agg_index, Q, "dl").collect()[0]
    assert row["n"] == len(vals)
    assert row["min_v"] == vals[0] and row["max_v"] == vals[-1]
    for got, want in [(row["q1"], q1), (row["q2"], q2), (row["q3"], q3),
                      (row["lower"], lower), (row["upper"], upper)]:
        assert abs(got - want) < 1e-9
    # empty hit set -> empty frame, not a crash
    assert boxplot_agg(spark, agg_index, "zzzznope", "dl").count() == 0


def test_rate_agg_calendar_divisors(spark):
    from datetime import datetime

    from elasticsearch_osmosis_plugin_spark.operators.intersect import rate_agg

    rows = [(i, datetime(2024, 1, 5 + i), float(i)) for i in range(3)] \
        + [(10 + i, datetime(2024, 2, 10 + i), 10.0) for i in range(2)]
    df = spark.createDataFrame(rows, "id long, ts timestamp, v double")
    got = {r["bucket"].month: r for r in
           rate_agg(df, "ts", "month", "day").collect()}
    # Jan 2024 has 31 days, Feb 2024 (leap) 29
    assert abs(got[1]["rate"] - 3 / 31) < 1e-12
    assert abs(got[2]["rate"] - 2 / 29) < 1e-12
    got_v = {r["bucket"].month: r for r in
             rate_agg(df, "ts", "month", "day", value_col="v").collect()}
    assert abs(got_v[1]["rate"] - (0 + 1 + 2) / 31) < 1e-12
    # month unit under a year bucket divides by 12
    per_year = rate_agg(df, "ts", "year", "month").collect()[0]
    assert abs(per_year["rate"] - 5 / 12) < 1e-12
    with pytest.raises(ValueError):
        rate_agg(df, "ts", "day", "month")


def test_normalize_and_moving_percentiles(spark):
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        moving_percentiles,
        normalize_pipeline,
    )

    rows = [(1, 10.0), (2, 30.0), (3, 20.0), (4, 40.0)]
    df = spark.createDataFrame(rows, "bucket long, n_docs double")
    pos = normalize_pipeline(df, method="percent_of_sum").collect()
    assert [r["normalized"] for r in pos] == [10.0, 30.0, 20.0, 40.0]
    r01 = normalize_pipeline(df, method="rescale_0_1").collect()
    assert [r["normalized"] for r in r01] == [0.0, 2 / 3, 1 / 3, 1.0]
    mean = normalize_pipeline(df, method="mean").collect()
    assert [round(r["normalized"], 9) for r in mean] == [
        round((v - 25.0) / 30.0, 9) for v in (10.0, 30.0, 20.0, 40.0)]
    soft = normalize_pipeline(df, method="softmax").collect()
    import numpy as np

    e = np.exp([10.0, 30.0, 20.0, 40.0])
    for got, want in zip([r["normalized"] for r in soft], e / e.sum()):
        assert abs(got - want) < 1e-12
    with pytest.raises(ValueError):
        normalize_pipeline(df, method="nope")

    mp = moving_percentiles(df, window=3, percentile=0.5).collect()
    # trailing-3 windows: [10], [10,30], [10,20,30], [20,30,40]
    assert [r["moving_pct"] for r in mp] == [10.0, 20.0, 20.0, 30.0]
    p25 = moving_percentiles(df, window=3, percentile=0.25).collect()
    # window [10,20,30] p25 -> 15; [20,30,40] -> 25
    assert [r["moving_pct"] for r in p25] == [10.0, 15.0, 15.0, 25.0]


def test_date_histogram_fixed_and_fuzzy_transpositions(spark, agg_index):
    from datetime import datetime, timedelta

    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        date_histogram_fixed,
        expand_fuzzy,
        match_fuzzy,
    )

    rows = [(i, datetime(2024, 1, 1, 0, 0) + timedelta(minutes=i * 7))
            for i in range(10)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    all_buckets = date_histogram_fixed(df, "ts", "30m").collect()
    # minutes 0,7,14,21,28 -> :00; 35,42,49,56 -> :30; 63 -> 1:00
    assert [(r["bucket"].hour, r["bucket"].minute, r["n_docs"])
            for r in all_buckets] == [(0, 0, 5), (0, 30, 4), (1, 0, 1)]
    with pytest.raises(ValueError):
        date_histogram_fixed(df, "ts", "monthly")

    # transpositions: 'pbulic' is OSA distance 1 from 'public'
    # (adjacent swap) but Levenshtein 2
    lev = expand_fuzzy(spark, agg_index, "pbulic", max_edits=1)
    osa = expand_fuzzy(spark, agg_index, "pbulic", max_edits=1,
                       transpositions=True)
    assert "public" not in lev and "public" in osa
    ids = {r["doc_id"] for r in match_fuzzy(
        spark, agg_index, "pbulic", max_edits=1,
        transpositions=True).collect()}
    want = {r["doc_id"] for r in match_any_terms(
        spark, agg_index, "public").collect()}
    assert ids >= want and want


def test_categorize_text_skeleton_buckets(spark):
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        categorize_text,
    )

    msgs = [
        ("Shutting down node 17",),
        ("Shutting down node 442",),
        ("Shutting DOWN node 9",),
        ("User 9 logged in from 10.0.0.3",),
        ("User 123 logged in from 10.1.2.9",),
        ("heartbeat ok",),
        ("one two three four five six seven",),  # key caps at 5 tokens
    ]
    df = spark.createDataFrame(msgs, "message string")
    got = {r["category"]: r["doc_count"]
           for r in categorize_text(df, "message", size=10).collect()}
    assert got == {"shutting down node": 3,
                   "user logged in from": 2,
                   "heartbeat ok": 1,
                   "one two three four five": 1}


def test_frequent_item_sets_matches_bruteforce(spark, corpus_rows):
    from itertools import combinations

    from elasticsearch_osmosis_plugin_spark.functions.tokenizer import (
        tokenize_py,
    )
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        frequent_item_sets,
    )

    baskets = {int(d): set(tokenize_py(t, "code"))
               for d, t in zip(corpus_rows["doc_id"],
                               corpus_rows["content"])}
    n = len(baskets)
    min_sup = 0.4
    min_cnt = max(1, math.ceil(min_sup * n))
    c1 = Counter(t for b in baskets.values() for t in b)
    f1 = {t for t, c in c1.items() if c >= min_cnt}
    c2 = Counter()
    for b in baskets.values():
        for pair in combinations(sorted(t for t in b if t in f1), 2):
            c2[pair] += 1
    want = {(t, 1): c for t, c in c1.items() if c >= min_cnt}
    want |= {(" ".join(p), 2): c for p, c in c2.items() if c >= min_cnt}
    top = sorted(want.items(),
                 key=lambda kv: (-kv[1], kv[0][1], kv[0][0]))[:20]

    docs = spark.createDataFrame(
        [(d, t) for d, b in baskets.items() for t in b],
        "doc_id long, term string")
    got = frequent_item_sets(docs, "doc_id", "term",
                             min_support=min_sup, size=20).collect()
    assert [((r["items"], r["set_size"]), r["doc_count"]) for r in got] \
        == top
    for r in got:
        assert r["support_x1e4"] == math.floor(
            r["doc_count"] / n * 10000.0 + 0.5)


def test_variable_width_histogram_quantile_seeded(spark):
    import numpy as np

    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        variable_width_histogram,
    )

    rng = np.random.default_rng(7)
    # trimodal, balanced: the k midpoint quantiles land one per mode,
    # so the data-driven (not equal-width) buckets recover the modes
    vals = np.concatenate([rng.normal(0, 1, 100),
                           rng.normal(50, 2, 100),
                           rng.normal(200, 5, 100)])
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    k = 3
    got = variable_width_histogram(df, "v", buckets=k).collect()

    cents = np.quantile(vals, [(2 * i + 1) / (2 * k) for i in range(k)],
                        method="linear")
    assign = np.argmin(np.abs(vals[:, None] - cents[None, :]), axis=1)
    want = []
    for b in sorted(set(assign)):
        m = vals[assign == b]
        want.append((m.min(), m.mean(), m.max(), len(m)))
    want.sort(key=lambda t: t[1])
    assert len(got) == len(want)
    for r, (lo, key, hi, n) in zip(got, want):
        assert r["doc_count"] == n
        assert abs(r["min_v"] - lo) < 1e-9
        assert abs(r["key"] - key) < 1e-9
        assert abs(r["max_v"] - hi) < 1e-9
    # the three modes are recovered
    assert [r["doc_count"] for r in got] == [100, 100, 100]


def test_matrix_stats_skew_kurt(spark, agg_index, hit_rows):
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        matrix_stats_agg,
    )

    m = matrix_stats_agg(spark, agg_index, Q, "dl", "doc_id").collect()[0]
    a = [float(r["dl"]) for r in hit_rows]
    n = len(a)
    mu = sum(a) / n
    m2 = sum((x - mu) ** 2 for x in a) / n
    m3 = sum((x - mu) ** 3 for x in a) / n
    m4 = sum((x - mu) ** 4 for x in a) / n
    assert m["n"] == n
    assert abs(m["mean_a"] - mu) < 1e-9
    assert abs(m["var_a"] - m2) < 1e-6 * m2
    assert abs(m["skew_a"] - m3 / m2 ** 1.5) < 1e-6
    assert abs(m["kurt_a"] - m4 / m2 ** 2) < 1e-6


def test_moving_fn_builtins(spark):
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        moving_fn,
    )

    b = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([2, 4, 6, 8, 10])],
        "bucket int, n_docs double")

    def col(fn, window, shift=0, alpha=0.3):
        rows = moving_fn(b, fn, window, shift=shift,
                         alpha=alpha).collect()
        return [r["moving_fn"] for r in rows]

    # shift=0 excludes the current bucket (ES default alignment)
    assert col("max", 2) == [None, 2.0, 4.0, 6.0, 8.0]
    assert col("sum", 2, shift=1) == [2.0, 6.0, 10.0, 14.0, 18.0]
    assert col("min", 3, shift=1)[-1] == 6.0
    ua = col("unweightedAvg", 2, shift=1)
    assert ua[0] == 2.0 and ua[1] == 3.0
    # stdDev population about the window mean
    sd = col("stdDev", 4, shift=1)
    assert sd[0] == 0.0
    assert sd[3] == pytest.approx(math.sqrt(5.0))   # {2,4,6,8}
    # linearWeightedAvg: weights rise toward the most recent value
    lw = col("linearWeightedAvg", 3, shift=1)
    assert lw[2] == pytest.approx((2 * 1 + 4 * 2 + 6 * 3) / 6.0)
    assert lw[0] == 2.0
    # ewma seeds with the first windowed value then folds
    ew = col("ewma", 3, shift=1, alpha=0.5)
    assert ew[0] == 2.0 and ew[1] == 3.0 and \
        ew[2] == pytest.approx(0.5 * 6 + 0.5 * 3.0)
    with pytest.raises(ValueError, match="holt"):
        moving_fn(b, "holt", 3)


def test_ip_range_and_prefix_aggs(spark):
    from elasticsearch_osmosis_plugin_spark.operators.intersect import (
        ip_prefix_agg,
        ip_range_agg,
    )

    df = spark.createDataFrame(
        [("192.168.1.5",), ("192.168.200.1",), ("10.0.0.1",),
         ("not-an-ip",), ("300.1.1.1",), ("192.168.1.255",)],
        "ip string")
    got = {r["bucket"]: r["n_docs"] for r in ip_range_agg(
        df, "ip", [(None, "192.168.0.0"), ("192.168.0.0", None),
                   "192.168.1.0/24"]).collect()}
    # invalid IPs land in no bucket; overlap allowed
    assert got == {"*-192.168.0.0": 1, "192.168.0.0-*": 3,
                   "192.168.1.0/24": 2}
    pf = {r["prefix"]: r["n_docs"]
          for r in ip_prefix_agg(df, "ip", 24).collect()}
    assert pf == {"192.168.1.0": 2, "192.168.200.0": 1, "10.0.0.0": 1}
    # /32 identity and /0 catch-all
    assert ip_prefix_agg(df, "ip", 0).collect()[0]["prefix"] == "0.0.0.0"
    p32 = {r["prefix"] for r in ip_prefix_agg(df, "ip", 32).collect()}
    assert "192.168.1.5" in p32
