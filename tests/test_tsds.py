"""TSDS + _downsample: rollup exactness, resolution refolding,
ingest gates, divisibility rules."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_osmosis_plugin_spark.plans import tsds

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def store(spark, tmp_path):
    root = str(tmp_path / "tsds")
    tsds.create_tsds(root, "metrics", dimensions=["event_type"],
                     metrics={"value": "gauge", "user_id": "counter"},
                     ts_col="ts")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n = tsds.append_tsds(spark, root, "metrics", ev)
    assert n == ev.count()
    return root, ev


def test_downsample_gauge_matches_groupby(spark, store):
    root, ev = store
    tsds.downsample(spark, root, "metrics", "1h")
    got = spark.read.parquet(f"{root}/metrics/downsample-1h")
    want = (ev.withColumn("b", F.date_trunc("hour", "ts"))
            .groupBy("b", "event_type")
            .agg(F.min("value").alias("value_min"),
                 F.max("value").alias("value_max"),
                 F.sum("value").alias("value_sum"),
                 F.count("value").alias("value_value_count")))
    g = {(r["__bucket"], r["event_type"]):
         (r["value_min"], r["value_max"], round(r["value_sum"], 6),
          r["value_value_count"]) for r in got.collect()}
    w = {(r["b"], r["event_type"]):
         (r["value_min"], r["value_max"], round(r["value_sum"], 6),
          r["value_value_count"]) for r in want.collect()}
    assert g == w


def test_ts_agg_same_answer_at_every_resolution(spark, store):
    root, ev = store
    tsds.downsample(spark, root, "metrics", "1h")
    tsds.downsample(spark, root, "metrics", "6h", source_interval="1h")

    def norm(df):
        return {(r["bucket"], r["event_type"]): round(r["avg"], 9)
                for r in df.collect()}

    raw = norm(tsds.ts_agg(spark, root, "metrics", "1d", metric="value",
                           agg="avg", resolution=None))
    via_1h = norm(tsds.ts_agg(spark, root, "metrics", "1d",
                              metric="value", agg="avg", resolution="1h"))
    auto = norm(tsds.ts_agg(spark, root, "metrics", "1d", metric="value",
                            agg="avg"))
    assert raw == via_1h == auto
    # auto picks the coarsest divisor (6h), not 1h
    man = tsds._read_man(root, "metrics")
    assert tsds._pick_resolution(man, 86400) == "6h"


def test_counter_last_value_refolds(spark, store):
    root, ev = store
    tsds.downsample(spark, root, "metrics", "1h")
    raw = tsds.ts_agg(spark, root, "metrics", "1d", metric="user_id",
                      agg="last_value", resolution=None)
    ds = tsds.ts_agg(spark, root, "metrics", "1d", metric="user_id",
                     agg="last_value", resolution="1h")
    k = lambda r: (r["bucket"], r["event_type"])  # noqa: E731
    assert {k(r): r["last_value"] for r in raw.collect()} \
        == {k(r): r["last_value"] for r in ds.collect()}


def test_gates_and_rules(spark, store):
    root, ev = store
    bad = ev.withColumn("event_type",
                        F.when(F.col("event_id") == 3, None)
                        .otherwise(F.col("event_type")))
    with pytest.raises(ValueError, match="batch rejected"):
        tsds.append_tsds(spark, root, "metrics", bad)
    tsds.downsample(spark, root, "metrics", "1h")
    with pytest.raises(ValueError, match="exists"):
        tsds.downsample(spark, root, "metrics", "1h")
    with pytest.raises(ValueError, match="multiple"):
        tsds.downsample(spark, root, "metrics", "90m",
                        source_interval="1h")
    with pytest.raises(ValueError, match="does not divide"):
        tsds.ts_agg(spark, root, "metrics", "90m", metric="value",
                    agg="sum", resolution="1h")
    with pytest.raises(ValueError, match="supports"):
        tsds.ts_agg(spark, root, "metrics", "1d", metric="user_id",
                    agg="sum")
    assert tsds.tsds_stats(root, "metrics")["downsamples"] == ["1h"]


def test_downsample_prunes_partitions(spark, store):
    """Day-partitioned layout: a time-ranged read of the rollup shows
    partition filters in the executed plan."""
    root, ev = store
    tsds.downsample(spark, root, "metrics", "1h")
    df = (spark.read.parquet(f"{root}/metrics/downsample-1h")
          .filter(F.col("__day") == "2024-01-02"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "__day" in plan
    assert df.count() > 0


def test_ts_rate_counter_with_resets(spark, tmp_path):
    root = str(tmp_path / "tsds_rate")
    tsds.create_tsds(root, "m", dimensions=["host"],
                     metrics={"reqs": "counter"}, ts_col="ts")
    rows = [  # host a: monotone; host b: resets at t=120
        ("a", "2024-01-01 00:00:10", 100.0),
        ("a", "2024-01-01 00:00:50", 160.0),
        ("a", "2024-01-01 00:01:30", 220.0),
        ("b", "2024-01-01 00:00:20", 50.0),
        ("b", "2024-01-01 00:01:10", 80.0),
        ("b", "2024-01-01 00:02:00", 10.0),   # reset -> delta = 10
    ]
    df = spark.createDataFrame(rows, "host string, ts string, reqs double") \
        .withColumn("ts", F.to_timestamp("ts"))
    tsds.append_tsds(spark, root, "m", df)
    out = {(r["host"], r["bucket"].minute): r["rate"]
           for r in tsds.ts_rate(spark, root, "m", "1m",
                                 metric="reqs").collect()}
    # host a: minute 0 delta 60 (first obs no delta), minute 1 delta 60
    assert out[("a", 0)] == 1.0 and out[("a", 1)] == 1.0
    # host b: minute 1 delta 30; minute 2 reset -> delta 10
    assert out[("b", 1)] == 0.5
    assert abs(out[("b", 2)] - 10.0 / 60.0) < 1e-12
    with pytest.raises(ValueError, match="counter"):
        tsds.ts_rate(spark, root, "m", "1m", metric="nope")


def test_chained_counter_downsample_keeps_time_order(spark, tmp_path):
    """Re-downsampling a counter must carry the LAST sub-bucket's
    last_value, not the max value (regression: the coarse bucket
    column used to shadow the source sub-bucket in the order key)."""
    root = str(tmp_path / "tsds_chain")
    tsds.create_tsds(root, "m", dimensions=["host"],
                     metrics={"reqs": "counter"}, ts_col="ts")
    rows = [("a", "2024-01-01 10:00:00", 100.0),
            ("a", "2024-01-01 10:31:00", 5.0)]   # reset: later < earlier
    df = spark.createDataFrame(rows, "host string, ts string, reqs double") \
        .withColumn("ts", F.to_timestamp("ts"))
    tsds.append_tsds(spark, root, "m", df)
    tsds.downsample(spark, root, "m", "30m")
    tsds.downsample(spark, root, "m", "1h", source_interval="30m")
    chained = spark.read.parquet(f"{root}/m/downsample-1h").collect()
    assert len(chained) == 1 and chained[0]["reqs_last_value"] == 5.0
    # and ts_agg over the chained rollup equals raw
    raw = tsds.ts_agg(spark, root, "m", "1h", metric="reqs",
                      agg="last_value", resolution=None).collect()
    via = tsds.ts_agg(spark, root, "m", "1h", metric="reqs",
                      agg="last_value", resolution="1h").collect()
    assert raw[0]["last_value"] == via[0]["last_value"] == 5.0


def test_ts_rate_on_rollup(spark, tmp_path):
    """rate on a counter ROLLUP == rate on raw whenever resets land on
    span boundaries (positive deltas telescope to last_value diffs);
    an intra-span reset undercounts — the documented downsampled-
    counter caveat — and resolution='raw' restores exactness."""
    root = str(tmp_path / "tsds_rr")
    tsds.create_tsds(root, "m", dimensions=["host"],
                     metrics={"reqs": "counter"}, ts_col="ts")
    rows = [  # two series, several raw obs per minute, no resets
        ("a", "2024-01-01 00:00:10", 100.0),
        ("a", "2024-01-01 00:00:40", 130.0),
        ("a", "2024-01-01 00:01:20", 190.0),
        ("a", "2024-01-01 00:01:50", 220.0),
        ("a", "2024-01-01 00:02:30", 400.0),
        ("b", "2024-01-01 00:00:20", 10.0),
        ("b", "2024-01-01 00:01:10", 40.0),
        ("b", "2024-01-01 00:02:40", 45.0),
    ]
    df = spark.createDataFrame(rows, "host string, ts string, reqs double") \
        .withColumn("ts", F.to_timestamp("ts"))
    tsds.append_tsds(spark, root, "m", df)
    tsds.downsample(spark, root, "m", "1m")

    def snap(res):
        return {(r["host"], r["bucket"].minute): r["rate"] for r in
                tsds.ts_rate(spark, root, "m", "2m", metric="reqs",
                             resolution=res).collect()}

    raw = snap("raw")
    rolled = snap("1m")          # explicit rollup
    auto = snap("auto")          # auto must pick the 1m rollup
    assert raw == rolled == auto and raw
    with pytest.raises(ValueError, match="no downsample"):
        tsds.ts_rate(spark, root, "m", "2m", metric="reqs",
                     resolution="30s")
    with pytest.raises(ValueError, match="not a multiple"):
        tsds.ts_rate(spark, root, "m", "90s", metric="reqs",
                     resolution="1m")

    # a span-end-lower reset stays exact (boundary + internal reset
    # rules cover it); only a reset HIDDEN inside a span whose last
    # exceeds its first undercounts -> never overcounts
    root2 = str(tmp_path / "tsds_rr2")
    tsds.create_tsds(root2, "m", dimensions=["host"],
                     metrics={"reqs": "counter"}, ts_col="ts")
    rows2 = [("c", "2024-01-01 00:00:10", 100.0),
             ("c", "2024-01-01 00:01:10", 200.0),
             ("c", "2024-01-01 00:01:30", 5.0),    # reset mid-minute
             ("c", "2024-01-01 00:01:50", 300.0)]  # ...then climbs past
    df2 = spark.createDataFrame(rows2,
                                "host string, ts string, reqs double") \
        .withColumn("ts", F.to_timestamp("ts"))
    tsds.append_tsds(spark, root2, "m", df2)
    tsds.downsample(spark, root2, "m", "1m")
    raw2 = {r["bucket"].minute: r["rate"] for r in
            tsds.ts_rate(spark, root2, "m", "1m", metric="reqs",
                         resolution="raw").collect()}
    rolled2 = {r["bucket"].minute: r["rate"] for r in
               tsds.ts_rate(spark, root2, "m", "1m", metric="reqs",
                            resolution="1m").collect()}
    # raw minute 1: +100 (rise) +5 (reset) +295 = 400 -> 400/60
    assert abs(raw2[1] - 400.0 / 60.0) < 1e-12
    # rollup minute 1: boundary 100 + internal (300-200) = 200 -> under
    assert abs(rolled2[1] - 200.0 / 60.0) < 1e-12
    assert rolled2[1] < raw2[1]


def test_ts_rate_auto_degrades_on_legacy_rollup(spark, tmp_path):
    """A counter rollup written before first_value capture: auto mode
    silently degrades to raw (previously-working calls keep working),
    explicit rollup selection raises the friendly error, and
    re-downsampling the legacy rollup raises too."""
    import glob
    import os

    root = str(tmp_path / "tsds_legacy")
    tsds.create_tsds(root, "m", dimensions=["host"],
                     metrics={"reqs": "counter"}, ts_col="ts")
    rows = [("a", "2024-01-01 00:00:10", 100.0),
            ("a", "2024-01-01 00:00:40", 130.0),
            ("a", "2024-01-01 00:01:20", 190.0)]
    df = spark.createDataFrame(rows, "host string, ts string, reqs double") \
        .withColumn("ts", F.to_timestamp("ts"))
    tsds.append_tsds(spark, root, "m", df)
    tsds.downsample(spark, root, "m", "1m")
    # strip first_value to simulate a pre-upgrade rollup
    ds_dir = glob.glob(os.path.join(root, "m", "downsample-1m"))[0]
    legacy = spark.read.parquet(ds_dir).drop("reqs_first_value")
    legacy.write.mode("overwrite").parquet(ds_dir + ".new")
    import shutil
    shutil.rmtree(ds_dir)
    os.rename(ds_dir + ".new", ds_dir)

    raw = {r["bucket"].minute: r["rate"] for r in
           tsds.ts_rate(spark, root, "m", "1m", metric="reqs",
                        resolution="raw").collect()}
    auto = {r["bucket"].minute: r["rate"] for r in
            tsds.ts_rate(spark, root, "m", "1m", metric="reqs").collect()}
    assert auto == raw and raw
    with pytest.raises(ValueError, match="first_value"):
        tsds.ts_rate(spark, root, "m", "1m", metric="reqs",
                     resolution="1m")
    with pytest.raises(ValueError, match="first_value"):
        tsds.downsample(spark, root, "m", "2m", source_interval="1m")


def test_esql_ts_command_over_tsds_ref(spark, tmp_path):
    """TS over a persisted TSDS (TsdsRef): ES|QL RATE is WITHIN-bucket
    (first/last + resets over the observed span — unlike the DSL
    `rate` agg twin ts_rate, which divides positive deltas by bucket
    width); AVG over series uses the FULL dimension set even when BY
    omits it."""
    from elasticsearch_osmosis_plugin_spark.operators.esql import (
        EsqlError,
        esql,
    )

    root = str(tmp_path / "tsds_esql")
    tsds.create_tsds(root, "m", dimensions=["host"],
                     metrics={"reqs": "counter", "mem": "gauge"},
                     ts_col="ts")
    rows = [
        ("a", "2024-01-01 00:00:10", 100.0, 1.0),
        ("a", "2024-01-01 00:00:50", 160.0, 2.0),
        ("a", "2024-01-01 00:01:30", 220.0, 3.0),
        ("b", "2024-01-01 00:00:20", 50.0, 10.0),
        ("b", "2024-01-01 00:01:10", 80.0, 20.0),
        ("b", "2024-01-01 00:02:00", 10.0, 30.0),   # counter reset
    ]
    df = spark.createDataFrame(
        rows, "host string, ts string, reqs double, mem double") \
        .withColumn("ts", F.to_timestamp("ts"))
    tsds.append_tsds(spark, root, "m", df)
    src = {"m": tsds.TsdsRef(root, "m")}

    out = {r["b"].minute: r for r in esql(spark, """
TS m | STATS r = SUM(RATE(reqs)), a = AVG(LAST_OVER_TIME(mem))
      BY b = BUCKET(ts, 1 minute) | SORT b""", src).collect()}
    # within-bucket: only host a's minute-0 bucket has >=2 samples
    # (100@:10 -> 160@:50: increase 60 over a 40 s observed span);
    # every other (series, bucket) is single-sampled -> NULL rate.
    assert set(out) == {0, 1, 2}
    assert out[0]["r"] == pytest.approx(60.0 / 40.0)
    assert out[1]["r"] is None and out[2]["r"] is None
    # avg of per-series LAST in minute 0: a->160 mem 2.0, b->50 mem 10.0
    assert out[0]["a"] == pytest.approx(6.0)
    assert out[1]["a"] == pytest.approx((3.0 + 20.0) / 2)

    # BY host grouping keeps series separate; WHERE pre-filters raw
    byh = {(r["b"].minute, r["host"]): r["r"] for r in esql(spark, """
TS m | WHERE host == "a" | STATS r = SUM(RATE(reqs))
      BY b = BUCKET(ts, 1 minute), host""", src).collect()}
    assert byh[(0, "a")] == pytest.approx(1.5) and (1, "b") not in byh

    # guard rails
    with pytest.raises(EsqlError, match="counter"):
        esql(spark, "TS m | STATS x = SUM(RATE(mem)) "
                    "BY b = BUCKET(ts, 1 minute)", src)
    with pytest.raises(EsqlError, match="wrap"):
        esql(spark, "TS m | STATS x = SUM(reqs) "
                    "BY b = BUCKET(ts, 1 minute)", src)
    with pytest.raises(EsqlError, match="dimension"):
        esql(spark, "TS m | STATS x = SUM(RATE(reqs)) "
                    "BY b = BUCKET(ts, 1 minute), mem", src)
    with pytest.raises(EsqlError, match="DataFrame has no dimension"):
        esql(spark, "TS m | STATS x = SUM(RATE(reqs)) "
                    "BY b = BUCKET(ts, 1 minute)", {"m": df})
    with pytest.raises(EsqlError, match="calendar"):
        esql(spark, "TS m | STATS x = SUM(RATE(reqs)) "
                    "BY b = BUCKET(ts, 1 month)", src)


def test_esql_ts_rate_skips_null_samples(spark):
    """RATE ignores NULL metric samples: the delta runs from the last
    non-NULL sample, and the observed span is taken over non-NULL
    samples only — a NULL mid-bucket, at a bucket's first edge and at
    its last edge."""
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql

    rows = [("a", "2024-01-01 00:00:00", 100.0),
            ("a", "2024-01-01 00:00:20", None),      # mid-bucket
            ("a", "2024-01-01 00:00:40", 160.0),
            ("a", "2024-01-01 00:01:00", None),      # bucket start edge
            ("a", "2024-01-01 00:01:20", 200.0),
            ("a", "2024-01-01 00:01:50", 230.0),
            ("a", "2024-01-01 00:02:10", 240.0),
            ("a", "2024-01-01 00:02:40", 300.0),
            ("a", "2024-01-01 00:02:59", None)]      # bucket end edge
    df = spark.createDataFrame(rows, "host string, ts string, c double") \
        .withColumn("ts", F.to_timestamp("ts"))
    src = {"m": {"df": df, "ts_col": "ts", "dimensions": ["host"],
                 "metrics": {"c": "counter"}}}
    out = {r["b"].minute: r["r"] for r in esql(
        spark, "TS m | STATS r = SUM(RATE(c)) BY b = BUCKET(ts, 1 minute)",
        src).collect()}
    assert out[0] == pytest.approx(60.0 / 40.0)
    assert out[1] == pytest.approx(30.0 / 30.0)
    assert out[2] == pytest.approx(60.0 / 30.0)


def test_esql_ts_plan_two_exchanges(spark):
    """TS plan shape: the series-key exchange is shared by the rate
    window AND the inner (series, bucket) aggregate; only the outer
    BY aggregate adds a second shuffle. A third exchange would mean
    the inner groupBy lost the window's partitioning."""
    from elasticsearch_osmosis_plugin_spark.operators.esql import esql

    ev = spark.range(100).selectExpr(
        "cast(id % 5 as string) AS host",
        "timestamp_seconds(1700000000 + id * 60) AS ts",
        "cast(id as double) AS c")
    src = {"m": {"df": ev, "ts_col": "ts", "dimensions": ["host"],
                 "metrics": {"c": "counter"}}}
    out = esql(spark, "TS m | STATS r = SUM(RATE(c)) "
                      "BY b = BUCKET(ts, 1 hour)", src)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    assert len(re.findall(r"\bExchange\b", plan)) <= 2, plan
