"""Streaming ingest: the reference's bounded-queue pipeline restated
as Structured Streaming.

The reference's "stream" is a push pipeline with micro-batch buffers,
backpressure and a final drain (``WorkerPool.java:24-56``,
``EntityBuffer.java:22-33``). Spark-native: ``readStream`` ->
transformations -> ``foreachBatch`` appends into the doc-store, with
Spark's own backpressure (maxFilesPerTrigger) playing the bounded
queue's role; windowed counts with a watermark replace the streaming
EntityCounter (``EntityCounter.java:13-26``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def stream_events(spark: SparkSession, path: str, schema: StructType,
                  max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream with bounded per-trigger intake
    (backpressure analog of the reference's queue.size=100)."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def windowed_counts(events: DataFrame, window: str = "5 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """Per-type tumbling-window counts with late-data watermark —
    the streaming analog of count-by-type (``EntityCounter``)."""
    # watermarks require TIMESTAMP; parquet event time is often NTZ
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("value").alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n", "total_value"))


def trending_terms(docs: DataFrame, *, ts_col: str = "ts",
                   text_col: str = "text", window: str = "1 hour",
                   watermark: str = "2 hours",
                   min_count: int = 2) -> DataFrame:
    """Windowed term frequencies over a document stream — the
    "trending terms" feed a live index pipeline surfaces (the streaming
    analog of the terms facet): tokenize with the engine's simple
    analyzer, explode, tumbling-window count with a late-data
    watermark -> (window_start, term, n). Works identically on a batch
    DataFrame (the stream-vs-batch equality tests exploit exactly
    that). ``min_count`` drops the long tail before it ever shuffles
    to the sink."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import (
        tokens_col,
    )

    docs = docs.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    toks = docs.withWatermark(ts_col, watermark).select(
        F.col(ts_col), F.explode(tokens_col(text_col)).alias("term"))
    return (toks.groupBy(F.window(ts_col, window).alias("w"), "term")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= int(min_count))
            .select(F.col("w.start").alias("window_start"), "term", "n"))


def run_stream_to_memory(spark: SparkSession, path: str, schema: StructType,
                         query_name: str = "eosp_stream",
                         window: str = "5 minutes") -> DataFrame:
    """Drive a bounded file-backed stream to completion synchronously
    (test/bench harness): complete-mode windowed aggregation into the
    in-memory sink, then return the materialized result."""
    agg = windowed_counts(stream_events(spark, path, schema), window)
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(query_name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def sessionize_stream(events: DataFrame, gap_s: int = 1800,
                      watermark: str = "2 hours") -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` (the engine's analog of the reference's
    only stateful construct — the per-worker buffer that flushes on a
    boundary, ``EntityBuffer.java:22-33``/``Worker.java:38-44`` — with
    per-key state + event-time timeout instead of shared buffers).

    Emits one row per CLOSED session: (user_id, session_start,
    session_end, n_events). A session closes when a later event for the
    same user arrives past the gap, or when the event-time watermark
    passes last_ts + gap (timeout). In-flight sessions stay in state.
    Batch twin: ``__spark_entry__.q_sessionization`` (same gap rule).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = events.withColumn("ts", F.col("ts").cast("timestamp")) \
                   .withWatermark("ts", watermark)
    gap_us = gap_s * 1_000_000

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        sessions = []
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            sessions.append((user_id, start_us, last_us, n))
            state.remove()
        else:
            ts_us = []
            for pdf in pdfs:
                ts_us.extend(int(t.value // 1000) for t in pdf["ts"])
            ts_us.sort()
            start_us, last_us, n = state.get if state.exists else (None, None, 0)
            for t in ts_us:
                if last_us is not None and t - last_us > gap_us:
                    sessions.append((user_id, start_us, last_us, n))
                    start_us, last_us, n = t, t, 1
                    continue
                # admitted-but-out-of-order event (above watermark,
                # below stored last_us): extend bounds, never regress —
                # last_us = max keeps the event-time timeout monotone
                start_us = t if start_us is None else min(start_us, t)
                last_us = t if last_us is None else max(last_us, t)
                n += 1
            if start_us is not None:
                state.update((start_us, last_us, n))
                state.setTimeoutTimestamp(last_us // 1000 + gap_s * 1000)
        out = pd.DataFrame(
            sessions, columns=["user_id", "start_us", "end_us", "n_events"])
        out["session_start"] = pd.to_datetime(out["start_us"], unit="us")
        out["session_end"] = pd.to_datetime(out["end_us"], unit="us")
        yield out[["user_id", "session_start", "session_end", "n_events"]]

    return (events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=("user_id long, session_start timestamp, "
                          "session_end timestamp, n_events long"),
        stateStructType="start_us long, last_us long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout))


def dedup_stream(docs: DataFrame, ts_col: str = "ts",
                 text_col: str = "text",
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival of each
    normalized-content fingerprint, dropping later duplicates that
    arrive within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — state for a fingerprint is
    held only until the watermark passes, so state size is bounded by
    the dup-arrival window, not corpus size — the property that makes
    streaming dedup feasible at 100 TB/day ingest).

    Streaming twin of ``dedupe.exact_duplicate_groups``'s keep-one
    semantics; same fingerprint (md5 over simple-analyzer-normalized
    text)."""
    from elasticsearch_osmosis_plugin_spark.functions.analysis import (
        tokens_col,
    )

    fp = F.md5(F.concat_ws(" ", tokens_col(text_col)))
    return (docs.withColumn("ts", F.col(ts_col).cast("timestamp"))
            .withWatermark("ts", watermark)
            .withColumn("fp", fp)
            .dropDuplicatesWithinWatermark(["fp"]))


def stream_index_ingest(spark: SparkSession, src_path: str,
                        schema: StructType, index_path: str,
                        text_col: str = "text",
                        id_col: str | None = "doc_id",
                        max_files_per_trigger: int = 1,
                        compact_every: int | None = None) -> None:
    """Streaming ingest INTO the inverted index — the reference's whole
    role (entity stream -> fulltext index,
    ``ElasticSearchWriterTask.java:40-82``) with the index ours: each
    micro-batch commits one log-structured postings group via
    ``plans.build.append_index_group`` (atomic meta swap = the
    refresh/visibility barrier), so searchers see index states that
    each include complete batches only. Exactly-once per batch via the
    streaming checkpoint + idempotent group replace.

    ``compact_every=N`` is the Lucene-merge-policy analog for the
    stream: whenever the live group count reaches N, the batch
    handler runs ``plans.merge.compact_index`` inline before
    returning — searchers only ever see pre- or post-compaction
    states (the same atomic swap), and the group count stays bounded
    no matter how long the stream runs (unbounded groups = unbounded
    per-query segment fan-in, the classic LSM read-amplification
    failure)."""
    from elasticsearch_osmosis_plugin_spark.plans.build import (
        append_index_group,
        index_groups,
        load_meta,
    )
    from elasticsearch_osmosis_plugin_spark.plans.merge import compact_index

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_index_group(batch_df.sparkSession, batch_df, index_path,
                           id_col=id_col, text_col=text_col)
        if compact_every and len(index_groups(
                load_meta(index_path))) >= compact_every:
            compact_index(batch_df.sparkSession, index_path)

    q = (stream_events(spark, src_path, schema, max_files_per_trigger)
         .writeStream.foreachBatch(handle)
         .option("checkpointLocation", index_path + "/_stream_checkpoint")
         .start())
    q.processAllAvailable()
    q.stop()


def append_stream_to_docstore(spark: SparkSession, src_path: str,
                              schema: StructType, store_root: str,
                              kind_col: str = "event_type",
                              supported_kinds=("click", "view", "purchase")) -> None:
    """foreachBatch micro-batch upsert into the DAO doc-store —
    exactly-once via the catalog's atomic commit per batch (the
    reference's bulk-upsert idempotence, ``EntityDao.java:91-104``)."""
    from elasticsearch_osmosis_plugin_spark.operators import dao

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        rows = batch_df.select(
            F.col(kind_col).alias("kind"),
            F.col("event_id").alias("id"),
            F.col("ts"), F.col("user_id"), F.col("value"))
        dao.save_all(batch_df.sparkSession, store_root, rows,
                     supported_kinds=list(supported_kinds))

    q = (stream_events(spark, src_path, schema)
         .writeStream.foreachBatch(handle)
         .option("checkpointLocation", store_root + "/_stream_checkpoint")
         .start())
    q.processAllAvailable()
    q.stop()
