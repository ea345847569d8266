"""Structured Streaming surfaces (T1/T2/S5, SURVEY.md §2.9).

Three streaming shapes replace the reference's polling loops:

* :func:`watch_seeds` — listen mode (main.py:153-157 polls for new
  tasks every 60 s): a file stream over a seeds directory; each
  micro-batch MERGEs new tasks/frontier rows into the engine state and
  crawls them to exhaustion. ``availableNow`` drains pending files and
  stops — the testable trigger; ``processingTime`` is production.
* :func:`stream_fetch_metrics` — S5 response stream analog: the
  engine's fetches log consumed as a parquet file stream with
  event-time windowed aggregation + watermark.
* :func:`stream_frontier_metrics` — live per-wave lineage/throughput.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from pycrawler_spark.plans.crawl import CrawlEngine
from pycrawler_spark.streaming.stateful import (
    FRONTIER_STREAM_SCHEMA,
    apply_state_provider,
)

SEEDS_SCHEMA = "rank int, url string"


def watch_seeds(
    engine: CrawlEngine,
    seeds_dir: str,
    available_now: bool = True,
    checkpoint: Optional[str] = None,
):
    """Listen-mode crawl: new seed files appearing under ``seeds_dir``
    become new tasks, crawled as they arrive.

    Per micro-batch: ingest the seed rows (same S1 semantics as
    init_job), append tasks + frontier-wave-0 rows, then run the new
    tasks' depth waves. Existing engine state is untouched — task_ids
    are the seed ranks, which the producer must keep unique across
    files (Tranco ranks are).
    """
    spark = engine.spark
    stream = spark.readStream.schema(SEEDS_SCHEMA).parquet(seeds_dir)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        engine.add_seeds(batch_df)
        engine.run()

    writer = (
        stream.writeStream.foreachBatch(on_batch)
        .option(
            "checkpointLocation",
            checkpoint or os.path.join(engine.workdir, "_seed_stream_ckpt"),
        )
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="60 seconds").start()


def stream_crawl(
    engine: CrawlEngine,
    checkpoint: Optional[str] = None,
) -> list:
    """The wave loop as a Structured Streaming query (north rule:
    "fetch-wave batches emitted as Structured Streaming micro-batches")
    — the engine's OWN frontier delta log is the stream source, so the
    crawl is self-feeding: micro-batch N's new frontier files are
    exactly the input universe of wave N+1, whose inserts become
    micro-batch N+1. The stream's offset log (checkpointLocation)
    complements the engine manifest: a restarted query re-enters at
    the first unprocessed delta and the wave replay is idempotent
    (same exactly-once argument as resume(), crawl.py module doc).

    Each micro-batch advances the manifest until new frontier rows
    were inserted (those files wake the next batch) or the crawl
    completes; politeness sub-waves that insert nothing are run
    inline, because no file would arrive to wake them. Terminates via
    ``processAllAvailable`` — the call returns exactly when a wave
    stops producing new deltas.

    Returns the per-wave stats list (same shape as ``run()``).
    """
    spark = engine.spark
    waves = engine.waves()
    all_stats: list = []

    def advance() -> None:
        for stats in waves:
            all_stats.append(stats)
            if stats.get("inserted", 0) > 0:
                return  # the new frontier delta triggers the next batch

    # initial kick OUTSIDE the stream: covers (a) the wave-0 seed
    # files having been consumed by a previous incarnation's offsets
    # and (b) a crash between offset commit and wave completion — the
    # kick runs the pending wave, and ITS inserts are new files the
    # stream has provably never seen.
    advance()

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the batch rows are the just-inserted frontier delta; the
        # manifest (not the batch) is the source of truth for which
        # wave runs — that is what makes replay after a crash safe.
        advance()

    stream = (
        spark.readStream.schema(FRONTIER_STREAM_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(os.path.join(engine.workdir, "frontier"))
    )
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option(
            "checkpointLocation",
            checkpoint or os.path.join(engine.workdir, "_wave_stream_ckpt"),
        )
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return all_stats


def stream_seen_filter(
    spark: SparkSession,
    frontier_dir: str,
    out_dir: str,
    checkpoint: Optional[str] = None,
    available_now: bool = True,
    state_store_provider: Optional[str] = None,
):
    """J1 (URL-seen dedup) as STREAMING state: a continuous frontier
    feed is de-duplicated on the normalized URL key across
    micro-batches via Spark's streaming ``dropDuplicates`` — the first
    arrival of each (task_id, url_norm) passes, every later arrival is
    suppressed by the state store. The streaming twin of the batch
    engine's bloom + semi-join seen set for listen-mode pipelines
    where waves arrive as files.

    State note: seen-set semantics are deliberately UNBOUNDED ("seen
    once = seen forever"), so no watermark is set and the state store
    grows with distinct URLs — exactly like the batch seen table. At
    10^10 URLs the state belongs in RocksDB: pass
    ``state_store_provider="rocksdb"`` (or ``"hdfs"`` / a full
    provider class name; default None keeps the session's provider,
    HDFS-backed in-memory unless changed) — set on the session just
    for this query's start and restored after. The batch path's
    bloom+compaction remains the bulk-crawl choice (SCALE.md).
    """
    # restore guard spans plan BUILDING too: an analysis error before
    # start() must not leak the provider into the session
    restore_provider = apply_state_provider(spark, state_store_provider)
    try:
        stream = (
            spark.readStream.schema(FRONTIER_STREAM_SCHEMA)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", 1)
            .parquet(frontier_dir)
            .filter(F.col("repetition") == 1)
            .dropDuplicates(["task_id", "url_norm"])
        )
        writer = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option(
                "checkpointLocation",
                checkpoint or os.path.join(out_dir + "_ckpt"),
            )
        )
        q = writer.trigger(availableNow=available_now).start()
    finally:
        restore_provider()
    if available_now:
        q.awaitTermination()
    return q


def stream_fetch_metrics(
    spark: SparkSession,
    workdir: str,
    out_dir: str,
    window: str = "1 minute",
    available_now: bool = True,
):
    """Event-time windowed fetch metrics over the engine's fetches log
    (watermarked tumbling window per host)."""
    fetches_glob = os.path.join(workdir, "fetches", "wave=*")
    # static schema probe (file streams need an explicit schema)
    schema = spark.read.parquet(fetches_glob).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        # one file per micro-batch so the watermark advances between
        # batches; a single drain-everything batch would never flush
        # any window in append mode
        .option("maxFilesPerTrigger", 1)
        .parquet(fetches_glob)
        # no event time on fetches (the reference has none either,
        # SURVEY.md §2.9): derive processing-order pseudo event time
        # from the wave id so windowing semantics are exercised
        .withColumn(
            "event_ts",
            F.timestamp_seconds(F.lit(1735689600) + F.col("wave_id") * 60),
        )
        .withWatermark("event_ts", "0 seconds")
    )
    agg = stream.groupBy(
        F.window("event_ts", window).alias("w"), "host"
    ).agg(
        F.count("*").alias("n_fetches"),
        F.sum(F.when(F.col("code") == 200, 1).otherwise(0)).alias("n_ok"),
    ).select(F.col("w.start").alias("window_start"), "host", "n_fetches", "n_ok")
    writer = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", out_dir + "_ckpt")
    )
    q = writer.trigger(availableNow=available_now).start()
    if available_now:
        q.awaitTermination()
    return q
