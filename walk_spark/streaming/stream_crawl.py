"""Structured Streaming wrappers around the BSP crawl.

The reference runs continuously (goroutines pumping channels); the BSP loop
is batch. Two streaming surfaces bridge the gap:

- ``stream_seed_crawler`` — a ``readStream`` of seed urls driving crawl
  supersteps from ``foreachBatch``: each micro-batch of arriving seeds is
  enqueued into the shared Crawler state and the loop is advanced until the
  frontier drains. This is the "crawl as a service" deployment shape: the
  frontier/seen state lives in the (Iceberg) tables, the stream only feeds
  seeds. Exactly-once comes from the checkpointed superstep manifest plus
  the MERGE-keyed frontier (re-delivered seeds dedup away).

- ``windowed_fetch_stats`` — event-time windowed aggregation with a
  watermark over a resource/event stream (the monitoring path; also the
  engine's general streaming-agg operator, exercised in tests from a file
  stream with availableNow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from walk_spark.plans.crawl import Crawler


def stream_seed_crawler(crawler: Crawler, seeds_stream: DataFrame,
                        checkpoint_dir: str, query_name: str = "walk_stream"):
    """Drive ``crawler`` from a streaming DataFrame of seed urls
    (column ``url``). Returns the started StreamingQuery.

    foreachBatch is the documented Spark pattern for stateful sinks the
    built-in sinks can't express (our MERGE-style frontier update).

    Seed ingest goes through ``Crawler.add_seeds_df`` — anti-join + union
    + tracked count, and one normalize pass whose fetch keys stay pinned
    on the executors, never a collect of urls — so a firehose micro-batch
    (100k+ urls) enqueues without materializing the urls on the driver
    (the list path, ``add_seeds``, remains for operational use)."""

    def _on_batch(batch_df: DataFrame, batch_id: int) -> None:
        n_new = crawler.add_seeds_df(batch_df)
        if n_new or not batch_df.isEmpty():
            # run even on a duplicate-only batch (redelivery): the prior
            # attempt may have enqueued but died before draining
            crawler.run()

    return (
        seeds_stream.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_on_batch)
        .trigger(availableNow=True)
        .start()
    )


def windowed_fetch_stats(events: DataFrame, window: str = "1 minute",
                         watermark: str = "2 minutes") -> DataFrame:
    """Event-time windowed per-host fetch stats with late-data watermark:
    works on both batch and streaming DataFrames (same plan)."""
    d = events
    if d.isStreaming:
        d = d.withWatermark("warc_ts", watermark)
    return (
        d.groupBy(F.window("warc_ts", window).alias("w"), F.col("host"))
        .agg(
            F.count("*").alias("n_fetches"),
            F.sum(F.when(F.col("status").between(200, 308), 1).otherwise(0))
            .alias("n_ok"),
            F.avg("content_length").alias("avg_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host", "n_fetches", "n_ok", "avg_bytes",
        )
    )
