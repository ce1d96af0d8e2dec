"""Structured Streaming drivers (SURVEY.md §2 L).

The reference is a continuous Kafka consumer (worker.py:484-500,
at-least-once, manual commit). The Spark rebuild's native unit is the
*round* — a pure batch job — and Structured Streaming composes it two
ways, both exactly-once because the only side effect is the store's atomic
manifest-last commit (idempotent per round; a replayed micro-batch
re-commits the same round deterministically):

- ``stream_seed_inbox``: a file-source stream over a seed "inbox"
  directory; every micro-batch routes new seed URL files through the
  standard enqueue path (robots gate + dedupe + priority) and merges them
  into the committed frontier — the streaming version of master.py seed
  dispatch / queue_manager.py manual adds.
- ``stream_rounds``: a rate-source ticker where each micro-batch advances
  the crawl by one scheduling round via run_crawl_checkpointed — the
  foreachBatch form of the L-table mapping (one round == one epoch;
  offsets ≙ committed round manifests).

Watermark/event-time windows (absent from the reference, required Spark
surface) are exercised by ``windowed_event_counts`` below +
tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frontier.store import RoundStore, merge_seeds


def stream_seed_inbox(
    spark: SparkSession,
    store: RoundStore,
    robots: DataFrame,
    inbox_dir: str,
    checkpoint_dir: str,
):
    """File-source streaming ingestion of seed URLs into the frontier.

    Returns the started StreamingQuery; caller stops it. Each micro-batch
    is one atomic frontier merge (commit of a new round-0 state)."""
    seeds_stream = spark.readStream.schema("url string").parquet(inbox_dir)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        merge_seeds(store, batch_df, robots, {"stream_batch": batch_id})

    return (
        seeds_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_rounds(
    spark: SparkSession,
    store: RoundStore,
    web: DataFrame,
    robots: DataFrame,
    k_per_host: int,
    max_rounds: int,
    checkpoint_dir: str,
    images: DataFrame | None = None,
):
    """Rate-source ticker: each micro-batch = one scheduling round.

    ``images``: optional image+caption payload table (images.py schema);
    forwarded to the checkpointed round so streamed rounds carry the
    binary payload columns exactly like batch rounds."""
    from ..frontier.store import run_crawl_checkpointed

    ticks = spark.readStream.format("rate").option("rowsPerSecond", 2).load()

    def advance(batch_df: DataFrame, batch_id: int) -> None:
        last = store.latest_round() or 0
        if last < max_rounds:
            run_crawl_checkpointed(store, web, robots, last + 1, k_per_host,
                                   images=images)

    return (
        ticks.writeStream.foreachBatch(advance)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def windowed_event_counts(events: DataFrame, slide: str | None = None) -> DataFrame:
    """Event-time tumbling (or sliding) window counts with a 2-hour
    watermark — works identically on a batch or streaming `events` frame.
    """
    wm = events.withColumn("ts", F.col("ts").cast("timestamp")) \
               .withWatermark("ts", "2 hours")
    # the window must reference the post-watermark column, or the
    # aggregation is treated as unwatermarked (append mode rejects it)
    win = (F.window(F.col("ts"), "1 hour", slide) if slide
           else F.window(F.col("ts"), "1 hour"))
    return (
        wm.groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )


def session_event_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Event-time SESSION windows (dynamic gap-based) per user with a
    2-hour watermark — streaming-compatible sessionization (the batch
    lag-based form is plans/ `sessionization`)."""
    wm = events.withColumn("ts", F.col("ts").cast("timestamp")) \
               .withWatermark("ts", "2 hours")
    return (
        wm.groupBy(F.session_window(F.col("ts"), gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "user_id", "n_events")
    )
