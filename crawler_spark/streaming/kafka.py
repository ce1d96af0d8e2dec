"""Kafka source/sink builders for the streaming frontier (SURVEY.md A2-A4
streaming variant).

The reference's queue fabric is five priority topics ``urls_priority_{1..5}``
plus ``dlq`` (docker-compose.yml:55-63), JSON messages with a domain key
for seeds/manual adds (master.py:110-116, queue_manager.py:129-135) and no
key for worker re-enqueues (worker.py:433-438), consumed with
``auto_offset_reset='earliest'`` in group ``crawler-group-{p}``
(worker.py:278-295). This module maps that topology onto Spark's Kafka
connector:

* ``reader_options`` / ``frontier_reader`` — config -> a fully-optioned
  ``spark.readStream.format('kafka')`` (subscribe list, offsets, group id,
  per-batch bound). The sandbox has no broker, so ``load()`` is the
  caller's step; everything up to it is unit-tested.
* ``decode_frontier`` / ``encode_frontier`` — the JSON message codec as
  PURE column transforms (from_json / to_json — whole-stage codegen, no
  Python): usable identically on a streaming frame or a batch frame,
  which is how the tests exercise a lossless round-trip broker-free.
* ``frontier_writer`` — config -> a Kafka-sink ``writeStream`` wiring for
  an encoded frame (topic column routing: priority topics + DLQ).

The round protocol stays foreachBatch (rounds.py): Kafka replaces the
file/rate sources, the store's manifest-last commit still makes each
micro-batch exactly-once (re-polled offsets re-commit the same round).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# SURVEY §1.1 frontier message fields (producer sites master.py:100-107,
# worker.py:434-438, queue_manager.py:122-126; DLQ extras worker.py:225-227)
MESSAGE_SCHEMA = (
    "url string, priority int, timestamp long, ts double, source string, "
    "queued_at double, error string, failed_step string, retry_count int"
)
KEYED_SOURCES = ("seed", "manual")  # keyed sends; extracted links unkeyed


@dataclass(frozen=True)
class KafkaConfig:
    bootstrap_servers: str
    topic_prefix: str = "urls_priority_"
    dlq_topic: str = "dlq"
    group_id: str = "crawler-group"
    starting_offsets: str = "earliest"
    max_offsets_per_trigger: int | None = 100_000
    priorities: tuple[int, ...] = (1, 2, 3, 4, 5)
    extra: dict = field(default_factory=dict)  # passthrough kafka.* options


def priority_topics(cfg: KafkaConfig) -> list[str]:
    return [f"{cfg.topic_prefix}{p}" for p in cfg.priorities]


def reader_options(
    cfg: KafkaConfig, include_dlq: bool = False
) -> dict[str, str]:
    """The full option map a frontier consumer needs — pure data, so tests
    pin the wiring without a broker."""
    topics = priority_topics(cfg) + ([cfg.dlq_topic] if include_dlq else [])
    opts = {
        "kafka.bootstrap.servers": cfg.bootstrap_servers,
        "subscribe": ",".join(topics),
        "startingOffsets": cfg.starting_offsets,
        # Spark manages offsets in its checkpoint, not the consumer group,
        # but the group id still namespaces quotas/ACLs like the
        # reference's crawler-group-{p} (worker.py:278-295).
        "kafka.group.id": cfg.group_id,
        "failOnDataLoss": "false",
    }
    if cfg.max_offsets_per_trigger is not None:
        # per-micro-batch bound == the reference's max_poll_records
        # backpressure (worker.py:285), batched instead of row-at-a-time
        opts["maxOffsetsPerTrigger"] = str(cfg.max_offsets_per_trigger)
    opts.update({k: str(v) for k, v in cfg.extra.items()})
    return opts


def frontier_reader(
    spark: SparkSession, cfg: KafkaConfig, include_dlq: bool = False
):
    """config -> configured ``DataStreamReader`` (call ``.load()`` on a
    cluster with a broker; then ``decode_frontier`` the result)."""
    reader = spark.readStream.format("kafka")
    for k, v in reader_options(cfg, include_dlq).items():
        reader = reader.option(k, v)
    return reader


def decode_frontier(raw: DataFrame, cfg: KafkaConfig | None = None) -> DataFrame:
    """Kafka records -> frontier message columns.

    Works on any frame with Kafka's (key binary, value binary, topic
    string) shape — streaming or batch. The topic's priority suffix is
    kept alongside the payload (the reference re-derives priority from the
    topic a worker is pinned to, worker.py:254-255)."""
    prefix = (cfg or KafkaConfig("")).topic_prefix
    msg = F.from_json(F.col("value").cast("string"), MESSAGE_SCHEMA)
    # literal prefix match + digit check — NOT a regex built from the
    # prefix (a prefix containing regex metachars like '.' or '(' would
    # mis-match or fail to compile)
    suffix = F.expr(f"substring(topic, {len(prefix) + 1})")
    topic_prio = F.when(
        F.col("topic").startswith(prefix) & suffix.rlike("^[0-9]+$"),
        suffix.cast("int"),
    )
    return raw.select(
        F.col("key").cast("string").alias("domain_key"),
        F.col("topic"),
        topic_prio.alias("topic_priority"),
        msg.alias("m"),
    ).select("domain_key", "topic", "topic_priority", "m.*")


def _topic_of(priority: Column, cfg: KafkaConfig) -> Column:
    """Priority -> topic routing; 0 (and anything unmapped) -> DLQ,
    matching the reference's DLQ priority-0 convention (worker.py:222)."""
    c = F.when(F.lit(False), F.lit(""))
    for p in cfg.priorities:
        c = c.when(priority == p, f"{cfg.topic_prefix}{p}")
    return c.otherwise(cfg.dlq_topic)


def encode_frontier(msgs: DataFrame, cfg: KafkaConfig) -> DataFrame:
    """Frontier message columns -> Kafka sink frame (key, value, topic).

    Keyed for seed/manual sources (per-domain partition ordering,
    master.py:111-116); NULL key for extracted links (round-robin
    partitioner, worker.py:433-438). Expects MESSAGE_SCHEMA columns plus
    ``host`` for the key."""
    payload = F.to_json(F.struct(
        "url", "priority", "timestamp", "ts", "source", "queued_at",
        "error", "failed_step", "retry_count",
    ))
    key = F.when(
        F.col("source").isin(*KEYED_SOURCES), F.col("host").cast("string")
    )
    return msgs.select(
        key.alias("key"),
        payload.alias("value"),
        _topic_of(F.col("priority"), cfg).alias("topic"),
    )


def kafka_seed_ingest(store, robots: DataFrame, cfg: KafkaConfig):
    """The foreachBatch half of a Kafka-fed frontier: decode the raw
    records, route URLs through the standard enqueue path (validity +
    relevance + robots + exact dedupe + priority), and merge-commit into
    the store through ``store.merge_seeds``, as rounds.stream_seed_inbox
    does with files as the source. Exactly-once: a replayed micro-batch
    re-commits the same (idempotent) merged state.

    Returns the ``(batch_df, batch_id) -> None`` callable to pass to
    ``frontier_reader(...).load().writeStream.foreachBatch(...)`` — and,
    because foreachBatch hands over a plain batch DataFrame, tests drive
    it broker-free with a static Kafka-shaped frame.
    """
    from ..frontier.store import merge_seeds

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        urls = decode_frontier(batch_df, cfg).select("url") \
            .where(F.col("url").isNotNull())
        merge_seeds(store, urls, robots, {"kafka_batch": batch_id})

    return ingest


def frontier_writer(encoded: DataFrame, cfg: KafkaConfig, checkpoint_dir: str):
    """Encoded frame -> configured Kafka ``DataStreamWriter`` (topic column
    routes each row; call ``.start()`` where a broker exists)."""
    return (
        encoded.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", cfg.bootstrap_servers)
        .option("checkpointLocation", checkpoint_dir)
    )
