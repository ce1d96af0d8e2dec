"""Checkpoint/resume: kill after round k, resume, identical results
(north rule: resumable from checkpoint with per-partition lineage)."""

from __future__ import annotations

import os

from crawler_spark.frontier import synth
from crawler_spark.frontier.store import RoundStore, run_crawl_checkpointed

N_PAGES, N_HOSTS, N_SEEDS, ROUNDS, K = 2000, 20, 6, 4, 2


def _log_rows(store):
    return sorted(
        (r["round"], r["priority"], r["host_id"], r["url"], r["seq"])
        for r in store.read_deltas("fetch_log").collect()
    )


def test_resume_equals_uninterrupted(spark, tmp_path):
    web = synth.web_graph(spark, N_PAGES, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, N_PAGES, N_SEEDS, N_HOSTS)

    # uninterrupted run
    full = RoundStore(spark, str(tmp_path / "full"))
    run_crawl_checkpointed(full, web, robots, ROUNDS, K, seeds=seeds)

    # interrupted run: stop after round 2, then resume to ROUNDS
    part = RoundStore(spark, str(tmp_path / "part"))
    run_crawl_checkpointed(part, web, robots, 2, K, seeds=seeds)
    assert part.latest_round() == 2
    # simulate a crash mid-round-3: stray uncommitted files are invisible
    stray = tmp_path / "part" / "frontier" / "r00003"
    os.makedirs(stray, exist_ok=True)
    (stray / "part-garbage.parquet.tmp").write_bytes(b"crashed")

    resumed = RoundStore(spark, str(tmp_path / "part"))
    assert resumed.latest_round() == 2  # garbage without manifest ignored
    run_crawl_checkpointed(resumed, web, robots, ROUNDS, K)

    assert _log_rows(full) == _log_rows(resumed)
    # seen-set snapshots agree too
    a = {r["url"] for r in full.read("seen", ROUNDS).collect()}
    b = {r["url"] for r in resumed.read("seen", ROUNDS).collect()}
    assert a == b
    # lineage metrics recorded per round
    m = resumed.read_deltas("metrics").collect()
    assert {r["round"] for r in m} == set(range(0, ROUNDS + 1))
    assert all(r["max_part_rows"] is not None for r in m if r["round"] > 0)


def test_time_travel_view(spark, tmp_path):
    web = synth.web_graph(spark, N_PAGES, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, N_PAGES, N_SEEDS, N_HOSTS)
    st = RoundStore(spark, str(tmp_path / "tt"))
    run_crawl_checkpointed(st, web, robots, 3, K, seeds=seeds)
    upto2 = st.read_deltas("fetch_log", upto=2).select("round").distinct().collect()
    assert {r["round"] for r in upto2} == {1, 2}


def test_checkpointed_cooldown_matches_simulator(spark, tmp_path):
    from crawler_spark.frontier import simulator
    st = RoundStore(spark, str(tmp_path / "cool"))
    web = synth.web_graph(spark, N_PAGES, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, N_PAGES, N_SEEDS, N_HOSTS)
    run_crawl_checkpointed(st, web, robots, 4, K, seeds=seeds,
                           cooldown_rounds=2)
    sim = simulator.simulate(N_PAGES, N_SEEDS, 4, K, N_HOSTS,
                             cooldown_rounds=2)
    assert _log_rows(st) == sorted(sim.fetch_log)


def test_commit_replay_idempotent(spark, tmp_path):
    """Exactly-once claim: re-committing a round (foreachBatch replay)
    leaves identical visible state."""
    st = RoundStore(spark, str(tmp_path / "idem"))
    web = synth.web_graph(spark, N_PAGES, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, N_PAGES, N_SEEDS, N_HOSTS)
    run_crawl_checkpointed(st, web, robots, 2, K, seeds=seeds)
    before = _log_rows(st)
    seen_before = {r["url"] for r in st.read("seen", 2).collect()}

    # replay round 2: wipe its manifest so the loop re-executes it
    import os
    os.remove(st._manifest(2))
    assert st.latest_round() == 1
    run_crawl_checkpointed(st, web, robots, 2, K)

    assert _log_rows(st) == before
    assert {r["url"] for r in st.read("seen", 2).collect()} == seen_before


def test_crawl_with_binary_payload(spark, tmp_path):
    """Content-store-as-a-table: crawled property pages carry the binary
    image payload; stored bytes decode to PSNR>=40dB and captions match."""
    from crawler_spark.frontier import images as I

    st = RoundStore(spark, str(tmp_path / "payload"))
    web = synth.web_graph(spark, N_PAGES, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, N_PAGES, N_SEEDS, N_HOSTS)
    imgs = I.images_table(spark, N_PAGES).localCheckpoint()
    run_crawl_checkpointed(st, web, robots, 3, K, seeds=seeds, images=imgs)

    pages = st.read_deltas("pages")
    props = pages.where(pages.kind == "property")
    n_props = props.count()
    assert n_props > 0
    assert props.where(props.bytes.isNull()).count() == 0
    # decoded invariants on the STORED bytes
    from pyspark.sql import functions as F
    v = I.verify_payload(
        props.select(
            F.col("image_id").cast("string").alias("image_id"),
            "bytes", "w", "h", "fmt", "caption", "phash")
    )
    bad = v.where((F.col("psnr_db") < 40.0) | ~F.col("caption_ok")
                  | ~F.col("phash_ok")).count()
    assert bad == 0
    # listings carry no payload but stay in the table
    assert pages.where(pages.kind == "listing")\
                .where(pages.bytes.isNotNull()).count() == 0
    # headers map survives the store round-trip (JSONB analogue, §1.2):
    # every crawled page carries the map and the values match the synth
    # formulas (server = 'synth/' || host_id % 3).
    assert pages.where(F.col("headers").isNull()).count() == 0
    mism = pages.where(
        (F.element_at("headers", "server")
         != F.concat(F.lit("synth/"), (F.col("host_id") % 3).cast("string")))
        | (F.element_at("headers", "content-type")
           != F.when(F.col("kind") == "listing", "text/html")
              .otherwise("text/html; charset=utf-8"))
    ).count()
    assert mism == 0


def test_ingest_then_bloom_rounds_identical_to_no_bloom(spark, tmp_path):
    """Out-of-band seed ingest between rounds: 2 rounds -> Kafka seed
    ingest (mix of already-seen and brand-new URLs) -> 2 more rounds.
    The merge must land in seen_delta as well as seen (seen(2) =
    seen(1) ∪ seen_delta(2)), and nothing is enqueued twice."""
    from pyspark.sql import functions as F

    from crawler_spark.streaming.kafka import (
        KafkaConfig, encode_frontier, kafka_seed_ingest)

    cfg = KafkaConfig("b:9092")
    web = synth.web_graph(spark, N_PAGES, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, N_PAGES, 4, N_HOSTS)
    extra = synth.seed_urls(spark, N_PAGES, 40, N_HOSTS)  # supersets seeds
    msgs = extra.select(
        "url", F.lit(1).alias("priority"),
        F.lit(0).cast("long").alias("timestamp"), F.lit(0.0).alias("ts"),
        F.lit("seed").alias("source"), F.lit(0.0).alias("queued_at"),
        F.lit(None).cast("string").alias("error"),
        F.lit(None).cast("string").alias("failed_step"),
        F.lit(0).alias("retry_count"), F.lit("h").alias("host"),
    )
    raw = encode_frontier(msgs, cfg).select(
        F.col("key").cast("binary"), F.col("value").cast("binary"), "topic")

    st = RoundStore(spark, str(tmp_path / "plain"))
    run_crawl_checkpointed(st, web, robots, 2, K, seeds=seeds)
    kafka_seed_ingest(st, robots, cfg)(raw, batch_id=0)

    def urls(table, r):
        return {row["url"] for row in st.read(table, r).collect()}

    assert urls("seen", 2) == urls("seen", 1) | urls("seen_delta", 2)
    assert urls("seen", 2) > urls("seen", 1)  # the ingest added URLs
    run_crawl_checkpointed(st, web, robots, 4, K)
    seen = st.read("seen", 4)
    assert seen.count() == seen.select("url").distinct().count()
    fr = st.read("frontier", 4)
    assert fr.count() == fr.select("url").distinct().count()


def test_pages_current_upsert_view(spark, tmp_path):
    """ON CONFLICT (url) DO UPDATE semantics at read time
    (database_service.py:100-109): a url re-committed in a later round
    wins in pages_current; earlier versions stay reachable via upto
    (time travel), and untouched urls pass through."""
    from crawler_spark.frontier.store import pages_current

    st = RoundStore(spark, str(tmp_path / "pc"))
    schema = ("round int, url string, page_id long, kind string, "
              "image_id long, priority int, host_id int, seq int, "
              "headers map<string,string>")

    def delta(r, rows):
        return spark.createDataFrame(
            [(r, u, p, "property", None, 3, 0, 0, {"v": str(p)})
             for u, p in rows], schema)

    st.commit(1, {"pages": delta(1, [("http://h/a", 1), ("http://h/b", 2)])})
    st.commit(2, {"pages": delta(2, [("http://h/a", 99)])})

    cur = {r["url"]: (r["round"], r["page_id"], r["headers"]["v"])
           for r in pages_current(st).collect()}
    assert cur == {"http://h/a": (2, 99, "99"), "http://h/b": (1, 2, "2")}

    asof1 = {r["url"]: r["page_id"]
             for r in pages_current(st, upto=1).collect()}
    assert asof1 == {"http://h/a": 1, "http://h/b": 2}


def test_read_deltas_lists_only_manifest_tables(spark, tmp_path):
    """A delta directory that no manifest names (an orphaned write from a
    crashed commit) stays invisible to read_deltas, as to has_table."""
    st = RoundStore(spark, str(tmp_path / "orphan"))
    pages = spark.createDataFrame([(1, "http://h/a")], "round int, url string")
    st.commit(1, {"pages": pages})
    st.commit(2, {"fetch_log": spark.createDataFrame(
        [(2, "http://h/b")], "round int, url string")})
    orphan = spark.createDataFrame([(2, "http://h/x")], "round int, url string")
    orphan.write.parquet(st._dir("pages", 2))

    assert not st.has_table("pages", 2)
    got = sorted(map(tuple, st.read_deltas("pages").collect()))
    assert got == [(1, "http://h/a")]
