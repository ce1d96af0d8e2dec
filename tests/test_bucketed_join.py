"""Bucketed fetch join: the documented 10^6-host fallback is real —
co-bucketed tables join with ZERO Exchange (no shuffle of the web table,
ever again), and values match the broadcast plan exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.frontier import synth
from crawler_spark.frontier.bucketed import (
    bucketed_fetch_join,
    bucketed_seen_anti_join,
    write_bucketed,
)

N_PAGES, N_HOSTS, BUCKETS = 5000, 20, 8


@pytest.fixture(scope="module")
def tables(spark):
    web = synth.web_graph(spark, N_PAGES, N_HOSTS)
    batch = web.where(F.col("page_id") % 7 == 0).select("url")
    seen = web.where(F.col("page_id") % 3 == 0).select("url")
    write_bucketed(web, "t_web_b", BUCKETS)
    write_bucketed(batch, "t_batch_b", BUCKETS)
    write_bucketed(seen, "t_seen_b", BUCKETS)
    yield {"web": web, "batch": batch}
    for t in ("t_web_b", "t_batch_b", "t_seen_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class _no_broadcast:
    """At test scale the planner would broadcast the small batch (and
    rightly so); at the 10^6-host scale this path exists for, the batch
    exceeds the threshold and SMJ is chosen — emulate that regime."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.saved = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def __exit__(self, *a):
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.saved)


def test_fetch_join_has_no_exchange(spark, tables):
    with _no_broadcast(spark):
        joined = bucketed_fetch_join(spark, "t_batch_b", "t_web_b")
        plan = _plan(joined)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # co-located buckets: zero shuffle
    assert "Bucketed: true" in plan


def test_anti_join_has_no_exchange(spark, tables):
    with _no_broadcast(spark):
        anti = bucketed_seen_anti_join(spark, "t_batch_b", "t_seen_b")
        plan = _plan(anti)
    assert "Exchange" not in plan
    assert "LeftAnti" in plan


def test_bucketed_values_equal_broadcast(spark, tables):
    a = sorted(
        r["url"] for r in tables["web"]
        .join(F.broadcast(tables["batch"]), "url", "inner")
        .select("url").collect()
    )
    b = sorted(
        r["url"] for r in
        bucketed_fetch_join(spark, "t_batch_b", "t_web_b")
        .select("url").collect()
    )
    assert a == b and len(a) > 0


def test_run_round_bucketed_plan_equals_broadcast(spark, tables):
    """fetch_plan='bucketed' through the REAL engine: same round output
    as the broadcast plan, and the fetch join's physical plan has no
    Exchange above the bucketed web scan (only the batch side moves)."""
    from crawler_spark.frontier.engine import CrawlState, enqueue, run_round
    from crawler_spark.frontier import synth

    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, N_PAGES, 6, N_HOSTS)
    empty_seen = seeds.select("url").limit(0)
    first = enqueue(seeds.select("url").dropDuplicates(["url"]),
                    empty_seen, robots, disc_round=0)

    def one_round(web, plan, lazy=False):
        state = CrawlState(frontier=first, seen=first.select("url"))
        st, batch = run_round(spark, state, web, robots, 1, 2,
                              fetch_plan=plan,
                              checkpoint_fetched=lazy is False)
        return st, batch

    st_b, _ = one_round(tables["web"], "broadcast")
    bweb = spark.table("t_web_b")
    with _no_broadcast(spark):
        st_k, _ = one_round(bweb, "bucketed")
        rows_b = sorted(map(tuple, st_b.pages[-1].select(
            "url", "page_id", "seq").collect()))
        rows_k = sorted(map(tuple, st_k.pages[-1].select(
            "url", "page_id", "seq").collect()))
    assert rows_b == rows_k and rows_b

    # Plan shape (lazy round): the web scan must report "Bucketed: true",
    # which Spark only emits when the join actually exploited the
    # bucketing — i.e. no Exchange was planned above that scan (an unused
    # bucketed scan prints "Bucketed: false (disabled by query planner)").
    with _no_broadcast(spark):
        st_l, _ = one_round(bweb, "bucketed", lazy=True)
        plan = _plan(st_l.pages[-1])
    assert "Bucketed: true" in plan
    assert "disabled by query planner" not in plan
    assert "SortMergeJoin" in plan
