"""Golden frontier parity: the Spark engine must match the pure-Python
reference-semantics simulator bit-for-bit on crawl ordering, seen-set,
pages and DLQ (north rule; SURVEY.md §5.2)."""

from __future__ import annotations

import pytest

from crawler_spark.frontier import simulator, spec, synth
from crawler_spark.frontier.engine import fetch_log_df, run_crawl

N_PAGES = 2000
N_HOSTS = 20
N_SEEDS = 6
ROUNDS = 4
K = 2


def test_synth_matches_simulator_formulas(spark):
    """The Spark-native web generator and the Python formulas agree."""
    web = synth.web_graph(spark, 300, N_HOSTS).orderBy("page_id").collect()
    assert len(web) == 300
    for row in web[:50] + web[250:]:
        p = row.page_id
        assert row.url == simulator.url_of(p, N_HOSTS)
        assert row.host_id == simulator.host_id_of_page(p, N_HOSTS)
        assert row.status == simulator.status_of(p)
        assert list(row.outlinks) == simulator.outlinks(p, 300, N_HOSTS)
        assert row.kind == ("listing" if p % 10 == 0 else "property")


@pytest.fixture(scope="module")
def crawl_pair(spark):
    web = synth.web_graph(spark, N_PAGES, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, N_PAGES, N_SEEDS, N_HOSTS)
    state = run_crawl(spark, web, seeds, robots, rounds=ROUNDS, k_per_host=K)
    sim = simulator.simulate(N_PAGES, N_SEEDS, ROUNDS, K, N_HOSTS)
    return state, sim


def test_fetch_ordering_golden(crawl_pair):
    state, sim = crawl_pair
    got = sorted(
        (r["round"], r["priority"], r["host_id"], r["url"], r["seq"])
        for r in fetch_log_df(state).collect()
    )
    assert got == sorted(sim.fetch_log)
    assert len(got) > 50  # the crawl actually expanded


def test_seen_set_golden(crawl_pair):
    state, sim = crawl_pair
    got = {r["url"] for r in state.seen.collect()}
    assert got == sim.seen


def test_pages_golden(crawl_pair):
    state, sim = crawl_pair
    rows = []
    for d in state.pages:
        rows += [(r["round"], r["url"], r["page_id"]) for r in d.collect()]
    assert sorted(rows) == sorted(sim.pages)


def test_retry_and_dlq_golden(spark):
    """With max_retries=1 a page failing twice lands in the DLQ; the engine
    and simulator must agree on both requeue timing and DLQ content."""
    from crawler_spark.frontier.engine import CrawlState, enqueue, run_round
    from crawler_spark.frontier.engine import FRONTIER_COLS

    n_pages, rounds, k = 3000, 6, 3
    web = synth.web_graph(spark, n_pages, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, n_pages, 8, N_HOSTS)

    empty_seen = seeds.select("url").limit(0)
    first = enqueue(seeds.select("url"), empty_seen, robots, 0)
    state = CrawlState(first.select(*FRONTIER_COLS).localCheckpoint(),
                       first.select("url").localCheckpoint())
    for r in range(1, rounds + 1):
        state, _ = run_round(spark, state, web, robots, r, k,
                             max_retries=1)
        state.frontier = state.frontier.localCheckpoint()
        state.seen = state.seen.localCheckpoint()

    sim = simulator.simulate(n_pages, 8, rounds, k, N_HOSTS, max_retries=1)
    got_dlq = sorted(
        (r["round"], r["url"]) for d in state.dlq for r in d.collect()
    )
    assert got_dlq == sorted(sim.dlq)
    got_log = sorted(
        (r["round"], r["priority"], r["host_id"], r["url"], r["seq"])
        for d in state.fetch_log for r in d.collect()
    )
    assert got_log == sorted(sim.fetch_log)


def test_robots_block_is_effective(crawl_pair):
    state, sim = crawl_pair
    blocked_hosts = {h for h in range(N_HOSTS)
                     if h % spec.ROBOTS_MOD == spec.ROBOTS_REM}
    for url in sim.seen:
        h = simulator.host_id_of_url(url)
        if h in blocked_hosts:
            assert spec.ROBOTS_DISALLOW not in url


def test_politeness_cooldown_golden(spark):
    """cooldown_rounds=2: a host fetched in round r sits out round r+1.
    Engine (broadcast host-state anti-join) must match the simulator."""
    n_pages, rounds, k = 2000, 5, 2
    web = synth.web_graph(spark, n_pages, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, n_pages, 6, N_HOSTS)
    state = run_crawl(spark, web, seeds, robots, rounds=rounds, k_per_host=k,
                      cooldown_rounds=2)
    sim = simulator.simulate(n_pages, 6, rounds, k, N_HOSTS,
                             cooldown_rounds=2)
    got = sorted(
        (r["round"], r["priority"], r["host_id"], r["url"], r["seq"])
        for r in fetch_log_df(state).collect()
    )
    assert got == sorted(sim.fetch_log)
    # the cooldown actually bites: no host appears in consecutive rounds
    by_round = {}
    for rr, _, h, _, _ in got:
        by_round.setdefault(rr, set()).add(h)
    for rr in range(1, rounds):
        assert not (by_round.get(rr, set()) & by_round.get(rr + 1, set()))


def test_crawl_delay_budget_bites(crawl_pair):
    """Hosts with robots crawl_delay get a reduced per-round budget:
    with k=2, delay-2/4 hosts (host%11 in {5,9}) never exceed seq 1
    while unrestricted hosts do reach seq 2."""
    _, sim = crawl_pair
    max_seq = {}
    for _, _, h, _, seq in sim.fetch_log:
        max_seq[h] = max(max_seq.get(h, 0), seq)
    delayed = {h for h in max_seq
               if h % spec.DELAY_MOD in (spec.DELAY2_REM, spec.DELAY4_REM)}
    assert delayed, "no delayed host ever scheduled — fixture too small"
    assert all(max_seq[h] == 1 for h in delayed)
    assert any(s == K for h, s in max_seq.items() if h not in delayed)


def test_golden_alt_parameters(spark):
    """Parity holds under a different shape: k=4, 3 seeds, 37 hosts
    (different robots/delay host coverage), 3 rounds."""
    n_pages, n_hosts, n_seeds, rounds, k = 1500, 37, 3, 3, 4
    web = synth.web_graph(spark, n_pages, n_hosts)
    robots = synth.robots_dim(spark, n_hosts)
    seeds = synth.seed_urls(spark, n_pages, n_seeds, n_hosts)
    state = run_crawl(spark, web, seeds, robots, rounds=rounds, k_per_host=k)
    sim = simulator.simulate(n_pages, n_seeds, rounds, k, n_hosts)
    got = sorted(
        (r["round"], r["priority"], r["host_id"], r["url"], r["seq"])
        for r in fetch_log_df(state).collect()
    )
    assert got == sorted(sim.fetch_log)
    assert {r["url"] for r in state.seen.collect()} == sim.seen


def test_golden_web_not_multiple_of_ten(spark):
    """Seeds wrap onto property pages when n_pages % 10 != 0 — the seed
    URL must be the page's real URL (regression: listing-forced seed URLs
    joined nothing in the web and diverged from the simulator)."""
    n_pages, n_seeds, rounds, k = 95, 12, 2, 2
    web = synth.web_graph(spark, n_pages, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, n_pages, n_seeds, N_HOSTS)
    state = run_crawl(spark, web, seeds, robots, rounds=rounds, k_per_host=k)
    sim = simulator.simulate(n_pages, n_seeds, rounds, k, N_HOSTS)
    got = sorted(
        (r["round"], r["priority"], r["host_id"], r["url"], r["seq"])
        for r in fetch_log_df(state).collect()
    )
    assert got == sorted(sim.fetch_log)
    assert len(got) > 0


def test_dead_link_routes_to_dlq(spark):
    """A scheduled URL absent from the web table must land in the DLQ —
    not silently vanish (regression)."""
    from pyspark.sql import functions as F
    from crawler_spark.frontier.engine import (
        CrawlState, FRONTIER_COLS, enqueue, run_round)

    web = synth.web_graph(spark, 100, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    # valid-looking property URL for page 5004 (host 0: not robots-blocked)
    # — not in the 100-page web
    dead_url = simulator.url_of(5004, N_HOSTS)
    seeds = spark.createDataFrame([(dead_url,)], "url string")
    first = enqueue(seeds, seeds.limit(0), robots, 0)
    state = CrawlState(first.select(*FRONTIER_COLS).localCheckpoint(),
                       first.select("url").localCheckpoint())
    state, batch = run_round(spark, state, web, robots, 1, 2)
    assert batch.count() == 1                      # it was scheduled
    dlq = [r["url"] for r in state.dlq[0].collect()]
    assert dlq == [dead_url]                       # ...and DLQ'd
    assert state.frontier.where(F.col("url") == dead_url).count() == 0


def test_cooldown_with_heterogeneous_delays_golden(spark):
    """The untested cross of two politeness mechanisms: cross-round host
    cooldown (G1) x per-host crawl_delay budgets {1,2,5}. Engine vs the
    simulator with a matching custom budget_fn, bit-for-bit on the fetch
    log and seen set."""
    from pyspark.sql import functions as F

    n_pages, n_hosts, n_seeds, rounds, k = 2000, 20, 6, 4, 5
    web = synth.web_graph(spark, n_pages, n_hosts)
    h = F.col("id").cast("int")
    robots = spark.range(0, n_hosts).select(
        h.alias("host_id"),
        F.when(h % spec.ROBOTS_MOD == spec.ROBOTS_REM,
               spec.ROBOTS_DISALLOW).alias("disallow"),
        F.when(h % 3 == 0, 2).when(h % 3 == 1, 5).otherwise(1)
        .cast("int").alias("crawl_delay"),
    ).where(F.col("disallow").isNotNull() | (F.col("crawl_delay") > 1))
    seeds = synth.seed_urls(spark, n_pages, n_seeds, n_hosts)
    state = run_crawl(spark, web, seeds, robots, rounds=rounds, k_per_host=k,
                      cooldown_rounds=2)

    def budget(k_per_host, host_id):
        delay = 2 if host_id % 3 == 0 else (5 if host_id % 3 == 1 else 1)
        return max(1, k_per_host // delay)

    sim = simulator.simulate(n_pages, n_seeds, rounds, k, n_hosts,
                             cooldown_rounds=2, budget_fn=budget)
    got = sorted(
        (r["round"], r["priority"], r["host_id"], r["url"], r["seq"])
        for r in fetch_log_df(state).collect()
    )
    assert got == sorted(sim.fetch_log)
    assert {r["url"] for r in state.seen.collect()} == sim.seen
    # the delay classes actually bind: some host must hit a reduced budget
    per_host_round = {}
    for rnd, _p, hid, _u, seq in got:
        per_host_round[(rnd, hid)] = max(per_host_round.get((rnd, hid), 0), seq)
    capped = [hid for (_r, hid), mx in per_host_round.items()
              if mx == budget(k, hid) and budget(k, hid) < k]
    assert capped, "no host ever reached a reduced budget - test is vacuous"
