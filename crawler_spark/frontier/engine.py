"""The scheduling round as a pure DataFrame job (north rule).

One round = dedupe -> robots -> politeness budget (salted per-host top-k)
-> fetch join -> link expansion -> first-discovery-wins enqueue -> retry /
DLQ routing. No per-row Python anywhere: every step is native Catalyst
expressions (whole-stage codegen).

Scale design (100 TB / 10^10-URL frontier):
- The only shuffles per round are (a) the per-host top-k window (two-phase,
  salted — hot hosts can't pin a partition), (b) the fetch join on url,
  and (c) the exact anti-join against `seen` (the URL-seen set). (b)+(c)
  are equi-joins AQE can re-plan.
- Dedupe identity is the exact URL string — hashes are only order keys —
  so collisions can never corrupt the seen-set.
- State tables are re-derived per round and checkpointed (store.py round
  snapshots with atomic manifests = the Iceberg-MERGE-per-round seam of
  SURVEY.md §4.3(3)).

Reference parity: worker.py:348-456 loop; semantics frozen in spec.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import spec

# frontier schema (spec step "Frontier row")
FRONTIER_COLS = ["url", "host_id", "priority", "disc_round", "retry_count", "eligible_round"]
FETCH_LOG_COLS = ["round", "priority", "host_id", "url", "seq"]


@dataclass
class CrawlState:
    """In-memory crawl state between rounds (store.py persists it)."""

    frontier: DataFrame          # queued rows only
    seen: DataFrame              # (url) — every URL ever enqueued
    hosts: DataFrame | None = None  # (host_id, last_fetch_round) politeness state
    fetch_log: list[DataFrame] = field(default_factory=list)
    pages: list[DataFrame] = field(default_factory=list)
    dlq: list[DataFrame] = field(default_factory=list)
    # URLs first enqueued THIS round (seen' = seen ∪ seen_delta) — the
    # store persists it so a reader gets the round's discoveries (and a
    # base+delta seen set can be built) without diffing full snapshots.
    seen_delta: DataFrame | None = None
    # rows ADDED to the frontier this round (new links ∪ requeues) — the
    # incremental scheduler (incremental.py) merges exactly these into
    # its per-host head index instead of re-ranking the frontier.
    frontier_delta: DataFrame | None = None


def empty_hosts(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "host_id int, last_fetch_round int")


def cooled_hosts(hosts: DataFrame, cooldown_rounds: int,
                 round_no: int) -> DataFrame:
    """Hosts still inside the G1 cross-round politeness cooldown at
    ``round_no`` (1-column host_id). THE single definition of the
    cooldown boundary — run_round (full mode) and the incremental
    scheduler (store.py) both gate on this, so the two modes cannot
    drift apart on the boundary condition."""
    return hosts.where(
        F.col("last_fetch_round") + cooldown_rounds > round_no
    ).select("host_id")


def enqueue(
    links: DataFrame,
    seen: DataFrame,
    robots: DataFrame,
    disc_round: int,
) -> DataFrame:
    """Shared enqueue path (spec step 5) for seeds and discovered links.

    links: DataFrame with a single `url` column (already DISTINCT).
    Returns new frontier rows; caller unions them into frontier and seen.
    """
    url = F.col("url")
    candidates = (
        links.where(spec.is_valid_link(url) & spec.is_relevant(url))
        .select(
            url,
            spec.host_id_of_url(url).alias("host_id"),
            spec.priority_of(url).alias("priority"),
            F.lit(disc_round).cast("int").alias("disc_round"),
            F.lit(0).cast("int").alias("retry_count"),
            F.lit(disc_round).cast("int").alias("eligible_round"),
        )
        .where(F.col("priority") != -1)  # B7 drop unmapped
    )
    # robots gate at enqueue — tiny dim, broadcast (J6); null => allowed
    gated = (
        candidates.join(
            F.broadcast(robots.select("host_id", "disallow")), "host_id", "left"
        )
        .where(F.col("disallow").isNull() | ~url.contains(F.col("disallow")))
        .drop("disallow")
    )
    # first-discovery-wins: exact anti-join against every URL ever enqueued
    return gated.join(seen.select("url"), "url", "left_anti")


def schedule_batch(
    frontier: DataFrame,
    round_no: int,
    k_per_host: int,
    salt_buckets: int = 8,
    robots: DataFrame | None = None,
) -> DataFrame:
    """Politeness-budget fetch batch: per-host top-k by the frozen order
    key, two-phase with salting so a hot host (Zipf head) never serializes
    into one task (SURVEY.md E2/E4, §4.3(2)).

    Phase 1 ranks within (host, salt) — salt from xxhash64(url) spreads a
    hot host over `salt_buckets` tasks; each keeps a local top-k. Phase 2
    ranks the <= k*salt_buckets survivors per host globally. The global
    top-k is always contained in the union of per-salt top-k's.
    """
    eligible = frontier.where(F.col("eligible_round") <= round_no)
    okey = spec.order_key(F.col("priority"), F.col("disc_round"), F.col("url"))

    salt = F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
    w_local = W.partitionBy("host_id", "salt").orderBy(*okey)
    local = (
        eligible.withColumn("salt", salt)
        .withColumn("lr", F.row_number().over(w_local))
        .where(F.col("lr") <= k_per_host)
        .drop("lr")
    )
    w_host = W.partitionBy("host_id").orderBy(*okey)
    ranked = (
        local.withColumn("seq", F.row_number().over(w_host).cast("int"))
        .drop("salt")
    )
    if robots is not None and "crawl_delay" in robots.columns:
        # robots crawl_delay -> per-host round budget max(1, k // delay);
        # hosts without a robots row get the full budget.
        delays = robots.select("host_id", "crawl_delay")
        budget = F.when(
            F.col("crawl_delay").isNull(), k_per_host
        ).otherwise(
            F.greatest(F.lit(1), F.floor(k_per_host / F.col("crawl_delay")))
        )
        return (
            ranked.join(F.broadcast(delays), "host_id", "left")
            .where(F.col("seq") <= budget)
            .drop("crawl_delay")
        )
    return ranked.where(F.col("seq") <= k_per_host)


def run_round(
    spark: SparkSession,
    state: CrawlState,
    web: DataFrame,
    robots: DataFrame,
    round_no: int,
    k_per_host: int,
    max_retries: int = spec.MAX_RETRIES,
    cooldown_rounds: int = 1,
    fetch_plan: str = "broadcast",
    checkpoint_fetched: bool = True,
    precomputed_batch: DataFrame | None = None,
) -> tuple[CrawlState, DataFrame]:
    """Execute one scheduling round (spec steps 1-7; the checkpointed store
    writes step 8's metrics row). Returns (state', batch).

    ``precomputed_batch``: a batch already scheduled by a caller-side
    scheduler (incremental.py's head index) — must be value-identical to
    what ``schedule_batch`` would emit (FRONTIER_COLS + seq). The round's
    cooldown gate is then the caller's job too (the incremental
    scheduler takes ``cooldown_hosts``).

    ``cooldown_rounds`` is the cross-round politeness interval (G1): a host
    fetched in round r is not eligible again before round r + cooldown.
    With the default 1, every round is eligible (the per-round budget
    k_per_host is then the only politeness constraint) and the host-state
    join is skipped entirely.

    ``checkpoint_fetched`` materializes the two *bounded* frames every
    downstream sink shares — ``batch`` (≤ k_per_host * active hosts rows)
    and ``fetched`` (its join against the web) — once per round. Without
    it the round's ~6 table writes each re-run the schedule window and
    re-scan the (arbitrarily large) web table, because a broadcast join
    leaves no shuffle files to reuse; this was the dominant cost in the
    round-1 driver bench (21.3 s vs 6.4 s isolated). Set False for a
    fully-lazy plan (plan-shape tests).
    """
    if precomputed_batch is not None:
        batch = precomputed_batch
    else:
        frontier_in = state.frontier
        if cooldown_rounds > 1 and state.hosts is not None:
            # broadcast the (tiny vs frontier) host-politeness dimension;
            # a missing host or an elapsed cooldown means eligible.
            frontier_in = frontier_in.join(
                F.broadcast(cooled_hosts(state.hosts, cooldown_rounds,
                                         round_no)),
                "host_id", "left_anti")
        batch = schedule_batch(frontier_in, round_no, k_per_host,
                               robots=robots)
    if checkpoint_fetched:
        # bounded: ≤ k_per_host * active_hosts rows
        batch = batch.localCheckpoint(eager=True)

    # 3. fetch = join against the synthetic web (J7), per ``fetch_plan``:
    #  * "broadcast" (default): the batch is bounded by k_per_host *
    #    active_hosts — broadcast it so the (arbitrarily large) web/
    #    content table streams map-side instead of re-shuffling every
    #    round: 1M-page probe went 74s -> ~8s per round.
    #  * "bucketed": the 10^6+-host path when the batch outgrows
    #    broadcast — caller passes ``web`` read from a url-bucketed table
    #    (frontier/bucketed.py); the equi-join then exchanges ONLY the
    #    batch side, the web table never moves again (plan-asserted in
    #    tests/test_bucketed_join.py; measured in BENCH.md).
    web_cols = web.select(
        "url", "page_id", "kind", "status", "outlinks", "image_id",
        # headers metadata (JSONB/Mongo-doc analogue, SURVEY §1.2): a web
        # table without it still crawls — pages carry a null map.
        (F.col("headers") if "headers" in web.columns
         else F.lit(None).cast("map<string,string>")).alias("headers"),
    )
    if fetch_plan == "broadcast":
        fetched = web_cols.join(F.broadcast(batch), "url", "inner")
    elif fetch_plan == "bucketed":
        fetched = batch.join(web_cols, "url", "inner")
    else:
        raise ValueError(f"unknown fetch_plan {fetch_plan!r}")
    if checkpoint_fetched:
        # one web scan per round: ok/failed/dead/pages all reuse these
        # blocks instead of re-running the broadcast join per sink.
        fetched = fetched.localCheckpoint(eager=True)
    ok = fetched.where(F.col("status") == 200)
    failed = fetched.where(F.col("status") != 200)
    # batch URLs absent from the web table (dead links): they can never
    # resolve, so they go straight to the DLQ instead of silently
    # vanishing. fetched is small -> broadcast anti-join.
    dead = batch.join(F.broadcast(fetched.select("url")), "url", "left_anti")

    # 4. golden fetch-order log + pages
    log_delta = batch.select(
        F.lit(round_no).cast("int").alias("round"),
        "priority", "host_id", "url", "seq",
    )
    pages_delta = ok.select(
        F.lit(round_no).cast("int").alias("round"),
        "url", "page_id", "kind", "image_id", "priority", "host_id", "seq",
        "headers",
    )

    # 5. link expansion -> enqueue
    links = ok.select(F.explode("outlinks").alias("url")).dropDuplicates(["url"])
    new_rows = enqueue(links, state.seen, robots, round_no)
    if checkpoint_fetched:
        # bounded (≤ batch * outdegree rows) and consumed by THREE state
        # sinks (frontier', seen', seen_delta): materialize once so the
        # store's (now concurrent) commit writes don't each re-run the
        # enqueue anti-join against the full seen set.
        new_rows = new_rows.localCheckpoint(eager=True)

    # 6. retry / DLQ routing (E5: eligible_round = r + 2^retry_count)
    failed_next = failed.select(
        "url", "host_id", "priority", "disc_round",
        (F.col("retry_count") + 1).cast("int").alias("retry_count"),
        (F.lit(round_no) + F.pow(F.lit(2), F.col("retry_count")).cast("int"))
        .cast("int").alias("eligible_round"),
    )
    requeue = failed_next.where(F.col("retry_count") <= max_retries)
    dlq_delta = failed_next.where(F.col("retry_count") > max_retries).select(
        F.lit(round_no).cast("int").alias("round"), *FRONTIER_COLS
    ).unionByName(
        dead.select(F.lit(round_no).cast("int").alias("round"), *FRONTIER_COLS)
    )

    # 7. frontier' = (frontier - batch) ∪ new ∪ requeues ; seen' ∪= new
    frontier_next = (
        state.frontier.join(batch.select("url"), "url", "left_anti")
        .select(*FRONTIER_COLS)
        .unionByName(new_rows.select(*FRONTIER_COLS))
        .unionByName(requeue.select(*FRONTIER_COLS))
    )
    seen_next = state.seen.select("url").unionByName(new_rows.select("url"))
    hosts_next = state.hosts
    if hosts_next is not None:
        fetched_hosts = batch.select("host_id").distinct().select(
            "host_id", F.lit(round_no).cast("int").alias("last_fetch_round")
        )
        hosts_next = (
            state.hosts.join(fetched_hosts.select("host_id"), "host_id", "left_anti")
            .unionByName(fetched_hosts)
        )

    state.fetch_log.append(log_delta)
    state.pages.append(pages_delta)
    state.dlq.append(dlq_delta)

    return CrawlState(frontier_next, seen_next, hosts_next, state.fetch_log,
                      state.pages, state.dlq,
                      seen_delta=new_rows.select("url"),
                      frontier_delta=new_rows.select(*FRONTIER_COLS)
                      .unionByName(requeue.select(*FRONTIER_COLS))), batch


def run_crawl(
    spark: SparkSession,
    web: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    rounds: int,
    k_per_host: int,
    cooldown_rounds: int = 1,
) -> CrawlState:
    """In-memory multi-round crawl (store.py has the checkpointed variant).

    localCheckpoint truncates the lineage each round — without it the plan
    for round r contains r copies of the whole DAG (iterative-algorithm
    pitfall).
    """
    empty_seen = seeds.select("url").limit(0)
    first = enqueue(seeds.select("url").dropDuplicates(["url"]), empty_seen,
                    robots, disc_round=0)
    state = CrawlState(
        frontier=first.select(*FRONTIER_COLS).localCheckpoint(eager=True),
        seen=first.select("url").localCheckpoint(eager=True),
        hosts=empty_hosts(spark) if cooldown_rounds > 1 else None,
    )
    for r in range(1, rounds + 1):
        state, _ = run_round(spark, state, web, robots, r, k_per_host,
                             cooldown_rounds=cooldown_rounds)
        state.frontier = state.frontier.localCheckpoint(eager=True)
        state.seen = state.seen.localCheckpoint(eager=True)
        if state.hosts is not None:
            state.hosts = state.hosts.localCheckpoint(eager=True)
        state.fetch_log[-1] = state.fetch_log[-1].localCheckpoint(eager=True)
        state.pages[-1] = state.pages[-1].localCheckpoint(eager=True)
        state.dlq[-1] = state.dlq[-1].localCheckpoint(eager=True)
    return state


def fetch_log_df(state: CrawlState) -> DataFrame:
    out = state.fetch_log[0]
    for d in state.fetch_log[1:]:
        out = out.unionByName(d)
    return out
