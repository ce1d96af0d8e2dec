"""Round-snapshot warehouse: atomic per-round commits + resume.

This is the offline stand-in for Iceberg (SURVEY.md §4.3(3), §7 step 0 —
no Iceberg runtime jar is available in the sandbox): each round writes its
state/delta tables to ``wh/<table>/r{N:05d}/`` as parquet and then writes a
tiny manifest ``wh/_commits/r{N}.json`` LAST. Readers only ever look at
tables named by a manifest, so a crash mid-round leaves garbage files but
no visible partial state — the same atomic-visibility + time-travel
contract as an Iceberg snapshot commit. On a real cluster the store maps
1:1 onto `MERGE INTO` against Iceberg `frontier`/`seen`/`pages` tables.

Layout:
  wh/_commits/r00003.json      <- commit manifest (written last)
  wh/frontier/r00003/*.parquet <- full queued-set snapshot at round 3
  wh/seen/r00003/*.parquet     <- full seen-set snapshot
  wh/fetch_log/r00003/         <- per-round delta (append-only log)
  wh/pages/r00003/             <- per-round delta
  wh/dlq/r00003/               <- per-round delta
  wh/metrics/r00003/           <- per-round metrics + lineage rows

Resume = read the highest manifest, load its state snapshots, continue at
round N+1 (north rule: resumable from checkpoint, any round).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine import (
    FRONTIER_COLS, CrawlState, cooled_hosts, empty_hosts, enqueue, run_round,
)

STATE_TABLES = ("frontier", "seen", "hosts")
DELTA_TABLES = ("fetch_log", "pages", "dlq", "metrics", "seen_delta")
# derived -> base: a commit rewriting the base without re-deriving the
# derived table delists the derived entry (it describes state that no
# longer exists); readers then rebuild it from the base snapshot.
DERIVED_TABLES = {"frontier_head": "frontier"}


class RoundStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "_commits"), exist_ok=True)

    # -- commit protocol ---------------------------------------------------

    def _dir(self, table: str, round_no: int) -> str:
        return os.path.join(self.root, table, f"r{round_no:05d}")

    def _manifest(self, round_no: int) -> str:
        return os.path.join(self.root, "_commits", f"r{round_no:05d}.json")

    def commit(self, round_no: int, tables: dict[str, DataFrame],
               extra: dict | None = None) -> None:
        """Write all tables, then the manifest — atomic visibility.

        Writes run CONCURRENTLY (one thread per table, bounded pool):
        since r04 every expensive shared ancestor (batch, fetched,
        new_rows) is localCheckpointed inside run_round, so each write
        is a short independent job over materialized blocks and the
        per-job fixed overhead dominates — measured 2x faster threaded
        (0.65 s vs 1.4 s for a round's 6 tables at the 1M-page volume
        probe). The round-2 measurement that threading was 34% SLOWER
        predates those checkpoints: back then concurrent writes re-ran
        the shared shuffle stages sequential jobs would have reused."""
        from concurrent.futures import ThreadPoolExecutor

        def _write(item):
            name, df = item
            path = self._dir(name, round_no)
            df.write.mode("overwrite").parquet(path)
            return name, path

        with ThreadPoolExecutor(max_workers=8) as ex:
            written = dict(ex.map(_write, tables.items()))
        # merge with an existing manifest for this round (partial re-commits
        # like the streaming seed inbox must not unlist other tables)
        prior_tables, prior_extra = {}, {}
        if os.path.exists(self._manifest(round_no)):
            with open(self._manifest(round_no)) as f:
                prior = json.load(f)
            prior_tables = prior.get("tables", {})
            prior_extra = {k: v for k, v in prior.items()
                           if k not in ("round", "tables", "committed_at")}
        # derived-table invalidation: a re-commit that rewrites a base
        # table (e.g. the seed inbox merging new rows into `frontier`)
        # must DELIST any derived table built from the old base, or the
        # next incremental round schedules from a stale head and silently
        # diverges from schedule_batch (review finding r05)
        for derived, base in DERIVED_TABLES.items():
            if base in written and derived in prior_tables \
                    and derived not in written:
                del prior_tables[derived]
        manifest = {
            "round": round_no,
            "tables": {**prior_tables, **written},
            "committed_at": time.time(),
            **prior_extra,
            **(extra or {}),
        }
        tmp = self._manifest(round_no) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest(round_no))  # atomic rename

    def committed_rounds(self) -> list[int]:
        d = os.path.join(self.root, "_commits")
        return sorted(
            int(f[1:6]) for f in os.listdir(d)
            if f.startswith("r") and f.endswith(".json")
        )

    def latest_round(self) -> int | None:
        rs = self.committed_rounds()
        return rs[-1] if rs else None

    def _listed(self, round_no: int) -> dict:
        """Tables named by round ``round_no``'s manifest ({} if none)."""
        if not os.path.exists(self._manifest(round_no)):
            return {}
        with open(self._manifest(round_no)) as f:
            return json.load(f).get("tables", {})

    def has_table(self, table: str, round_no: int) -> bool:
        """Manifest membership — the ONLY visibility authority. A bare
        directory can be an orphaned partial write from a crashed
        commit; trusting os.path.isdir would read truncated state."""
        return table in self._listed(round_no)

    def read(self, table: str, round_no: int) -> DataFrame:
        return self.spark.read.parquet(self._dir(table, round_no))

    def read_deltas(self, table: str, upto: int | None = None) -> DataFrame:
        """Union of a delta table across all committed rounds (time travel:
        pass ``upto`` for the view as of that round)."""
        rounds = [r for r in self.committed_rounds() if upto is None or r <= upto]
        # manifest membership, as in has_table: never a bare directory
        paths = [self._dir(table, r) for r in rounds
                 if table in self._listed(r)]
        # mergeSchema: later rounds may widen a delta table (e.g. pages
        # gaining payload columns) — schema evolution like Iceberg's.
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)


# -- checkpointed crawl loop ----------------------------------------------

def init_crawl(store: RoundStore, seeds: DataFrame, robots: DataFrame) -> None:
    """Round 0: enqueue seeds through the standard path and commit."""
    spark = store.spark
    empty_seen = seeds.select("url").limit(0)
    first = enqueue(seeds.select("url").dropDuplicates(["url"]), empty_seen,
                    robots, disc_round=0)
    # three committed tables derive from this (frontier/seen/seen_delta):
    # materialize the (tiny) seed enqueue once instead of re-running the
    # chain per write — and so the concurrent commit can't duplicate it.
    first = first.localCheckpoint(eager=True)
    empty_log = spark.createDataFrame(
        [], "round int, priority int, host_id int, url string, seq int")
    store.commit(0, {
        "frontier": first.select(*FRONTIER_COLS),
        "seen": first.select("url"),
        "seen_delta": first.select("url"),  # round 0's new URLs = seeds
        "hosts": empty_hosts(spark),
        "fetch_log": empty_log,
        "pages": spark.createDataFrame(
            [], "round int, url string, page_id long, kind string, "
                "image_id long, priority int, host_id int, seq int, "
                "headers map<string,string>"),
        "dlq": spark.createDataFrame(
            [], "round int, url string, host_id int, priority int, "
                "disc_round int, retry_count int, eligible_round int"),
        "metrics": spark.createDataFrame(
            [(0, 0, 0, 0, 0, 0)],
            "round int, n_batch long, n_fetched long, n_parts long, "
            "max_part_rows long, n_hosts_approx long"),
    })


def merge_seeds(store: RoundStore, urls: DataFrame, robots: DataFrame,
                extra: dict) -> None:
    """Out-of-band seed merge (the streaming inbox and the Kafka source):
    route ``urls`` through the standard enqueue path and re-commit the
    latest round with the new rows merged into frontier, seen and
    seen_delta. seen_delta is the record of what round r added to seen
    (seen(r) = seen(r-1) ∪ seen_delta(r)): readers count a round's
    discoveries from it and a base+delta seen set is built on it, so an
    arrival merged into seen alone would be missing there. Idempotent per
    micro-batch: a replay re-commits the same merged state."""
    last = store.latest_round()
    if last is None:
        raise RuntimeError("init_crawl the store before streaming seeds")
    frontier = store.read("frontier", last)
    seen = store.read("seen", last)
    new_rows = enqueue(urls.dropDuplicates(["url"]), seen, robots,
                       disc_round=last).localCheckpoint(eager=True)
    # materialize BEFORE committing: the commit overwrites the very files
    # the lazy frontier/seen/seen_delta reads would scan
    merged = {
        "frontier": frontier.unionByName(new_rows.select(*FRONTIER_COLS)),
        "seen": seen.unionByName(new_rows.select("url")),
        "seen_delta": store.read("seen_delta", last)
        .unionByName(new_rows.select("url")),
    }
    store.commit(last, {name: df.localCheckpoint(eager=True)
                        for name, df in merged.items()}, extra=extra)


def run_crawl_checkpointed(
    store: RoundStore,
    web: DataFrame,
    robots: DataFrame,
    rounds: int,
    k_per_host: int,
    seeds: DataFrame | None = None,
    cooldown_rounds: int = 1,
    images: DataFrame | None = None,
    fetch_plan: str = "broadcast",
    frontier_mode: str = "full",
) -> int:
    """Run (or RESUME) a crawl to ``rounds`` total rounds. Each round reads
    state from the last commit and writes one new commit — a crash between
    commits loses nothing; rerunning is idempotent.

    ``frontier_mode``: "full" schedules with the window over the whole
    eligible frontier (schedule_batch); "incremental" schedules from the
    persisted per-host head index (``frontier_head`` state table,
    incremental.py) — bit-identical batches, no full-frontier window per
    round (the 10^10-row scale path). A store committed in one mode can
    resume in the other: the head is (re)built from the frontier
    snapshot when the table is missing.

    ``images``: optional image+caption payload table (images.py schema).
    When given, each round's pages delta carries the binary payload columns
    (bytes, w, h, fmt, caption, phash) — the content store IS the table
    (no side files, reference file_storage.py:279-293 replaced). The small
    fetched-pages side is broadcast so the payload table streams.

    Returns the last committed round number.
    """
    spark = store.spark
    last = store.latest_round()
    if last is None:
        if seeds is None:
            raise ValueError("fresh store needs seeds")
        init_crawl(store, seeds, robots)
        last = 0

    for r in range(last + 1, rounds + 1):
        state = CrawlState(
            frontier=store.read("frontier", r - 1),
            seen=store.read("seen", r - 1),
            hosts=store.read("hosts", r - 1),
        )
        batch_pre, head, fb_hosts = None, None, None
        if frontier_mode == "incremental":
            from .incremental import build_head, schedule_incremental

            # manifest membership, NOT isdir: a bare directory can be an
            # orphaned partial write from a crashed commit, and a seed-
            # inbox re-commit DELISTS the head (DERIVED_TABLES) so a
            # frontier merged out-of-band forces a rebuild here
            head = (store.read("frontier_head", r - 1)
                    if store.has_table("frontier_head", r - 1)
                    else build_head(state.frontier, k_per_host)
                    .localCheckpoint(eager=True))
            cool = None
            if cooldown_rounds > 1:
                cool = cooled_hosts(state.hosts, cooldown_rounds, r)
            batch_pre, fb_hosts = schedule_incremental(
                head, state.frontier, r, k_per_host,
                robots=robots, cooldown_hosts=cool)
        elif frontier_mode != "full":
            raise ValueError(f"unknown frontier_mode {frontier_mode!r}")
        state, batch = run_round(spark, state, web, robots, r, k_per_host,
                                 cooldown_rounds=cooldown_rounds,
                                 fetch_plan=fetch_plan,
                                 precomputed_batch=batch_pre)
        # per-partition lineage (F1/F5): rows per shuffle partition of the
        # batch — the skew signal a 1000-executor operator would alarm on.
        lineage = (
            batch.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .agg(
                F.count("*").alias("n_parts"),
                F.max("count").alias("max_part_rows"),
                F.sum("count").alias("n_batch"),
            )
        )
        fetched = state.pages[-1]
        metrics = lineage.crossJoin(
            fetched.agg(F.count("*").alias("n_fetched"))
        ).crossJoin(
            # distinct-host cardinality per round (SURVEY §2.F note):
            # approx_count_distinct is one pass, no shuffle of the batch
            batch.agg(
                F.approx_count_distinct("host_id").alias("n_hosts_approx"))
        ).select(
            F.lit(r).alias("round"), "n_batch", "n_fetched",
            "n_parts", "max_part_rows", "n_hosts_approx",
        )
        pages_delta = state.pages[-1]
        if images is not None:
            # broadcast-inner on the bounded fetched side (an outer join
            # can't broadcast its preserved side), then union listings
            # (null image_id) back with null payload columns.
            payload = images.select(
                F.col("image_id").cast("long").alias("image_id"),
                "bytes", "w", "h", "fmt", "caption", "phash",
            )
            props = pages_delta.where(F.col("image_id").isNotNull())
            listings = pages_delta.where(F.col("image_id").isNull())
            joined = payload.join(F.broadcast(props), "image_id", "inner")
            # pages whose image_id has no payload row must NOT vanish —
            # keep them with null payload columns (joined is small, so the
            # anti-join is broadcast-cheap).
            uncovered = props.join(
                F.broadcast(joined.select("image_id")), "image_id", "left_anti"
            )
            pages_delta = joined.unionByName(
                listings, allowMissingColumns=True
            ).unionByName(uncovered, allowMissingColumns=True)
        tables = {
            "frontier": state.frontier,
            "seen": state.seen,
            "hosts": state.hosts,
            "fetch_log": state.fetch_log[-1],
            "pages": pages_delta,
            "dlq": state.dlq[-1],
            "metrics": metrics,
            "seen_delta": state.seen_delta,
        }
        if frontier_mode == "incremental":
            from .incremental import update_head

            tables["frontier_head"] = update_head(
                head, state.frontier, batch, state.frontier_delta,
                fb_hosts, k_per_host)
        store.commit(r, tables, extra={"k_per_host": k_per_host})
    return rounds


def pages_current(store: RoundStore, upto: int | None = None) -> DataFrame:
    """The reference's ``ON CONFLICT (url) DO UPDATE`` upsert read view
    (database_service.py:100-109): the pages table as of ``upto`` (default
    latest) with the LATEST committed round winning per url. Deltas stay
    append-only on disk (blind fast writes, full history for time travel
    / content-change diffing); upsert semantics are applied at read time —
    on Iceberg this view is what the MERGE materializes instead."""
    from pyspark.sql import Window as W

    d = store.read_deltas("pages", upto=upto)
    # Tie-break beyond round: the scheduling batch is deduped per url, so
    # a url appears at most once per round by construction — but if that
    # invariant ever broke, round alone would pick a NONDETERMINISTIC
    # winner (unlike the reference's sequential ON CONFLICT DO UPDATE,
    # where the last write deterministically wins). (seq desc, page_id
    # desc) reproduces last-write-wins inside a round deterministically.
    w = W.partitionBy("url").orderBy(
        F.desc("round"), F.desc("seq"), F.desc("page_id"))
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def crawl_report(store: RoundStore) -> DataFrame:
    """Per-round crawl summary joining the metrics, fetch-log and DLQ
    deltas — the operational view the reference scattered across log
    counters (logger.py:37-168) and Redis gauges."""
    spark = store.spark
    m = store.read_deltas("metrics")
    log = store.read_deltas("fetch_log").groupBy("round").agg(
        F.count("*").alias("n_scheduled"),
        F.countDistinct("host_id").alias("n_hosts"),
        F.max("seq").alias("max_seq_per_host"),
    )
    dlq = store.read_deltas("dlq").groupBy("round").agg(
        F.count("*").alias("n_dlq"))
    return (
        m.join(log, "round", "left")
        .join(dlq, "round", "left")
        .na.fill(0, ["n_scheduled", "n_hosts", "n_dlq"])
        .orderBy("round")
    )
