"""Oracle-checked crawl queries: the REAL frontier engine (multi-round
run_crawl) value-checked against an independently-written DuckDB SQL
implementation of the frozen spec (spec.py), unrolled round by round
(plain CTEs + QUALIFY — no recursion, so every intermediate is a checkable
relation).

Scale is derived from the sf directory (n_pages = COUNT(orders)), so the
same query exercises sf0.001 -> sf0.1 without code changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frontier import synth
from ..frontier.engine import fetch_log_df, run_crawl
from ..sources.testdata import load_table
from .registry import register

ROUNDS = 3
K_PER_HOST = 2
N_HOSTS = 20
N_SEEDS = 6


def _oracle_sql(rounds: int = ROUNDS, k: int = K_PER_HOST,
                n_hosts: int = N_HOSTS, n_seeds: int = N_SEEDS,
                final_select: str | None = None,
                cooldown: int = 1,
                budget_case: str | None = None) -> str:
    """Unrolled spec implementation in DuckDB SQL.

    ``cooldown`` > 1 adds the cross-round politeness gate (G1): a host
    fetched in round r is ineligible before r + cooldown, tracked through
    per-round ``hosts{r}`` CTEs exactly as the engine's host-state table.

    ``budget_case``: SQL expression for the per-host round budget
    (defaults to the spec robots dim's crawl_delay arithmetic,
    max(1, k // delay) with delays {1,2,4}); goldens with a custom
    robots dimension pass their own CASE.
    """
    prio = (
        "CASE WHEN is_listing THEN 1 + ascii(substr(md5(url),1,1)) % 2 "
        "ELSE 3 + host_id % 3 END"
    )
    robots_ok = "NOT (host_id % 7 = 3 AND url LIKE '%/apa/d/%')"

    parts = [f"""
params AS (SELECT COUNT(*) AS n FROM orders),
ids AS (SELECT ROW_NUMBER() OVER () - 1 AS p FROM orders),
web AS MATERIALIZED (
  SELECT p,
         CAST(CASE WHEN p % 4 = 0 THEN p % 3 ELSE p % {n_hosts} END AS INT) AS host_id,
         (p % 10 = 0) AS is_listing,
         CASE WHEN p % 97 = 13 THEN 503 ELSE 200 END AS status
  FROM ids
),
web_urls AS MATERIALIZED (
  SELECT p, host_id, is_listing, status,
         CASE WHEN is_listing
              THEN 'https://h' || host_id || '.synth.test/search/apa?p=' || p
              ELSE 'https://h' || host_id || '.synth.test/apa/d/item-' || p || '/' || p || '.html'
         END AS url
  FROM web
),
edges AS MATERIALIZED (
  SELECT w.p AS parent, (w.p*31 + c.i*17 + 1) % (SELECT n FROM params) AS child
  FROM web w CROSS JOIN (SELECT range AS i FROM range(12)) c
  WHERE c.i < CASE WHEN w.is_listing THEN 12 ELSE 3 END
),
child_urls AS MATERIALIZED (
  SELECT e.parent, wu.url, wu.host_id, wu.is_listing
  FROM edges e JOIN web_urls wu ON wu.p = e.child
),
seed_pages AS (
  SELECT DISTINCT (j.range * 10) % (SELECT n FROM params) AS p
  FROM range({n_seeds}) j
),
frontier0 AS MATERIALIZED (
  SELECT DISTINCT url, host_id, {prio} AS priority,
         0 AS disc_round, 0 AS retry_count, 0 AS eligible_round
  FROM web_urls WHERE p IN (SELECT p FROM seed_pages) AND {robots_ok}
),
seen0 AS MATERIALIZED (SELECT url FROM frontier0)"""]
    if cooldown > 1:
        parts.append(
            "\nhosts0 AS (SELECT CAST(NULL AS INT) AS host_id, 0 AS lf "
            "WHERE FALSE)")

    budget = budget_case or (
        f"CASE WHEN host_id % 11 = 5 THEN {max(1, k // 2)} "
        f"WHEN host_id % 11 = 9 THEN {max(1, k // 4)} ELSE {k} END"
    )
    for r in range(1, rounds + 1):
        cool_gate = (
            f"\n    AND host_id NOT IN (SELECT host_id FROM hosts{r-1} "
            f"WHERE lf + {cooldown} > {r})" if cooldown > 1 else ""
        )
        parts.append(f"""
batch{r} AS MATERIALIZED (
  SELECT url, host_id, priority, disc_round, retry_count,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY host_id
           ORDER BY priority, disc_round, md5(url), url) AS INT) AS seq
  FROM frontier{r-1} WHERE eligible_round <= {r}{cool_gate}
  QUALIFY seq <= {budget}
),
fetched{r} AS MATERIALIZED (
  SELECT b.*, wu.p, wu.status FROM batch{r} b JOIN web_urls wu USING (url)
),
new{r} AS MATERIALIZED (
  SELECT DISTINCT cu.url, cu.host_id,
         CASE WHEN cu.is_listing THEN 1 + ascii(substr(md5(cu.url),1,1)) % 2
              ELSE 3 + cu.host_id % 3 END AS priority,
         {r} AS disc_round, 0 AS retry_count, {r} AS eligible_round
  FROM fetched{r} f JOIN child_urls cu ON cu.parent = f.p
  WHERE f.status = 200
    AND NOT (cu.host_id % 7 = 3 AND cu.url LIKE '%/apa/d/%')
    AND cu.url NOT IN (SELECT url FROM seen{r-1})
),
retry{r} AS MATERIALIZED (
  SELECT url, host_id, priority, disc_round, retry_count + 1 AS retry_count,
         {r} + CAST(pow(2, retry_count) AS INT) AS eligible_round
  FROM fetched{r} WHERE status <> 200 AND retry_count + 1 <= 3
),
frontier{r} AS MATERIALIZED (
  SELECT url, host_id, priority, disc_round, retry_count, eligible_round
  FROM frontier{r-1} WHERE url NOT IN (SELECT url FROM batch{r})
  UNION ALL SELECT * FROM new{r}
  UNION ALL SELECT * FROM retry{r}
),
seen{r} AS MATERIALIZED (SELECT url FROM seen{r-1} UNION SELECT url FROM new{r})""")
        if cooldown > 1:
            parts.append(f"""
hosts{r} AS MATERIALIZED (
  SELECT host_id, MAX(lf) AS lf FROM (
    SELECT host_id, lf FROM hosts{r-1}
    UNION ALL SELECT DISTINCT host_id, {r} AS lf FROM batch{r}
  ) GROUP BY host_id
)""")

    if final_select is None:
        union = "\nUNION ALL ".join(
            f"SELECT {r} AS round, priority, host_id, url, seq FROM batch{r}"
            for r in range(1, rounds + 1)
        )
        final_select = (
            "SELECT CAST(round AS INT) AS round, CAST(priority AS INT) AS "
            f"priority, host_id, url, seq FROM ({union})"
        )
    return "WITH " + ",".join(parts) + "\n" + final_select


@register("crawl_3round_golden", oracle=_oracle_sql())
def crawl_3round_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE north-rule composite: 3 scheduling rounds of the real engine
    (dedupe, robots, politeness top-k, fetch join, link expansion, retry
    backoff) — fetch log checked value-for-value against the unrolled SQL
    oracle."""
    n_pages = load_table(spark, sf_dir, "orders").count()
    web = synth.web_graph(spark, n_pages, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, n_pages, N_SEEDS, N_HOSTS)
    state = run_crawl(spark, web, seeds, robots, rounds=ROUNDS,
                      k_per_host=K_PER_HOST)
    return fetch_log_df(state).select(
        "round", "priority", "host_id", "url", "seq"
    )


# Crawled property pages joined to the image+caption payload table — the
# BASELINE input_hint caption-equality invariant checked THROUGH the
# driver's value-hash gate (captions are a pure function of image_id, so
# the oracle rebuilds them in SQL; pixel/PSNR checks need the binary
# decode and live in image_payload_verify + tests/test_images.py).
_PAGES_CAPTION_SELECT = """
SELECT round, url, image_id, caption FROM (
{union}
)""".format(union="\nUNION ALL ".join(
    f"""SELECT {r} AS round, f.url,
       f.p AS image_id,
       'synthetic photo ' || f.p || ': dominant rgb ('
         || (f.p*7) % 256 || ',' || (f.p*13) % 256 || ',' || f.p % 256 || ')'
         AS caption
FROM fetched{r} f JOIN web w ON w.p = f.p
WHERE f.status = 200 AND NOT w.is_listing"""
    for r in range(1, 3)
))


@register(
    "crawl_pages_with_captions",
    oracle=_oracle_sql(rounds=2, final_select=_PAGES_CAPTION_SELECT),
)
def crawl_pages_with_captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-round crawl; ok property pages joined to the images table on
    image_id; caption strings value-checked against the SQL oracle."""
    from ..frontier import images as I

    n_pages = load_table(spark, sf_dir, "orders").count()
    web = synth.web_graph(spark, n_pages, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, n_pages, N_SEEDS, N_HOSTS)
    state = run_crawl(spark, web, seeds, robots, rounds=2,
                      k_per_host=K_PER_HOST)
    pages = state.pages[0]
    for d in state.pages[1:]:
        pages = pages.unionByName(d)
    props = pages.where(F.col("kind") == "property").select(
        "round", "url", "image_id"
    )
    imgs = I.images_table(spark, n_pages).select(
        F.col("image_id").cast("long").alias("image_id"), "caption"
    )
    return props.join(imgs, "image_id").select(
        "round", "url", "image_id", "caption"
    )


@register(
    "crawl_5round_golden",
    oracle=_oracle_sql(rounds=5, cooldown=2),
)
def crawl_5round_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 rounds with cross-round host cooldown (cooldown_rounds=2),
    through the CHECKPOINTED store path — retry backoff (eligible = r +
    2^c, reaching 2^2=4) and the host politeness gate both cross round
    boundaries under the unrolled SQL oracle."""
    import shutil
    import tempfile

    from ..frontier.store import RoundStore, run_crawl_checkpointed

    n_pages = load_table(spark, sf_dir, "orders").count()
    web = synth.web_graph(spark, n_pages, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, n_pages, N_SEEDS, N_HOSTS)
    root = tempfile.mkdtemp(prefix="crawl5_golden_")
    try:
        store = RoundStore(spark, root)
        run_crawl_checkpointed(store, web, robots, rounds=5,
                               k_per_host=K_PER_HOST, seeds=seeds,
                               cooldown_rounds=2)
        log = store.read_deltas("fetch_log").select(
            "round", "priority", "host_id", "url", "seq"
        ).where(F.col("round") > 0)
        # materialize before deleting the store files the plan reads
        return log.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Heterogeneous per-host crawl_delay (r03 verdict #8): the spec robots
# dim's delays {1,2,4} at the golden k=2 collapse to budgets {2,1,1} —
# delay 2 and 4 are indistinguishable. This golden drives the SAME
# engine with a CUSTOM robots dimension carrying delays {1,2,5} at
# k_per_host=5, so the three budget classes are pairwise distinct
# (5, 2, 1) and the reference's per-host Crawl-delay arithmetic
# (robots_checker.py:122-138 -> budget = max(1, k // delay)) is
# value-checked per host class by the unrolled oracle.
_DELAY125_BUDGET = (
    "CASE WHEN host_id % 3 = 0 THEN 2 "       # delay 2 -> 5 // 2
    "WHEN host_id % 3 = 1 THEN 1 "            # delay 5 -> 5 // 5
    "ELSE 5 END"                              # delay 1 -> full budget
)


@register(
    "crawl_delay_budget_golden",
    oracle=_oracle_sql(rounds=3, k=5, budget_case=_DELAY125_BUDGET),
)
def crawl_delay_budget_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 rounds at k=5 with per-host crawl_delays {1,2,5} (pairwise
    distinct budgets 5/2/1) — the per-host politeness budget arithmetic
    under a heterogeneous delay profile, not the uniform-ish spec dim."""
    from ..frontier import spec

    n_pages = load_table(spark, sf_dir, "orders").count()
    web = synth.web_graph(spark, n_pages, N_HOSTS)
    h = F.col("id").cast("int")
    robots = spark.range(0, N_HOSTS).select(
        h.alias("host_id"),
        F.when(h % spec.ROBOTS_MOD == spec.ROBOTS_REM,
               spec.ROBOTS_DISALLOW).alias("disallow"),
        F.when(h % 3 == 0, 2).when(h % 3 == 1, 5).otherwise(1)
        .cast("int").alias("crawl_delay"),
    ).where(F.col("disallow").isNotNull() | (F.col("crawl_delay") > 1))
    seeds = synth.seed_urls(spark, n_pages, N_SEEDS, N_HOSTS)
    state = run_crawl(spark, web, seeds, robots, rounds=3, k_per_host=5)
    return fetch_log_df(state).select(
        "round", "priority", "host_id", "url", "seq"
    )


# The headers MapType surface (SURVEY §1.2: Postgres JSONB headers,
# database_service.py:62 / Mongo metadata, content_storage.py:102-119):
# pages carry a map<string,string> from the fetch join; this query READS
# the map (element_at) after the crawl, and the oracle reconstructs the
# expected values arithmetically — a wrong map literal, a dropped column,
# or bad map semantics all hash-fail.
_PAGES_HEADERS_SELECT = """
SELECT round, url, content_type, server, content_length FROM (
{union}
)""".format(union="\nUNION ALL ".join(
    f"""SELECT {r} AS round, f.url,
       CASE WHEN w.is_listing THEN 'text/html'
            ELSE 'text/html; charset=utf-8' END AS content_type,
       'synth/' || (f.host_id % 3) AS server,
       CAST(1000 + f.p % 5000 AS VARCHAR) AS content_length
FROM fetched{r} f JOIN web w ON w.p = f.p
WHERE f.status = 200"""
    for r in range(1, 3)
))


@register(
    "crawl_pages_headers",
    oracle=_oracle_sql(rounds=2, final_select=_PAGES_HEADERS_SELECT),
)
def crawl_pages_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-round crawl; response-header map read back out of the pages delta
    via element_at — exercises MapType end-to-end through the engine."""
    n_pages = load_table(spark, sf_dir, "orders").count()
    web = synth.web_graph(spark, n_pages, N_HOSTS)
    robots = synth.robots_dim(spark, N_HOSTS)
    seeds = synth.seed_urls(spark, n_pages, N_SEEDS, N_HOSTS)
    state = run_crawl(spark, web, seeds, robots, rounds=2,
                      k_per_host=K_PER_HOST)
    pages = state.pages[0]
    for d in state.pages[1:]:
        pages = pages.unionByName(d)
    return pages.select(
        "round", "url",
        F.element_at("headers", "content-type").alias("content_type"),
        F.element_at("headers", "server").alias("server"),
        F.element_at("headers", "content-length").alias("content_length"),
    )


# --- image payload queries, ORACLE-CHECKED (round-2 verdict #5) ---
#
# The codec invariants reduce to arithmetic DuckDB can restate:
#  * payload length: header (12) + w*h*3 bytes, exactly, per row;
#  * lossy PSNR is the SAME constant for every qrgb6 image: the decode
#    error per channel is (px mod 4) - 2, and each channel formula
#    ((3x+7id)%256, (5y+13id)%256, (x+y+id)%256) cycles uniformly over
#    residues mod 4 across a 32-wide row, so MSE = (4+1+0+1)/4 = 1.5
#    EXACTLY (integer sums in float64) => PSNR = 10*log10(255^2/1.5);
#  * lossless rows decode bit-exact (PSNR capped at 99.0);
#  * caption/phash re-derivation matches for every row.

@register(
    "image_payload_verify",
    oracle="""
    WITH nn AS (SELECT LEAST(COUNT(*), 2000) AS n FROM documents),
    ids AS (
      SELECT r.range AS id FROM range(0, 2000) r
      WHERE r.range < (SELECT n FROM nn)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(COUNT(*) AS BIGINT) AS n_caption_ok,
           CAST(COUNT(*) AS BIGINT) AS n_phash_ok,
           CAST(COUNT(*) AS BIGINT) AS n_psnr_ok,
           CAST(SUM(CASE WHEN id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lossy,
           ROUND(CASE WHEN SUM(CASE WHEN id % 3 = 0 THEN 1 ELSE 0 END) > 0
                      THEN 10 * log10(255.0 * 255.0 / 1.5)
                      ELSE 99.0 END, 4) AS min_psnr_db,
           CAST(COUNT(*) * (12 + 32 * 32 * 3) AS BIGINT) AS payload_bytes
    FROM ids
    """,
)
def image_payload_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..frontier import images as I

    n = min(load_table(spark, sf_dir, "documents").count(), 2000)
    imgs = I.images_table(spark, n)
    v = I.verify_payload(imgs)
    agg = v.agg(
        F.count("*").alias("n_images"),
        F.sum(F.col("caption_ok").cast("long")).alias("n_caption_ok"),
        F.sum(F.col("phash_ok").cast("long")).alias("n_phash_ok"),
        F.sum((F.col("psnr_db") >= 40.0).cast("long")).alias("n_psnr_ok"),
        F.sum((F.col("fmt") == "qrgb6").cast("long")).alias("n_lossy"),
        F.round(F.min("psnr_db"), 4).alias("min_psnr_db"),
    )
    size = imgs.agg(F.sum(F.length("bytes")).alias("payload_bytes"))
    return agg.crossJoin(size)  # two 1-row aggregates


def _phash_values_sql() -> str:
    """The 256 distinct phashes as a VALUES list: pixels are linear in id
    mod 256 per channel, so phash(id) = phash(id % 256).  Computed with
    the SCALAR reference implementation (_phash/_pixels) at import time —
    the Spark side uses the batch form, so the driver check also pins
    batch == scalar."""
    from ..frontier.images import _phash, _pixels

    return ", ".join(
        f"({i}, CAST({_phash(_pixels(i, 32, 32))} AS BIGINT))"
        for i in range(256)
    )


@register(
    "image_phash_near_dup",
    oracle=f"""
    WITH ph(pid, ph) AS (VALUES {{values}}),
    nn AS (SELECT LEAST(COUNT(*), 2000) AS n FROM documents),
    imgs AS (
      SELECT r.range AS id, p.ph
      FROM range(0, 2000) r JOIN ph p ON r.range % 256 = p.pid
      WHERE r.range < (SELECT n FROM nn)
    ),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             bit_count(xor(a.ph, b.ph)) AS hamming
      FROM imgs a JOIN imgs b ON a.id < b.id
    )
    SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
    FROM pairs WHERE hamming <= 6
    """.format(values=_phash_values_sql()),
)
def image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded phash near-dup pairs vs a brute-force Hamming oracle over
    the (tiny, period-256) phash vocabulary — a full value check of the
    pigeonhole recall guarantee: any pair the 8x8-bit band join missed at
    hamming <= 6 would hash-fail against the brute force."""
    from ..frontier import images as I

    n = min(load_table(spark, sf_dir, "documents").count(), 2000)
    imgs = I.images_table(spark, n).select(
        F.col("image_id").cast("long").alias("image_id"), "phash"
    )
    pairs = I.phash_near_dupes(imgs, max_hamming=6)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


# --- the composed multimodal near-dup pipeline as ONE driver query:
# binary payload -> decode -> thumbnail feature-extract -> banded-LSH ANN
# -> cosine verify -> min-id representative (the image analogue of
# corpus_clean). Provably oracle-able: on the lossless slice features
# depend only on id mod 256, so identical ids-mod-256 give cos exactly
# 1.0 (guaranteed candidates under any hyperplane set) while the
# cross-class cosine set is the SAME fixed 256x256 family at every scale
# (measured ceiling 0.99981 < the 0.9999 threshold) — the expected
# output is pure id arithmetic DuckDB restates.
@register(
    "image_near_dup_pipeline",
    oracle="""
    WITH nn AS (SELECT LEAST(COUNT(*) * 2, 1200) AS n FROM documents),
    ids AS (
      SELECT r.range AS id FROM range(0, 1200) r
      WHERE r.range < (SELECT n FROM nn) AND r.range % 3 <> 0
    ),
    cls AS (SELECT id, id % 256 AS c FROM ids),
    reps AS (SELECT c, MIN(id) AS kept_id FROM cls GROUP BY c)
    SELECT r.kept_id, c.id AS dup_id
    FROM cls c JOIN reps r ON c.c = r.c AND c.id > r.kept_id
    """,
)
def image_near_dup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..frontier import images as I
    from ..operators.similarity import near_dup_ann

    n = min(load_table(spark, sf_dir, "documents").count() * 2, 1200)
    imgs = I.images_table(spark, n).where(F.col("fmt") == "rgb8")
    feats = I.image_features(imgs).select(
        F.col("image_id").cast("long").alias("vec_id"), "embedding"
    )
    out = near_dup_ann(feats, "vec_id", "embedding", threshold=0.9999,
                       dim=192)
    return out.select("kept_id", "dup_id")
