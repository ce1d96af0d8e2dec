"""SparkSession factory tuned for the frontier engine.

Local-mode testing uses ``local[N]`` threads, but every knob here is chosen
for a multi-executor cluster at 100 TB: AQE for runtime re-planning (skew
joins, partition coalescing), Arrow for the vectorized Python boundary,
UTC session time for oracle comparability, and shuffle partitions sized to
the parallelism level rather than the Spark default of 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "tune_session", "clear_persistent_state"]


def _scratch_dir() -> str | None:
    """Fast local scratch for shuffle/spill (``spark.local.dir``).

    On a real cluster node this is the local NVMe array — shuffle and
    spill never belong on the slow/remote volume. This sandbox's root
    disk has epochs of heavily throttled writes (measured ~60 MB/s with
    32 s of sys time per 2 GB, while tmpfs sustains GB/s), which turns
    every Exchange into an I/O stall and distorts all timings. Prefer a
    RAM-backed tmpfs dir when one exists (126 GiB here — far above any
    bench's shuffle footprint); $SPARK_GRAFT_LOCAL_DIR overrides, empty
    string disables (fall back to Spark's default /tmp).

    Static conf: must be set before the JVM starts, so it lives in the
    builder, not tune_session().
    """
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env is not None:
        return env or None
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        d = os.path.join(shm, "spark_graft_local")
        try:
            os.makedirs(d, exist_ok=True)
            return d
        except OSError:
            return None
    return None


def get_spark(
    app_name: str = "crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_mem: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or 32 (sandbox local mode).
    ``shuffle_partitions`` defaults to 1x cores ($SPARK_GRAFT_SHUFFLE_
    PARTITIONS overrides): local tasks are threads in one JVM — no node
    variance, no stragglers — so partitions = cores minimizes per-task
    overhead (measured: the 2M-URL round is 2.75 s at 2x cores vs 1.86 s
    at 1x; the whole headline suite drops 14.8 -> 11.4 s). On a real
    cluster set 2-3x total executor cores: the extra partitions smooth
    stragglers and skew, and AQE coalescing absorbs the ones that turn
    out too small.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")
    ) or max(cores, 8)
    driver_mem = driver_mem or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    local_dir = _scratch_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune_session(spark)
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configuration to any session (including the
    driver-provided one in ``__spark_entry__``).

    Everything here is a runtime conf: safe to set after JVM start.
    """
    # Correctness-critical confs set UNGUARDED (both are runtime-settable
    # on every Spark build): a swallowed failure here would silently skew
    # every timestamp oracle / Arrow batch instead of erroring loudly.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    conf = {
        # Bound Arrow batch memory when rows carry binary image payloads
        # (10KB-1MB each): 2k rows/batch keeps batches << executor memory.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        # AQE: coalesce post-shuffle partitions, split skewed ones. At
        # 100TB this is what survives hot-host (Zipf) skew at runtime.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Runtime bloom filter: may prune one side of a selective
        # inner/semi equi-join. It does not fire on the seen-set left-anti
        # join of enqueue (no might_contain in that plan).
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # ANSI off: null-on-overflow/cast semantics match the reference's
        # try/except parsing (SURVEY.md C15) and DuckDB's TRY_CAST usage.
        "spark.sql.ansi.enabled": "false",
    }
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on some builds — best effort
    return spark


def clear_persistent_state(
    spark: SparkSession, include_checkpoints: bool = False
) -> None:
    """Drop every cached table and persisted RDD block, then ask the JVM
    for a GC. Bench sections call this between phases so one phase's
    block-manager residue (e.g. binary image batches) can't skew the next
    phase's timing — the round-1 driver bench measured the same round
    3.3x slower after 11 preceding queries.

    Checkpointed RDDs (including localCheckpoint, which run_round uses
    eagerly) are SKIPPED by default: their blocks are the data — not
    recomputable — so unpersisting them would make any still-referenced
    DataFrame from a prior phase fail with missing blocks (ADVICE r02).
    Pass ``include_checkpoints=True`` only when no frame built before
    this call will ever be acted on again (bench.py does, between
    independent sections)."""
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    try:
        jsc = spark.sparkContext._jsc
        for jrdd in list(jsc.getPersistentRDDs().values()):
            if not include_checkpoints:
                try:
                    r = jrdd.rdd()
                    if r.isCheckpointed() or r.isLocallyCheckpointed():
                        continue
                except Exception:
                    pass  # no flag accessor: err toward unpersisting
            jrdd.unpersist(True)
    except Exception:
        pass
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
