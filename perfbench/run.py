"""Layered checkpointed-crawl benchmark.

    python3 perfbench/run.py --workload crawl_deep --seed 3 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all        # every workload, in turn

Run from the repository root. One run is a closed loop from one process
at ``local[nproc]``. Set-up is the session, the inputs written to parquet,
and round 0 of the first crawl. A crawl calls the public entry point
``store.run_crawl_checkpointed`` once per round, so each round resumes
from the last manifest and starts when the previous commit has returned.
Its first ``WARMUP_ROUNDS`` rounds warm the JVM (JIT, codegen caches,
heap) as a long-running crawler's is; the next ``rounds`` rounds are
measured. Crawls repeat while another fits in ``--seconds``. Every
crawl's fetch log and final seen set must equal the golden simulator's.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics instead: it traces the set-up and the second of three
crawls (layer spans plus Spark jobs and stages, see trace.py); the third
runs untraced for the overhead ratio. The last stdout line is one JSON object:
correct, attempted and failed rounds, and the metrics with their units.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WARMUP_ROUNDS  # noqa: E402

CACHE = os.path.join(ROOT, ".perfbench_cache")
DRIVER_MEM = "2g"
TABLES = ("frontier", "seen", "seen_delta", "hosts", "fetch_log", "pages",
          "dlq", "metrics", "frontier_head")


def metric_units() -> dict[str, str]:
    """Unit of every metric, as ``BENCHMARK.json`` lists it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def pin_environment(cores: int, run_dir: str, trace: bool) -> None:
    """Fix the Spark environment for this process and its workers before
    the JVM starts: ``local[cores]``, a driver heap that fits a small box,
    a per-run ``spark.local.dir`` (the program's default is /dev/shm,
    which is RAM), no console progress bar, and the repository on the
    workers' import path (``mapInPandas`` workers import crawler_spark).
    A traced run keeps every job and stage in the status store (the
    default keeps 1000 of each, fewer than three incremental crawls
    make)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace:
        confs += ["spark.ui.retainedJobs=100000",
                  "spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {c}" for c in confs] + ["pyspark-shell"])


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Crawl:
    """One crawl into a fresh warehouse: round 0, ``WARMUP_ROUNDS``
    rounds, then the measured rounds."""

    def __init__(self, spark, wl, inputs, wh_dir: str, tracer=None):
        from crawler_spark.frontier.store import RoundStore

        self.wl, self.inputs = wl, inputs
        self.store = RoundStore(spark, wh_dir)
        self.tracer = tracer
        self.init_s = 0.0
        self.round_s: list[float] = []  # rounds 1..total, in order
        self.round_at: dict[int, tuple[float, float]] = {}  # epoch start/end
        self.failed = False
        self.measured_fetches = 0

    @property
    def measured(self) -> range:
        return range(WARMUP_ROUNDS + 1, self.wl.total_rounds + 1)

    def _call(self, rounds: int, **kw) -> float:
        from crawler_spark.frontier.store import run_crawl_checkpointed

        web, robots, _ = self.inputs
        if self.tracer is not None:
            self.tracer.round = rounds
        start, t0 = time.time(), time.perf_counter()
        run_crawl_checkpointed(self.store, web, robots, rounds,
                               self.wl.k_per_host,
                               frontier_mode=self.wl.frontier_mode, **kw)
        wall = time.perf_counter() - t0
        self.round_at[rounds] = (start, start + wall)
        return wall

    def run(self) -> None:
        self.init()
        self.play()

    def init(self) -> None:
        """Round 0: ``init_crawl``, the seed commit."""
        try:
            self.init_s = self._call(0, seeds=self.inputs[2])
        except Exception:  # a round that raises is a failed round
            traceback.print_exc()
            self.failed = True

    def play(self) -> None:
        """Rounds 1..total, each resuming from the last commit."""
        if self.failed:
            return
        try:
            for r in range(1, self.wl.total_rounds + 1):
                self.round_s.append(self._call(r))
        except Exception:  # a round that raises is a failed round
            traceback.print_exc()
            self.failed = True

    def measured_s(self) -> list[float]:
        return self.round_s[WARMUP_ROUNDS:]

    # -- read back from committed state (after timing) -------------------

    def verify(self, want: dict) -> list[str]:
        from perfbench import golden

        if self.failed:
            return ["a round raised"]
        log = list(self.store.read_deltas("fetch_log")
                   .select("round", "priority", "host_id", "url", "seq")
                   .toPandas().itertuples(index=False, name=None))
        self.measured_fetches = sum(1 for row in log
                                    if row[0] > WARMUP_ROUNDS)
        seen = (self.store.read("seen", self.wl.total_rounds)
                .toPandas()["url"])
        return golden.check(log, seen, want)

    def table_bytes(self) -> list[dict[str, int]]:
        """Per measured round: bytes on disk of each table its manifest
        lists."""
        out = []
        for r in self.measured:
            with open(self.store._manifest(r)) as f:
                tables = json.load(f)["tables"]
            out.append({t: dir_bytes(p) for t, p in tables.items()})
        return out

    def counts(self, fallback_frames=()) -> dict[str, float]:
        """Row counts of the measured rounds, from committed tables."""
        st, rounds, last = self.store, self.measured, self.wl.total_rounds
        m = (st.read_deltas("metrics").where(f"round >= {rounds[0]}")
             .select("n_batch", "max_part_rows").collect())
        return {
            "engine.batch_rows": sum(x.n_batch for x in m) / len(rounds),
            "engine.new_rows": sum(st.read("seen_delta", r).count()
                                   for r in rounds) / len(rounds),
            "engine.dlq_rows": sum(st.read("dlq", r).count()
                                   for r in rounds) / len(rounds),
            "engine.max_part_rows": max(x.max_part_rows for x in m),
            "store.frontier_rows": st.read("frontier", last).count(),
            "store.seen_rows": st.read("seen", last).count(),
            "incremental.head_rows": (
                st.read("frontier_head", last).count()
                if st.has_table("frontier_head", last) else 0),
            "incremental.fallback_hosts": sum(
                fb.count() for fb in fallback_frames) / len(rounds),
        }


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) * 1024 / 1e6


def layer_metrics(tracer, crawl: Crawl, untraced_p50: float) -> dict:
    """Set-up layers, then per-round medians over the measured rounds of
    each round layer's top-level spans."""

    def per_round(names, attr):
        vals = []
        for r in crawl.measured:
            spans = [s for s in tracer.round_spans(r)
                     if s.name in names and s.depth == 0]
            vals.append(sum((s.end - s.start) if attr == "s"
                            else getattr(s, attr) for s in spans))
        return statistics.median(vals)

    def first(name):
        return next(s for s in tracer.spans if s.name == name)

    init = first("store.init_crawl")
    spark_span = first("session.get_spark")
    out = {
        "session.get_spark.s": spark_span.end - spark_span.start,
        "store.init_crawl.s": init.end - init.start,
        "store.init_crawl.jobs": init.jobs,
        "store.read.s": per_round(
            ("store.read", "store.has_table", "store.latest_round"), "s"),
    }
    for layer, attrs in (
            ("engine.run_round", ("s", "jobs", "task_s", "shuffle_write_mb",
                                  "spill_mb", "gc_s")),
            ("store.commit", ("s", "jobs", "task_s")),
            ("incremental.schedule_incremental", ("s", "jobs")),
            ("incremental.update_head", ("s", "jobs"))):
        for a in attrs:
            out[f"{layer}.{a}"] = per_round((layer,), a)
    by_round = crawl.table_bytes()
    out["store.commit.mb"] = statistics.median(
        sum(b.values()) / 1e6 for b in by_round)
    for t in TABLES:
        out[f"store.commit.mb.{t}"] = statistics.median(
            b.get(t, 0) / 1e6 for b in by_round)
    gaps, cover = [], []
    for r in crawl.measured:
        start, end = crawl.round_at[r]
        spans = [s for s in tracer.round_spans(r) if s.depth == 0]
        gaps.append((end - start) - sum(s.end - s.start for s in spans))
        cover.append(tracer.covered_s(start, end) / (end - start))
    out["trace.unattributed_s"] = statistics.median(gaps)
    out["trace.coverage"] = min(cover)
    out["trace.overhead"] = (statistics.median(crawl.measured_s())
                             / untraced_p50)
    out.update(crawl.counts(tracer.kept))
    return out


def bench(args) -> dict:
    """One run of one workload; returns the result record."""
    from perfbench import golden, stop_spark
    from perfbench.workloads import N_HOSTS, WORKLOADS, input_dir

    wl = WORKLOADS[args.workload]
    units = metric_units()
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)  # left by a killed run
    os.makedirs(run_dir)
    pin_environment(args.cores, run_dir, bool(args.trace))
    # inputs and expected output first, in child processes, untimed
    in_dir = input_dir(wl, args.seed, CACHE)
    want = golden.expected(CACHE, wl.n_pages(args.seed),
                           wl.n_seeds(args.seed), wl.total_rounds,
                           wl.k_per_host, N_HOSTS)
    from crawler_spark import session

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
    spark = None
    try:
        t_start = time.time()
        t0 = time.perf_counter()
        get_spark = (tracer.wrap("session.get_spark", session.get_spark)
                     if tracer else session.get_spark)
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        inputs = tuple(spark.read.parquet(os.path.join(in_dir, name))
                       for name in ("web", "robots", "seeds"))

        crawls: list[Crawl] = []

        def crawl(traced: bool = False) -> Crawl:
            c = Crawl(spark, wl, inputs,
                      os.path.join(run_dir, f"wh{len(crawls)}"),
                      tracer if traced else None)
            crawls.append(c)
            return c

        if tracer:
            # The JVM keeps warming over the first crawl, so the traced
            # crawl is the second and the untraced reference the third.
            # The set-up's round 0 (first crawl) is traced too.
            first = crawl(traced=True)
            with tracer.installed():
                first.init()
            first.tracer = None
            first.play()
            with tracer.installed():
                crawl(traced=True).run()
            crawl().run()
            tracer.harvest(spark, t_start)
        else:
            t_measure = time.perf_counter()
            while True:
                crawl().run()
                # the first crawl's round 0 belongs to the set-up
                elapsed = time.perf_counter() - t_measure - crawls[0].init_s
                if elapsed * (len(crawls) + 1) / len(crawls) > args.seconds:
                    break
        rss = peak_rss_mb(spark)

        errors = [f"crawl {i}: {e}" for i, c in enumerate(crawls)
                  for e in c.verify(want)]
        attempted = sum(len(c.round_s) + c.failed for c in crawls)
        failed = attempted if errors else 0
        rounds = [s for c in crawls for s in c.measured_s()]
        metrics = {}
        if errors:
            pass  # no figures from a crawl whose output is wrong
        elif tracer:
            metrics = layer_metrics(tracer, crawls[1],
                                    statistics.median(crawls[2].measured_s()))
        else:
            metrics = {
                "setup_s": session_s + crawls[0].init_s,
                "fetch_per_s": sum(c.measured_fetches for c in crawls)
                / sum(rounds),
                "round_s.p50": statistics.median(rounds),
                "commit_mb_per_round": statistics.median(
                    sum(sum(b.values()) for b in c.table_bytes())
                    / wl.rounds / 1e6 for c in crawls),
                "peak_rss_mb": rss,
            }
        return {
            "correct": not errors, "attempted": max(attempted, 1),
            "failed": failed, "errors": errors, "rounds": len(rounds),
            "crawls": len(crawls),
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def report(name: str, res: dict) -> None:
    for k, m in res["metrics"].items():
        extra = f"  (n={res['rounds']} rounds)" if k == "round_s.p50" else ""
        print(f"{name:24s} {k:40s} {m['value']:>14.4f} {m['unit']}{extra}")
    print(f"{name:24s} {'failed_round_ratio':40s} "
          f"{res['failed'] / res['attempted']:>14.4f} ratio  "
          f"({res['failed']}/{res['attempted']} rounds, "
          f"{res['crawls']} crawls)")
    cov = res["metrics"].get("trace.coverage")
    if cov is not None and cov["value"] < 0.9:
        print(f"{name:24s} NOTE spans and jobs cover only "
              f"{cov['value']:.0%} of a round's wall time")
    for e in res["errors"]:
        print(f"{name:24s} MISMATCH {e}")


def run_all(args) -> int:
    """Each workload in its own process (own JVM), in turn."""
    from perfbench.workloads import WORKLOADS

    rc = 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--cores", str(args.cores)],
            stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        rc = rc or proc.returncode
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int,
                    default=len(os.sched_getaffinity(0)),
                    help="local[N] parallelism (default: nproc)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "crawler_spark")):
        print(f"perfbench: no crawler_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of all, {', '.join(WORKLOADS)}")
    res = bench(args)
    report(args.workload, res)
    print(json.dumps({k: res[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
