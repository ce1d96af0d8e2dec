"""The three crawl workloads and their inputs.

Every workload crawls the synthetic web of ``frontier/synth.py`` over
1000 hosts (hosts 0-2 hold about a quarter of the pages: Zipf-like
skew). The workload seed shifts the page count by a multiple of 3000,
which gives a different crawl graph of the same shape: the page count
keeps its residues mod 3, 4, 10 and 1000, which decide hot-host, listing
and host assignment. (An arbitrary offset changes those and moved fetch
counts by up to 12% between seeds.) The simulator still gives the exact
expected output.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_HOSTS = 1000
WARMUP_ROUNDS = 1  # unmeasured rounds before the measured ones


@dataclass(frozen=True)
class Workload:
    name: str
    base_pages: int
    k_per_host: int
    rounds: int                   # measured rounds per crawl
    seeds: int | None = None      # None = seed every listing page
    frontier_mode: str = "full"

    @property
    def total_rounds(self) -> int:
        return WARMUP_ROUNDS + self.rounds

    def n_pages(self, seed: int) -> int:
        # never a multiple of 31: outlinks are (31p + 17i + 1) mod n, and
        # a shared factor collapses the link graph (403000 fetched a third)
        return self.base_pages + 3000 * (seed % 5)

    def n_seeds(self, seed: int) -> int:
        # listing pages are p % 10 == 0, so this seeds each one exactly once
        return self.seeds or (self.n_pages(seed) + 9) // 10


# Why each workload exists is recorded in BENCHMARK.json and NOTES.md.
WORKLOADS = {w.name: w for w in (
    Workload("crawl_shallow", base_pages=300_000, k_per_host=8, rounds=3,
             seeds=100),
    Workload("crawl_deep", base_pages=420_000, k_per_host=64, rounds=2),
    Workload("crawl_deep_incremental", base_pages=420_000, k_per_host=64,
             rounds=2, frontier_mode="incremental"),
)}


def input_dir(wl: Workload, seed: int, cache_dir: str) -> str:
    """Parquet web, robots and seeds for this workload and seed, made on
    first use and kept in ``cache_dir``.

    The tables stand in for the web, not for work a crawler pays, and
    generating a 420k-page web takes about 9 s. They are generated in a
    child process (its own JVM), so every measured run starts from the
    same cold JVM whether or not the cache was warm. The key includes a
    hash of the generator's source: a changed ``synth.py`` or ``spec.py``
    regenerates them."""
    from perfbench import source_hash

    n_pages, n_seeds = wl.n_pages(seed), wl.n_seeds(seed)
    path = os.path.join(cache_dir, f"inputs-{n_pages}-{n_seeds}-"
                                   f"{source_hash('synth.py', 'spec.py')}")
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        subprocess.run([sys.executable, os.path.abspath(__file__), tmp,
                        str(n_pages), str(n_seeds)], check=True, timeout=170)
        try:
            os.rename(tmp, path)
        except OSError:  # a concurrent run got there first
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def write_inputs(out_dir: str, n_pages: int, n_seeds: int) -> None:
    from crawler_spark.frontier import synth
    from crawler_spark.session import get_spark
    from perfbench import stop_spark

    spark = get_spark("perfbench-inputs")
    try:
        for name, df in (
                ("web", synth.web_graph(spark, n_pages, N_HOSTS)),
                ("robots", synth.robots_dim(spark, N_HOSTS)),
                ("seeds", synth.seed_urls(spark, n_pages, n_seeds, N_HOSTS))):
            df.write.parquet(os.path.join(out_dir, name))
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    write_inputs(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
