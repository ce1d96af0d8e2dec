"""Golden output gate: a crawl's fetch log and final seen set must equal
the pure-Python simulator's (``frontier/simulator.py``) for the same
inputs, byte for byte.

Both sides are reduced to one SHA-256 over a canonical serialization
(sorted fetch-log tuples, then sorted seen URLs), so the expected side is
cached as a few bytes per input size and the comparison is exact.

The simulator holds the whole web in a dict (about 1 GB at 4M pages), so
``expected`` runs it in a child process: the benchmark's own peak-memory
reading then never depends on whether the cache was warm.

Run as a script it prints the expected record as JSON:
``python3 perfbench/golden.py N_PAGES N_SEEDS ROUNDS K N_HOSTS``.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def digest(fetch_log, seen) -> str:
    """Canonical hash of (round, priority, host_id, url, seq) rows and
    seen URLs; insensitive to row order, sensitive to every value."""
    h = hashlib.sha256()
    for row in sorted(tuple(r) for r in fetch_log):
        h.update(repr(tuple(int(v) if i != 3 else str(v)
                            for i, v in enumerate(row))).encode())
        h.update(b"\n")
    h.update(b"\x00")
    for url in sorted(seen):
        h.update(url.encode())
        h.update(b"\n")
    return h.hexdigest()


def simulate_record(n_pages: int, n_seeds: int, rounds: int, k: int,
                    n_hosts: int) -> dict:
    from crawler_spark.frontier import simulator

    sim = simulator.simulate(n_pages, n_seeds, rounds, k, n_hosts)
    return {"digest": digest(sim.fetch_log, sim.seen),
            "fetch_rows": len(sim.fetch_log), "seen_rows": len(sim.seen)}


def expected(cache_dir: str, n_pages: int, n_seeds: int, rounds: int,
             k: int, n_hosts: int) -> dict:
    """Simulator record for these inputs, cached on disk. The key is the
    input sizes, so two workloads with the same inputs (the two frontier
    modes) share one expected result, plus a hash of the simulator and
    the spec and generator it follows: a change to any of them recomputes
    the record."""
    from perfbench import source_hash

    src = source_hash("simulator.py", "spec.py", "synth.py")
    key = f"sim-{n_pages}-{n_seeds}-{rounds}-{k}-{n_hosts}-{src}.json"
    path = os.path.join(cache_dir, key)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__),
         *map(str, (n_pages, n_seeds, rounds, k, n_hosts))],
        check=True, capture_output=True, text=True, timeout=170)
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, path)
    return rec


def check(fetch_log, seen, want: dict) -> list[str]:
    """Differences between a crawl's output and the expected record
    (empty list = equal)."""
    errors = []
    fetch_log, seen = list(fetch_log), set(seen)
    if len(fetch_log) != want["fetch_rows"]:
        errors.append(f"fetch_log rows {len(fetch_log)} != "
                      f"{want['fetch_rows']}")
    if len(seen) != want["seen_rows"]:
        errors.append(f"seen rows {len(seen)} != {want['seen_rows']}")
    got = digest(fetch_log, seen)
    if got != want["digest"]:
        errors.append(f"digest {got[:12]} != {want['digest'][:12]}")
    return errors


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    print(json.dumps(simulate_record(*map(int, sys.argv[1:6]))))
