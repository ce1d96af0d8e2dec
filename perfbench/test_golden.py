"""The golden gate accepts the simulator's own output and rejects any
perturbation of it. No Spark needed:
``python3 -m pytest perfbench/test_golden.py -q``."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark.frontier import simulator  # noqa: E402
from perfbench import golden  # noqa: E402

ARGS = (3000, 40, 3, 4, 50)  # n_pages, n_seeds, rounds, k, n_hosts


@pytest.fixture(scope="module")
def sim():
    return simulator.simulate(*ARGS)


@pytest.fixture(scope="module")
def want():
    return golden.simulate_record(*ARGS)


def test_exact_output_passes(sim, want):
    assert len(sim.fetch_log) > 100
    assert golden.check(reversed(sim.fetch_log), sim.seen, want) == []


def test_perturbed_fetch_log_fails(sim, want):
    log = list(sim.fetch_log)
    rnd, prio, host, url, seq = log[7]
    log[7] = (rnd, prio, host, url, seq + 1)
    errors = golden.check(log, sim.seen, want)
    assert errors and errors[0].startswith("digest")


def test_missing_fetch_row_fails(sim, want):
    assert golden.check(sim.fetch_log[1:], sim.seen, want)


def test_perturbed_seen_fails(sim, want):
    seen = set(sim.seen)
    seen.discard(next(iter(sorted(seen))))
    seen.add("https://h1.synth.test/search/apa?p=999999")
    assert golden.check(sim.fetch_log, seen, want)


def test_expected_is_cached(tmp_path, want):
    assert golden.expected(str(tmp_path), *ARGS) == want
    assert len(os.listdir(tmp_path)) == 1
    assert golden.expected(str(tmp_path), *ARGS) == want


def test_page_counts_keep_the_graph_shape():
    from perfbench.workloads import WORKLOADS

    for wl in WORKLOADS.values():
        for seed in range(5):
            n = wl.n_pages(seed)
            assert n % 31 and n % 3000 == wl.base_pages % 3000
