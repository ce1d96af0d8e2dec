"""Tier-1 runs the benchmark's golden gate: the simulator's own output
passes it and any perturbation fails it. No Spark needed; the tests live
in perfbench/test_golden.py and are collected here through the import."""

from perfbench.test_golden import *  # noqa: F401,F403
