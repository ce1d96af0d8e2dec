"""Layer spans for the traced run, plus Spark job and stage attribution.

Spans are recorded from the benchmark's side: ``Tracer.install`` swaps
each layer's public function for a wrapper that notes (name, start, end,
depth, round). The program itself is not edited; the layers are named
after their modules (``session``, ``store``, ``engine``,
``incremental``).

After the crawl, ``harvest`` reads every job and stage from the driver's
status store (filled even with ``spark.ui.enabled=false``). A job belongs
to each span whose interval contains its submission time; a stage's
metrics go to the spans containing the stage's own submission time, so a
stage reused (skipped) by a later job is counted once. Submission time is
used because job call sites are useless here: AQE submits from pool
threads, and ``RoundStore.commit`` writes from its own thread pool.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

from crawler_spark.frontier import incremental
from crawler_spark.frontier import store as store_mod
from perfbench.workloads import WARMUP_ROUNDS


@dataclass
class Span:
    name: str
    start: float
    end: float
    depth: int
    round: int | None
    jobs: int = 0
    task_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0


@dataclass
class Job:
    submitted: float
    completed: float


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    round: int | None = None
    jobs: list[Job] = field(default_factory=list)
    # incremental fallback-host frames of the measured rounds: tiny and
    # checkpointed by the program, kept to be counted after the crawl
    kept: list = field(default_factory=list)
    _depth: int = 0
    _undo: list = field(default_factory=list)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            start = time.time()
            self._depth += 1
            try:
                result = fn(*args, **kwargs)
                if name == "incremental.schedule_incremental" \
                        and self.round > WARMUP_ROUNDS:
                    self.kept.append(result[1])
                return result
            finally:
                self._depth -= 1
                self.spans.append(
                    Span(name, start, time.time(), self._depth, self.round))
        return traced

    def _patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig))

    def install(self) -> None:
        """Wrap the layer entry points the checkpointed crawl calls.
        ``run_round`` and ``init_crawl`` are patched where ``store``
        looks them up; the incremental functions are imported at call
        time inside the crawl loop, so patching the module suffices."""
        self._patch(store_mod, "init_crawl", "store.init_crawl")
        self._patch(store_mod, "run_round", "engine.run_round")
        for attr in ("commit", "read", "has_table", "latest_round"):
            self._patch(store_mod.RoundStore, attr, f"store.{attr}")
        for attr in ("schedule_incremental", "update_head"):
            self._patch(incremental, attr, f"incremental.{attr}")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    @contextlib.contextmanager
    def installed(self):
        self.install()
        try:
            yield self
        finally:
            self.uninstall()

    def harvest(self, spark, since: float) -> None:
        """Attribute every job and stage submitted after ``since`` (epoch
        seconds) to the spans containing its submission time."""
        sc = spark.sparkContext
        jsc, jvm = sc._jsc.sc(), sc._jvm
        jsc.listenerBus().waitUntilEmpty()
        status = jsc.statusStore()
        as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava

        def epoch(opt_date):
            return opt_date.get().getTime() / 1000 if opt_date.isDefined() \
                else None

        for job in as_java(status.jobsList(None)):
            sub = epoch(job.submissionTime())
            if sub is None or sub < since:
                continue
            done = epoch(job.completionTime()) or sub
            self.jobs.append(Job(sub, done))
            for span in self._containing(sub):
                span.jobs += 1
        stages = as_java(status.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()))
        for st in stages:
            sub = epoch(st.submissionTime())
            if sub is None or sub < since:
                continue  # skipped stage: its work ran in an earlier job
            for span in self._containing(sub):
                span.task_s += st.executorRunTime() / 1000
                span.shuffle_write_mb += st.shuffleWriteBytes() / 1e6
                span.spill_mb += st.memoryBytesSpilled() / 1e6
                span.gc_s += st.jvmGcTime() / 1000

    def _containing(self, t: float) -> list[Span]:
        # status-store times have millisecond resolution: widen by 1 ms
        return [s for s in self.spans if s.start - 1e-3 <= t <= s.end]

    def round_spans(self, r: int) -> list[Span]:
        return [s for s in self.spans if s.round == r]

    def covered_s(self, start: float, end: float) -> float:
        """Length of [start, end] covered by the union of the spans and
        the job intervals that fall inside it."""
        iv = [(max(s.start, start), min(s.end, end)) for s in self.spans]
        iv += [(max(j.submitted, start), min(j.completed, end))
               for j in self.jobs]
        iv = sorted((a, b) for a, b in iv if b > a)
        total, cur_a, cur_b = 0.0, None, None
        for a, b in iv:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    total += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            total += cur_b - cur_a
        return total
