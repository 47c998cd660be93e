"""Spark-side helpers: session start/stop, engine counters read from the
SparkContext status store, a span recorder and a peak-memory sampler.

Everything here observes the engine from outside: counters come from the
status store every Spark application keeps (the same numbers the Spark UI
shows), memory from ``/proc`` for the Spark JVM and its Python workers.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field


def start_session():
    """Start the engine's own session (``session.get_spark``); returns the
    session and the seconds it took."""
    from postfix_log_parser_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    return spark, time.perf_counter() - t0


STOP_TIMEOUT_S = 30.0
RSS_INTERVAL_S = 0.25


def stop_session(spark) -> None:
    """Stop every streaming query, the session and the JVM, and wait up to
    ``STOP_TIMEOUT_S`` for the JVM process to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    for q in spark.streams.active:
        try:
            q.stop()
        except Exception:  # noqa: BLE001 - shutting down regardless
            pass
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# engine counters
# ---------------------------------------------------------------------------

COUNTERS = (
    "task_cpu_s", "gc_s", "input_bytes", "input_records",
    "shuffle_write_bytes", "spill_bytes", "failed_tasks",
)


class StageCounters:
    """Cumulative task metrics over all stages the status store has seen.

    ``snapshot()`` drains the listener bus first, so the metrics of a job
    that has returned are already recorded.  Stages seen in an earlier
    snapshot are remembered, so the totals stay right after the store
    evicts old stages."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._done: dict = {}  # stage id -> counter tuple, for finished stages

    def snapshot(self) -> dict:
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        store = self._jsc.statusStore()
        stages = store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            getattr(store, "stageList$default$4")(),
            getattr(store, "stageList$default$5")(),
        )
        live = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self._done:
                break  # the list is newest-first; older stages are recorded
            vals = (
                s.executorCpuTime() / 1e9, s.jvmGcTime() / 1e3, s.inputBytes(),
                s.inputRecords(), s.shuffleWriteBytes(),
                s.memoryBytesSpilled() + s.diskBytesSpilled(), s.numFailedTasks(),
            )
            if s.status().toString() in ("COMPLETE", "FAILED", "SKIPPED"):
                self._done[key] = vals
            else:
                live[key] = vals
        totals = dict.fromkeys(COUNTERS, 0)
        for vals in list(self._done.values()) + list(live.values()):
            for name, v in zip(COUNTERS, vals):
                totals[name] += v
        return totals


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans (name, start, end, parent, run id) in memory, each
    with the engine-counter deltas over its interval."""

    def __init__(self, counters: StageCounters | None, run_id: str):
        self.counters = counters
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def last(self, name: str) -> Span:
        return next(s for s in reversed(self.spans) if s.name == name)

    def records(self) -> list:
        return [
            {"run": self.run_id, "name": s.name, "start": round(s.start, 6),
             "end": round(s.end, 6), "parent": s.parent, "counters": s.counters}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.span = Span(name, 0.0, parent=tracer._stack[-1].name if tracer._stack else None)
        self._before = None

    def __enter__(self) -> Span:
        if self.tracer.counters is not None:
            self._before = self.tracer.counters.snapshot()
        self.span.start = time.perf_counter()
        self.tracer._stack.append(self.span)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        self.tracer._stack.pop()
        if self._before is not None:
            after = self.tracer.counters.snapshot()
            self.span.counters = {k: after[k] - self._before[k] for k in after}
        self.tracer.spans.append(self.span)


# ---------------------------------------------------------------------------
# peak resident memory of the Spark JVM + Python workers
# ---------------------------------------------------------------------------


def _children() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    between the processes sharing it.  Python workers are forked from one
    daemon and share most of its pages, so summing plain RSS over them
    counts those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants_rss_mb() -> float:
    """Resident memory (PSS) of every descendant of this process — the
    spark-submit JVM and the Python workers it forks — in MiB."""
    kids = _children()
    todo = list(kids.get(os.getpid(), []))
    total = 0
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024


class RssSampler:
    """Background sampler of ``descendants_rss_mb`` every ``RSS_INTERVAL_S``;
    ``peak`` is the max."""

    def __init__(self):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_mb())
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
