"""Traced-run machinery: an in-memory span recorder, proxies and module
patches that open spans at layer boundaries, and a standard-library parser
for Spark's uncompressed event log.

Every span sets a Spark job group named after its id, so each Spark job in
the event log is attributed to the innermost span that launched it.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    parent: int | None
    op: int | None
    start: float = 0.0
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; ``dump`` writes them out at exit. One
    thread: the workloads run the scheduler at ``max_concurrency=1``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: int | None = None
        #: Time spent inside the recorder itself (span bookkeeping and the
        #: job-group calls), the in-process part of the tracing overhead.
        self.own_s = 0.0

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = Span(name, self.stack[-1] if self.stack else None, self.op)
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(f"s{sid}", name)
        rec.start = time.perf_counter()
        self.own_s += rec.start - t_in
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(f"s{self.stack[-1]}", self.spans[self.stack[-1]].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.own_s += time.perf_counter() - rec.end

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                out[s.parent].append(i)
        return out

    def self_times(self) -> list[float]:
        """Span duration minus the time its (sequential) children cover."""
        kids = self.children()
        return [s.dur - sum(self.spans[k].dur for k in kids.get(i, ())) for i, s in enumerate(self.spans)]

    def dump(self, path: str, extra: dict) -> None:
        """Write every span ([name, start, end, parent, op]), the total self
        time per span name, and ``extra``."""
        self_s: dict[str, float] = defaultdict(float)
        for s, t in zip(self.spans, self.self_times()):
            self_s[s.name] += t
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [
                        [s.name, round(s.start, 6), round(s.end, 6), s.parent, s.op] for s in self.spans
                    ],
                    "self_s": self_s,
                    **extra,
                },
                fh,
            )


class Proxy:
    """Forwards attribute access to ``target``; the named methods run
    inside a span of the given name."""

    def __init__(self, target, tracer: Tracer, methods: dict[str, str]) -> None:
        self._target = target
        self._traced = {m: tracer.wrap(getattr(target, m), n) for m, n in methods.items()}

    def __getattr__(self, item):
        if item in self._traced:
            return self._traced[item]
        return getattr(self._target, item)


@contextmanager
def patched(module, tracer: Tracer, names: dict[str, str]):
    """Replace module-level functions with traced wrappers for the block."""
    saved = {n: getattr(module, n) for n in names}
    try:
        for n, span_name in names.items():
            setattr(module, n, tracer.wrap(saved[n], span_name))
        yield
    finally:
        for n, fn in saved.items():
            setattr(module, n, fn)


# -- event log ---------------------------------------------------------------

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Spark counters per job group (``s<span id>``; ``""`` for jobs run
    outside any span). Stages shared by several jobs count for the first."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_COUNTERS, 0.0))
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_group.get(sid, "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                c = out[stage_group.get(ev["Stage ID"], "")]
                c["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(out)


def spark_by_span(tracer: Tracer, groups: dict[str, dict[str, float]]) -> list[dict[str, float]]:
    """Event-log counters per span index (zeros for spans launching no job)."""
    per = [dict.fromkeys(SPARK_COUNTERS, 0.0) for _ in tracer.spans]
    for g, c in groups.items():
        if g.startswith("s") and g[1:].isdigit() and int(g[1:]) < len(per):
            per[int(g[1:])] = c
    return per
