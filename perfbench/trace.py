"""Spans around calls into the engine's layers, and the per-job counters
Spark's event log holds for them.

A span covers one call of a layer's public function. Its construct time is
how long the Python call takes to return; a lazy result is then forced with
a ``noop`` write, and the span's cumulative time runs to the end of that
write. A span's self time is its cumulative time minus the execution part
(cumulative minus construct) of the spans whose outputs it consumed:
forcing it runs their jobs again, but does not build their plans again.
Where the engine cached a consumed output (its own ``materialize``), the
consumer does not repeat that work and its self time reads low, even below
zero.

The Spark job description is set to the span's id for the whole span
(a nested span sets its own and restores it), so CPU time, shuffle bytes
and spill of the span's own jobs, recomputed inputs included, can be read
back from the event log once the session has stopped.

Tracing off, :meth:`Tracer.call` only calls through.
"""

from __future__ import annotations

import json
import math
import re
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from .common import median


@dataclass
class Span:
    name: str
    sid: str
    construct_s: float = 0.0
    cum_s: float = 0.0
    inputs: list["Span"] = field(default_factory=list)
    #: spans opened while this one was open (calls it made itself)
    children: list["Span"] = field(default_factory=list)

    @property
    def exec_s(self) -> float:
        """The part of the span that forcing a consumer repeats."""
        return self.cum_s - self.construct_s

    @property
    def self_s(self) -> float:
        return (self.cum_s - sum(c.cum_s for c in self.children)
                - sum(i.exec_s for i in self.inputs))


class Tracer:
    """Records spans for one pass; ``round`` groups them per repetition."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[tuple[int, Span]] = []
        self.round = 0
        self.outputs: dict[tuple[str, str], object] = {}
        self._last: dict[tuple[str, str], Span] = {}
        self._open: list[Span] = []

    def call(self, name: str, fn, *, inputs=(), tag: str = "", force: bool = True):
        """Run ``fn()`` as one span of layer call ``name``; ``inputs`` are
        the spans (or ``(name, tag)`` keys of earlier spans) it consumes."""
        if not self.enabled:
            return fn()
        from pyspark.sql import DataFrame

        sc = self.spark.sparkContext
        span = Span(name, f"span:{len(self.spans)}:{name}")
        span.inputs = [s for s in (self._last.get(i) if isinstance(i, tuple) else i
                                   for i in inputs) if s is not None]
        if self._open:
            self._open[-1].children.append(span)
        self.spans.append((self.round, span))
        self._open.append(span)
        sc.setJobDescription(span.sid)
        try:
            t0 = time.perf_counter()
            out = fn()
            t1 = time.perf_counter()
            if force and isinstance(out, DataFrame):
                out.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        finally:
            self._open.pop()
            sc.setJobDescription(self._open[-1].sid if self._open else None)
        span.construct_s, span.cum_s = t1 - t0, t2 - t0
        self._last[(name, tag)] = span
        self.outputs[(name, tag)] = out
        return out

    def last(self, name: str, tag: str = "") -> Span | None:
        return self._last.get((name, tag))

    @contextmanager
    def wrapped(self, module, attr: str, name: str, inputs, tag: str = ""):
        """Within the block, route calls of ``module.attr`` (a name that
        module's own code looks up) through a span; ``inputs()`` gives the
        consumed spans at call time."""
        fn = getattr(module, attr)
        if not self.enabled:
            yield
            return

        def traced(*args, **kwargs):
            return self.call(name, lambda: fn(*args, **kwargs), inputs=inputs(), tag=tag)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, fn)


@dataclass
class JobCounters:
    cpu_ms: float = 0.0
    shuffle_bytes: float = 0.0
    spill_bytes: float = 0.0
    #: per stage: task run times in ms
    stage_tasks: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))
    #: per stage: what it ran (see :func:`stage_signature`)
    stage_sig: dict[int, tuple] = field(default_factory=dict)


def stage_signature(info: dict) -> tuple:
    """A stage's task count and the plan operators it ran, without the ids
    Spark numbers them with: the same work run again by a later job reads
    the same."""
    ops = set()
    for rdd in info.get("RDD Info", ()):
        if rdd.get("Scope"):
            ops.add(re.sub(r"\s*\(\d+\)$", "", json.loads(rdd["Scope"])["name"]).strip())
    return info["Number of Tasks"], tuple(sorted(ops))


def read_event_log(log_dir: Path) -> dict[str, JobCounters]:
    """Job description -> counters summed over the tasks of its stages."""
    stage_desc: dict[int, str] = {}
    out: dict[str, JobCounters] = defaultdict(JobCounters)
    # Spark 4 rolls the log into eventlog_v2_<app>/events_<n>_<app> files
    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(
        ("appstatus", "."))]
    files.sort(key=lambda p: int(p.name.split("_")[1]) if p.name.startswith("events_")
               else 0)
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    if desc:
                        sid = ev["Stage Info"]["Stage ID"]
                        stage_desc[sid] = desc
                        out[desc].stage_sig[sid] = stage_signature(ev["Stage Info"])
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if desc is None or not m:
                        continue
                    c = out[desc]
                    c.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    c.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    c.stage_tasks[ev["Stage ID"]].append(m.get("Executor Run Time", 0))
    return out


def task_skew(own: JobCounters, inputs: list[JobCounters]) -> float:
    """Slowest task / median task in the heaviest stage (the most summed
    task time) of a span's jobs, among the stages none of its input spans
    also ran: forcing a span recomputes its inputs, and their stages are
    not its own. A stage of one task reads 1."""
    seen = Counter(sig for c in inputs for sig in c.stage_sig.values())
    stages = []
    for sid, tasks in own.stage_tasks.items():
        sig = own.stage_sig.get(sid)
        if seen[sig] > 0:
            seen[sig] -= 1
        else:
            stages.append(tasks)
    if not stages:
        return math.nan
    heavy = max(stages, key=sum)
    mid = median(heavy)
    return max(heavy) / mid if mid > 0 else 1.0


def call_layers(spans: list[tuple[int, Span]], counters: dict[str, JobCounters],
                names: list[str]) -> dict[str, float]:
    """Per layer call name: the five span metrics, summed over the calls of
    one round and then the median over rounds; NaN for a call that never
    ran."""
    per_round: dict[str, dict[int, dict[str, float]]] = defaultdict(dict)
    for rnd, s in spans:
        acc = per_round[s.name].setdefault(
            rnd, {"self_s": 0.0, "construct_ms": 0.0, "cpu_ms": 0.0,
                  "shuffle_bytes": 0.0, "spill_bytes": 0.0})
        c = counters.get(s.sid, JobCounters())
        acc["self_s"] += s.self_s
        acc["construct_ms"] += s.construct_s * 1000
        acc["cpu_ms"] += c.cpu_ms
        acc["shuffle_bytes"] += c.shuffle_bytes
        acc["spill_bytes"] += c.spill_bytes
    out = {}
    for name in names:
        rounds = list(per_round.get(name, {}).values())
        for m in ("self_s", "construct_ms", "cpu_ms", "shuffle_bytes", "spill_bytes"):
            out[f"{name}.{m}"] = median([r[m] for r in rounds]) if rounds else math.nan
    return out
