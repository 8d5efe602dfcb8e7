"""Measurement helpers: process-tree CPU, host drift probe, result digests,
and the span tracer that aggregates Spark accounting per layer."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.sparkstats import CallStats, SparkAccounting

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited while we listed
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        # after the command: state ppid ... utime(11) stime cutime cstime
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def _tree(stats: dict[int, tuple[int, int]], root: int) -> list[int]:
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the JVM and its Python workers), counting children they have reaped."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree(stats, os.getpid()) if p in stats) / _TICK


def descendants() -> list[int]:
    """Live processes started, directly or not, by this process."""
    return _tree(_proc_stats(), os.getpid())[1:]


def running(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_probe(spark) -> dict[str, float]:
    """Fixed reference work timed on this host: a pure-Python loop and a
    small Spark job.  Recorded at the start and end of every run so a shift
    on unchanged code can be put down to the host; never used to scale."""
    def py_loop() -> None:
        acc = 0
        for i in range(300_000):
            acc += i * i % 7

    def spark_job() -> None:
        spark.range(1_000_000).selectExpr("sum(id % 7)").collect()

    out = {}
    for key, fn in (("py_loop_s", py_loop), ("spark_job_s", spark_job)):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        out[key] = min(times)
    return out


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (decimal.Decimal, datetime.date, datetime.datetime)):
        return str(v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):  # Row is a tuple
        return tuple(_norm(x) for x in v)
    return v


def digest(rows: list) -> str:
    """Order-insensitive digest of collected rows, column names included."""
    cols = tuple(rows[0].__fields__) if rows else ()
    h = hashlib.sha256(repr(cols).encode())
    for line in sorted(repr(_norm(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def gmean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Times calls; when given Spark accounting, also runs each call under
    its own job group and charges what Spark did to the call's layer.

    Layers nest (``graph.commit`` contains ``storage.commit``): a parent's
    totals include its children, each child's layer gets its own share.
    """

    def __init__(self, acct: SparkAccounting | None):
        self.acct = acct
        self.spans: list[Span] = []
        self.layers: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        self.trace_id = 0
        self.overhead_s = 0.0  # time spent reading Spark's accounting
        self._stack: list[tuple[int, str, CallStats]] = []

    @property
    def on(self) -> bool:
        return self.acct is not None

    def call(self, layer: str, fn, *args, op: str | None = None, **kwargs):
        """Run ``fn(*args, **kwargs)``; returns (result, wall seconds).
        ``op`` names the span (default: the layer)."""
        if not self.on:
            t0 = time.perf_counter()
            result = fn(*args, **kwargs)
            return result, time.perf_counter() - t0
        parent = self._stack[-1] if self._stack else None
        group = self.acct.new_group(layer)
        child_stats = CallStats()
        self._stack.append((len(self.spans), group, child_stats))
        self.spans.append(Span(op or layer, 0.0, 0.0, parent[0] if parent else None,
                               self.trace_id))
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        finally:
            wall = time.perf_counter() - t0
            idx, _, _ = self._stack.pop()
            self.acct.set_group(parent[1] if parent else None)
        t1 = time.perf_counter()
        self.acct.settle()
        stats = self.acct.read(group)
        self.overhead_s += time.perf_counter() - t1
        stats.add(child_stats)
        if parent:
            parent[2].add(stats)
        span = self.spans[idx]
        span.start, span.end = t0, t0 + wall
        span.attrs = {"jobs": stats.jobs, "stages": stats.stages}
        agg = self.layers[layer]
        agg["calls"] += 1
        agg["wall_s"] += wall
        agg["driver_s"] += max(0.0, wall - stats.stage_busy_s)
        agg["exec_s"] += stats.exec_s
        agg["jobs"] += stats.jobs
        agg["stages"] += stats.stages
        agg["tasks"] += stats.tasks
        agg["shuffle_write_mb"] += stats.shuffle_write_b / 2**20
        agg["shuffle_read_mb"] += stats.shuffle_read_b / 2**20
        agg["input_mb"] += stats.input_b / 2**20
        return result, wall

    def add(self, layer: str, key: str, value: float) -> None:
        if self.on:
            self.layers[layer][key] += value

    def span_dicts(self) -> list[dict]:
        return [
            {"name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, "trace_id": s.trace_id, **s.attrs}
            for s in self.spans
        ]
