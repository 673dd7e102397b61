"""Spans and counters for the traced run, plus readers for Spark's hooks.

Spans are recorded from the benchmark's own files: ``Tracer.patch``
wraps a public entry point of an engine class for the duration of the
run, so the engine's code is unchanged. Spans live in memory and are
written once at exit. A layer's self time is its span's duration minus
the part of that interval its child spans cover.

Spark's own hooks supply the rest: ``StreamingQuery.recentProgress``
for the trigger phases and state, and the uncompressed event log for
per-job-group task metrics.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from typing import Any, Callable


class Tracer:
    """In-memory span and counter store. A disabled tracer records
    nothing and patches nothing, so the untraced run pays no cost."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[tuple[int, str, float, float, int | None]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[type, str, Any]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str) -> "_Span":
        return _Span(self, name)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += n

    def patch(self, cls: type, attr: str, name: str, after: Callable | None = None) -> None:
        """Wrap the method ``cls.attr`` in a span named ``name`` until
        ``unpatch``; ``after(instance, result)`` runs after each call."""
        if not self.enabled:
            return
        orig = cls.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(obj, *args, **kwargs):
            with tracer.span(name):
                out = orig(obj, *args, **kwargs)
            if after is not None:
                after(obj, out)
            return out

        self._undo.append((cls, attr, orig))
        setattr(cls, attr, traced)

    def unpatch(self) -> None:
        while self._undo:
            cls, attr, orig = self._undo.pop()
            setattr(cls, attr, orig)

    # -- reductions ---------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [e - s for _, n, s, e, _ in self.spans if n == name]

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for _, _, s, e, parent in self.spans:
            if parent is not None:
                children[parent].append((s, e))
        out: dict[str, float] = defaultdict(float)
        for sid, name, s, e, _ in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for cs, ce in sorted(children.get(sid, ())):
                cs, ce = max(cs, s), min(ce, e)
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[name] += (e - s) - covered
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        payload = {
            "run_id": self.run_id,
            "spans": [
                {"id": i, "name": n, "start": s, "end": e, "parent": p, "run": self.run_id}
                for i, n, s, e, p in self.spans
            ],
            "self_time_s": self.self_times(),
            "counters": dict(self.counters),
            **extra,
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(payload, fh, default=str)


class _Span:
    __slots__ = ("tracer", "name", "sid", "parent", "start")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> "_Span":
        if self.tracer.enabled:
            st = self.tracer._stack()
            self.parent = st[-1] if st else None
            self.sid = next(self.tracer._ids)
            st.append(self.sid)
            self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        if self.tracer.enabled:
            end = time.perf_counter()
            self.tracer._stack().pop()
            with self.tracer._lock:
                self.tracer.spans.append((self.sid, self.name, self.start, end, self.parent))


# -- Spark hooks ---------------------------------------------------------------


def progress_rollup(progress: list[dict]) -> dict[str, float]:
    """Per-trigger phases from ``StreamingQuery.recentProgress`` of all
    statements: medians over triggers that carried data, and the
    largest state seen."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in data]

    def med(key: str) -> float:
        vals = [d[key] for d in dur if key in d]
        return float(statistics.median(vals)) if vals else 0.0

    def state(p: dict, key: str) -> int:
        return sum(op.get(key, 0) for op in p.get("stateOperators", []))

    by_query: dict[str, list[dict]] = defaultdict(list)
    for p in progress:
        by_query[p.get("name") or p.get("id")].append(p)
    rows = sum(max((state(p, "numRowsTotal") for p in ps), default=0) for ps in by_query.values())
    mem = sum(max((state(p, "memoryUsedBytes") for p in ps), default=0) for ps in by_query.values())
    return {
        "streaming.trigger_ms": med("triggerExecution"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.commit_offsets_ms": med("commitOffsets"),
        "streaming.query_planning_ms": med("queryPlanning"),
        "sources.latest_offset_ms": med("latestOffset"),
        "streaming.triggers": float(len(data)),
        "streaming.state_rows": float(rows),
        "streaming.state_memory_bytes": float(mem),
    }


_TASK_KEYS = (
    "spark.task_cpu_s",
    "spark.task_run_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.stages",
    "spark.tasks",
)


def event_log_rollup(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics from every uncompressed event log under ``log_dir``,
    summed per job group (``spark.jobGroup.id``). Streaming micro-batches
    carry their query's runId as group; jobs outside any group, such as
    a facade batch statement on the service's own thread, land in "-"."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(_TASK_KEYS, 0.0))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    groups[stage_group.get(sid, "-")]["spark.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = groups[stage_group.get(ev.get("Stage ID"), "-")]
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    g["spark.tasks"] += 1
                    g["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["spark.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    g["spark.shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    g["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {k: dict(v) for k, v in groups.items()}


def sum_groups(groups: dict[str, dict[str, float]]) -> dict[str, float]:
    total = dict.fromkeys(_TASK_KEYS, 0.0)
    for g in groups.values():
        for k, v in g.items():
            total[k] += v
    return total
