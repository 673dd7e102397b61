"""The two streaming workloads: ``dashboard`` and ``changelog_churn``.

Both feed the engine's file-backed ``user`` stream (one parquet file =
one micro-batch) and read results only over the HTTP facade, folding
pages through ``changelog.Changelog`` into ``MaterializedTable``s. The
input files are staged before timing; the timed step is the atomic
rename into the spool. Expected tables are computed from the generated
rows in plain Python.
"""

from __future__ import annotations

import math
import os
import random
import threading
import time
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench.client import Client, Feed
from perfbench.engine import cpu_times, steal_share, unstolen
from perfbench.tracing import Tracer

# The reference dashboard's three statements (dashboard.py:83,100,118-132).
EYE_SQL = "SELECT eyeColor, count(*) AS eye_color_count FROM `user` GROUP BY eyeColor"
MAP_SQL = """
SELECT `user`.guid,
       37.7 + (RAND() * (37.77 - 37.7)) AS latitude,
       -122.50 + (RAND() * (-122.39 - (-122.50))) AS longitude
FROM `user`
"""
AGE_SQL = """
WITH users_with_age_groups AS (
  SELECT
    CASE
      WHEN age BETWEEN 20 AND 29 THEN '20-29'
      WHEN age BETWEEN 30 AND 39 THEN '30-39'
      WHEN age BETWEEN 40 AND 49 THEN '40-49'
      WHEN age BETWEEN 50 AND 59 THEN '50-59'
      ELSE 'other'
    END AS age_group,
    CAST(substring(balance FROM 2) AS DOUBLE) AS balance_double
  FROM `user`
)
SELECT age_group, AVG(balance_double) AS avg_balance
FROM users_with_age_groups
GROUP BY age_group
"""
# changelog_churn: a per-user keyed aggregate (update mode) and a
# continuous Top-N, which the facade promotes to complete mode (-D).
KEYED_SQL = "SELECT name, count(*) AS n FROM `user` GROUP BY name"
TOP_K = 10
TOPN_SQL = f"SELECT name, count(*) AS n FROM `user` GROUP BY name ORDER BY n DESC, name LIMIT {TOP_K}"

EVENTS_PER_FILE = 10  # the reference generator's bursts (README.md:111)
# The client's pause between polls that found nothing new. The reference
# dashboard refreshes every 0.3-1 s; polling much faster than 50 ms makes
# the client compete with the engine's Python-side emitter for the
# interpreter lock (they share one process) and inflates the tail it measures.
POLL_S = 0.05


def _spark_double(s: str) -> float | None:
    """CAST(string AS DOUBLE) with ANSI off: NULL on failure."""
    try:
        return float(s)
    except ValueError:
        return None


def _age_group(age: int) -> str:
    for lo in (20, 30, 40, 50):
        if lo <= age <= lo + 9:
            return f"{lo}-{lo + 9}"
    return "other"


@dataclass
class Stream:
    """One statement as the client sees it."""

    name: str
    client: Client
    columns: list[str]
    tracer: Tracer
    visible: int = -1  # highest prefix (file index) seen in full
    mismatches: int = 0
    table: object = None
    log: object = None

    def __post_init__(self):
        from streamlit_flink_demo_spark.changelog import Changelog, MaterializedTable

        self.table = MaterializedTable(self.columns)
        self.log = Changelog(self.columns, iter(Feed(self.client, self.name)))

    def drain(self) -> int:
        """Fold every record the server has into the table; returns
        how many arrived."""
        n = 0
        while True:
            with self.tracer.span("changelog.consume"):
                recs = self.log.consume(100_000)
            if not recs:
                return n
            n += len(recs)
            self.tracer.count("changelog.records", len(recs))
            with self.tracer.span("changelog.apply"):
                self.table.apply(recs)
            self.log.history.clear()  # only the folded table is kept


class Spool:
    """Staged input files and the schedule that renames them into the
    stream's spool directory."""

    def __init__(self, work: str, tracer: Tracer):
        self.work = work
        self.stage = os.path.join(work, "stage")
        os.makedirs(self.stage, exist_ok=True)
        self.tracer = tracer
        self.files: list[str] = []
        self.released: list[float] = []
        self.released_wall: list[float] = []
        self.lag_ms: list[float] = []
        self.spool = ""

    def fresh_spool(self, k: int) -> str:
        """An empty spool directory for set-up ``k``."""
        self.spool = os.path.join(self.work, f"spool{k}")
        os.makedirs(self.spool, exist_ok=True)
        return self.spool

    def stage_file(self, rows: list[dict], schema) -> None:
        path = os.path.join(self.stage, f"batch_{len(self.files):05d}.parquet")
        inputs.write_parquet(rows, schema, path)
        self.files.append(path)

    def release(self, i: int, due: float | None = None) -> None:
        with self.tracer.span("gen.release"):
            # the file source takes files oldest-mtime first, so a file
            # must carry its arrival time, not its staging time
            os.utime(self.files[i])
            os.rename(self.files[i], os.path.join(self.spool, os.path.basename(self.files[i])))
        now = time.perf_counter()
        self.released.append(now)
        self.released_wall.append(time.time())
        if due is not None:
            self.lag_ms.append((now - due) * 1000.0)

    def play(self, dues: list[float], start_index: int) -> threading.Thread:
        """Release files ``start_index..`` at their due times on one
        generator thread (open loop: it never waits for the engine)."""

        def run():
            for k, due in enumerate(dues):
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                self.release(start_index + k, due)

        t = threading.Thread(target=run, name="perfbench-generator", daemon=True)
        t.start()
        return t


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


@dataclass
class WorkloadResult:
    metrics: dict[str, float]
    named: dict[str, tuple[float, str]]
    attempted: int
    failed: int
    correct: bool
    notes: dict = field(default_factory=dict)


def start_statements(engine, client: Client, sqls: dict[str, str], spool: str, tracer: Tracer,
                     timings: dict[str, list[float]]) -> dict[str, Stream]:
    """Register the ``user`` view over ``spool`` and create each
    statement over HTTP, timing create and create-to-running."""
    from streamlit_flink_demo_spark.sources.stream_fixtures import user_stream

    user_stream(engine.spark, spool).createOrReplaceTempView("user")
    streams = {}
    for label, sql in sqls.items():
        t0 = time.perf_counter()
        name = client.create(sql)
        t1 = time.perf_counter()
        phase = client.wait_running(name)
        t2 = time.perf_counter()
        if phase != "running":
            raise RuntimeError(f"statement {label} reached {phase!r}, not running")
        timings["create"].append((t1 - t0) * 1000.0)
        timings["to_running"].append((t2 - t0) * 1000.0)
        cols = [c["name"] for c in client.envelope(name)["status"]["traits"]["schema"]["columns"]]
        streams[label] = Stream(name, client, cols, tracer)
    return streams


def stop_statements(engine, client: Client, streams: dict[str, Stream], timings: dict[str, list[float]]) -> tuple[int, dict]:
    """DELETE every statement; returns (statements that had reached
    'failed', {label: stream-thread deaths while stopping})."""
    failed = 0
    for s in streams.values():
        if client.phase(s.name) == "failed":
            failed += 1
        t0 = time.perf_counter()
        client.delete(s.name)
        timings["stop"].append((time.perf_counter() - t0) * 1000.0)
    time.sleep(0.2)  # let a dying stream thread reach the JVM's handler
    return failed, {label: engine.deaths.of(s.name) for label, s in streams.items()}


def collect_progress(engine) -> list[dict]:
    import json

    out = []
    for q in engine.spark.streams.active:
        out.extend(json.loads(p.json) for p in q.recentProgress)
    return out


# -- dashboard -------------------------------------------------------------------


class Dashboard:
    """Open loop of 10-event files on a rate ladder, the reference's three
    statements live at once, one polling client.

    The first rung (20 events/s, the reference generator's rate) runs
    for most of the run and gives the latency samples; the short rungs
    above it overload the engine so the backlog visibly grows, and the
    top rung gives the saturated throughput."""

    sqls = {"eye": EYE_SQL, "map": MAP_SQL, "age": AGE_SQL}
    # files at 40 events/s before the ladder: latency falls for the
    # first ~10 files of a fresh JVM while the JIT warms up
    warmup_ticks = 16
    p90_limit_ms = 1000.0  # one widget redraw (dashboard.py:147)

    def __init__(self, work: str, seed: int, seconds: float, tracer: Tracer):
        from streamlit_flink_demo_spark.sources.stream_fixtures import USER_SCHEMA

        self.work, self.seed, self.tracer = work, seed, tracer
        # (events/s, files): 7/8 of the run at 20/s (35 files, 3 statements:
        # ~100 latency samples at 20 s), then 1/8 at 40/s, then 12 files at 80/s
        self.ladder = [
            (20, max(4, round(0.875 * seconds * 20 / EVENTS_PER_FILE))),
            (40, max(4, round(0.125 * seconds * 40 / EVENTS_PER_FILE))),
            (80, 12),
        ]
        n = self.warmup_ticks + sum(files for _, files in self.ladder)
        rng = random.Random(seed)
        self.rows = [inputs.user_rows(rng, EVENTS_PER_FILE) for _ in range(n)]
        self.schema = inputs.arrow_schema(USER_SCHEMA)
        self._expected()
        self.timings: dict[str, list[float]] = {"create": [], "to_running": [], "stop": []}
        self.setups = 0
        self.spool = Spool(work, tracer)
        for rows in self.rows:
            self.spool.stage_file(rows, self.schema)

    def _expected(self) -> None:
        """Expected eye counts, age-group averages and guid lists after
        each file, in plain Python."""
        eye: dict[str, int] = {}
        sums: dict[str, list] = {}
        self.exp_eye, self.exp_age, self.guids = [], [], []
        for rows in self.rows:
            for r in rows:
                eye[r["eyeColor"]] = eye.get(r["eyeColor"], 0) + 1
                g = sums.setdefault(_age_group(r["age"]), [0.0, 0])
                b = _spark_double(r["balance"][1:])
                if b is not None:
                    g[0] += b
                    g[1] += 1
                self.guids.append(r["guid"])
            self.exp_eye.append(dict(eye))
            self.exp_age.append({k: (s / c if c else None) for k, (s, c) in sums.items()})
        # an age-group batch whose rows all carry uncastable balances
        # leaves every average unchanged, so the engine rightly emits
        # nothing: such (statement, file) pairs are not sampled
        n = len(self.rows)
        self.changed = {"eye": [True] * n, "map": [True] * n,
                        "age": [i == 0 or self.exp_age[i] != self.exp_age[i - 1] for i in range(n)]}

    def setup(self, engine) -> None:
        """One set-up: a fresh spool, the view, three statements running."""
        self.setups += 1
        self.client = Client(engine.server.url(), self.tracer)
        spool = self.spool.fresh_spool(self.setups)
        self.streams = start_statements(engine, self.client, self.sqls, spool, self.tracer, self.timings)

    def teardown(self, engine) -> tuple[int, dict]:
        return stop_statements(engine, self.client, self.streams, self.timings)

    # each check returns the highest file index whose cumulative state
    # the table shows, or None when the table matches no such state
    def _prefix_eye(self, s: Stream, hi: int) -> int | None:
        table = {r[0]: r[1] for r in s.table.rows}
        j = sum(table.values()) // EVENTS_PER_FILE - 1
        if 0 <= j <= hi and table == self.exp_eye[j] and len(s.table.rows) == len(table):
            return j
        return None

    def _prefix_map(self, s: Stream, hi: int) -> int | None:
        rows = s.table.rows
        j = len(rows) // EVENTS_PER_FILE - 1
        if not (0 <= j <= hi) or len(rows) % EVENTS_PER_FILE:
            return None
        ok = all(37.7 <= r[1] <= 37.77 and -122.50 <= r[2] <= -122.39 for r in rows)
        if ok and {r[0] for r in rows} == set(self.guids[: len(rows)]):
            return j
        return None

    def _prefix_age(self, s: Stream, hi: int) -> int | None:
        table = {r[0]: r[1] for r in s.table.rows}
        if len(table) != len(s.table.rows):
            return None
        for j in range(hi, s.visible, -1):
            exp = self.exp_age[j]
            if table.keys() == exp.keys() and all(
                (a is None and b is None) or (a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9))
                for a, b in ((table[k], exp[k]) for k in exp)
            ):
                return j
        return None

    def _poll_until(self, last: int, deadline: float) -> None:
        """Drain every statement and record when each file became
        visible in each table, until all tables show file ``last``."""
        sp, streams = self.spool, self.streams
        check = {"eye": self._prefix_eye, "map": self._prefix_map, "age": self._prefix_age}
        while time.perf_counter() < deadline:
            moved = False
            for label, s in streams.items():
                got = s.drain()
                hi = len(sp.released) - 1  # read after the drain: never behind it
                if not got and self._checked_hi[label] == hi:
                    continue
                now = time.perf_counter()  # visible from here on, before checking
                moved = moved or bool(got)
                self._checked_hi[label] = hi
                j = check[label](s, hi)
                if j is None:
                    s.mismatches += bool(got)
                    continue
                for i in range(s.visible + 1, j + 1):
                    self.seen_at[label][i] = now
                s.visible = max(s.visible, j)
            if min(s.visible for s in streams.values()) >= last:
                return
            if not moved:
                time.sleep(POLL_S)

    def measure(self, engine) -> WorkloadResult:
        sp, streams = self.spool, self.streams
        n = len(self.rows)
        self.seen_at = {label: [None] * n for label in streams}
        self._checked_hi = {label: -1 for label in streams}

        # warm-up files, not sampled
        w = self.warmup_ticks
        t0 = time.perf_counter()
        gen = sp.play([t0 + k * EVENTS_PER_FILE / 40 for k in range(w)], 0)
        self._poll_until(w - 1, t0 + 60.0)
        gen.join()

        # the ladder, back to back, open loop
        dues: list[float] = []
        rungs: list[tuple[int, range]] = []
        t = time.perf_counter() + 0.05
        for eps, files in self.ladder:
            gap = EVENTS_PER_FILE / eps
            rungs.append((eps, range(w + len(dues), w + len(dues) + files)))
            dues += [t + k * gap for k in range(files)]
            t += files * gap
        gen = sp.play(dues, w)
        self._poll_until(n - 1, dues[-1] + 60.0)
        gen.join()

        def due(i: int) -> float:
            return dues[i - w]

        def visible_all(i: int) -> float:
            ts = [self.seen_at[label][i] for label in streams]
            return math.inf if None in ts else max(ts)

        def pending(at: float) -> int:
            """Files released but not yet visible in every table at ``at``."""
            return sum(1 for i in range(w, n) if due(i) <= at and visible_all(i) > at)

        report, failed, attempted = [], 0, 0
        for eps, idx in rungs:
            lat = []
            for label in streams:
                for i in idx:
                    if not self.changed[label][i]:
                        continue
                    attempted += 1
                    seen = self.seen_at[label][i]
                    if seen is None:
                        failed += 1
                    else:
                        lat.append((seen - due(i)) * 1000.0)
            start, end = pending(due(idx[0]) - 1e-6), pending(due(idx[-1]))
            p90 = _percentile(lat, 0.9) if lat else math.inf
            grows = end > start + 2
            report.append({"eps": eps, "files": len(idx), "samples": len(lat), "p50_ms": _percentile(lat, 0.5) if lat else math.inf,
                           "p90_ms": p90, "backlog_start": start, "backlog_end": end, "grows": grows,
                           "ok": p90 <= self.p90_limit_ms and not grows})
        sustained = max((r["eps"] for r in report if r["ok"]), default=0)

        # saturated throughput: files made visible per second from the
        # top rung's first due time until the last file is visible
        top = rungs[-1][1]
        t_start, t_end = due(top[0]), visible_all(n - 1)
        done = sum(1 for i in range(w, n) if t_start < visible_all(i) <= t_end)
        saturated = done * EVENTS_PER_FILE / (t_end - t_start) if math.isfinite(t_end) else 0.0

        main = report[0]
        return WorkloadResult(
            metrics={"latency_p50_ms": main["p50_ms"], "latency_p90_ms": main["p90_ms"], "throughput_per_s": saturated},
            named={
                "visible_p50_ms": (main["p50_ms"], "ms"),
                "visible_p90_ms": (main["p90_ms"], "ms"),
                "sustained_eps": (float(sustained), "1/s"),
                "saturated_eps": (saturated, "1/s"),
            },
            attempted=attempted,
            failed=failed,
            correct=failed == 0 and all(s.visible == n - 1 for s in streams.values()),
            notes={"rungs": report, "mismatched_states": {k: s.mismatches for k, s in streams.items()},
                   "backlog_files_max": max(pending(d) for d in dues)},
        )


# -- changelog_churn -------------------------------------------------------------


class Churn:
    """Closed-loop drain of a backlog of large files with a skewed
    per-user key: the next file is released when the previous one is
    visible in both client tables."""

    sqls = {"keyed": KEYED_SQL, "topn": TOPN_SQL}
    rows_per_file = 5000
    n_keys = 20_000
    max_files = 48
    warmup_files = 4
    min_quiet_files = 8  # files sampled under little steal that the figures need

    def __init__(self, work: str, seed: int, seconds: float, tracer: Tracer):
        from streamlit_flink_demo_spark.sources.stream_fixtures import USER_SCHEMA

        self.work, self.seed, self.seconds, self.tracer = work, seed, seconds, tracer
        self.schema = inputs.arrow_schema(USER_SCHEMA)
        names = inputs.zipf_names(seed, self.rows_per_file * self.max_files, self.n_keys)
        self.names = [names[i * self.rows_per_file:(i + 1) * self.rows_per_file] for i in range(self.max_files)]
        self.timings: dict[str, list[float]] = {"create": [], "to_running": [], "stop": []}
        self.setups = 0
        # the whole backlog is staged before any engine set-up
        rng = random.Random(seed)
        self.spool = Spool(work, tracer)
        for names in self.names:
            self.spool.stage_file(inputs.user_rows(rng, self.rows_per_file, names), self.schema)

    def setup(self, engine) -> None:
        self.setups += 1
        self.client = Client(engine.server.url(), self.tracer)
        spool = self.spool.fresh_spool(self.setups)
        self.streams = start_statements(engine, self.client, self.sqls, spool, self.tracer, self.timings)

    def teardown(self, engine) -> tuple[int, dict]:
        return stop_statements(engine, self.client, self.streams, self.timings)

    def measure(self, engine) -> WorkloadResult:
        sp = self.spool
        counts: dict[str, int] = {}
        keyed, topn = self.streams["keyed"], self.streams["topn"]

        def release_and_wait(i: int) -> float | None:
            """Release file ``i``; return the time both tables showed
            its cumulative state, or None if they never did."""
            for n in self.names[i]:
                counts[n] = counts.get(n, 0) + 1
            total = (i + 1) * self.rows_per_file
            exp_top = sorted([k, v] for k, v in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K])
            seen = {"keyed": None, "topn": None}
            sp.release(i)
            deadline = time.perf_counter() + 60.0
            while time.perf_counter() < deadline:
                moved = False
                if seen["keyed"] is None and keyed.drain():
                    moved, now = True, time.perf_counter()
                    rows = keyed.table.rows
                    if sum(r[1] for r in rows) == total:
                        if len(rows) == len(counts) and all(counts.get(r[0]) == r[1] for r in rows):
                            seen["keyed"] = now
                        else:
                            keyed.mismatches += 1
                if seen["topn"] is None and topn.drain():
                    moved, now = True, time.perf_counter()
                    if sorted(topn.table.rows) == exp_top:
                        seen["topn"] = now
                if None not in seen.values():
                    return max(seen.values())
                if not moved:
                    time.sleep(POLL_S)
            return None

        # warm-up files (JIT, first state-store versions), not sampled
        failed = 0
        for i in range(self.warmup_files):
            failed += release_and_wait(i) is None
        # (ms from release until both tables show the file, steal share meanwhile)
        samples: list[tuple[float, float]] = []
        end = time.perf_counter() + self.seconds
        i = self.warmup_files
        while i < self.max_files and time.perf_counter() < end:
            cpu = cpu_times()
            seen = release_and_wait(i)
            if seen is None:
                failed += 1
                break
            samples.append(((seen - sp.released[-1]) * 1000.0, steal_share(cpu, cpu_times())))
            i += 1
        lat_ms = unstolen(samples, self.min_quiet_files)
        # closed loop: the next file is released as soon as one is visible
        eps = len(lat_ms) * self.rows_per_file * 1000.0 / sum(lat_ms) if lat_ms else 0.0
        p50 = _percentile(lat_ms, 0.5) if lat_ms else math.inf
        p90 = _percentile(lat_ms, 0.9) if lat_ms else math.inf
        return WorkloadResult(
            metrics={"latency_p50_ms": p50, "latency_p90_ms": p90, "throughput_per_s": eps},
            named={
                "file_visible_p50_ms": (p50, "ms"),
                "file_visible_p90_ms": (p90, "ms"),
                "drain_events_per_s": (eps, "1/s"),
            },
            attempted=len(sp.released),
            failed=failed,
            correct=failed == 0,
            notes={"files": len(samples), "files_sampled": len(lat_ms),
                   "ms_and_steal_per_file": [(round(ms, 1), round(st, 4)) for ms, st in samples],
                   "keys_seen": len(counts), "table_rows": len(keyed.table.rows),
                   "mismatched_states": {k: s.mismatches for k, s in self.streams.items()}},
        )
