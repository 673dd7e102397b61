#!/usr/bin/env python3
"""Repository benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload changelog_churn --seed 1 --seconds 15 --trace 0

Workloads (why each compared one was chosen is in BENCHMARK.json):

- ``changelog_churn``: closed-loop drain of 5,000-row files with a
  Zipf-skewed per-user key through a keyed aggregate and a Top-N.
- ``artifact_lifecycle``: force-build the gram, suffix and cdc_base
  artifacts, probe each through the query registry, page a 27k-row
  result through the facade.
- ``dashboard`` (reported, not compared): open loop of 10-event files
  on a 20/40/80 events/s ladder into the reference's three statements
  over HTTP. Its 20 events/s rung runs at 70-90% of what the engine
  sustains on a 4-core machine, so its open-loop latency swings with
  the machine's speed by far more than any bound. ``--seconds 20``
  gives the 100 latency samples its 90th percentile needs.

Every workload reports the same end-to-end metrics; what each one
measures on a workload is in ``END_TO_END`` below. Each run sets the
engine up ``SETUPS`` times and reports the median as ``setup_s``; only
the first set-up launches the JVM, and the last one is measured. Lines
before the result line give the workload's own named metrics
(``visible_p50_ms``, ``error_rate``, ...), the interference record and
diagnostic notes.

``--trace 1`` reports the per-layer metrics in ``PER_LAYER`` instead and
writes spans, self times, Spark job-group totals and trigger progress
to ``.perfbench/traces/``; ``perfbench/overhead.py`` gives the tracing
overhead. ``--cpus 1`` runs the engine on one core (the single-thread
baseline).

Exit status is 0 only when every output was correct; a run that cannot
import the engine exits 2 without a result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

SETUPS = 5

# metric -> (unit, what it is on changelog_churn / artifact_lifecycle / dashboard)
END_TO_END = {
    "setup_s": ("s", "median of the run's engine set-ups (session, facade and, on the streaming workloads, the "
                     "statements created over HTTP); the first launches the JVM, the others reuse it, so the "
                     "median is a set-up in a running JVM"),
    "peak_rss_mb": ("MB", "resident high-water mark of the JVM plus the Python driver, the driver's counted "
                          "from after input staging"),
    "latency_p50_ms": ("ms", "median over files of release -> both tables equal expected / sum over probe "
                             "queries of the median warm run / file due -> client table equals expected at "
                             "20 events/s; samples taken under hypervisor steal are left out (engine.STEAL_MAX)"),
    "latency_p90_ms": ("ms", "the same with 90th percentiles: nearest rank over files / interpolated per query"),
    "throughput_per_s": ("1/s", "events drained per second / documents indexed per build-second / events "
                                "made visible per second while offered 80 events/s"),
}

# metric -> (unit, the end-to-end metric it should move, the workload it moves it on)
PER_LAYER = {
    "session.start_s": ("s", "setup_s", "all"),
    "sources.latest_offset_ms": ("ms", "latency_p50_ms, throughput_per_s", "changelog_churn, dashboard"),
    "sources.backlog_files_max": ("count", "latency_p90_ms, throughput_per_s", "dashboard"),
    "streaming.trigger_ms": ("ms", "latency_p50_ms, throughput_per_s", "changelog_churn, dashboard"),
    "streaming.add_batch_ms": ("ms", "latency_p50_ms, throughput_per_s", "changelog_churn, dashboard"),
    "streaming.wal_commit_ms": ("ms", "latency_p50_ms, throughput_per_s", "changelog_churn, dashboard"),
    "streaming.commit_offsets_ms": ("ms", "latency_p50_ms, throughput_per_s", "changelog_churn, dashboard"),
    "streaming.query_planning_ms": ("ms", "latency_p50_ms, throughput_per_s", "changelog_churn, dashboard"),
    "streaming.triggers": ("count", "latency_p50_ms, throughput_per_s", "changelog_churn, dashboard"),
    "streaming.state_rows": ("count", "peak_rss_mb", "changelog_churn"),
    "streaming.state_memory_bytes": ("bytes", "peak_rss_mb", "changelog_churn"),
    "emitter.call_ms": ("ms", "throughput_per_s", "changelog_churn"),
    "emitter.diff_ms": ("ms", "throughput_per_s", "changelog_churn"),
    "emitter.records_out": ("count", "throughput_per_s", "changelog_churn"),
    "emitter.snapshot_keys": ("count", "throughput_per_s, peak_rss_mb", "changelog_churn"),
    "emitter.buffer_evicted": ("count", "failed (error rate)", "changelog_churn"),
    "http_api.get_ms": ("ms", "throughput_per_s", "changelog_churn, artifact_lifecycle"),
    "http_api.requests": ("count", "throughput_per_s", "changelog_churn, artifact_lifecycle"),
    "http_api.bytes": ("bytes", "throughput_per_s", "changelog_churn, artifact_lifecycle"),
    "http_api.useful_page_ratio": ("ratio", "throughput_per_s", "changelog_churn, artifact_lifecycle"),
    "changelog.apply_ms": ("ms", "throughput_per_s", "changelog_churn"),
    "changelog.records": ("count", "throughput_per_s", "changelog_churn"),
    "changelog.lost_records": ("count", "failed (error rate)", "changelog_churn"),
    "statements.create_ms": ("ms", "setup_s", "changelog_churn, dashboard, artifact_lifecycle"),
    "statements.to_running_ms": ("ms", "setup_s", "changelog_churn, dashboard"),
    "statements.stop_ms": ("ms", "setup_s", "changelog_churn, dashboard"),
    "statements.stop_errors": ("count", "failed (error rate)", "changelog_churn, dashboard"),
    "plans.build_s": ("s", "first-dispatch time (query_first_s), not latency_p50_ms", "artifact_lifecycle"),
    "plans.exec_s": ("s", "first-dispatch time (query_first_s)", "artifact_lifecycle"),
    "spark.task_cpu_s": ("s", "latency_p50_ms, throughput_per_s", "artifact_lifecycle"),
    "spark.task_run_s": ("s", "latency_p50_ms, throughput_per_s", "artifact_lifecycle"),
    "spark.gc_s": ("s", "latency_p50_ms, throughput_per_s", "artifact_lifecycle"),
    "spark.shuffle_read_bytes": ("bytes", "latency_p50_ms, throughput_per_s", "artifact_lifecycle"),
    "spark.shuffle_write_bytes": ("bytes", "latency_p50_ms, throughput_per_s", "artifact_lifecycle"),
    "spark.spill_bytes": ("bytes", "latency_p50_ms, throughput_per_s", "artifact_lifecycle"),
    "spark.stages": ("count", "latency_p50_ms, throughput_per_s", "artifact_lifecycle"),
    "spark.tasks": ("count", "latency_p50_ms, throughput_per_s", "artifact_lifecycle"),
    "artifacts.build_s.gram": ("s", "throughput_per_s", "artifact_lifecycle"),
    "artifacts.build_s.suffix": ("s", "throughput_per_s", "artifact_lifecycle"),
    "artifacts.build_s.cdc_base": ("s", "throughput_per_s", "artifact_lifecycle"),
    "artifacts.bytes": ("bytes", "throughput_per_s, latency_p50_ms (layout changes)", "artifact_lifecycle"),
    "artifacts.files": ("count", "throughput_per_s, latency_p50_ms (layout changes)", "artifact_lifecycle"),
    "gen.lag_ms_max": ("ms", "validity of the open loop", "dashboard"),
}


WORKLOADS = ("changelog_churn", "artifact_lifecycle", "dashboard")


def _workload_class(name: str):
    from perfbench.batch import ArtifactLifecycle
    from perfbench.streaming import Churn, Dashboard

    return {"dashboard": Dashboard, "changelog_churn": Churn, "artifact_lifecycle": ArtifactLifecycle}[name]


def instrument(tracer) -> set:
    """Spans around the engine's public entry points (traced run only).
    Returns the set that collects every emitter seen diffing a batch."""
    from streamlit_flink_demo_spark.statements import StatementsService
    from streamlit_flink_demo_spark.streaming.emitter import ChangelogEmitter

    emitters: set = set()

    def on_diff(emitter, out) -> None:
        tracer.count("emitter.records_out", len(out))
        emitters.add(emitter)

    tracer.patch(StatementsService, "create", "statements.create")
    tracer.patch(StatementsService, "stop", "statements.stop")
    tracer.patch(ChangelogEmitter, "__call__", "emitter.call")
    tracer.patch(ChangelogEmitter, "apply_upserts", "emitter.diff", on_diff)
    tracer.patch(ChangelogEmitter, "apply_full_snapshot", "emitter.diff", on_diff)
    return emitters


def _source_backlog(progress: list[dict], released_wall: list[float]) -> int:
    """Largest number of released files a trigger found unread: files
    renamed into the spool before the trigger started, minus the files
    the source had committed by then."""
    from datetime import datetime

    worst = 0
    for p in progress:
        src = (p.get("sources") or [{}])[0]
        start = src.get("startOffset")
        if not isinstance(start, dict) or "logOffset" not in start:
            continue
        t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        released = sum(1 for r in released_wall if r <= t)
        worst = max(worst, released - (start["logOffset"] + 1))
    return worst


def layer_metrics(tracer, emitters, wl, res, setup, progress, job_groups, client_lost) -> tuple[dict, dict]:
    from perfbench.tracing import progress_rollup, sum_groups

    def ms_total(name):
        return sum(tracer.durations(name)) * 1000.0

    def med(v):
        return statistics.median(v) if v else 0.0

    c = tracer.counters
    # streaming micro-batches run in a job group named by the query's runId
    stream_names = {p["runId"]: f"stream:{p.get('name')}" for p in progress}
    groups = {stream_names.get(g, g): v for g, v in job_groups.items()}
    spool = getattr(wl, "spool", None)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(progress_rollup(progress))
    out.update(sum_groups(groups))
    out.update(
        {
            "session.start_s": statistics.median(setup["session_s"]),
            "sources.backlog_files_max": float(_source_backlog(progress, spool.released_wall)) if spool else 0.0,
            "emitter.call_ms": ms_total("emitter.call"),
            "emitter.diff_ms": ms_total("emitter.diff"),
            "emitter.records_out": c.get("emitter.records_out", 0.0),
            "emitter.snapshot_keys": float(sum(e.snapshot_high_water for e in emitters)),
            # ResultBuffer keeps its eviction count private; it is read
            # here only for the traced report
            "emitter.buffer_evicted": float(sum(e.buffer._base for e in emitters)),
            "http_api.get_ms": ms_total("http_api.get"),
            "http_api.requests": c.get("http_api.requests", 0.0),
            "http_api.bytes": c.get("http_api.bytes", 0.0),
            "http_api.useful_page_ratio": c.get("http_api.useful_pages", 0.0) / c["http_api.pages"] if c.get("http_api.pages") else 0.0,
            "changelog.apply_ms": ms_total("changelog.apply"),
            "changelog.records": c.get("changelog.records", 0.0),
            "changelog.lost_records": float(client_lost),
            "statements.create_ms": med(wl.timings["create"]),
            "statements.to_running_ms": med(wl.timings["to_running"]),
            "statements.stop_ms": med(wl.timings["stop"]),
            "statements.stop_errors": float(sum(setup["stop_errors"].values())),
            "plans.build_s": sum(tracer.durations("plans.build")),
            "plans.exec_s": sum(tracer.durations("plans.exec")),
            "gen.lag_ms_max": max(spool.lag_ms, default=0.0) if spool else 0.0,
        }
    )
    for label, secs in res.notes.get("build_s", {}).items():
        out[f"artifacts.build_s.{label}"] = secs
    out["artifacts.bytes"] = float(res.notes.get("artifact_bytes", 0))
    out["artifacts.files"] = float(res.notes.get("artifact_files", 0))
    return out, groups


def run(args) -> int:
    from perfbench import engine as eng
    from perfbench.tracing import Tracer, event_log_rollup

    run_id = f"{args.workload}-seed{args.seed}-cpus{args.cpus}-trace{args.trace}"
    work = os.path.join(os.getcwd(), ".perfbench", f"{run_id}-{os.getpid()}")
    log_dir = eng.configure_env(work, args.cpus, bool(args.trace))
    record = eng.interference()
    print("interference " + json.dumps(record))

    tracer = Tracer(bool(args.trace), run_id)
    emitters = instrument(tracer) if args.trace else set()
    phases = {"start": time.perf_counter()}
    cpu_start = eng.cpu_times()
    setup = {"times_s": [], "session_s": [], "stop_errors": {}, "failed_statements": 0}
    deaths = eng.ThreadDeaths()
    engine = None

    def teardown():
        failed, errors = wl.teardown(engine)
        setup["failed_statements"] += failed
        for label, n in errors.items():
            setup["stop_errors"][label] = setup["stop_errors"].get(label, 0) + n

    try:
        wl = _workload_class(args.workload)(os.path.join(work, "inputs"), args.seed, args.seconds, tracer)
        phases["inputs"] = time.perf_counter()
        eng.reset_peak_rss()
        for k in range(SETUPS):
            t0 = time.perf_counter()
            engine = eng.Engine(deaths)
            wl.setup(engine)
            setup["times_s"].append(time.perf_counter() - t0)
            setup["session_s"].append(engine.session_s)
            if k < SETUPS - 1:
                teardown()
                engine.stop()
        phases["setups"] = time.perf_counter()
        res = wl.measure(engine)
        phases["measure"] = time.perf_counter()
        progress = []
        if args.trace and hasattr(wl, "streams"):
            from perfbench.streaming import collect_progress

            progress = collect_progress(engine)
        teardown()
        rss_by_pid = eng.peak_rss_mb()
        rss = sum(rss_by_pid.values())
        engine.stop()
        engine = None
        # the event log of each set-up is complete once its context stopped
        job_groups = event_log_rollup(log_dir) if log_dir else {}
    finally:
        if engine is not None:
            engine.stop()
        deaths.uninstall()
        eng.shutdown_jvm()
        tracer.unpatch()
        shutil.rmtree(work, ignore_errors=True)
    phases["teardown"] = time.perf_counter()
    record["steal_share_during_run"] = round(eng.steal_share(cpu_start, eng.cpu_times()), 4)
    marks = list(phases.items())
    wall = {name: round(t - marks[i][1], 3) for i, (name, t) in enumerate(marks[1:])}

    lost = wl.client.lost_records
    failed = res.failed + setup["failed_statements"] + (1 if lost else 0)
    correct = res.correct and lost == 0 and setup["failed_statements"] == 0
    e2e = {"setup_s": statistics.median(setup["times_s"]), "peak_rss_mb": rss, **res.metrics}
    named = {"setup_s": (e2e["setup_s"], "s"), "first_setup_s": (setup["times_s"][0], "s"), "peak_rss_mb": (rss, "MB"),
             "error_rate": (failed / res.attempted, "ratio"),
             "stop_errors": (sum(setup["stop_errors"].values()), "count"), **res.named}
    for name, (value, unit) in named.items():
        print(f"metric {args.workload} {name} {value:.6g} {unit}")
    print("interference_during_run " + json.dumps({"steal_share": record["steal_share_during_run"]}))
    print("notes " + json.dumps({"wall_s": wall, "rss_mb_by_pid": rss_by_pid, "setup_times_s": setup["times_s"], "stop_errors": setup["stop_errors"],
                                 "lost_records": lost, **res.notes}, default=str))

    if args.trace:
        layers, groups = layer_metrics(tracer, emitters, wl, res, setup, progress, job_groups, lost)
        print("traced_end_to_end " + json.dumps(e2e))
        trace_path = os.path.join(os.getcwd(), ".perfbench", "traces", f"{run_id}.json")
        tracer.dump(trace_path, {"interference": record, "end_to_end": e2e, "per_layer": layers,
                                 "job_groups": groups, "progress": progress, "notes": res.notes,
                                 "layer_moves": PER_LAYER})
        print(f"trace written to {trace_path}")
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    args = ap.parse_args()
    try:
        import streamlit_flink_demo_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine package is not importable here: {ex}", file=sys.stderr)
        return 2
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
