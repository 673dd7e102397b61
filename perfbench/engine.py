"""Engine lifecycle for one benchmark run: environment, session, facade,
memory high-water mark, interference record and shutdown.

The engine is driven only through its public surfaces: ``get_spark``,
``StatementsService`` and ``StatementsHTTPServer``. The benchmark's own
Spark settings (console progress off, scratch dirs inside the run's
work directory, the event log in the traced run) go in through
``PYSPARK_SUBMIT_ARGS``, so ``get_spark`` itself is called unchanged.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The driver JVM's heap, the same for every workload; the engine's own
# default (48g) is larger than many machines' memory. The heap is reserved
# at its full size but not touched in advance, so the resident high-water
# mark grows with the heap the run uses. The young generation is fixed:
# left to G1's pause-time heuristics its size, and with it the resident
# high-water mark, swung by ~40% between identical runs.
HEAP = "2g"
YOUNG = "256m"


def configure_env(work: str, cpus: int, trace: bool) -> str:
    """Point every engine and Spark scratch location into ``work`` and
    return the event-log directory ('' when not tracing). Must run
    before the engine is imported: the artifact root is read at import."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local"), os.path.join(work, "artifacts")):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "SPARK_GRAFT_ARTIFACT_DIR": os.path.join(work, "artifacts"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
        }
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -Xmn{YOUNG}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    log_dir = ""
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return log_dir


def interference() -> dict:
    """nproc, load average and external CPU busy at the start of a run.
    ``bench._await_quiet`` waits briefly for a quiet box and returns the
    busy share the run starts at."""
    sys.path.insert(0, REPO_ROOT)
    from bench import _await_quiet

    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {
        "nproc": os.cpu_count(),
        "loadavg": load,
        "external_busy": _await_quiet(max_busy=0.5, timeout=3.0),
    }


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: work that ran slower for reasons outside
    this machine."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) > 0 else 0.0


# A sample taken while the hypervisor gave more than STEAL_MAX of the
# machine's CPU time to other guests ran slower for reasons outside the
# program (5-25% steal made latency 15-70% worse on a 4-core VM).
STEAL_MAX = 0.03


def unstolen(samples: list[tuple[float, float]], at_least: int) -> list[float]:
    """The values of the (value, steal share) samples taken under at most
    STEAL_MAX steal, or of the ``at_least`` least-stolen samples when
    fewer were."""
    ranked = sorted(samples, key=lambda s: s[1])
    n = max(at_least, sum(1 for _, steal in samples if steal <= STEAL_MAX))
    return [v for v, _ in ranked[:n]]


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reset_peak_rss() -> None:
    """Restart this process's resident high-water mark from its current
    size, so memory the benchmark used to stage inputs is not counted."""
    import gc

    gc.collect()
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb() -> dict[int, float]:
    """High-water resident memory of this process, its JVM and any
    Python workers it spawned, in MiB per process id."""
    out = {}
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return out


class Engine:
    """One engine set-up: session, statements service and HTTP facade."""

    def __init__(self, deaths: "ThreadDeaths"):
        from streamlit_flink_demo_spark.http_api import StatementsHTTPServer
        from streamlit_flink_demo_spark.session import get_spark
        from streamlit_flink_demo_spark.statements import StatementsService

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_s = time.perf_counter() - t0
        self.deaths = deaths
        deaths.install(self.spark)
        self.service = StatementsService(self.spark)
        self.server = StatementsHTTPServer(self.service).start()

    def stop(self) -> None:
        self.server.stop()
        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()


class ThreadDeaths:
    """JVM threads that died of an uncaught error, recorded through the
    JVM's default uncaught-exception handler. A streaming statement's
    execution thread can die this way while stopping, after the facade
    has already reported 'stopped'; nothing else surfaces it."""

    def __init__(self):
        self.deaths: list[tuple[str, str]] = []
        self._jvm = None

    def uncaughtException(self, thread, error) -> None:  # noqa: N802 (Java interface)
        self.deaths.append((thread.getName(), error.toString()))
        print(f"perfbench: JVM thread {thread.getName()!r} died: {error.toString()}", file=sys.stderr)

    class Java:
        implements = ["java.lang.Thread$UncaughtExceptionHandler"]

    def install(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self._jvm = sc._jvm
        self._jvm.java.lang.Thread.setDefaultUncaughtExceptionHandler(self)

    def uninstall(self) -> None:
        if self._jvm is not None:
            self._jvm.java.lang.Thread.setDefaultUncaughtExceptionHandler(None)
            self._jvm = None

    def of(self, statement: str) -> int:
        return sum(1 for name, _ in self.deaths if statement in name)


def shutdown_jvm(timeout: float = 30.0) -> None:
    """Stop the JVM pyspark launched and wait until it and every other
    process this one started have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
