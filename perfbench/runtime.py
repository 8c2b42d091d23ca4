"""Process set-up shared by the workloads: a private work directory
inside the checkout, the Spark session with the benchmark's own
reporting switched on, a progress listener, peak memory, shutdown."""

from __future__ import annotations

import glob
import json
import os
import resource
import shutil
import tempfile
import time

#: session starts per run; setup_s counts their median
SETUPS = 3


def prepare_workdir(root: str, tag: str) -> str:
    """Create the run's work directory under ``root`` and point every
    temp-file user at it (Python's tempfile, Spark local dirs, the JVM
    temp dir), so a run writes nothing outside the checkout."""
    work = os.path.join(root, ".perfbench", tag)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None  # re-read TMPDIR
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # executor Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    return work


def session_conf(work: str, eventlog: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files in the system temp dir
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(work, "tmp")
        + " -Dderby.system.home="
        + os.path.join(work, "tmp"),
    }
    if eventlog:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def start_sessions(work: str, eventlog: bool):
    """Start the session ``SETUPS`` times — the first launches the JVM,
    later ones restart the SparkContext in it — and return (session,
    per-start seconds). Each start ends with the program's own
    session preparation (``ensure_runtime_confs``)."""
    from ziggurat_spark.session import get_session
    from ziggurat_spark.tables import ensure_runtime_confs

    conf = session_conf(work, eventlog)
    times = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_session(app_name="perfbench", extra_conf=conf)
        ensure_runtime_confs(spark)
        times.append(time.perf_counter() - t0)
    return spark, times


def event_log_path(work: str) -> str | None:
    logs = glob.glob(os.path.join(work, "eventlog", "*"))
    return max(logs, key=os.path.getmtime) if logs else None


class Progress:
    """StreamingQueryListener that keeps every progress report (as the
    JSON dict Spark emits) of the queries it sees."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        reports = self.reports = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 (Spark API)
                pass

            def onQueryProgress(self, event):  # noqa: N802
                reports.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self._listener = _Listener()

    def attach(self, spark) -> "Progress":
        spark.streams.addListener(self._listener)
        return self

    def triggers(self, since: float = 0.0) -> list[dict]:
        """Reports of triggers that read input and started at or after
        ``since`` (epoch seconds), each once, in start order."""
        seen = {}
        for r in self.reports:
            if trigger_start(r) >= since and r.get("numInputRows"):
                seen[(r["runId"], r["batchId"])] = r
        return sorted(seen.values(), key=trigger_start)


def trigger_start(report: dict) -> float:
    """A progress report's trigger start time, epoch seconds."""
    from datetime import datetime

    return datetime.fromisoformat(report["timestamp"].replace("Z", "+00:00")).timestamp()


def trigger_s(report: dict, phase: str = "triggerExecution") -> float:
    return report.get("durationMs", {}).get(phase, 0) / 1000.0


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU time of the host so far, in clock ticks; a
    run's steal share tells host interference from program slowness."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_pct(since: tuple[int, int]) -> float:
    """Percent of CPU time stolen by the hypervisor since ``since``."""
    steal, total = cpu_times()
    return 100.0 * (steal - since[0]) / max(total - since[1], 1)


def rss_peak_mb(spark) -> float:
    """Peak resident memory of the driver: the JVM (VmHWM) plus this
    Python process (ru_maxrss)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def shutdown(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit
    (the executor Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall back to a kill
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
