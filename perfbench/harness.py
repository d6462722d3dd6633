"""Process set-up, session lifetime and the statistics every workload shares."""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
CPUS = 4  # local[4]: one client against a four-core engine, on any host
# get_spark sizes the driver heap from SPARK_DRIVER_MEMORY (16g by default,
# more than a small shared host should give one run); the heap starts
# small and grows as the run needs it
DRIVER_MEMORY = "2g"


def prepare_process(work: str) -> None:
    """Keep every file the run writes inside `work`, make the engine
    importable here and in Python workers, and pin the clock to UTC so
    collected timestamps are instants."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # spark-submit first runs a small launcher JVM; keep its files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session_conf(work: str, event_log: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(work: str, event_log: bool):
    """A SparkSession from the engine's own factory. The first call
    launches the JVM; later calls (after `spark.stop()`) reuse it."""
    from data_ingestion_pipeline_spark.session import get_spark

    return get_spark(app_name="perfbench", cpus=CPUS,
                     extra_conf=session_conf(work, event_log))


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it; Python workers are its
    children and exit with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate, then wait for real
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set (VmHWM) of one process, in kB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def driver_pids() -> list[int | str]:
    pid = jvm_pid()
    return ["self"] + ([pid] if pid is not None else [])


def reset_peak_rss() -> None:
    """Restart VmHWM at the current RSS in this process and its JVM, so
    the peak covers what follows and not input generation or set-up."""
    for pid in driver_pids():
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def peak_rss_mb() -> float:
    """Peak RSS of this driver process plus its JVM, in MB."""
    return sum(vm_hwm_kb(pid) for pid in driver_pids()) / 1024.0


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def has_p90(n: int) -> bool:
    """A p90 is reported only with at least ten samples beyond it."""
    return n * 0.1 >= 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


class OpLog:
    """Latencies and outcomes of the operations one run measured."""

    def __init__(self) -> None:
        self.latencies_s: list[float] = []
        self.busy_s = 0.0
        self.attempted = 0
        self.failed = 0

    def record(self, seconds: float, ok: bool, samples: list[float] | None = None) -> None:
        """One closed-loop call of `seconds`; `samples` splits it into
        several operations (e.g. micro-batches) when the call held many."""
        ops = samples if samples is not None else [seconds]
        self.busy_s += seconds
        self.latencies_s.extend(ops)
        self.attempted += len(ops)
        if not ok:
            self.failed += len(ops)
