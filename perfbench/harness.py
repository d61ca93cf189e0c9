"""Run environment, process-tree statistics and small statistics helpers.

Everything a run writes lives under ``<checkout>/.perfbench``: generated
tables and oracle digests in ``data/`` and ``cache/`` (kept between
runs), and one ``run-<pid>/`` directory per process for Spark's local
dirs, temp files, streaming checkpoints and the event log (removed when
the run ends).
"""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_HEAP = "2g"
# The heap is committed and touched at launch, so the process tree's
# resident memory does not depend on when the collector grew the heap.
JVM_OPTIONS = f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"


def engine_present() -> bool:
    """True when the checkout holds the engine and the oracle helpers."""
    return os.path.isfile(
        os.path.join(ROOT, "flink_essentials_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(ROOT, "tools", "check_correctness.py"))


def cores() -> int:
    return len(os.sched_getaffinity(0))


class RunDir:
    """Per-process scratch tree; ``close`` removes it."""

    def __init__(self) -> None:
        self.path = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("scratch", "tmp", "local", "eventlog", "warehouse", "ckpt"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def configure_env(run: RunDir) -> None:
    """Point the engine, Spark and Python workers at the checkout.

    Must run before the first SparkSession: the JVM and the Python
    workers inherit this environment when they are launched.
    """
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["FES_SCRATCH_DIR"] = run.sub("scratch")
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("local")
    os.environ["TMPDIR"] = run.sub("tmp")
    os.environ.pop("FES_FORCE_DISTRIBUTED", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_conf(run: RunDir, *, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={run.sub('tmp')}",
        "spark.sql.warehouse.dir": run.sub("warehouse"),
        "spark.local.dir": run.sub("local"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": run.sub("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """Cumulative host steal time of this machine (all CPUs)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) / os.sysconf("SC_CLK_TCK")


def tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pss_mb(root_pid: int) -> float:
    """Proportional set size of the process tree: resident memory with
    each page shared between processes (forked Python workers share
    most of theirs) split among them, so the sum counts it once."""
    total_kb = 0
    for pid in tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, ValueError, IndexError, StopIteration):
            continue
    return total_kb / 1000


class MemorySampler:
    """Samples the memory of this process tree (Python driver, JVM,
    Python workers) on a background thread and keeps the peak."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(p, value) for the highest of p99.9/p99/p95/p90/p75/p50 that has at
    least ten samples beyond it."""
    n = len(values)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if n * (1 - p / 100) >= 10:
            return p, percentile(values, p)
    return 50.0, percentile(values, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tamper(rows: list) -> list:
    """Every result the checks see passes through here unchanged; the
    smoke test replaces it to prove that a wrong result counts as failed."""
    return rows


def median(values: list[float]) -> float:
    return statistics.median(values)


def drift(values: list[float]) -> float | None:
    """Relative change from the first to the last of a series."""
    if len(values) < 2 or values[0] == 0:
        return None
    return (values[-1] - values[0]) / values[0]


def environment_record(steal0: float) -> dict:
    """Steadiness context recorded with every run."""
    import pyarrow
    import pyspark

    return {
        "cores": cores(),
        "driver_heap": DRIVER_HEAP,
        "scratch_root": os.environ.get("FES_SCRATCH_DIR"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "steal_s": round(steal_seconds() - steal0, 2),
        "loadavg_1m": os.getloadavg()[0],
        "wall_clock": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
