"""Host fit and host readings, set and read from the benchmark side only.

The Spark session is sized to the machine it runs on through the engine's
own hooks (``get_spark(master=..., extra_conf=...)`` and the
``SPARK_DRIVER_MEMORY`` variable ``session.py`` reads): one task slot per
core, a JVM heap of a quarter of physical RAM (at most 4 GiB), no
console progress bars, and every scratch file inside the run's work
directory. Readings come from ``/proc``: per-process peak RSS, CPU busy and
steal time, and a fixed single-thread numpy loop that tracks host speed.
"""

from __future__ import annotations

import os
import time

import numpy as np


def jvm_heap() -> str:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, min(4096, ram // 4 // 2**20))}m"


def spark_session(work_dir: str, master: str | None = None, event_log: str | None = None):
    """A session fitted to this host; ``event_log`` enables Spark's event
    log into that directory."""
    from image_feature_extraction_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = jvm_heap()
    # every JVM Spark starts, its launcher included: temp files in the work
    # directory, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench",
        master=master or f"local[{os.cpu_count()}]",
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# /proc readings
# ---------------------------------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmHWM") / 1024.0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_workers() -> list[int]:
    return [p for p in descendants(os.getpid()) if "pyspark.daemon" in _cmdline(p)]


def daemon_rss_mb() -> float:
    """Largest peak RSS among Spark's Python worker processes: the
    ``pyspark.daemon`` and the workers it forks. 0 if none is running."""
    return max([0.0] + [peak_rss_mb(p) for p in python_workers()])


class CpuSample:
    """System-wide CPU counters from /proc/stat, in clock ticks."""

    def __init__(self):
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        self.wall = time.monotonic()
        self.total = sum(v[:8])
        self.idle = v[3] + v[4]
        self.steal = v[7]

    def since(self, start: "CpuSample") -> dict:
        total = max(1, self.total - start.total)
        busy = total - (self.idle - start.idle) - (self.steal - start.steal)
        tick = os.sysconf("SC_CLK_TCK")
        wall = max(1e-9, self.wall - start.wall)
        return {
            "host.steal_frac": (self.steal - start.steal) / total,
            "host.cpu_util": busy / tick / (wall * os.cpu_count()),
        }


def calibrate() -> float:
    """Seconds for a fixed single-thread numpy loop; tracks host speed."""
    rng = np.random.default_rng(0)
    a = rng.random(1 << 20)
    t0 = time.perf_counter()
    for _ in range(8):
        np.sort(a)
        np.sqrt(a * a + 1.0).sum()
    return time.perf_counter() - t0
