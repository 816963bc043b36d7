"""Fit the Spark session to the host from outside the program, and watch
the memory of the process tree the benchmark starts.

The session is sized here, not in qwatch_spark: ``local[nproc]`` and a
driver heap derived from /proc/meminfo, passed through the session's
``extra_conf``. Every scratch directory Spark and its Python workers use
is pointed inside the benchmark's work directory.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_kb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0])
    return out


def driver_heap_gb() -> int:
    """20% of physical memory, capped at 2 GB and floored at 1 GB: the
    host is shared, and local mode keeps executors in the driver JVM."""
    total_gb = meminfo_kb()["MemTotal"] / 1024 / 1024
    return max(1, min(2, int(total_gb * 0.2)))


def storage_kind(path: str) -> str:
    """'tmpfs' when the path lives on a RAM filesystem, else 'disk'."""
    path = os.path.realpath(path)
    best, kind = "", "disk"
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if path.startswith(mnt) and len(mnt) > len(best):
                best = mnt
                kind = "tmpfs" if fstype in ("tmpfs", "ramfs") else "disk"
    return kind


def host_record(work_dir: str) -> dict:
    import pyspark

    mem = meminfo_kb()
    return {
        "nproc": nproc(),
        "mem_total_mb": mem["MemTotal"] // 1024,
        "mem_available_mb": mem["MemAvailable"] // 1024,
        "driver_heap_gb": driver_heap_gb(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "table_storage": storage_kind(work_dir),
    }


def session_conf(work_dir: str, event_log_dir: str | None) -> dict[str, str]:
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{driver_heap_gb()}g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # a fixed-size heap and young generation: resident memory then
        # does not depend on when the collector decides to resize
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{driver_heap_gb()}g -Xmn512m"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": event_log_dir,
            }
        )
    return conf


def prepare_env(repo_root: str, work_dir: str) -> None:
    """Environment the JVM and its Python workers inherit: the program
    on PYTHONPATH (workers import qwatch_spark for the extract_text
    UDF), scratch inside the work dir, UTC so commit timestamps read
    back as the wall clock the harness keeps."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + prev if prev else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()


def start_spark(work_dir: str, event_log_dir: str | None = None):
    from qwatch_spark.session import get_spark

    n = nproc()
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=session_conf(work_dir, event_log_dir),
    )


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(root: int) -> int:
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """RSS of this process plus every descendant (the JVM and its
    Python workers), sampled on a daemon thread."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.samples_kb: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.samples_kb.append(tree_rss_kb(me))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_mb(self) -> float:
        return max(self.samples_kb, default=0) / 1024.0

    def median_mb(self) -> float:
        xs = sorted(self.samples_kb)
        return xs[len(xs) // 2] / 1024.0 if xs else 0.0
