"""Host shape, Spark session lifetime, process-tree memory and driver-log
accounting for the crawl benchmark.

Everything the benchmark writes lives under one work directory inside
the checkout: inputs, crawl state, Spark local/shuffle dirs, the
warehouse dir, JVM temp files, event logs and the driver log.
"""

from __future__ import annotations

import os
import re
import signal
import sys
import threading
import time
from collections import Counter


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_gb() -> int:
    """Driver heap: at most 0.6 x MemTotal, and no more than 4 GB — the
    workloads' working sets are far below that, and the host's memory is
    shared."""
    return max(1, min(4, int(0.6 * mem_total_bytes()) >> 30))


def host_shape() -> dict:
    import platform

    import pyspark

    java = "unknown"
    release = os.path.join(os.environ.get("JAVA_HOME", ""), "release")
    if os.path.exists(release):
        with open(release) as f:
            m = re.search(r'JAVA_VERSION="([^"]+)"', f.read())
            java = m.group(1) if m else java
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_bytes() >> 20,
        "heap_gb": heap_gb(),
        "java": java,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


class Session:
    """One Spark session in its own JVM, configured to keep every file it
    writes inside ``work``. ``stop()`` ends the JVM too, so the next
    Session pays a full start, as a user's job does."""

    def __init__(self, work: str, cores: int, event_log_dir: str | None = None):
        from notjusthtml_searchengine_spark.session import get_spark

        local = os.path.join(work, "spark-local")
        tmp = os.path.join(work, "tmp")
        for d in (local, tmp):
            os.makedirs(d, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # no hsperfdata file under /tmp, for the launcher JVM nor the driver
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        java_opts = f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        confs = {
            "spark.driver.memory": f"{heap_gb()}g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="crawlbench", master=f"local[{cores}]", extra_confs=confs
        )
        self.start_s = time.perf_counter() - t0

    def stop(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            # the gateway JVM exits when its stdin closes
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        # the package's module-level UDFs cache a handle into that JVM
        for name, mod in list(sys.modules.items()):
            if name.startswith("notjusthtml_searchengine_spark"):
                for obj in vars(mod).values():
                    udf = getattr(obj, "_unwrapped", None)
                    if hasattr(udf, "_judf_placeholder"):
                        udf._judf_placeholder = None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (the forked Python workers
    share most of theirs) are split among the processes sharing them,
    so the sum over a process tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak PSS of this process plus all its descendants (driver JVM and
    Python workers), sampled from /proc every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def reap_children(timeout: float = 30.0) -> None:
    """Stop every process this benchmark started and wait for each."""
    me = os.getpid()
    _signal(descendants(me), signal.SIGTERM)
    deadline = time.monotonic() + timeout
    while descendants(me) and time.monotonic() < deadline:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.1)
    _signal(descendants(me), signal.SIGKILL)


def _signal(pids: list[int], sig: int) -> None:
    for p in pids:
        try:
            os.kill(p, sig)
        except ProcessLookupError:
            pass


_ERROR_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR (\S+?):")


def driver_errors(log_path: str) -> Counter:
    """Spark driver ERROR lines in ``log_path``, counted by logger class."""
    counts: Counter = Counter()
    with open(log_path, errors="replace") as f:
        for line in f:
            m = _ERROR_LINE.match(line)
            if m:
                counts[m.group(1)] += 1
    return counts


class DriverLog:
    """Sends file descriptor 2 — the JVM's and the Python workers' log
    stream, which they inherit — to ``path`` for the life of the run,
    keeping the original stderr for the benchmark's own messages."""

    def __init__(self, path: str):
        self.path = path
        sys.stderr.flush()
        self._saved = os.dup(2)
        self._file = open(path, "w")
        os.dup2(self._file.fileno(), 2)
        self.stderr = os.fdopen(os.dup(self._saved), "w")

    def close(self) -> None:
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)
        self._file.close()
