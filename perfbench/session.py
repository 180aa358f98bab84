"""Spark session lifecycle for the benchmark: every file Spark, the JVM
and the Python workers write stays under ``<checkout>/.perfbench/tmp``,
workers import the engine from the checkout, and closing the engine
stops the JVM and waits for every process the run started.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(ROOT, ".perfbench", "tmp")
#: driver heap, committed at start (-Xms). With get_spark's default 8g
#: the JVM grows its heap by GC timing rather than need: peak RSS read
#: 2.9-4.3 GB across five seeds of one input size, and 1.9-2.7 GB with
#: a 2g heap left to grow. 2g holds both workloads without spilling.
DRIVER_MEM = "2g"


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(p))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """All live descendants of ``pid`` (default: this process)."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (the forked Python workers
    share most of theirs with the daemon) count once across processes."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process's descendants (the Spark JVM
    and its Python daemon and workers): their summed PSS, sampled from
    /proc on a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in descendants()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def reset(self) -> None:
        """Start a new peak from the next sample."""
        self.peak_kb = 0

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


class Engine:
    """The engine's SparkSession at local[nproc], with the engine's own
    defaults for everything but the driver heap and where it writes."""

    def __init__(self):
        self.cpus = nproc()
        self.spark = None
        os.makedirs(TMP, exist_ok=True)
        pythonpath = os.environ.get("PYTHONPATH", "")
        if ROOT not in pythonpath.split(os.pathsep):
            pythonpath = os.pathsep.join(p for p in (ROOT, pythonpath) if p)
        # the JVM and the Python workers it forks inherit these; engine
        # UDFs unpickle by module path, so workers need the checkout on
        # their path or they fail with ModuleNotFoundError
        os.environ.update({
            "PYTHONPATH": pythonpath,
            "TMPDIR": TMP,
            # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}",
            "SPARK_LOCAL_DIRS": os.path.join(TMP, "spark"),
            "INPUTOSM_DRIVER_MEM": DRIVER_MEM,
        })
        self.worker_pythonpath = pythonpath

    def start(self) -> float:
        """Start the session; return its start time in seconds."""
        from inputosm_spark import get_spark

        t0 = time.monotonic()
        self.spark = get_spark(
            cpus=self.cpus,
            app_name="perfbench",
            extra_conf={
                "spark.local.dir": os.path.join(TMP, "spark"),
                "spark.sql.warehouse.dir": os.path.join(TMP, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.monotonic() - t0

    def versions(self) -> dict[str, str]:
        jvm = self.spark.sparkContext._jvm
        return {"spark": self.spark.version,
                "java": jvm.java.lang.System.getProperty("java.version")}

    def close(self) -> None:
        """Stop Spark, end the JVM, and wait for every child process."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while descendants() and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in descendants():
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass

    def __enter__(self) -> Engine:
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.close()
