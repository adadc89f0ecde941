"""Host sizing, the run directory, Spark session lifetime and
resident-memory readings for the benchmark."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
MAX_CORES = 4


def cores() -> int:
    """``min(usable cores, 4)``: the benchmark's unit of parallelism, also
    used as the shuffle-partition count."""
    return max(1, min(len(os.sched_getaffinity(0)), MAX_CORES))


def heap_size() -> str:
    """A Spark heap well below physical RAM: a quarter of it, at most 4g
    (``get_session`` defaults to 16g, sized for a much larger host)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 2**30))}g"


class Host:
    """Owns the run directory (inside the checkout, removed at
    the end), the JVM that the first session launches, and every session
    started on it."""

    def __init__(self, workload: str, seed: int) -> None:
        self.tmp = os.path.join(BENCH_DIR, ".tmp", f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.tmp)
        self.spark = None
        self.jvm = None
        self.children: set[int] = set()
        self.cold_start_s: float | None = None
        # everything Spark, the JVM and the Python workers write goes under
        # the run directory; these must be set before the JVM starts
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        # no hsperfdata files in the system temp directory, from either JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap_size()
        os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")

    def path(self, *parts: str) -> str:
        p = os.path.join(self.tmp, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_session(self, cores_: int) -> None:
        """(Re)start the Spark session on ``local[cores_]`` with ``cores_``
        shuffle partitions; the first start, which launches the JVM, is
        timed as ``cold_start_s``."""
        from pyspark import SparkContext

        from kafka_streams_one_to_many_join_spark.session import get_session

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_session(
            "perfbench",
            master=f"local[{cores_}]",
            shuffle_partitions=cores_,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self.path("warehouse"),
                # a fixed young generation: with G1's adaptive sizing the
                # resident peak swung by a third between identical runs
                "spark.driver.extraJavaOptions":
                    f"-Xmn512m -XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.cold_start_s is None:
            self.cold_start_s = time.perf_counter() - t0
            self.jvm = SparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        """Sum of ``VmHWM`` over the JVM and the Python workers (every live
        descendant of this process)."""
        total_kb = 0
        for pid in self._descendants():
            self.children.add(pid)
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except FileNotFoundError:
                continue
        return total_kb / 1024.0

    def _descendants(self) -> list[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except (FileNotFoundError, ProcessLookupError):
                continue
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
        found, frontier = [], [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            found.extend(kids)
            frontier.extend(kids)
        return found

    def close(self) -> None:
        """Stop the session and the JVM, wait for every process they started
        to end, then remove the run directory.  The JVM is stopped even
        when the session cannot be: after a signal interrupted a call into
        it, the gateway connection may be broken."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        self.children.update(self._descendants())
        try:
            if self.spark is not None:
                self.spark.stop()
        except Py4JError as e:
            print(f"session stop failed: {e}", file=sys.stderr)
        finally:
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if self.jvm is not None:
                self.jvm.stdin.close()
                try:
                    self.jvm.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self.jvm.kill()
                    self.jvm.wait(timeout=30)
            self._reap(deadline=time.monotonic() + 20)
            shutil.rmtree(self.tmp, ignore_errors=True)
            parent = os.path.dirname(self.tmp)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    def _reap(self, deadline: float) -> None:
        alive = set(self.children)
        while alive and time.monotonic() < deadline:
            alive = {p for p in alive if _running(p)}
            if alive:
                time.sleep(0.1)
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False
