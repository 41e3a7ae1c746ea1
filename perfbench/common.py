"""Shared pieces of the benchmark: the run context and the
process-level measurements (set-up time, peak RSS).

Importing this module starts nothing; ``Context.open`` launches the
Spark session.
"""

from __future__ import annotations

import os
import platform
import shutil
import tempfile
import time
from dataclasses import dataclass, field

CPUS = 4
DRIVER_MEM = "1g"


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        # the command name may hold spaces; fields resume after ")"
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process exited while we listed
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident sets (``VmHWM``) of this process and
    every live descendant: the Python driver, the JVM and the Python
    workers. Workers that already exited are not counted."""
    total_kb = 0
    for pid in process_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is running (zombies count as gone)."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                break
            if state in ("Z", "X"):
                break
            time.sleep(0.05)
        else:
            raise TimeoutError(f"process {pid} still running after {timeout}s")


def dir_bytes(*paths: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``paths``, Hadoop
    ``.crc`` side files excluded."""
    size = files = 0
    for path in paths:
        for root, _, names in os.walk(path):
            for n in names:
                if not n.endswith(".crc"):
                    size += os.path.getsize(os.path.join(root, n))
                    files += 1
    return size, files


@dataclass
class Context:
    """One benchmark process: its work directory, Spark session,
    counters and the facts recorded with the result."""

    root: str  # checkout root
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str = ""
    spark: object = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    facts: dict = field(default_factory=dict)
    setup: dict = field(default_factory=dict)

    def open(self) -> None:
        """Create the work directory and the session (the package's
        default profile, as ``python -m etl_macropulse_br_spark`` uses);
        records set-up time from process start to the first trivial
        job."""
        base = os.path.join(self.root, ".perfbench_work")
        os.makedirs(base, exist_ok=True)
        self.work = tempfile.mkdtemp(prefix=f"{self.workload}-", dir=base)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        # everything Spark, its JVMs and its Python workers write stays
        # in the work directory, and workers import the package from
        # any cwd
        jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ.update(
            {
                "SPARK_LAUNCHER_OPTS": jvm_opts,
                "SPARK_GRAFT_CPUS": str(CPUS),
                "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
                "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
                "TMPDIR": tmp,
                "PYTHONPATH": os.pathsep.join(
                    p for p in (self.root, os.environ.get("PYTHONPATH")) if p
                ),
            }
        )
        t0 = time.perf_counter()
        from etl_macropulse_br_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # a fixed heap: the JVM's resident set then follows what
                # the program touches, not the collector's resizing
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} {jvm_opts}",
                "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
                # keep every micro-batch's progress, not the last 100
                "spark.sql.streaming.numRecentProgressUpdates": "100000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        t1 = time.perf_counter()
        self.spark.range(1).collect()
        t2 = time.perf_counter()
        self.setup = {
            "setup_s": process_age_s(),
            "session.get_spark_s": t1 - t0,
            "session.first_job_s": t2 - t1,
        }
        self.facts.update(environment(self.spark))

    def op(self, ok: bool, what: str = "") -> None:
        """Count one attempted operation and whether it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def close(self) -> None:
        """Stop the session and the JVM, wait until every process the
        run started has ended, and remove the work directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            started = process_tree(os.getpid())[1:]
            gateway = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
                # the JVM exits when its stdin closes; its Python
                # workers exit with it
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)
            _wait_gone(started, timeout=30)
        if self.work:
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.work))  # if no other run uses it
            except OSError:
                pass


def environment(spark) -> dict:
    import duckdb

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "spark_version": spark.version,
        "duckdb_version": duckdb.__version__,
        "python_version": platform.python_version(),
        "master": spark.sparkContext.master,
        "driver_memory": DRIVER_MEM,
    }
