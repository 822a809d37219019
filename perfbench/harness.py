"""Session lifecycle, host-derived settings, layer tagging and resource
probes shared by the benchmark's workloads."""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import subprocess
import tempfile
import time

from osmquadtree_rust_bindings_spark import progress
from osmquadtree_rust_bindings_spark.session import get_spark

# Scratch that Spark manages itself: the block manager and shuffle files,
# the event log, the JVM's temp files and the SQL warehouse.  Python's
# TMPDIR ("tmp") is not among them, so a temp file or ``mkdtemp``
# directory that an op leaves behind counts as scratch growth.
SPARK_OWNED = ("spark-local", "eventlog", "jvm-tmp", "warehouse")
PY_TMP = "tmp"


def host_settings() -> tuple[int, int]:
    """(cores, driver heap MiB) derived from the host it runs on: the
    cores this process may use, and a quarter of physical memory capped at
    2 GiB, which holds the benchmark's inputs many times over — the
    session's default 16g heap can exceed a small host's RAM."""
    cores = len(os.sched_getaffinity(0)) or os.cpu_count() or 1
    mem_kib = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
                break
    heap_mib = max(1024, min(2048, mem_kib // 1024 // 4))
    return cores, heap_mib


class _Silent:
    def set_message(self, new_message): pass
    def progress_percent(self, percent): pass
    def progress_bytes(self, nbytes): pass
    def finish(self): pass


class QuietMessenger(progress.Messenger):
    """Keeps the pipeline's stage messages and progress bars off stdout,
    whose last line is the benchmark result."""

    def message(self, message: str) -> None:
        self.messages.append(message)

    def start_progress_percent(self, message):
        return _Silent()

    def start_progress_bytes(self, message, total_bytes):
        return _Silent()


def start_session(work: str, trace: bool):
    """Start the Spark session with every file it writes under ``work``.
    Returns (spark, seconds taken)."""
    cores, heap_mib = host_settings()
    for d in (*SPARK_OWNED, PY_TMP):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, PY_TMP)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mib}m"
    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        # replaces get_spark's value, so repeat its JIT flag
        "spark.driver.extraJavaOptions":
            f"-XX:-DontCompileHugeMethods -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    progress.register_messenger(QuietMessenger())
    t0 = time.perf_counter()
    spark = get_spark(f"local[{cores}]", app_name="osmquadtree-perfbench",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_pids(spark) -> list[int]:
    """The driver JVM and every process under it (Python workers)."""
    ph = spark.sparkContext._jvm.java.lang.ProcessHandle.current()
    return [int(ph.pid())] + [int(p.pid())
                              for p in ph.descendants().toArray()]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' resident high-water marks (VmHWM)."""
    total_kib = 0
    for pid in pids:
        with contextlib.suppress(OSError):
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
    return total_kib / 1024.0


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    with contextlib.suppress(OSError):
        with open(f"/proc/{pid}/stat") as f:
            if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                return False
    return True


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, close the JVM gateway and wait until the JVM and its
    Python workers have exited."""
    from pyspark import SparkContext

    pids = jvm_pids(spark)
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


@contextlib.contextmanager
def layer(spark, name: str, op: int):
    """Tag the Spark jobs started inside the block with a layer and an op
    id, for the traced run's event-log attribution."""
    sc = spark.sparkContext
    sc.setJobGroup(f"perfbench.{name}", f"{name} op {op}")
    sc.setLocalProperty("perfbench.layer", name)
    sc.setLocalProperty("perfbench.op", str(op))
    try:
        yield
    finally:
        sc.setLocalProperty("perfbench.layer", None)
        sc.setLocalProperty("perfbench.op", None)
        sc.setJobGroup("", "")


def scratch_usage(work: str) -> tuple[int, int]:
    """(entries, bytes) of the files and directories under ``work`` that
    Spark does not manage: the corpus, the qts product, op workdirs and
    Python's TMPDIR.  Entries are counted so that an empty leaked
    directory shows too."""
    entries = total = 0
    for entry in os.listdir(work):
        if entry in SPARK_OWNED:
            continue
        path = os.path.join(work, entry)
        entries += 1
        if os.path.isfile(path):
            total += os.path.getsize(path)
            continue
        for root, dirs, files in os.walk(path):
            entries += len(dirs) + len(files)
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files)
    return entries, total


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
