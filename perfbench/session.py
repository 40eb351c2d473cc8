"""Host-sized Spark session, resident-memory sampling and host facts."""

from __future__ import annotations

import hashlib
import os
import platform
import signal
import subprocess
import threading
import time


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def driver_heap_mb() -> int:
    """An eighth of host memory, clamped to [1 GiB, 4 GiB]: the host is
    shared, and local mode runs driver and executors in this one heap."""
    return max(1024, min(4096, host_mem_mb() // 8))


def make_spark(work_dir: str, event_log: bool):
    from pyspark.sql import SparkSession

    cores = host_cores()
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # keep every scratch file of the JVM and its Python workers under
    # work_dir: the environment's SPARK_LOCAL_DIRS would win over
    # spark.local.dir, native libraries unpack into java.io.tmpdir, and
    # each JVM (the launcher's too) writes perf data to /tmp by default
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_heap_mb()}m")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={work_dir} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.eventLog.enabled", str(event_log).lower())
    )
    if event_log:
        log_dir = os.path.join(work_dir, "events")
        os.makedirs(log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", "file://" + log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM, its Python
    daemon and workers), sampled every ``period`` seconds."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root = root_pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        kids = _children()
        todo, total = [self.root], 0
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _run(self):
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants. The Python
    daemon and workers of the JVM outlive it for a moment when it exits; as
    our children they can be waited for by ``reap_children``."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then end the gateway JVM and wait until it has
    exited. ``spark.stop()`` alone leaves the JVM running until this
    process exits (it quits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        finally:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def reap_children(grace: float = 10.0) -> None:
    """Wait until this process has no child left. Children still running
    after ``grace`` seconds get SIGTERM, then SIGKILL after another grace."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in _children().get(os.getpid(), []):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                return
            time.sleep(0.05)


def source_digest(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "pq_spark")
    for dp, dns, fns in sorted(os.walk(pkg)):
        dns.sort()
        for fn in sorted(fns):
            if fn.endswith(".py"):
                p = os.path.join(dp, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def host_facts(root: str, spark) -> dict:
    sha = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            sha = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    import pyspark

    return {
        "nproc": host_cores(),
        "mem_total_mb": host_mem_mb(),
        "driver_heap_mb": driver_heap_mb(),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_sha": sha,
        "source_digest": source_digest(root),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }

