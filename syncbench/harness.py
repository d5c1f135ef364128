"""Process-level plumbing: the work directory, the Spark session, host
samples, memory peaks and the closed-loop driver that runs warm and timed
blocks of a workload."""

from __future__ import annotations

import os
import shutil
import subprocess
import time

# fixed on every run and both sides of a comparison: fits a 15 GiB host
# with room for the Python workers and the page cache
DRIVER_MEMORY = "3g"
YOUNG_GEN = "512m"


def process_start_epoch() -> float:
    """Wall-clock start of this process (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _spark_jvms() -> list[int]:
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                if b"org.apache.spark.deploy.SparkSubmit" in fh.read():
                    pids.append(int(p))
        except OSError:
            continue
    return pids


def host_sample(own_pids=()) -> dict:
    with open("/proc/loadavg", encoding="ascii") as fh:
        load1 = float(fh.read().split()[0])
    return {"t": time.time(), "load1": load1, "cpu": _cpu_times(),
            "other_spark_jvms": len([p for p in _spark_jvms() if p not in own_pids])}


def contention(before: dict, after: dict) -> dict:
    """Steal share over the run and a flag when another tenant competed."""
    delta = [b - a for a, b in zip(before["cpu"], after["cpu"])]
    steal = delta[7] / sum(delta) if sum(delta) else 0.0
    n = cpus()
    flagged = (max(before["load1"], after["load1"]) > 1.5 * n or steal > 0.05
               or before["other_spark_jvms"] > 0 or after["other_spark_jvms"] > 0)
    return {"load1_before": before["load1"], "load1_after": after["load1"],
            "steal_share": round(steal, 4), "other_spark_jvms_before": before["other_spark_jvms"],
            "other_spark_jvms_after": after["other_spark_jvms"], "contended": flagged}


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class WorkDir:
    """Everything a run writes lives here and is removed at the end."""

    def __init__(self, root: str, name: str) -> None:
        self.path = os.path.join(root, ".syncbench_work", f"{name}-{os.getpid()}")
        for sub in ("tmp", "local", "events", "data"):
            os.makedirs(os.path.join(self.path, sub), exist_ok=True)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, "data", *parts)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


class Session:
    """A ``get_spark`` session whose JVM, temp files and (when traced)
    event log stay inside the work directory."""

    def __init__(self, work: WorkDir, traced: bool) -> None:
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work.path, "local")
        os.environ["TMPDIR"] = os.path.join(work.path, "tmp")
        # no hsperfdata files in the system temp dir, from the launcher JVM
        # or the driver JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        from pycasselastic_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work.path, "local"),
            "spark.sql.warehouse.dir": os.path.join(work.path, "warehouse"),
            # a fixed heap and young generation: without them the JVM grows
            # its heap by GC-time heuristics and peak RSS varied 1.6-2.7 GB
            # between runs of identical work
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work.path, 'tmp')} "
                f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} -XX:-UsePerfData"),
        }
        if traced:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + os.path.join(work.path, "events"),
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark(app_name="syncbench", cpus=cpus(), extra_conf=conf)
        # first job: JVM class loading and the executor backend
        self.spark.range(1).count()
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(os.getpid()) + peak_rss_mb(self.jvm_pid)

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            # the JVM exits when its stdin closes; wait for it either way
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Recorder:
    """Samples of one run: (block, seconds, kind) per op and (block,
    seconds) per write, plus attempted/failed counts."""

    def __init__(self) -> None:
        self.ops: list[tuple[int, float, str]] = []
        self.writes: list[tuple[int, float]] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.block = -1

    def op(self, seconds: float, kind: str) -> None:
        self.ops.append((self.block, seconds, kind))

    def write(self, seconds: float) -> None:
        self.writes.append((self.block, seconds))

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def drive(workload, rec: Recorder, warm_blocks: int, seconds: float, tracer, trace_blocks: bool):
    """Closed loop, one client: warm blocks first (billed to set-up), then
    whole timed blocks until ``seconds`` have passed, so the mix of
    operations is fixed by the seed alone. A workload whose warm-up unit
    is smaller than its timed block defines ``warm_block``. With
    ``trace_blocks`` every other timed block runs with spans on."""
    warm = Recorder()
    warm_block = getattr(workload, "warm_block", workload.block)
    t0 = time.perf_counter()
    for b in range(warm_blocks):
        warm.block = b
        warm_block(b, warm)
    warm_s = time.perf_counter() - t0
    t_first = time.time()
    start = time.perf_counter()
    b = 0
    while True:
        rec.block = warm_blocks + b
        tracer.enabled = trace_blocks and b % 2 == 0
        workload.block(warm_blocks + b, rec)
        tracer.enabled = False
        b += 1
        # a traced run needs an untraced block too, for trace.overhead
        if time.perf_counter() - start >= seconds and (b >= 2 or not trace_blocks):
            break
    return warm, warm_s, t_first
