"""Session sizing, set-up timing, statistics and resource probes."""

from __future__ import annotations

import bisect
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]); 0.0 for no samples."""
    xs = sorted(values)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def iqr_share(values) -> float:
    """Distance between the first and third quartile as a share of the median
    (the spread rule the benchmark's bounds are checked against)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    return 4 << 30


def driver_memory_mb() -> int:
    """1 GiB, or a quarter of the RAM available now if that is less (at
    least 512 MiB): the inputs are small, and the machine's memory is shared
    with other processes. Not larger when more is free, so that peak
    memory does not depend on what other processes use."""
    return max(512, min(1024, mem_available_bytes() // 4 // (1 << 20)))


def steal_and_total_ticks() -> tuple[int, int]:
    """Machine-wide CPU ticks stolen by the hypervisor, and all ticks."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def process_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of a live process."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class CpuClock:
    """CPU seconds (user plus system) used so far by this Python process and
    the driver JVM, every thread of both. This is the program's cost, and on
    a shared machine it does not grow when other machines take the CPU:
    wall time does."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def __call__(self) -> float:
        return process_cpu_s(self.jvm_pid) + time.process_time()


def interpolate(samples: list[tuple[float, float]], t: float) -> float:
    """The value at time `t` of a series of (time, value) samples in time
    order, linear between samples and held flat outside them."""
    times = [x for x, _ in samples]
    i = bisect.bisect_right(times, t)
    if i == 0:
        return samples[0][1]
    if i == len(samples):
        return samples[-1][1]
    (t0, v0), (t1, v1) = samples[i - 1], samples[i]
    return v0 + (v1 - v0) * (t - t0) / (t1 - t0) if t1 > t0 else v1


class CpuSampler:
    """Reads a CpuClock every `interval_s` on a thread of its own, so that
    the CPU used between two wall-clock instants (a batch's start and end,
    say) can be read off afterwards with `between`."""

    def __init__(self, clock, interval_s: float = 0.05):
        self.clock, self.interval_s = clock, interval_s
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="cpu-sampler", daemon=True)

    def _loop(self) -> None:
        while True:
            self.samples.append((time.time(), self.clock()))
            if self._stop.wait(self.interval_s):
                break

    def start(self) -> "CpuSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.samples.append((time.time(), self.clock()))

    def between(self, t0: float, t1: float) -> float:
        return interpolate(self.samples, t1) - interpolate(self.samples, t0)


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


@dataclass
class Run:
    """What one invocation accumulates: timings, counts and failures."""

    seed: int
    seconds: float
    trace: bool
    work: str
    cache: str
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def check(self, problem: str | None, what: str) -> None:
        """Count one correctness check; `problem` None means it passed."""
        self.op(problem is None, f"{what}: {problem}")


class Session:
    """A Spark session sized to this machine, confined to the work dir.

    `start` may be called again: the JVM is kept, so set-up can be repeated
    cheaply and reported as a median."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        self.event_log_dir = os.path.join(work, "eventlog")
        self.spark = None

    def _build(self):
        from pyspark.sql import SparkSession

        cpus = len(os.sched_getaffinity(0))
        local_dir = os.path.join(self.work, "spark-local")
        os.makedirs(local_dir, exist_ok=True)
        heap = driver_memory_mb()
        b = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("perfbench")
            # A fixed-size heap, touched at start: peak memory then does not
            # follow GC sizing, and no page of it is first faulted in while
            # a workload is timed (on a virtual machine a first touch may
            # wait for the host). The JIT stops at its first tier: C2 would
            # keep compiling, and speeding the program up, through the whole
            # run, so the timed window would measure how far it had got. One
            # GC thread: parallel GC workers spin while waiting for each
            # other, and more so when the host deschedules one of them.
            .config("spark.driver.memory", f"{heap}m")
            .config("spark.driver.extraJavaOptions",
                    f"-Xms{heap}m -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"
                    f" -XX:+UseSerialGC -Djava.io.tmpdir={local_dir}")
            .config("spark.local.dir", local_dir)
            .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
        )
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", self.event_log_dir)
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def start(self) -> float:
        """Start (or restart) the session and run the warm-up query; returns
        the seconds taken."""
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = self._build()
        self.spark.range(1_000_000).selectExpr("sum(xxhash64(id) % 100000)").collect()
        return time.perf_counter() - t0

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """Stop the JVM behind PySpark's gateway and wait until it has exited
    (it exits when its standard input closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
