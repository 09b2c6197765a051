"""Host-sized resources for the benchmark's Spark session and DuckDB oracle.

``local[nproc]``, with nproc taken from the machine the benchmark runs
on; a fixed JVM heap and DuckDB memory limit, and a run that fails
before it starts when ``MemAvailable`` (or the cgroup limit) cannot
hold them; no heap pre-touch, fixed shuffle partitions and no console
progress bars. The package's own defaults are bypassed only
through the knobs ``get_spark`` already reads; no package file changes.
Also the readers the metrics come from: peak RSS, CPU time, steal, and
a probe of how fast the host's cores run at the time.
"""

from __future__ import annotations

import os
import statistics
import tempfile
import threading
import time
from dataclasses import dataclass

import numpy as np

# Constant, so a run's plan does not depend on the host it lands on.
SHUFFLE_PARTITIONS = 8
# Constant, so that neither the plans nor the memory figures depend on
# how much memory the host happens to have free. The inputs are a few
# MB of parquet.
HEAP_MB = 2048
# The oracle runs after the JVM has exited.
DUCKDB_MB = 2048
# Room for the JVM beyond its heap (metaspace, code cache, threads,
# off-heap buffers) and for the Python process.
OVERHEAD_MB = 1536
# C1-only JIT: a departure from the package's runtime, which runs the
# JVM's default tiered C1 + C2. On a 1K-profile 5-gram self-join on a
# 4-core host, under C2 the per-join CPU time fell from 19 s to 9-10 s
# over the first 14 joins of a process, and at the 14th join the JIT
# compiler threads still used 1.5-3 CPU-seconds of each join: a run of
# about a minute never reaches C2's steady level. Under C1, compilation
# is down to 0.3-0.5 CPU-seconds a join by the fourth join. The price:
# C1 code is slower, and at the 14th join the per-join CPU time was
# about 12% above C2's, so JVM-side work weighs a little more here than
# in a long-lived session.
#
# Code cache flushing off: with it on, the sweeper evicts compiled code
# that a join shape has not run for a while, and the next join pays to
# recompile it. On a two-table bigram join that made one join in six
# cost 13 CPU-seconds instead of 7, 3.5 of them in the compiler. After
# 14 joins the code cache held 45 MB, well inside the 256 MB reserved.
JIT_OPTS = ("-XX:TieredStopAtLevel=1 -XX:-UseCodeCacheFlushing "
            "-XX:ReservedCodeCacheSize=256m")
# A fixed 384 MB young generation, another departure from the package's
# runtime, where G1 sizes it. G1 sizes it from its pause-time goal and
# grows the heap when it judges its collections too frequent, at moments
# that differ from run to run. In five runs of a 1K-profile 5-gram
# self-join, the run medians of the scaled per-join CPU time read
# 5.5-6.3 s with G1 sizing the young generation, still falling by 2% a
# join, and 5.0-5.5 s with it fixed, flat after the warm-up joins.
GC_OPTS = "-Xmn384m"
# The speed probe: a fixed piece of single-threaded work, and the CPU
# time it took on the baseline host (4 vCPUs, quiet). The host's cores
# and memory run slower or faster from one minute to the next, with the
# load its neighbours put on the shared machine, and steal accounting
# does not show it. CPU time scaled by REF_PROBE_S / (the probe's time
# now) reads as CPU time at the baseline's speed. The probe has two
# halves, as the join has: interpreter work that stays in the core's
# caches, and copies of arrays too large for them. In one busy phase a
# two-table bigram join took 1.65 times its quiet CPU time; the loop
# took 1.0-1.45 times its quiet time and the copies 1.45 times. The
# probe is the benchmark's own code, so no change to the package
# moves it.
PROBE_LOOPS = 2_000_000
PROBE_COPY_MB = 32
PROBE_COPIES = 40
REF_PROBE_S = 0.21


def _cgroup_limit_mb() -> int | None:
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit() and int(raw) < 1 << 60:
            return int(raw) >> 20
    return None


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail = int(line.split()[1]) >> 10
                break
        else:
            raise RuntimeError("MemAvailable missing from /proc/meminfo")
    limit = _cgroup_limit_mb()
    return min(avail, limit) if limit else avail


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) >> 10
    raise RuntimeError("MemTotal missing from /proc/meminfo")


@dataclass(frozen=True)
class Budget:
    cpus: int
    mem_total_mb: int
    mem_available_mb: int

    def describe(self) -> dict:
        return {
            "nproc": self.cpus, "mem_total_mb": self.mem_total_mb,
            "mem_available_mb": self.mem_available_mb,
            "heap_mb": HEAP_MB, "duckdb_mb": DUCKDB_MB,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
        }


def budget() -> Budget:
    avail = mem_available_mb()
    need = max(HEAP_MB, DUCKDB_MB) + OVERHEAD_MB
    if avail < need:
        raise RuntimeError(f"only {avail} MB available; the run needs {need} MB")
    return Budget(len(os.sched_getaffinity(0)), mem_total_mb(), avail)


def prepare_env(b: Budget, work: str) -> None:
    """Point ``get_spark``'s environment knobs and every temp directory
    at this run's work dir. Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{HEAP_MB}m"
    # -Xms not pinned, so the heap grows only as far as the joins need
    # and peak RSS shows the program's footprint, not the -Xmx ceiling.
    # Never pre-touched, so set-up time stays the program's own.
    os.environ["SPARK_GRAFT_DRIVER_XMS"] = "0"
    os.environ.pop("SPARK_GRAFT_PRETOUCH", None)
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def start_spark(b: Budget, work: str):
    from jaccard_join_duckdb_spark import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{b.cpus}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-XX:ErrorFile={work}/hs_err_pid%p.log {JIT_OPTS} {GC_OPTS}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    proc.wait(timeout=60)


def duckdb_connect(b: Budget, work: str):
    import duckdb

    tmp = os.path.join(work, "duckdb-tmp")
    os.makedirs(tmp, exist_ok=True)
    return duckdb.connect(config={
        "threads": b.cpus,
        "memory_limit": f"{DUCKDB_MB}MB",
        "temp_directory": tmp,
    })


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


class PeakRss:
    """Samples the summed resident set of ``pids`` from a background
    thread while the ``with`` block runs; ``mb`` is the largest sum."""

    INTERVAL_S = 0.05

    def __init__(self, pids: list[int]):
        self.pids, self.mb = pids, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            self.mb = max(self.mb, sum(map(rss_mb, self.pids)))
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


_TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def cpu_s(pids: list[int], children: bool = False) -> float:
    """User plus system CPU seconds the processes ``pids`` have used;
    with ``children``, also those of the children they have waited for
    (the launcher JVM that ``spark-submit`` runs before the driver).
    Time the hypervisor gives to other guests (steal) is not in it."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        # utime, stime, cutime, cstime
        total += sum(map(int, fields[11:15 if children else 13]))
    return total * _TICK_S


class SpeedProbe:
    """Runs the speed probe on demand and keeps every time it took.
    ``factor`` scales a CPU time measured in this run to the baseline
    host's speed, from the median probe, so one slow probe does not
    move it."""

    def __init__(self):
        self.times: list[float] = []
        self._src = np.ones(PROBE_COPY_MB << 17)  # float64: 8 bytes each
        self._dst = np.empty_like(self._src)

    def probe(self) -> None:
        t = time.thread_time()
        x = 0
        for i in range(PROBE_LOOPS):
            x += i * i
        for _ in range(PROBE_COPIES):
            np.copyto(self._dst, self._src)
        self.times.append(time.thread_time() - t)

    def factor(self) -> float:
        return REF_PROBE_S / statistics.median(self.times)


class StealMeter:
    """Share of the host's CPU time, since creation, that the hypervisor
    gave to other guests (``steal`` in ``/proc/stat``)."""

    def __init__(self):
        self._start = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
        return ticks[7], sum(ticks)

    def share(self) -> float:
        (s0, t0), (s1, t1) = self._start, self._read()
        return (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmRSS missing for pid {pid}")
