"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design target (AQE on, skew-join
handling, partition coalescing) while remaining correct on
``local[*]`` test runs. Shuffle partitioning is configurable via
``SPARK_GRAFT_SHUFFLE_PARTITIONS`` so the same code runs on a laptop
and on a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Adaptive query execution: runtime join-strategy switching,
    # skew-join splitting (hot tokens!), partition coalescing.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF path (similarity / multimodal ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: pushdown + pruning are on by default; keep
    # explicit so a misconfigured cluster can't silently disable them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Generated classes kept compiled (static; default 100). Over 10
    # 5-gram self joins in one local[4] session on a 4-core host, a
    # warm join recompiled a median of 27 classes at 100 entries and 2
    # at 1,000, at 8.9 vs 7.6 CPU-s per join (joins 3-10).
    "spark.sql.codegen.cache.maxEntries": "1000",
}


# Share of the host's memory the default driver heap takes. The rest
# is left to the JVM's off-heap use, the Python driver and the
# in-process DuckDB oracles.
_HEAP_FRACTION = 0.6


def _memory_ceiling_bytes() -> int:
    """The host's memory ceiling: physical memory, or the cgroup limit
    (v2 ``memory.max`` or v1 ``memory.limit_in_bytes``) when it can be
    read and is smaller."""
    limits = [os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")]
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():  # "max" means no limit
            limits.append(int(raw))
    return min(limits)


def host_memory_bytes() -> int:
    """Memory this process can use: the smaller of
    :func:`_memory_ceiling_bytes` and ``MemAvailable``, when that can
    be read."""
    limits = [_memory_ceiling_bytes()]
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    limits.append(int(line.split()[1]) * 1024)
    except OSError:
        pass
    return min(limits)


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    ``_HEAP_FRACTION`` of :func:`host_memory_bytes`, in MiB. A fixed
    default either starves a large host or, pinned with ``-Xms`` below,
    stops the JVM from starting on a small one."""
    return f"{int(host_memory_bytes() * _HEAP_FRACTION) >> 20}m"


def duckdb_connect():
    """An in-memory DuckDB connection inside the memory the driver heap
    leaves: ``memory_limit`` is :func:`_memory_ceiling_bytes` minus the
    driver heap (the active session's ``spark.driver.memory``, else the
    heap :func:`get_spark` would size), but at least an eighth of the
    ceiling, and ``threads`` is ``SPARK_GRAFT_CPUS`` (every usable core
    when unset or ``*``). DuckDB's own default, 80% of physical memory,
    overcommits the host next to the heap. The ceiling, not
    :func:`host_memory_bytes`: once the JVM runs, ``MemAvailable``
    already excludes what its heap holds, and subtracting the heap
    again left the oracles a few hundred MB (DuckDB out of memory in
    tests/test_ref_datasets.py)."""
    import duckdb

    session = SparkSession.getActiveSession()
    heap = _mem_bytes(
        (session and session.conf.get("spark.driver.memory", None))
        or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or default_driver_memory()
    )
    ceiling = _memory_ceiling_bytes()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    return duckdb.connect(config={
        "memory_limit": f"{max(ceiling - heap, ceiling // 8) >> 20}MB",
        "threads": int(cpus) if cpus.isdigit()
        else len(os.sched_getaffinity(0)),
    })


def _mem_bytes(size: str) -> int:
    """A JVM memory size (``"512m"``, ``"4g"``, ``"4gb"``; a bare number
    is MiB, as for ``spark.driver.memory``) in bytes."""
    s = size.strip().lower().removesuffix("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s[-1:] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s) << 20


def _java_opts(driver_mem: str) -> list[str]:
    """The driver JVM options for a ``driver_mem`` heap.

    Pin the initial heap to the max (round 11). Spark passes only
    -Xmx, so G1 starts at a tiny initial heap and repeatedly
    commits/uncommits tens of GB as query memory ebbs — and on
    lazily-backed VM memory every re-commit goes through the slow
    host fault path. Measured on the refscale db50 ws t=0.3 cell
    (identical plan, rows, and shuffle volumes every iteration):
    default heap stormed to 142-265 s walls with 1,100-2,800 s of
    KERNEL time per iteration (minor faults only ~2M — the cost is
    per-page host-side backing, not guest zeroing), while
    -Xms=driver-mem never stormed across three A-B-A sessions and
    converged to 7.3-11 s. Executors on a real cluster run fixed
    heaps for the same reason; this makes local mode match.
    SPARK_GRAFT_DRIVER_XMS overrides ("0" disables the pin).

    SPARK_GRAFT_PRETOUCH=1 adds -XX:+AlwaysPreTouch, trading ~80 s
    of one-time startup for zero first-touch jitter — the bench
    harnesses set it so timed iterations never fault fresh pages. It
    applies only while the heap fits :func:`host_memory_bytes`:
    touching every page of a larger heap up front would drive the host
    out of memory at startup instead of leaving the pages untouched
    until a query needs them."""
    xms = os.environ.get("SPARK_GRAFT_DRIVER_XMS", driver_mem)
    opts = [] if xms in ("0", "") else [f"-Xms{xms}"]
    if (
        os.environ.get("SPARK_GRAFT_PRETOUCH") == "1"
        and _mem_bytes(driver_mem) <= host_memory_bytes()
    ):
        opts.append("-XX:+AlwaysPreTouch")
    return opts


def get_spark(
    app_name: str = "jaccard-join-duckdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` resolves from the arg, then ``$SPARK_GRAFT_MASTER``,
    then ``local[$SPARK_GRAFT_CPUS|*]``.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER") or (
            "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "*")
        )
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        )
    # Local mode runs all executor threads inside the driver JVM; the
    # 1g default heap OOMs on the dense-corpus joins. Only applies
    # when this call actually launches the JVM (getOrCreate reuses an
    # existing session unchanged).
    driver_mem = (
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    )
    java_opts = _java_opts(driver_mem)
    extra_conf = dict(extra_conf or {})
    caller_opts = extra_conf.pop("spark.driver.extraJavaOptions", None)
    if caller_opts:
        java_opts.append(caller_opts)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
    )
    if java_opts:
        builder = builder.config(
            "spark.driver.extraJavaOptions", " ".join(java_opts)
        )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
