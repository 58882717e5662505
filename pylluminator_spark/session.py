"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` in one JVM; the configuration is written so
the same code runs unchanged on a multi-executor cluster: AQE handles runtime
re-planning (skew joins, partition coalescing), shuffle partitions default to
the local core count but should be sized to ~2-3x total executor cores on a
real cluster, and Arrow is enabled for the pandas-UDF kernels.

Without ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` the local
defaults follow the host: the CPUs this process may run on, and two thirds
of the host's memory (at most 24g) for the driver heap.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MAX_DRIVER_MEMORY_MB = 24 * 1024

# One C1 and one C2 compiler thread, the minimum under tiered compilation.
# Each op of a short local run is the first in a fresh JVM, where the JIT
# threads burn more CPU than the tasks (mostly compiling JDK, Janino, Scala
# and Catalyst methods); HotSpot sizes them from the host's CPUs although
# ``local[N]`` task threads already occupy those CPUs.
LOCAL_DRIVER_JAVA_OPTIONS = "-XX:CICompilerCount=2"


def host_sizing(meminfo: str | None, cpus: set[int]) -> tuple[str, str]:
    """Local defaults for a host: ``(task threads, driver heap)``.

    One task thread per CPU in ``cpus`` (the affinity set of this
    process); a heap of two thirds of ``MemTotal`` in ``meminfo`` (the
    text of ``/proc/meminfo``), at most 24g, and 24g when it is unknown.
    """
    heap_mb = MAX_DRIVER_MEMORY_MB
    for line in (meminfo or "").splitlines():
        name, _, value = line.partition(":")
        if name == "MemTotal" and value.split():
            heap_mb = min(int(value.split()[0]) * 2 // 3 // 1024, heap_mb)
    return str(max(1, len(cpus))), f"{max(1, heap_mb)}m"


def _host_meminfo() -> str | None:
    try:
        with open("/proc/meminfo") as fh:
            return fh.read()
    except OSError:
        return None


def session_conf(
    master: str | None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> tuple[str | None, dict[str, str]]:
    """The master URL (None: leave it to external config) and the Spark
    conf that ``get_spark`` builds its session from.

    A local master's driver JVM gets ``LOCAL_DRIVER_JAVA_OPTIONS`` ahead of
    any ``spark.driver.extraJavaOptions`` in ``extra_conf``, so a flag the
    caller repeats wins (HotSpot keeps the last value). ``extra_conf``
    otherwise overrides every default."""
    host_cpus, host_heap = host_sizing(
        _host_meminfo(),
        os.sched_getaffinity(0)
        if hasattr(os, "sched_getaffinity")
        else set(range(os.cpu_count() or 1)),
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or host_cpus
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        # AQE: runtime partition coalescing + skew-join splitting; essential
        # at 100 TB where static partition counts are always wrong somewhere.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for pandas UDF kernels (NOOB, dye-bias, CBS, MixedLM).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Deterministic timestamp semantics for the correctness oracle.
        "spark.sql.session.timeZone": "UTC",
        # The driver-generated events.parquet stores TIMESTAMP(NANOS), which
        # vanilla Spark rejects; read as long and convert in the loader.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or host_heap,
    }
    conf.update(extra_conf or {})
    if master is not None and master.startswith("local"):
        key = "spark.driver.extraJavaOptions"
        conf[key] = f"{LOCAL_DRIVER_JAVA_OPTIONS} {conf.get(key, '')}".strip()
    return master, conf


def get_spark(
    app_name: str = "pylluminator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    Locally the master defaults to ``local[$SPARK_GRAFT_CPUS]`` (else one
    task thread per CPU this process may use), shuffle partitions to the
    same count, and the driver heap to ``$SPARK_GRAFT_DRIVER_MEM`` (else
    two thirds of the host's memory, at most 24g). A local master's driver
    JVM runs one C1 and one C2 JIT compiler thread
    (``LOCAL_DRIVER_JAVA_OPTIONS``). On a cluster, set ``SPARK_MASTER`` or
    pass ``master=None`` with externally-provided master/deploy config;
    the JVM flags are then left to that config. ``extra_conf`` entries
    override the defaults (see ``session_conf``). A session that already
    exists is returned as it is: JVM options apply only at launch.
    """
    master, conf = session_conf(master, shuffle_partitions, extra_conf)
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
