"""``get_spark`` launch settings: the local driver JVM's JIT threads, the
conf assembly and the host-sized defaults."""

from __future__ import annotations

import os

from pylluminator_spark.session import (
    LOCAL_DRIVER_JAVA_OPTIONS,
    host_sizing,
    session_conf,
)

JAVA_OPTS = "spark.driver.extraJavaOptions"


def test_local_driver_jvm_runs_one_c2_thread(spark):
    """The suite's local session JVM runs one C1 and one C2 compiler
    thread; HotSpot's own sizing gives 3 on a 4-CPU host."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert mx.getVMOption("CICompilerCount").getValue() == "2"


def test_caller_java_options_follow_ours(monkeypatch):
    """A caller's own driver JVM flags come after ours, so the caller's
    win; the rest of ``extra_conf`` overrides the defaults."""
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    master, conf = session_conf(
        "local[2]",
        extra_conf={
            JAVA_OPTS: "-XX:CICompilerCount=4 -Dx=1",
            "spark.ui.enabled": "true",
        },
    )
    assert master == "local[2]"
    assert conf[JAVA_OPTS] == f"{LOCAL_DRIVER_JAVA_OPTIONS} -XX:CICompilerCount=4 -Dx=1"
    assert conf["spark.ui.enabled"] == "true"
    _master, conf = session_conf(None)
    assert conf[JAVA_OPTS] == LOCAL_DRIVER_JAVA_OPTIONS


def test_non_local_master_gets_no_jit_flag(monkeypatch):
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    master, conf = session_conf(
        "spark://head:7077", extra_conf={JAVA_OPTS: "-Dx=1"}
    )
    assert master == "spark://head:7077" and conf[JAVA_OPTS] == "-Dx=1"
    monkeypatch.setenv("SPARK_MASTER", "yarn")
    master, conf = session_conf(None)
    assert master is None and JAVA_OPTS not in conf


MEMINFO_16G = """MemTotal:       16000000 kB
MemFree:         9000000 kB
MemAvailable:   12000000 kB
"""


def test_host_sizing_from_meminfo_and_affinity():
    assert host_sizing(MEMINFO_16G, {0, 1, 2, 3}) == ("4", "10416m")
    # two thirds of 64 GB is over the 24g cap
    assert host_sizing("MemTotal: 67108864 kB\n", {5}) == ("1", "24576m")
    # meminfo unreadable or without MemTotal: the 24g of old
    assert host_sizing(None, set(range(8))) == ("8", "24576m")
    assert host_sizing("MemFree: 100 kB\n", set(range(8))) == ("8", "24576m")
    assert host_sizing(MEMINFO_16G, set())[0] == "1"


def test_env_vars_keep_precedence_over_host_sizing(monkeypatch):
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    master, conf = session_conf(None)
    assert master == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.driver.memory"] == "3g"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    master, conf = session_conf(None, shuffle_partitions=8)
    with open("/proc/meminfo") as fh:
        cpus, heap = host_sizing(fh.read(), os.sched_getaffinity(0))
    assert master == f"local[{cpus}]"
    assert conf["spark.sql.shuffle.partitions"] == "8"
    assert conf["spark.driver.memory"] == heap
