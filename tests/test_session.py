"""get_spark's driver JVM settings: the default heap is min(48g, two
thirds of physical memory), so a session started without
SPARK_DRIVER_MEM never asks for a heap larger than the host (no JVM is
started for that test); and the driver JVM runs one C2 compiler
thread."""

from __future__ import annotations

from apl_commissions_etl_spark.session import default_driver_mem

GIB = 1 << 30


def test_default_driver_mem_is_two_thirds_of_host_capped_at_48g():
    assert default_driver_mem(4 * GIB) == "2g"
    assert default_driver_mem(15 * GIB) == "10g"
    assert default_driver_mem(256 * GIB) == "48g"
    # never below 1g, even on a host too small to run the engine
    assert default_driver_mem(GIB) == "1g"
    # reads the host's memory when no total is given
    assert default_driver_mem().endswith("g")


def test_driver_jvm_runs_one_c2_compiler_thread(spark):
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(mx.getRuntimeMXBean().getInputArguments())
    assert "-XX:CICompilerCount=2" in args
