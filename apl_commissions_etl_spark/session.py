"""SparkSession factory.

Configuration stance (designed for a 1000-executor cluster, tested on
local[N]):

- AQE on: runtime coalescing, skew-join splitting. The reference hints
  at heavy employer-group skew (entropy routing exists because a few
  groups dominate certificate volume) -- AQE skew handling is the
  first line of defense before manual salting.
- ANSI ON: matches Spark 4 defaults and any externally-supplied
  session. T-SQL ``TRY_CAST`` semantics (null on failure, ref
  sql/02-input-tables.sql:245-251) are expressed IN the expressions
  (``try_cast`` / ``try_to_timestamp``), never via session config, so
  every query is correct under any session's ANSI setting.
- Arrow on: every pandas interchange (the consolidation fold uses
  sorted mapInPandas) goes through Arrow batches, never pickled rows.
- UTC session timezone: date arithmetic must not depend on the host.
- shuffle.partitions is a knob: ~2-3x total cores locally; on a real
  cluster leave AQE to coalesce from a high initial number.
- One C2 JIT thread in the driver (``-XX:CICompilerCount=2``: one C1
  and one C2 compiler thread, what HotSpot picks by itself on hosts
  with up to 3 CPUs). Each entry point is a batch job in a fresh
  process, and most of the Spark driver JVM's work is plan analysis and
  code generation that runs too briefly to repay C2 compilation: on
  a 4-CPU host (3 compiler threads by default) the compiler threads
  used 100 of the JVM's 172 CPU seconds in one perfbench
  ``increment_then_close`` run, twice the driver threads and the
  tasks together (``scripts/jvm_thread_cpu.py``).
  With one C2 thread the tiered policy raises the C2 thresholds
  while its queue is long, so only the hottest methods reach C2. On
  20x that input (the sf0.1 period close, cold and then warm, 3
  fresh-process pairs) neither wall nor CPU time got worse. Dropping
  C2 altogether (C1 only) cut small runs' CPU by ~45% but made the
  warm sf0.1 close ~60% slower. Executors are left alone: on a
  cluster they run the generated per-row code that C2 pays off on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEM`` is unset:
    min(48g, two thirds of physical memory), whole GiB, at least 1g.
    A heap larger than the host lets the kernel OOM-kill the JVM; on a
    15 GiB host this is 10g, above the 8 GiB line the heap-dependent
    engine choices key on (``registry.SMALL_HEAP_BYTES``,
    ``caching._big_heap``)."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gib = min(48, phys_bytes * 2 // 3 // (1 << 30))
    return f"{max(gib, 1)}g"


def get_spark(
    app_name: str = "apl-commissions-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back
    to ``local[*]``) so tests, perfbench and the driver harness share
    one code path. The driver heap is ``$SPARK_DRIVER_MEM`` if set,
    else ``default_driver_mem()``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.driver.defaultJavaOptions", "-XX:CICompilerCount=2")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

