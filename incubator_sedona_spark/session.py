"""SparkSession factory tuned for the engine.

Equivalent role to the reference's SedonaContext.create
(/root/reference/sql/common/src/main/scala/org/apache/sedona/spark/SedonaContext.scala:40-50)
— but nothing is injected into Catalyst: every operator in this engine produces
plans Catalyst already optimizes (equi-joins on cell keys, native expressions,
Arrow-batched pandas UDFs), so session setup is pure configuration.

Two settings are sized rather than left at Spark's defaults:

* The generated-code cache (``spark.sql.codegen.cache.maxEntries``).  The
  reference runs its ST_ expressions as ``CodegenFallback``; this engine's
  operators are native Catalyst expressions, so every distinct generated
  class costs a Janino compile plus JIT.  Spark keeps compiled classes in a
  100-entry LRU, and one image+caption pass cycles through ~135-140 compile
  units, so at 100 entries every pass recompiled ~106-138 of them (the
  spatial join workload's set fits and compiled 0).  See
  ``CODEGEN_CACHE_ENTRIES`` for the measurements.  The cache is a static
  conf, read once per JVM when the first class is generated, so it cannot
  be raised on a running session; ``get_spark`` warns when it hands back an
  existing session built with a smaller cache.
* The driver heap (``spark.driver.memory``): half the host's memory, capped
  at 24g, unless ``SPARK_DRIVER_MEMORY`` is set.  A fixed 24g on a 15 GB host
  let the JVM grow until the kernel killed it.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 1000
"""Entries in Spark's generated-code cache, at least 2x the largest working
set one pass of the engine's workloads compiles.

Measured with ``python tools/codegen_probe.py`` (4 iterations of the
image+caption chain in one session, local[4], 4 vCPU): at Spark's default
of 100 entries the iterations compiled 139, 117, 106 and 106 classes; at
this size 139, 0, 0, 0.  The benchmark's ``image_text`` pass compiles
~135-140 units; 150 entries still recompiled ~41 a pass (Guava evicts per
segment, so the cache fills unevenly) and 200 stopped it.  A session that
runs every ``__spark_entry__`` query at sf0.01 (``--oracles``, local[8])
compiles ~755 units on its first pass and 6-16 on each later one; at this
size the cache never evicted (its size equalled the compile count), so
those are new plan variants, and a 5,000-entry cache compiled as many.
In ``perfbench`` (10 alternating pairs, 4 vCPU) the ``image_text``
``pass_cpu_s`` median fell 14.41 -> 10.99 s, lower in 10 of 10 pairs, and
``peak_rss_mb`` rose 1.5%."""

_CODEGEN_CACHE_KEY = "spark.sql.codegen.cache.maxEntries"
_DRIVER_MEMORY_CAP_MB = 24 << 10
_warned_small_cache = False


def default_driver_memory() -> str:
    """Half the host's physical memory, capped at 24g (floor 512m), as a JVM
    size string."""
    host_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{max(512, min(_DRIVER_MEMORY_CAP_MB, host_mb // 2))}m"


def get_spark(
    app_name: str = "incubator_sedona_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    Defaults target local mode for tests; on a real cluster pass ``master=None``
    and launch via ``spark-submit --py-files`` — every knob here is also safe
    cluster-side (AQE, Arrow, sane shuffle partitioning).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus if master.startswith("local") else 2 * cpus

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
        "spark.sql.session.timeZone": "UTC",
        _CODEGEN_CACHE_KEY: str(CODEGEN_CACHE_ENTRIES),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warn_if_small_codegen_cache(spark, int(conf[_CODEGEN_CACHE_KEY]))
    return spark


def _warn_if_small_codegen_cache(spark: SparkSession, wanted: int) -> None:
    """Warn (once per process) when ``getOrCreate`` returned a session whose
    generated-code cache is smaller than requested; without this the
    recompiles it causes would be a silent slowdown."""
    global _warned_small_cache
    have = int(spark.conf.get(_CODEGEN_CACHE_KEY))
    if have < wanted and not _warned_small_cache:
        _warned_small_cache = True
        warnings.warn(
            f"reusing a SparkSession whose {_CODEGEN_CACHE_KEY} is {have} "
            f"(wanted {wanted}); this static conf cannot be raised on a running "
            "session, so queries whose generated classes do not fit recompile "
            "them on every run.  Stop that session before calling get_spark, "
            "or create it with the larger cache.",
            RuntimeWarning,
            stacklevel=3,  # the caller of get_spark
        )
