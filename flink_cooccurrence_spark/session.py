"""SparkSession factory tuned for the engine.

Local-mode defaults mirror the scale posture we want on a real cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing), Arrow
on (all sampling/text processors are pandas-UDF based), UTC session
timezone (DuckDB-oracle comparability), shuffle partitions sized to cores
rather than the 200 default.

Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` (any ``spark.driver.memory`` value,
e.g. ``4g``) is passed through unchanged when set. Unset, the heap is a
quarter of physical memory (HotSpot's own ``MaxRAMPercentage=25`` share),
capped at ``48g`` — so hosts with at least 192 GiB keep ``48g``. A fixed
``48g`` on a small host lets G1 grow the heap past physical memory and the
kernel OOM killer stops the JVM mid-run.

Codegen cache: ``spark.sql.codegen.cache.maxEntries`` is 1000
(``CODEGEN_CACHE_ENTRIES``). The cache of compiled generated classes is
static and JVM-wide, and Spark's default of 100 entries is smaller than one
engine micro-batch's working set, so every steady batch recompiled 63-90
classes (105-128 for the dedup engine), 0.6-0.9 s of compile time a batch on
4 cores. One benchmark process compiles about 250 distinct classes in all
when nothing is evicted (255 measured with an unbounded cache). 1000 leaves
4x headroom for that working set — the cache is a Guava cache whose size
bound is enforced per segment, not as one exact LRU — and keeps a long-lived
process with many distinct plans (the test suite) from retaining thousands
of loaded classes. What a repeated batch still compiles is the code that
inlines its per-batch literals (watermark, running total, batch id).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries`` (module docstring)
CODEGEN_CACHE_ENTRIES = 1000


def driver_memory(env=None, phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for this host: ``SPARK_GRAFT_DRIVER_MEM`` if
    set, else ``min(48g, physical memory / 4)``. ``env`` and ``phys_bytes``
    default to ``os.environ`` and ``os.sysconf``'s page count x page size."""
    env = os.environ if env is None else env
    explicit = env.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = phys_bytes // 4 // (1024 * 1024)
    return "48g" if mb >= 48 * 1024 else f"{mb}m"


def get_spark(
    app_name: str = "flink_cooccurrence_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE sizes post-shuffle partitions by shuffle-write bytes, which
        # under-counts row-EXPANDING stages (self-joins, explode): a 100 KB
        # input can coalesce to 1 partition and serialize a multi-million-row
        # join on one core. A small floor keeps expansion stages parallel
        # locally and is a no-op at cluster scale where partitions are >> this.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16kb")
        # without this, a .persist() subtree is planned with AQE disabled
        # (fixed-width shuffles); the engine caches its per-batch delta and
        # micro-batch inputs, which must keep adaptive coalescing
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # stdout hygiene: the console progress bar writes CR-spam that
        # consumed the driver's bench stdout-tail capture in round 5
        # (BENCH_r05 "parsed": null) — logs/progress belong on stderr only
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata is written with TIMESTAMP(NANOS) which vanilla Spark
        # rejects; read as long nanos and normalize in sources.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # static, JVM-wide: sized above the engines' working set of
        # generated classes (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
