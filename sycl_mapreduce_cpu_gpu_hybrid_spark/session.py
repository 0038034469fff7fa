"""SparkSession bootstrap.

Local mode is a single JVM with N executor threads; the same builder
settings (AQE, shuffle partitions sized to parallelism, Arrow for the
Pandas-UDF slow path) are the ones we'd ship on a real cluster — only
master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def ensure_driver_memory(sf_dir: str) -> str:
    """Pin the local-mode heap to the fixture size instead of folklore.

    In local mode the driver and all executor threads share ONE JVM
    heap, so a fixture that a 1000-executor cluster would spread across
    nodes lands in a single process here. The sf10 spot run (2.4 GB
    fixture) measured 16g dying in an LSH expansion and 64g healthy —
    ~26 heap-bytes per fixture-byte across 32 threads. Apply that
    measured slope, rounded up to 8 GiB steps, whenever the caller has
    not set ``SPARK_GRAFT_DRIVER_MEM`` explicitly; an explicit env
    value always wins. Must run BEFORE the session is built (driver
    memory is immutable after JVM launch). Returns the heap string in
    effect so harnesses can log it.
    """
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    total = 0
    try:
        # walk, not listdir: a fixture laid out as Spark-written
        # parquet DIRECTORIES (part-files inside per-table dirs) must
        # size the same as flat files, else it totals 0 and silently
        # reproduces the sf10 OOM this guard exists to prevent.
        for root, _dirs, files in os.walk(sf_dir):
            for name in files:
                try:
                    total += os.path.getsize(os.path.join(root, name))
                except OSError:
                    pass
    except OSError:
        return "16g"
    gib = total / (1 << 30)
    need = max(16, -(-int(gib * 26) // 8) * 8)  # ceil to 8 GiB steps
    # Clamp to ~80% of host RAM: the 26x slope on a ~10GB fixture would
    # demand 264g and the JVM fails to launch (or swaps) on smaller
    # hosts. When the cap binds, say so and point at the override.
    try:
        host_gib = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ) / (1 << 30)
        cap = max(16, int(host_gib * 0.8) // 8 * 8)
        if need > cap:
            print(
                f"[session] fixture wants {need}g heap but host RAM is "
                f"{host_gib:.0f} GiB; clamping to {cap}g "
                "(set SPARK_GRAFT_DRIVER_MEM to override)"
            )
            need = cap
    except (OSError, ValueError):
        pass
    heap = f"{need}g"
    if need > 16:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    return heap


def get_spark(
    app_name: str = "sycl_mapreduce_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all
    cores. Shuffle partitions default to the core count — at cluster
    scale this knob is instead sized so post-shuffle partitions land
    ~128-256MB; AQE coalescing makes the exact number forgiving.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for key, value in extra_conf.items():
            builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_cached(spark: SparkSession) -> None:
    """Drop everything one query left in the block manager; call it
    between queries, never between a query's timed runs.

    Operators persist intra-query shared stages and the iterative loops
    ``localCheckpoint`` their frontiers, so without this a long session
    accumulates blocks until a later broadcast build fails (derived
    sf1, corpus_curate). The order matters:

    1. ``clearCache()`` unregisters the SQL relation cache. Unpersisting
       a cached relation's RDD while its CacheManager entry stays
       registered leaves a poisoned entry with no storage, and any
       later query whose plan canonicalizes onto it recomputes the
       lineage per consumer (dedup_ngram_jaccard went from 5.8 s to
       88.7 s in a sweep whose unpersist ran without the clearCache).
    2. The persistent RDDs left are ``localCheckpoint`` blocks, which
       are not in the SQL cache; they are unpersisted BLOCKING, since
       an asynchronous unpersist left ~2 GB of dead blocks resident when
       the next query started at the derived sf1.

    The map is read through ``isEmpty()`` and an array of its keys,
    never iterated: py4j ends a Java iterator on
    ``NoSuchElementException``, and PySpark's conversion of that
    exception walks ~13 class lookups over the classpath (16-36 ms per
    call with nothing persisted).
    """
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    if rdds.isEmpty():
        return
    for key in rdds.keySet().toArray():
        rdds[key].unpersist(True)
