"""SparkSession factory tuned for the crawl engine.

Local-mode defaults follow the host (cores from SPARK_GRAFT_CPUS, heap from
physical memory); the same builder settings apply unchanged on a
multi-executor cluster via ``spark-submit --py-files`` (see
scripts/submit.sh) — AQE, Arrow, and adaptive skew-join handling are
cluster-side features, not local-mode hacks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "crusty_core_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    if shuffle_partitions is None:
        # match parallelism in local mode instead of the 200 default
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(int(n), 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Reducer-locality preferences poison cache locality for this
        # engine's hot path: the per-iteration fetch SMJ zips a tiny
        # shuffled frontier with the big cached pages table, and with
        # reduceLocality on (default) the shuffle side's reducer prefs
        # override the cache's executor-level placement — measured on a
        # 4-executor local-cluster, ALL 16 join tasks ran NODE_LOCAL and
        # re-streamed the full 4.3 GB cache across process boundaries
        # every iteration (run 7.0 s / cpu 0.9 s per task, blocked on the
        # block manager). With it off the cache's ExecutorCacheTaskLocation
        # is the only preference and the scan is PROCESS_LOCAL: the same
        # stage dropped 8.6 s -> 2.4 s. Iteration shuffles here are KB-MB
        # (frontier rows); the cache is GB — locality must follow the cache.
        .config("spark.shuffle.reduceLocality.enabled", "false")
        # DataFrame debugging captures the Python call site on EVERY
        # PySpark API call (an active-session lookup, a conf read and a
        # JVM origin set: three py4j round trips per withColumn/filter/
        # select). A crawl step builds its plan from thousands of such
        # calls, so this was over half of its round trips. The cost: an
        # analysis error no longer names the Python line that built the
        # failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    ev = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if ev:
        # diagnostic: per-task timing evidence for the scaling benches
        os.makedirs(ev, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
              .config("spark.eventLog.dir", "file://" + ev))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_session(spark)
    return spark


def _default_driver_mem() -> str:
    """A quarter of the host's physical memory, within [1 GiB, 48 GiB].
    In local mode the driver JVM is the whole cluster, and G1 lets garbage
    pile up until the heap nears its maximum: a fixed 48g heap on a 15 GB
    host grew one long test session's JVM past the host's memory."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "48g"
    return "%dm" % max(1024, min(48 * 1024, total // 4 // 2**20))


def _warm_session(spark: SparkSession) -> None:
    """One generic warm-up action per JVM: the first Spark action pays
    Janino/whole-stage-codegen compilation, exchange/broadcast machinery
    init and JIT warm-up (~2-3 s measured), which otherwise lands inside
    whatever query a caller happens to run first. The warm-up touches NO
    input data — synthetic spark.range only — so no query result or input
    table is precomputed. Kill-switch: SPARK_GRAFT_NO_WARMUP=1."""
    sc = spark.sparkContext
    if getattr(sc, "_crusty_warmed", False) or os.environ.get(
        "SPARK_GRAFT_NO_WARMUP"
    ):
        return
    sc._crusty_warmed = True
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    try:
        sc.setJobDescription("session warm-up (synthetic)")
        df = spark.range(0, 100_000, 1, 8).selectExpr(
            "id", "cast(id % 97 as string) AS k", "cast(id as double) AS v"
        )
        small = spark.range(0, 97).selectExpr("id AS j")
        w = Window.partitionBy("k").orderBy("id")
        (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 30)
            .join(F.broadcast(small), F.col("id") % 97 == F.col("j"))
            .groupBy("k")
            .agg(
                F.sum(F.col("v").cast("decimal(18,6)")).alias("s"),
                F.count("*").alias("n"),
            )
            .selectExpr("sum(n)", "max(md5(k))")
            .collect()
        )
        # expression families the analytics paths lean on: regex+hash
        # aggregation, higher-order array functions, explode+min — first
        # use pays interpreter/codegen setup per family
        (
            spark.range(0, 5_000, 1, 4)
            .selectExpr(
                "id",
                "concat('w', cast(id % 11 as string), ' x', "
                "cast(id as string)) AS t",
            )
            .selectExpr(
                "id",
                "md5(regexp_replace(lower(t), '[^a-z0-9]', '')) AS fp",
                "split(trim(t), '\\\\s+') AS toks",
            )
            .selectExpr(
                "fp",
                "transform(toks, s -> md5(s)) AS hs",
                "array_distinct(toks) AS dt",
            )
            .selectExpr(
                "fp",
                "aggregate(hs, 0, (a, h) -> a + CASE WHEN "
                "substring(h, 1, 1) IN ('8','9') THEN 1 ELSE -1 END) AS v",
                "size(array_intersect(hs, hs)) AS ni",
                "explode(hs) AS h",
            )
            .groupBy("fp")
            .agg(F.min("h"), F.sum("v"), F.max("ni"))
            .count()
        )
        # parquet scan machinery (vectorized reader, ColumnarToRow codegen,
        # compression codec init) — synthetic rows through a temp file; the
        # first real parquet query otherwise pays this
        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="spark_warm_")
        try:
            p = os.path.join(tmp, "w.parquet")
            spark.range(0, 10_000, 1, 2).selectExpr(
                "id",
                "cast(id % 5 as string) AS s",
                "cast(id as double) AS d",
                "timestamp_seconds(id) AS ts",
            ).write.mode("overwrite").parquet(p)
            (
                spark.read.parquet(p)
                .filter(F.col("ts") <= "1970-01-01 03:00:00")
                .groupBy("s")
                .agg(
                    F.sum(F.col("d").cast("decimal(18,6)")).alias("sd"),
                    F.countDistinct("id").alias("nd"),
                )
                .collect()
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except Exception:
        pass  # warm-up must never break session creation
    finally:
        sc.setJobDescription(None)
