"""Guards for load-bearing SparkSession defaults (session.py)."""


def test_reduce_locality_disabled(spark):
    # With reduceLocality on (Spark default) the per-iteration fetch SMJ
    # schedules NODE_LOCAL on multi-executor topologies and re-streams the
    # whole cached pages table across process boundaries every iteration
    # (measured 8.6s -> 2.4s per iteration at 4 executors when disabled —
    # see BENCH.md round-3 change #5). A session built by get_spark must
    # keep it off.
    assert spark.conf.get("spark.shuffle.reduceLocality.enabled") == "false"


def test_adaptive_and_arrow_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    )


def test_dataframe_debugging_disabled(spark):
    # DataFrame debugging captures the Python call site on every PySpark
    # API call (three py4j round trips each); a crawl step's plan build
    # makes thousands of such calls
    from pyspark.errors.utils import is_debugging_enabled

    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )
    assert not is_debugging_enabled()


def test_default_driver_mem_follows_host(monkeypatch):
    # a quarter of physical memory, clamped to [1 GiB, 48 GiB]; the fixed
    # 48g it replaces let one long local session's JVM outgrow a 15 GB host
    import os

    from crusty_core_spark import session

    page = 4096

    def host(gib):
        pages = gib * 2**30 // page
        monkeypatch.setattr(
            os, "sysconf",
            lambda k: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[k])
        return session._default_driver_mem()

    assert host(2) == "1024m"
    assert host(16) == "4096m"
    assert host(128) == "32768m"
    assert host(512) == "49152m"
