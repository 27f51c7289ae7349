"""Process-level plumbing shared by the workloads: host-derived settings,
the environment the JVM and Python workers inherit, Spark session start and
stop, and reaping every process a run started."""

from __future__ import annotations

import os
import signal
import sys
import time
from contextlib import contextmanager

T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr,
          flush=True)


def host_settings(work: str) -> dict:
    """Every process-level setting that moves the numbers, derived from the
    host the same way on every run (and printed with the result)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    # a sixth of host memory, within [1 GiB, 8 GiB] (the session
    # factory's own default is a fixed 48g)
    heap_mb = max(1024, min(8192, mem_kb // 1024 // 6))
    return {
        "cpus": cpus,
        "master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
        "host_mem_mb": mem_kb // 1024,
        "driver_mem": f"{heap_mb}m",
        "local_dirs": os.path.join(work, "spark-local"),
        "tmpdir": os.path.join(work, "tmp"),
    }


def configure_env(s: dict, root: str) -> None:
    """Environment read by the session factory, the JVM launcher and the
    Python workers; set before the JVM starts."""
    for d in (s["local_dirs"], s["tmpdir"]):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = s["driver_mem"]
    os.environ["SPARK_GRAFT_CPUS"] = str(s["cpus"])
    os.environ["SPARK_LOCAL_DIRS"] = s["local_dirs"]
    os.environ["TMPDIR"] = s["tmpdir"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, the launcher's included: temp files in the checkout, no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={s['tmpdir']} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("SPARK_GRAFT_NO_WARMUP", None)
    os.environ.pop("SPARK_CRAWL_PROFILE", None)


def start_session(s: dict, app: str):
    from crusty_core_spark.session import get_spark

    return get_spark(
        app_name=app,
        master=s["master"],
        shuffle_partitions=s["shuffle_partitions"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap size, so G1 does not also resize the heap
            # from run to run (it is committed, not touched)
            "spark.driver.extraJavaOptions": f"-Xms{s['driver_mem']}",
        },
    )


@contextmanager
def measured_session(settings: dict, app: str, tracer):
    """Start Spark inside a memory sampler and stop it on the way out.

    Yields ``(spark, info)``; ``info`` holds ``t0`` (the start of set-up),
    ``session_s``, ``checkpoint`` (call it once, outside the timers, at a
    point reached after the same work in every run) and, once the block
    has ended, ``memory_mb``. Its ``peak_rss_mb`` is the JVM's part (``JvmMemory``)
    plus the peak PSS of the other processes of the tree (Python driver,
    Python workers, fork pool)."""
    from perfbench.trace import JvmMemory, PssSampler

    info: dict = {}
    with PssSampler() as pss:
        info["t0"] = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_session(settings, app)
        info["session_s"] = time.perf_counter() - info["t0"]
        jvm = JvmMemory(spark)
        info["checkpoint"] = jvm.checkpoint
        try:
            yield spark, info
            nonheap = jvm.nonheap_peak()
        finally:
            stop_session(spark)
    info["memory_mb"] = {
        "peak_rss_mb": (jvm.live + nonheap + pss.peak) / 2**20,
        "jvm_live_heap_mb": jvm.live / 2**20,
        "jvm_nonheap_mb": nonheap / 2**20,
        "py_pss_mb": pss.peak / 2**20,
    }


def stop_session(spark) -> None:
    """Stop Spark, the engine's fork pool and the JVM, and wait for each.

    The pool goes first: its workers were forked after the JVM started and
    hold the JVM's stdin pipe open, which keeps the JVM alive."""
    from crusty_core_spark.plans import local_step

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    pool = getattr(local_step, "_POOL", None)
    if pool is not None:
        pool.terminate()
        pool.join()
        local_step._POOL = None
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def reap_descendants(timeout_s: float = 10.0) -> None:
    """Terminate whatever this process started that is still alive (the
    engine's fork pool, Python workers) and wait until each has ended."""
    from perfbench.trace import tree_pids

    me = os.getpid()
    pids = [p for p in tree_pids(me) if p != me]
    for p in pids:
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                log(f"reaping leftover process {p}: {f.read()[:120]!r}")
        except OSError:
            pass
    for p in pids:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    for p in pids:
        while time.monotonic() < deadline:
            try:
                if os.waitpid(p, os.WNOHANG) != (0, 0):
                    break
            except ChildProcessError:  # not our direct child
                try:
                    with open(f"/proc/{p}/stat") as f:
                        if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                            break
                except OSError:  # gone
                    break
            time.sleep(0.05)
        else:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
