"""The driver commit of a distributed iteration, and the driver-built
partition reads.

A distributed iteration collects its cached chain output and fetch_log
once and commits them on the driver through ``local_step.commit_iteration``
(the local path's commit); both seed paths commit there too, as iteration
0. ``TableIO.read_partitions`` serves small selections from the driver's
Arrow file cache instead of a Spark parquet scan. Path parity (distributed against local) is pinned by
tests/test_fastpath.py; these tests check the mechanisms by counting Spark
jobs and watching the fork pool, not by timing.
"""

from __future__ import annotations

import threading
import uuid

from pyspark.sql import functions as F

from crusty_core_spark.config import CrawlConfig
from crusty_core_spark.plans import local_step
from crusty_core_spark.plans.engine import CrawlEngine
from crusty_core_spark.sources import tables
from crusty_core_spark.sources.datagen import CorpusSpec, gen_corpus
from crusty_core_spark.sources.tables import TableIO

from tests.conftest import pages_df


def _last_job_id(sc) -> int:
    """Id of a marker job run now. Job ids are assigned in submission
    order, so the jobs an operation started are the ids between two
    markers; the marker's own group makes it visible in the status
    tracker however late the listener delivers it."""
    import time

    group = f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count marker")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    for _ in range(200):
        ids = list(tracker.getJobIdsForGroup(group))
        if ids:
            return max(ids)
        time.sleep(0.05)
    raise AssertionError("marker job never reached the status tracker")


def _jobs_started(spark, fn):
    sc = spark.sparkContext
    before = _last_job_id(sc)
    out = fn()
    return _last_job_id(sc) - before - 1, out


# ----------------------------------------------------------- read_partitions

def _partitioned_table(spark, io, n_parts=120):
    """A table over ``n_parts`` partition dirs, written in two commits (the
    second extends 40 of the partitions), with nulls in a nullable
    column."""
    import pandas as pd

    schema = spark.createDataFrame(
        [], "job_id long, url string, added_iter long, shard int"
    ).schema
    rows = pd.DataFrame({
        "job_id": list(range(3 * n_parts)),
        "url": [f"http://h{i}.example/p" if i % 7 else None
                for i in range(3 * n_parts)],
        "added_iter": [i % 5 for i in range(3 * n_parts)],
        "shard": [i % n_parts for i in range(3 * n_parts)],
    })
    io.append_partitions_pdf("t", rows, "shard", schema)
    io.append_partitions_pdf(
        "t",
        pd.DataFrame(
            [(10_000 + i, f"http://s{i}.example/", 9, i % 40)
             for i in range(80)],
            columns=["job_id", "url", "added_iter", "shard"],
        ),
        "shard",
        schema,
    )
    return schema


def test_read_partitions_arrow_route_equals_spark(spark, workdir,
                                                  monkeypatch):
    io = TableIO(spark, workdir)
    _partitioned_table(spark, io)
    assert len(io.partition_paths("t")) > 100

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    selections = [None, [0, 3, 39, 41, 119], [], [500]]
    arrow = []
    for values in selections:
        n_jobs, df = _jobs_started(
            spark, lambda v=values: io.read_partitions("t", v))
        assert n_jobs == 0, values
        arrow.append((df.schema, rows(df)))

    monkeypatch.setattr(tables, "LOCAL_READ_MAX_BYTES", -1)
    n_jobs, _ = _jobs_started(spark, lambda: io.read_partitions("t"))
    assert n_jobs > 0  # the parquet scan lists 100+ dirs with a job
    for values, (schema, got) in zip(selections, arrow):
        df = io.read_partitions("t", values)
        assert schema == df.schema, values  # names, types and nullability
        assert got == rows(df), values
    assert len(arrow[0][1]) == 3 * 120 + 80
    assert len(arrow[1][1]) > 0 and arrow[2][1] == [] and arrow[3][1] == []


# ------------------------------------------------------------- commit route

def test_distributed_commit_forks_before_writers(spark, workdir,
                                                 monkeypatch):
    """The Bloom positions go through the fork pool on every iteration with
    accepted tasks, the seed (iteration 0) included. The pool must be
    resolved on the step's thread while no commit-pool writer runs, never
    lazily from a commit-pool thread: a fork copies the locks the running
    threads hold."""
    spec = CorpusSpec(n_hosts=5, base_pages_per_host=10, seed=31)
    rows, seeds = gen_corpus(spec)
    running = []  # commit-pool tasks started and not yet finished
    calls = []  # (main thread?, writers running, forked?) per pool use
    get_pool = local_step._get_pool
    commit_pool = local_step._commit_pool()

    class RecordingCommitPool:
        def submit(self, fn, *args, **kw):
            def run():
                running.append(fn)
                try:
                    return fn(*args, **kw)
                finally:
                    running.remove(fn)

            return commit_pool.submit(run)

    def recording_get_pool(n):
        calls.append((threading.current_thread() is threading.main_thread(),
                      len(running), local_step._POOL is None))
        return get_pool(n)

    monkeypatch.setattr(local_step, "_commit_pool", RecordingCommitPool)
    monkeypatch.setattr(local_step, "_get_pool", recording_get_pool)
    monkeypatch.setattr(local_step, "_BLOOM_POOL_MIN", 1)
    # this test's own pool, forked inside the crawl; the session's pool is
    # restored untouched afterwards
    monkeypatch.setattr(local_step, "_POOL", None)
    monkeypatch.setattr(local_step, "_POOL_N", None)

    cfg = CrawlConfig(local_iter_threshold=0, local_workers=2)
    try:
        eng = CrawlEngine(spark, pages_df(spark, rows), workdir, cfg)
        eng.seed(seeds)
        seed_calls = len(calls)
        stats = eng.run()
    finally:
        if local_step._POOL is not None:
            local_step._POOL.terminate()
    assert stats["dist_iters"] > 0 and stats["local_iters"] == 0
    assert seed_calls > 0  # the distributed seed's commit used the pool
    assert any(forked for _, _, forked in calls)
    assert all(main and n_running == 0 for main, n_running, _ in calls)
    assert eng.io.read_partitions("url_seen_shards").count() > 0


def test_local_step_after_distributed_starts_no_job(spark, workdir):
    """A distributed iteration lands its whole commit inside its own step,
    so the local step after it (point-fetch client: no fetch join) starts
    no Spark job — no writer is left to join."""
    import pandas as pd

    spec = CorpusSpec(n_hosts=4, base_pages_per_host=10, seed=5)
    rows, seeds = gen_corpus(spec)
    corpus = pd.DataFrame(rows)[
        ["url", "html", "status", "location", "content_type",
         "content_encoding"]
    ]
    idx = {u: i for i, u in enumerate(corpus["url"].tolist())}

    def fetcher(urls):
        return corpus.iloc[[idx[u] for u in urls if u in idx]]

    eng = CrawlEngine(spark, pages_df(spark, rows), workdir,
                      CrawlConfig(local_iter_threshold=10**9),
                      fetcher=fetcher)
    eng.seed(seeds)
    eng.step()  # local
    eng.local_thr = 0
    eng.step()  # distributed, committed on the driver
    assert not eng._last_step_local
    assert eng.io.list_checkpoints()[-1].endswith("ckpt-iter-000002.json")
    assert eng.pending_count() > 0
    eng.local_thr = 10**9
    n_jobs, counts = _jobs_started(spark, eng.step)
    assert eng._last_step_local and sum(counts.values()) > 0
    assert n_jobs == 0
    eng.run()
    assert eng.pending_count() == 0
    assert eng.url_seen_df().filter(F.col("added_iter") == 2).count() > 0
