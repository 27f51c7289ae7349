"""Driver-local thin-iteration fast path ≡ distributed path ≡ simulator.

The engine dispatches per iteration: thin frontiers run driver-local
(plans/local_step.py), fat ones run the distributed plan. These tests pin

- the pure-python xxhash64 twin (functions/xxh64.py) against Spark's JVM
  implementation bit-for-bit (the Bloom shard ids / bit positions both
  paths compute must agree);
- a pure-Spark crawl (threshold=0) against an all-local crawl (threshold
  large) against the reference simulator — identical crawl order, url_seen,
  lineage, job_state, budgets;
- a MIXED crawl (threshold between iteration sizes, so local and Spark
  iterations interleave and read each other's table commits);
- the point-fetcher client against the pages-join fetch.
"""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

from crusty_core_spark.config import CrawlConfig
from crusty_core_spark.plans.engine import CrawlEngine
from crusty_core_spark.simulator import ReferenceSimulator
from crusty_core_spark.sources.datagen import CorpusSpec, gen_corpus

from tests.conftest import pages_df
from tests.test_crawl_parity import (
    assert_parity,
    crawl_order_engine,
    url_seen_engine,
)


def test_xxhash64_matches_spark(spark):
    from crusty_core_spark.functions.xxh64 import xxhash64

    rnd = random.Random(11)
    rows = [
        (
            rnd.randint(-(2**31), 2**31 - 1),
            rnd.randint(-(2**63), 2**63 - 1),
            "".join(rnd.choices(string.printable + "ü€漢", k=rnd.randint(0, 80))),
        )
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "i int, j long, s string")
    got = df.select(
        "i", "j", "s",
        F.xxhash64("s").alias("hs"),
        F.xxhash64("j").alias("hj"),
        F.xxhash64("i").alias("hi"),
        F.xxhash64(F.lit(3), "j", "s").alias("hm"),
    ).collect()
    for r in got:
        assert xxhash64(r.s) == r.hs
        assert xxhash64(r.j) == r.hj
        assert xxhash64(("int", r.i)) == r.hi
        assert xxhash64(("int", 3), r.j, r.s) == r.hm


def _run_engine(spark, workdir, rows, seeds, cfg, **kw):
    eng = CrawlEngine(spark, pages_df(spark, rows), workdir, cfg, **kw)
    eng.seed(seeds)
    eng.run()
    return eng


def _engine_state(eng):
    """Everything observable: crawl order, url_seen, final job states,
    job_log, task rows of the chain log."""
    states = sorted(
        tuple(r)
        for r in eng._job_state_df().select(
            "job_id", "budget_used", "lpp_seq", "lpp_count", "robots_state",
            "resp_counter", "seq_counter"
        ).collect()
    )
    job_log = sorted(
        tuple(r)
        for r in eng.job_log_df().select(
            "job_id", "reason", "budget_used", "resp_counter", "seq_counter"
        ).collect()
    )
    return (
        crawl_order_engine(eng),
        url_seen_engine(eng),
        states,
        job_log,
    )


def test_local_vs_spark_vs_mixed_identical(spark, workdir):
    spec = CorpusSpec(n_hosts=6, base_pages_per_host=14, seed=42)
    rows, seeds = gen_corpus(spec)
    cfg_spark = CrawlConfig(local_iter_threshold=0)
    cfg_local = CrawlConfig(local_iter_threshold=10**9)
    # threshold=2: only the 1-2-row head iterations run local; the BFS
    # middle runs distributed — the paths interleave over shared tables
    cfg_mixed = CrawlConfig(local_iter_threshold=2)

    sim = ReferenceSimulator({r["url"]: r for r in rows}, seeds,
                             cfg_spark).run()
    eng_s = _run_engine(spark, workdir + "/s", rows, seeds, cfg_spark)
    eng_l = _run_engine(spark, workdir + "/l", rows, seeds, cfg_local)
    eng_m = _run_engine(spark, workdir + "/m", rows, seeds, cfg_mixed)

    st_s = _engine_state(eng_s)
    assert st_s == _engine_state(eng_l)
    assert st_s == _engine_state(eng_m)
    assert_parity(sim, eng_l)


def test_politeness_local_vs_spark(spark, workdir):
    spec = CorpusSpec(n_hosts=4, base_pages_per_host=12, seed=7)
    rows, seeds = gen_corpus(spec)
    cfg_s = CrawlConfig(delay_ms=1000, concurrency_per_host=1,
                        local_iter_threshold=0, max_iterations=40)
    cfg_l = CrawlConfig(delay_ms=1000, concurrency_per_host=1,
                        local_iter_threshold=10**9, max_iterations=40)
    sim = ReferenceSimulator({r["url"]: r for r in rows}, seeds, cfg_s).run()
    eng_s = _run_engine(spark, workdir + "/s", rows, seeds, cfg_s)
    eng_l = _run_engine(spark, workdir + "/l", rows, seeds, cfg_l)
    assert _engine_state(eng_s) == _engine_state(eng_l)
    assert_parity(sim, eng_l)


def test_fetcher_equivalent_to_pages_join(spark, workdir):
    import pandas as pd

    spec = CorpusSpec(n_hosts=5, base_pages_per_host=10, seed=3)
    rows, seeds = gen_corpus(spec)
    corpus = pd.DataFrame(rows)[
        ["url", "html", "status", "location", "content_type",
         "content_encoding"]
    ]
    idx = {u: i for i, u in enumerate(corpus["url"].tolist())}

    def fetcher(urls):
        return corpus.iloc[[idx[u] for u in urls if u in idx]]

    cfg = CrawlConfig(local_iter_threshold=10**9)
    eng_j = _run_engine(spark, workdir + "/j", rows, seeds, cfg)
    eng_f = _run_engine(spark, workdir + "/f", rows, seeds, cfg,
                        fetcher=fetcher)
    assert _engine_state(eng_j) == _engine_state(eng_f)

    # DISTRIBUTED point-fetch (pages=None → mapInPandas fetch stage,
    # plans/engine.py _fetch_stage): every iteration runs the distributed
    # plan with the fetcher inside it — must equal the pages-join crawl,
    # including the wire byte tap on fetch_log
    cfg_d = CrawlConfig(local_iter_threshold=0)
    eng_jd = _run_engine(spark, workdir + "/jd", rows, seeds, cfg_d)
    eng_fd = CrawlEngine(spark, None, workdir + "/fd", cfg_d,
                         fetcher=fetcher)
    eng_fd.seed(seeds)
    eng_fd.run()
    assert _engine_state(eng_jd) == _engine_state(eng_fd)

    def _log(eng):
        return sorted(
            tuple(r)
            for r in eng.io.read("fetch_log").select(
                "iter", "job_id", "task_seq", "url", "status", "action",
                "bytes", "read_size", "write_size", "n_links", "title",
            ).collect()
        )

    assert _log(eng_jd) == _log(eng_fd)


def test_seed_local_vs_distributed(spark, workdir):
    """The driver-local seed path (plans/local_step.seed_local — taken
    whenever len(seeds) <= local_thr*8) must leave byte-equal tables and
    state behind vs the distributed seed, including un-canonicalizable and
    scheme-rejected roots (RootRejected job_log records), across robots
    on/off and politeness modes."""
    spec = CorpusSpec(n_hosts=7, base_pages_per_host=8, seed=21)
    rows, seeds = gen_corpus(spec)
    seeds = list(seeds) + [
        (900, "notaurl"),                       # canonicalizes to None
        (901, "ftp://files.example/x"),         # scheme-rejected by chain
        (902, "HTTP://Upper.Example:80/a#frag"),  # canonical != raw
    ]
    # every robots × politeness mode with the per-candidate sched log,
    # plus one pass with the counts-only log (sched_count rows)
    modes = [(r, d, True) for r in (True, False) for d in (0, 500)]
    modes.append((True, 500, False))
    for robots, delay, detail in modes:
        mk = lambda thr: CrawlConfig(  # noqa: E731
            robots_txt=robots, delay_ms=delay, local_iter_threshold=thr,
            sched_log_detail=detail,
        )
        # thr=0 disables the local path entirely → distributed seed;
        # the default-thr engine takes the local seed (10 seeds < 8*thr)
        tag = f"{int(robots)}_{delay}_{int(detail)}"
        eng_d = CrawlEngine(spark, pages_df(spark, rows),
                            workdir + f"/d{tag}", mk(0))
        eng_l = CrawlEngine(spark, pages_df(spark, rows),
                            workdir + f"/l{tag}", mk(20000))
        eng_d.seed(seeds)
        eng_l.seed(seeds)

        def snap(eng):
            chain = sorted(
                tuple(r)
                for r in eng.io.read("chain")
                .filter(F.col("row_kind") != "sched_count")
                .select("row_kind", "job_id", "task_seq", "url", "host",
                        "depth", "target", "marker", "action", "iter")
                .collect()
            )
            # per-action scheduling totals: one row per decision in detail
            # mode, summed per-group counters in counts-only mode
            ch = eng.io.read_local(
                "chain", ["row_kind", "action", "parent_seq_num"])
            if eng.cfg.sched_log_detail:
                totals = ch[ch["row_kind"] == "sched"].groupby("action").size()
            else:
                sc = ch[ch["row_kind"] == "sched_count"]
                totals = sc.groupby("action")["parent_seq_num"].sum()
            sched_totals = sorted(totals.astype(int).items())
            seen = sorted(
                tuple(r) for r in eng.url_seen_df().collect()
            )
            states = sorted(
                tuple(r) for r in eng._job_state_df().collect()
            )
            job_log = sorted(
                tuple(r)
                for r in eng.job_log_df().select(
                    "job_id", "iter", "reason", "budget_used"
                ).collect()
            )
            return (chain, sched_totals, seen, states, job_log,
                    eng.pending_count(),
                    tuple(eng.io.state.get("pending_buckets") or ()))

        snap_d = snap(eng_d)
        assert snap_d[1], "no scheduling decisions were logged"
        assert snap_d == snap(eng_l), (robots, delay, detail)
        # both seeds checkpoint under the same label → resume works
        # from either
        assert "iter-000000" in eng_l.io.list_checkpoints()[-1]

    # full crawl after a LOCAL seed with distributed iterations must equal
    # the all-distributed crawl (seed cap sits above the step threshold)
    cfg_d = CrawlConfig(local_iter_threshold=0)
    cfg_ls = CrawlConfig(local_iter_threshold=2)  # seed local (10 <= 16)
    eng_a = _run_engine(spark, workdir + "/fa", rows, seeds, cfg_d)
    eng_b = _run_engine(spark, workdir + "/fb", rows, seeds, cfg_ls)
    assert _engine_state(eng_a) == _engine_state(eng_b)


def test_seed_local_pooled_parity_and_reseed(spark, workdir):
    """>=2000 seeds drive seed_local through its POOLED branches — the
    worker-split chain fold (len(chain_in) >= 2000) and the pooled
    bloom_positions commit (>= 2000 new tasks) — under the same
    byte-equality snapshot as the thin-seed parity case (ADVICE r4: those
    branches previously ran only below the pool thresholds in tests, while
    the fast-path cap admits up to 8×local_thr seeds through them).
    Also pins the crash-recovery re-seed: a second seed into a workdir
    whose chain table already exists (the chain append landed
    before a hard process death) must not raise — the fresh-table DDL
    appends 'iter' but an existing table's schema already carries it."""
    n = 2_500
    seeds = [(i, f"http://seed{i % 977}.example/p{i}") for i in range(n)]
    eng_d = CrawlEngine(spark, None, workdir + "/d",
                        CrawlConfig(local_iter_threshold=0))
    eng_l = CrawlEngine(spark, None, workdir + "/l",
                        CrawlConfig(local_iter_threshold=20_000))
    eng_d.seed(seeds)
    eng_l.seed(seeds)

    def snap(eng):
        chain = sorted(
            tuple(r)
            for r in eng.io.read("chain")
            .filter(F.col("row_kind") != "sched_count")
            .select("row_kind", "job_id", "task_seq", "url", "host",
                    "depth", "target", "marker", "action", "iter")
            .collect()
        )
        seen = sorted(tuple(r) for r in eng.url_seen_df().collect())
        states = sorted(tuple(r) for r in eng._job_state_df().collect())
        return (chain, seen, states, eng.pending_count())

    assert snap(eng_d) == snap(eng_l)

    # recovery flow: new engine over the local-seeded workdir, more seeds
    eng_r = CrawlEngine(spark, None, workdir + "/l",
                        CrawlConfig(local_iter_threshold=20_000))
    eng_r.seed([(9_000_000 + i, f"http://late{i}.example/") for i in range(5)])
    sch = eng_r.io.schema("chain")
    assert [f.name for f in sch.fields].count("iter") == 1
    assert eng_r.url_seen_df().count() == n + 5


def test_compaction_crawl_parity(spark, workdir):
    """compact_max_files=1 forces a compaction of url_seen/chain/fetch_log
    after nearly every iteration, across BOTH execution paths (mixed
    threshold) — the crawl must be byte-identical to an uncompacted run,
    including resume from a post-compaction checkpoint."""
    spec = CorpusSpec(n_hosts=5, base_pages_per_host=12, seed=13)
    rows, seeds = gen_corpus(spec)
    base = _run_engine(spark, workdir + "/plain", rows, seeds,
                       CrawlConfig(compact_max_files=None))
    compacted = _run_engine(
        spark, workdir + "/comp", rows, seeds,
        CrawlConfig(compact_max_files=1, local_iter_threshold=2),
    )
    assert _engine_state(base) == _engine_state(compacted)
    # every append table's dir count is bounded (tiered compaction, ADVICE
    # r3: a compacted prefix of ≤ max_dirs+1 outputs + one fresh merge +
    # the kept-last dir — bounded by O(max_dirs), no longer re-merging the
    # whole head every trigger)
    t = compacted.io._tbl("chain")
    assert len(t["snapshots"][str(t["current"])]) <= 4
    assert all(
        len(r) <= 3 for r in compacted.io._parts("url_seen").values()
    )
    # resume from the compacted checkpoint and compare final state
    res = CrawlEngine.resume(spark, pages_df(spark, rows),
                             workdir + "/comp")
    assert url_seen_engine(res) == url_seen_engine(base)


def test_auto_threshold_and_exec_path_metrics(spark, workdir):
    """local_iter_threshold='auto' resolves to a measured crossover (not
    the constant), the crawl is identical to a fixed-threshold run, and
    metrics.exec_local records which path ran each iteration."""
    spec = CorpusSpec(n_hosts=4, base_pages_per_host=10, seed=9)
    rows, seeds = gen_corpus(spec)
    eng_a = CrawlEngine(
        spark, pages_df(spark, rows), workdir + "/auto",
        CrawlConfig(local_iter_threshold="auto"),
    )
    assert isinstance(eng_a.local_thr, int)
    assert 2_000 <= eng_a.local_thr <= 100_000
    eng_a.seed(seeds)
    stats = eng_a.run()
    eng_c = _run_engine(spark, workdir + "/const", rows, seeds,
                        CrawlConfig(local_iter_threshold=10**9))
    assert _engine_state(eng_a) == _engine_state(eng_c)
    # this corpus is far below any sane crossover → all-local, and the
    # metrics table attributes every crawl iteration to the local path
    m = {r.iter: r.exec_local for r in eng_a.flush_metrics().collect()}
    crawl_iters = [it for it in m if it > 0]
    assert crawl_iters and all(m[it] == 1 for it in crawl_iters)
    assert stats["local_iters"] == len(crawl_iters)
    assert stats["dist_iters"] == 0
    # distributed iterations are attributed too
    m0 = {
        r.iter: r.exec_local
        for r in eng_c.flush_metrics().collect()
    }
    eng_d = _run_engine(spark, workdir + "/dist", rows, seeds,
                        CrawlConfig(local_iter_threshold=0))
    md = {r.iter: r.exec_local for r in eng_d.flush_metrics().collect()}
    assert all(v == 0 for it, v in md.items() if it > 0)
    assert all(v == 1 for it, v in m0.items() if it > 0)


def test_local_path_used_and_resumable(spark, workdir):
    """A local-path crawl checkpoint resumes identically (same TableIO
    manifests), including when the resumed run continues distributed."""
    spec = CorpusSpec(n_hosts=5, base_pages_per_host=12, seed=5)
    rows, seeds = gen_corpus(spec)
    cfg = CrawlConfig(local_iter_threshold=10**9)
    eng = CrawlEngine(spark, pages_df(spark, rows), workdir + "/a", cfg)
    eng.seed(seeds)
    eng.run(max_iterations=2)
    mid_seen = url_seen_engine(eng)

    res = CrawlEngine.resume(spark, pages_df(spark, rows), workdir + "/a")
    # resumed engine picks up the manifest state written by pyarrow commits
    assert url_seen_engine(res) == mid_seen
    # finish distributed from a local-path checkpoint
    object.__setattr__(res.cfg, "local_iter_threshold", 0)
    res.run()

    full = CrawlEngine(spark, pages_df(spark, rows), workdir + "/b", cfg)
    full.seed(seeds)
    full.run()
    assert _engine_state(res) == _engine_state(full)


def test_counts_only_slim_chain_identical(spark, workdir):
    """Counts-only mode (sched_log_detail=False — the bench regime) slims
    known-skip candidates before the chain exchange (engine.step
    pre_action). The crawl must be IDENTICAL to detail mode in every
    observable: task rows, url_seen, job states, job_log, fetch actions —
    and the per-iteration sched counters (n_candidates/accepted/skipped/
    terminated) must match detail mode's exactly. Budgets stay ON so the
    term/take_while interaction with slim rows is exercised."""
    spec = CorpusSpec(n_hosts=5, base_pages_per_host=14, seed=21)
    rows, seeds = gen_corpus(spec)
    base = CrawlConfig(
        local_iter_threshold=0,  # force the distributed plan (where
        page_budget=9,           # slimming lives) on every iteration
        links_per_page_budget=4,
    )
    eng_d = _run_engine(spark, workdir + "/detail", rows, seeds, base)
    eng_c = _run_engine(
        spark, workdir + "/counts", rows, seeds,
        CrawlConfig.from_dict({**base.to_dict(), "sched_log_detail": False}),
    )
    assert _engine_state(eng_d) == _engine_state(eng_c)
    m_d = sorted(
        tuple(r) for r in eng_d.flush_metrics().select(
            "iter", "n_ready", "n_processed", "n_candidates", "n_accepted",
            "n_skipped", "n_terminated"
        ).collect()
    )
    m_c = sorted(
        tuple(r) for r in eng_c.flush_metrics().select(
            "iter", "n_ready", "n_processed", "n_candidates", "n_accepted",
            "n_skipped", "n_terminated"
        ).collect()
    )
    assert m_d == m_c
