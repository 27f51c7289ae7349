"""Crawl workload ``crawl_crossover``: one op is one whole crawl, seed →
empty frontier → ``flush_metrics``, on a fresh engine and working
directory.

The corpus is the bench.py shape at 150 hosts, crawled with
``max_level=2`` and a fixed ``local_iter_threshold`` of 1000 rows. Exactly
one iteration (the root pages' links, about 10 rows per host) is over the
threshold and runs the distributed plan; the thin ones around it run on
the driver-local path.

Checks, all outside the timers: the first op runs both paths (at least one
local and one distributed iteration), every op's crawl order, URL-seen set
and (local, distributed) iteration counts equal the first op's, and once
per run the first op equals the reference simulator's crawl (order, seen
set, lineage) on the same corpus and config.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import shutil
import statistics
import time

from perfbench.harness import log, measured_session
from perfbench.inputs import gen_corpus
from perfbench.trace import SparkCounter, Tracer

#: bench.py's corpus shape, at N_HOSTS hosts; the seed varies per run
SPEC = dict(base_pages_per_host=40, links_per_page=20, words_per_page=400,
            zipf_hot_host_factor=20)
#: bench.py's big-bench logging switches
BASE_CFG = dict(fetch_log_detail=False, sched_log_detail=False)
N_HOSTS = 150
CFG = dict(local_iter_threshold=1000, max_level=2)
#: the per-layer metrics a traced run of this workload reports
LAYERS = (
    "session.start_s", "corpus.load_s", "engine.init_s", "engine.seed_s",
    "engine.flush_s", "engine.step_local_s", "engine.iters_local",
    "engine.step_dist_s", "engine.iters_dist", "engine.step_max_s",
    "engine.untracked_s", "fetch.s", "fetch.calls", "fetch.urls",
    "fetch.bytes", "spark.jobs_local", "spark.jobs_dist",
    "spark.stages_dist", "spark.tasks_dist", "chain.accept_ratio",
    "dedup.read_bytes", "dedup.shards_read",
)
_NO_TRACE = Tracer(False)
ORDER_COLS = ["iter", "job_id", "task_seq", "url", "depth", "redirect",
              "marker", "action"]
SEEN_COLS = ["job_id", "url"]


def pages_df(spark, rows):
    """Corpus rows → the engine's pages DataFrame, partitioned and sorted by
    the fetch-join key and cached, as bench.py prepares it."""
    import pandas as pd

    from crusty_core_spark.sources.datagen import PAGES_DDL

    pdf = pd.DataFrame(rows)
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True).dt.tz_localize(None)
    cols = [c.strip().split(" ")[0] for c in PAGES_DDL.split(",")]
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pages = (spark.createDataFrame(pdf[cols], schema=PAGES_DDL)
             .repartition(n, "url").sortWithinPartitions("url").persist())
    pages.count()
    return pages


class Fetcher:
    """The crawl's network: O(ready) point lookups into the corpus (the
    driver-local path's fetch client). Counts calls, URLs and time when
    ``counting`` is on."""

    def __init__(self, rows):
        import pandas as pd

        self.corpus = pd.DataFrame(rows)[
            ["url", "html", "status", "location", "content_type",
             "content_encoding"]]
        self.index = {u: i for i, u in enumerate(self.corpus["url"].tolist())}
        self.counting = False
        self.calls = self.urls = 0
        self.busy_s = 0.0

    def __call__(self, urls):
        t0 = time.perf_counter()
        out = self.corpus.iloc[[self.index[u] for u in urls if u in self.index]]
        if self.counting:
            self.busy_s += time.perf_counter() - t0
            self.calls += 1
            self.urls += len(urls)
        return out

    def reset(self):
        self.calls = self.urls = 0
        self.busy_s = 0.0


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def crawl_once(eng, seeds, tracer, counter):
    """One op: a whole crawl. Returns (wall seconds, per-step records)."""
    steps = []
    t0 = time.perf_counter()
    with tracer.span("engine.seed"):
        eng.seed(seeds)
    while eng.pending_count() > 0 and len(steps) < eng.cfg.max_iterations:
        ts = time.perf_counter()
        with tracer.span("engine.step"):
            eng.step()
        rec = {"wall_s": time.perf_counter() - ts}
        if counter is not None:
            rec.update(counter.poll())
        steps.append(rec)
    with tracer.span("engine.flush"):
        eng.flush_metrics()
    return time.perf_counter() - t0, steps


def _rows(pdf, cols) -> list[tuple]:
    """pandas rows as sorted tuples, nulls as None (as Spark collects them)."""
    pdf = pdf[cols].astype(object)
    return sorted(map(tuple, pdf.where(pdf.notna(), None).itertuples(
        index=False, name=None)))


def outputs(eng) -> dict:
    """What the op produced, read back from its tables outside the timer."""
    m = eng.io.read_local("metrics").sort_values("iter")
    m = m[m["iter"] >= 1]
    order = _rows(eng.io.read_local("fetch_log", ORDER_COLS), ORDER_COLS)
    seen = _rows(eng.io.read_partitions_local("url_seen", columns=SEEN_COLS),
                 SEEN_COLS)
    return {
        "metrics": m,
        "order": order,
        "seen": seen,
        "items": len(order),
        "iters": (int((m["exec_local"] == 1).sum()),
                  int((m["exec_local"] == 0).sum())),
        "digest": (_digest(order), _digest(seen)),
    }


def simulator_matches(rows, seeds, cfg, eng, ref) -> bool:
    """tests/test_crawl_parity.assert_parity, as a boolean."""
    from crusty_core_spark.simulator import ReferenceSimulator

    sim = ReferenceSimulator({r["url"]: r for r in rows}, seeds, cfg).run()
    sim_order = sorted(tuple(r[c] for c in ORDER_COLS) for r in sim.crawl_order)
    sim_seen = sorted((j, u) for j, urls in sim.url_seen.items() for u in urls)
    lin_e = sorted(
        (r.job_id, r.url, r.seed_url, r.depth, r.discovered_by)
        for r in eng.lineage_df().collect())
    lin_s = sorted(
        (r["job_id"], r["url"], r["seed_url"], r["depth"], r["discovered_by"])
        for r in sim.lineage)
    return (sim_order == ref["order"] and sim_seen == ref["seen"]
            and lin_e == lin_s)


def layer_numbers(steps, out, fetcher, spans) -> dict:
    """Per-layer numbers of one traced op.

    The step walls (measured outside ``step``) are split into three parts
    that add up to their sum:

    - ``engine.step_local_s``: the local iterations' own ``wall_ms``;
    - ``engine.step_dist_s``: the distributed iterations' walls, plus the
      time the next step spends outside its ``wall_ms``: a local step first
      lands the distributed iteration's deferred commits;
    - ``engine.untracked_s``: the rest of the time outside ``wall_ms``.
    """
    m = out["metrics"]
    local = [int(v) for v in m["exec_local"]]
    own = [v / 1000 for v in m["wall_ms"]]
    walls = [s["wall_s"] for s in steps]
    step_local = step_dist = untracked = 0.0
    for i, (w, o, loc) in enumerate(zip(walls, own, local)):
        if not loc:
            step_dist += w
        elif i > 0 and not local[i - 1]:
            step_local += o
            step_dist += w - o
        else:
            step_local += o
            untracked += w - o
    by_path = {1: [], 0: []}
    for s, loc in zip(steps, local):
        by_path[loc].append(s)
    cand = float(m["n_candidates"].sum())
    return {
        "engine.seed_s": spans["engine.seed"],
        "engine.flush_s": spans["engine.flush"],
        "engine.step_local_s": step_local,
        "engine.step_dist_s": step_dist,
        "engine.step_max_s": max(walls, default=0.0),
        "engine.iters_local": len(by_path[1]),
        "engine.iters_dist": len(by_path[0]),
        "engine.untracked_s": untracked,
        "spark.jobs_local": sum(s["jobs"] for s in by_path[1]),
        "spark.jobs_dist": sum(s["jobs"] for s in by_path[0]),
        "spark.stages_dist": sum(s["stages"] for s in by_path[0]),
        "spark.tasks_dist": sum(s["tasks"] for s in by_path[0]),
        "fetch.s": fetcher.busy_s,
        "fetch.calls": fetcher.calls,
        "fetch.urls": fetcher.urls,
        "fetch.bytes": float(m["bytes_fetched"].sum()),
        "chain.accept_ratio": float(m["n_accepted"].sum()) / cand if cand else 0.0,
        "dedup.read_bytes": float(m["dedup_read_bytes"].sum()),
        "dedup.shards_read": float(m["dedup_shards_read"].sum()),
    }


def run(workload, seed, seconds, tracer, settings, work) -> dict:
    from crusty_core_spark.config import CrawlConfig
    from crusty_core_spark.sources.datagen import CorpusSpec

    spec = CorpusSpec(n_hosts=N_HOSTS, seed=seed, **SPEC)
    cfg = CrawlConfig(**BASE_CFG, **CFG)
    rows, seeds = gen_corpus(spec, settings["cpus"])  # inputs: not timed
    log(f"inputs: {len(rows)} corpus rows")

    with measured_session(settings, f"perfbench-{workload}", tracer) as (
            spark, info):
        res = _measure(spark, rows, seeds, cfg, seconds, tracer, work,
                       info["t0"], info["checkpoint"])
    res["layers"]["session.start_s"] = info["session_s"]
    res["memory_mb"] = info["memory_mb"]
    res["settings"] = {"corpus": dataclasses.asdict(spec),
                       "crawl_config": cfg.to_dict(),
                       "corpus_rows": len(rows)}
    return res


def _measure(spark, rows, seeds, cfg, seconds, tracer, work, t_setup,
             checkpoint):
    from crusty_core_spark.plans.engine import CrawlEngine

    sc = spark.sparkContext
    sc.setJobGroup("perfbench", "perfbench crawl ops")
    counter = SparkCounter(sc, "perfbench") if tracer.enabled else None
    t = time.perf_counter()
    with tracer.span("corpus.load"):
        pages = pages_df(spark, rows)
    corpus_load_s = time.perf_counter() - t
    with tracer.span("fetch.index"):
        fetcher = Fetcher(rows)

    init_s: list[float] = []

    def new_engine(k):
        wd = os.path.join(work, f"wd{k}")
        t = time.perf_counter()
        with tracer.span("engine.init"):
            eng = CrawlEngine(spark, pages, wd, cfg, fetcher=fetcher)
        init_s.append(time.perf_counter() - t)
        return eng, wd

    # warm-up op: untimed, counted in setup_s; its output is the reference
    eng, wd = new_engine(0)
    with tracer.span("op", warmup=True):
        crawl_once(eng, seeds, tracer, counter)
    setup_s = time.perf_counter() - t_setup
    log(f"setup done in {setup_s:.2f}s")
    ref = outputs(eng)
    log(f"reference outputs read: (local, dist) iterations {ref['iters']}")
    failed = 0
    if min(ref["iters"]) < 1:
        print(f"perfbench: the crawl did not cross over: (local, dist) "
              f"iterations {ref['iters']}")
        failed += 1
    if not simulator_matches(rows, seeds, cfg, eng, ref):
        print("perfbench: crawl differs from the reference simulator")
        failed += 1
    log("simulator checked")
    shutil.rmtree(wd, ignore_errors=True)

    ops, layers = [], []
    t_end = time.perf_counter() + seconds
    k = 0
    while True:
        traced = tracer.enabled and k % 2 == 1
        n_plain = sum(not o["traced"] for o in ops)
        n_traced = len(ops) - n_plain
        if time.perf_counter() >= t_end and n_plain >= 1 and (
                n_traced >= 1 or not tracer.enabled):
            break
        k += 1
        eng, wd = new_engine(k)
        fetcher.reset()
        fetcher.counting = traced
        if counter is not None:
            counter.poll()
        with tracer.span("op", traced=traced) as sp:
            wall, steps = crawl_once(
                eng, seeds, tracer if traced else _NO_TRACE,
                counter if traced else None)
        fetcher.counting = False
        t = time.perf_counter()
        out = outputs(eng)
        ok = out["digest"] == ref["digest"] and out["iters"] == ref["iters"]
        if not ok:
            print(f"perfbench: op {k} differs from the first op "
                  f"(iters {out['iters']} vs {ref['iters']})")
            failed += 1
        ops.append({"wall_s": wall, "items": out["items"], "traced": traced,
                    "check_s": time.perf_counter() - t,
                    "iters_local": out["iters"][0],
                    "iters_dist": out["iters"][1]})
        if traced:
            spans = {s["name"]: s["end"] - s["start"]
                     for s in tracer.spans if s["parent"] == sp["id"]}
            layers.append(layer_numbers(steps, out, fetcher, spans))
            # per iteration: wall and Spark counts measured outside the
            # step, next to the engine's own metrics row
            ops[-1]["iterations"] = [
                {**step, **{c: int(v) for c, v in row.items()}}
                for step, row in zip(steps, out["metrics"].to_dict("records"))]
        shutil.rmtree(wd, ignore_errors=True)
        if k == 1:  # not counted against the measuring time
            t = time.perf_counter()
            checkpoint()
            t_end += time.perf_counter() - t
        log(f"op {k}: {wall:.3f}s")

    agg = {}
    if layers:
        agg = {k: statistics.median(d[k] for d in layers) for k in layers[0]}
    agg["engine.init_s"] = statistics.median(init_s)
    agg["corpus.load_s"] = corpus_load_s
    return {"ops": ops, "setup_s": setup_s, "layers": agg,
            "attempted": len(ops) + 1, "failed": failed}

