"""CrawlEngine — the batch-synchronous crawl iteration driver.

One crawl iteration == one Spark batch (SURVEY.md §7 dataflow, mapping 1:1 to
the reference pipeline main/src/task_processor.rs:275-355):

    ready    = politeness-select over frontier_pending      (window rank)
    fetched  = ready LEFT JOIN pages ON url                 ("fetch")
    actions  = status filters (Redirect/ContentType) + size cap   (bulk masks)
    parsed   = extract over processed Follow rows           (mapInPandas, Arrow)
    cands    = redirect links ∪ parsed links → canonicalize → seen-flag anti-join
    chain    = per-job serial filter chain                  (cogroup applyInPandas)
    commit   = frontier_pending/url_seen/fetch_log/sched_log/lineage/metrics
               + checkpoint manifest

Scale notes (the 100 TB design intent — verified locally at small SF):
- frontier_pending is a COMPACT queue: O(live work), rewritten per iteration;
  history lives in append-only logs (O(new) appends via TableIO snapshots).
- the fetch join prunes pages to the 6 engine columns (Catalyst column
  pruning reaches the parquet scan) and joins on url; AQE handles skew,
  and hot hosts are boundable via cfg politeness (per-host ready cap).
- the only Python crossings are Arrow-vectorized: canonicalize (pandas UDF),
  extract (mapInPandas), and the per-job chain (cogroup applyInPandas).
- dedup check = Bloom-shard prefilter (operators/bloom.py) + exact backstop
  against the dedicated ``url_seen`` table, which is PARTITIONED by
  host-hash shard: the backstop reads only the Bloom-POSITIVE shards'
  partitions — per-iteration scan volume is O(touched-shard history)
  (recorded per iteration in metrics.dedup_read_bytes), never the full
  crawl history.
- job_state lives in its own table partitioned by job bucket; each
  iteration reads/overwrites ONLY the touched buckets, feeds ONLY touched
  jobs' states through Python (semi-join), and carries untouched jobs in
  touched buckets with a JVM anti-join. Bloom shard commits are likewise
  partition-level. Per-iteration write volume is O(this iteration's work).
- HYBRID dispatch: a THIN frontier (≤ cfg.local_iter_threshold pending
  rows) runs the whole iteration driver-local (plans/local_step.py) using
  the same kernel functions and the same table commits via pyarrow — thin
  head/tail iterations are job-launch-overhead-bound on any cluster size,
  so a scale-out engine needs a local mode for them just like AQE collapses
  tiny shuffles to LocalTableScan. Parity across paths is pinned by
  tests/test_fastpath.py. Every iteration commits on the driver through
  one function, the local path's ``commit_iteration``: a distributed
  iteration collects its cached chain output and fetch_log once and hands
  them over, and both seed paths commit there as iteration 0.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from crusty_core_spark.config import CrawlConfig
from crusty_core_spark.functions.canonicalize import canonicalize_udf, url_host
from crusty_core_spark.functions.extract import extract_pages_canonical
from crusty_core_spark.operators.chain import FOLLOW_TARGETS
from crusty_core_spark.operators.chain_stage import (
    N_JOB_BUCKETS,
    _STATE_COLS,
    run_chain_stage,
)
from crusty_core_spark.operators.filters import apply_fetch_filters
from crusty_core_spark.plans import schemas as S
from crusty_core_spark.sources.tables import TableIO

PAGE_COLS = ["url", "html", "status", "location", "content_type", "content_encoding"]

#: the pending-frontier row layout (engine._tasks_slice) — also the
#: column order of the manifest-state ``deferred_tasks`` rows (straggler
#: carry-over; url sits at index 2, read by _fetch_stage's exempt set)
_PENDING_COLS = [
    "job_id", "task_seq", "url", "host", "depth", "redirect", "target",
    "marker", "rel", "alt", "text", "parent_url", "parent_seq", "link_pos",
    "priority", "next_fetch_iter", "added_iter",
]

def politeness_select(pending, it: int, cfg, pending_count: int):
    """Politeness ready-selection: the top-``concurrency_per_host`` due
    rows per (job, host) by (priority, task_seq) — the reference's
    per-domain concurrency window (task_processor.rs:388-398) as an exact
    window-rank. Returns (ready, remaining).

    Hot-domain skew guard: at frontier scale one domain can hold millions
    of due URLs, and a single window partition would pin that host's whole
    rank on one task. Above ``hot_host_salt_threshold`` pending rows the
    rank runs as an exact two-phase top-k instead: rank within (host,
    salt) and keep per_host survivors per salt — any global top-per_host
    row has < per_host rows above it, hence < per_host above it within its
    own salt, so the survivor set is a superset — then re-rank the
    <= per_host*n_salts survivors per host. Phase 1 bounds any task's
    partition to ~|host|/n_salts; phase 2 ranks a constant-size set. Same
    (priority, task_seq) total order, so selection is bit-identical
    (pinned by tests/test_crawl_parity.test_parity_salted_politeness; task
    balance at the 1M-links-one-host regime by scripts/bench_skew.py)."""
    # clamp like the reference scheduler (simulator.py:149): a concurrency
    # of 0 still dispatches one task per host per window, otherwise the
    # engine would defer due tasks forever
    per_host = max(1, cfg.concurrency_per_host)
    due = pending.filter(F.col("next_fetch_iter") <= it)
    not_due = pending.filter(F.col("next_fetch_iter") > it)
    w = W.partitionBy("job_id", "host").orderBy("priority", "task_seq")
    salt_thr = cfg.hot_host_salt_threshold
    if salt_thr and pending_count > salt_thr:
        n_salts = 16
        ranked = due.withColumn(
            "_salt", F.pmod(F.col("task_seq"), F.lit(n_salts))
        ).withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("job_id", "host", "_salt")
                .orderBy("priority", "task_seq")
            ),
        )
        rejects1 = ranked.filter(F.col("_rn") > per_host).drop(
            "_rn", "_salt"
        )
        survivors = ranked.filter(F.col("_rn") <= per_host).drop(
            "_rn", "_salt"
        )
        ranked2 = survivors.withColumn("_rn", F.row_number().over(w))
        ready = ranked2.filter(F.col("_rn") <= per_host).drop("_rn")
        remaining = not_due.unionByName(rejects1).unionByName(
            ranked2.filter(F.col("_rn") > per_host).drop("_rn")
        )
    else:
        ranked = due.withColumn("_rn", F.row_number().over(w))
        ready = ranked.filter(F.col("_rn") <= per_host).drop("_rn")
        remaining = not_due.unionByName(
            ranked.filter(F.col("_rn") > per_host).drop("_rn")
        )
    return ready, remaining


_PENDING_DDL = (
    "job_id long, task_seq long, url string, host string, depth int, "
    "redirect int, target string, marker int, rel string, alt string, "
    "text string, parent_url string, parent_seq long, link_pos int, "
    "priority int, next_fetch_iter long, added_iter long"
)


def _pending_schema():
    from pyspark.sql import types as PT

    return PT.StructType.fromDDL(_PENDING_DDL)

#: (spark applicationId, pool width) → resolved local/distributed
#: crossover rows; the calibration probe costs a few seconds, so engines
#: sharing a session share the measurement
_CALIBRATION_CACHE: dict = {}


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        workdir: str,
        cfg: CrawlConfig | None = None,
        hosts: DataFrame | None = None,
        custom_task_filters: tuple = (),
        expanders: tuple | None = None,
        user_extract=None,
        user_extract_schema: str | None = None,
        custom_status_filters: tuple = (),
        custom_load_filters: tuple = (),
        fetcher=None,
        parser=None,
        resolver=None,
    ):
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        #: pages=None → live-crawl mode: no pre-materialized corpus; the
        #: registered fetcher IS the network (distributed mapInPandas fetch
        #: stage, see _fetch_stage)
        if pages is None:
            if fetcher is None:
                # live-crawl one-liner: default to the built-in stdlib HTTP
                # client (operators/fetcher.UrllibFetcher — the reference's
                # client factory re-expressed, crawler.rs:189-245)
                from crusty_core_spark.operators.fetcher import UrllibFetcher

                fetcher = UrllibFetcher(self.cfg)
            self.pages = None
        else:
            self.pages = pages.select(
                *[c for c in PAGE_COLS if c in pages.columns]
            )
        #: optional DNS dim table (host, addrs) — broadcast-joined per
        #: iteration with the reserved-IP blacklist (operators/resolve.py)
        self.hosts = hosts
        #: user task filters (reference custom filters, crawler.rs:137-139) —
        #: picklable callables (cand, job_state) -> "accept"/"skip"/
        #: ("term", reason); NOT persisted in the manifest — re-pass on resume
        self.custom_task_filters = tuple(custom_task_filters)
        #: task_expanders::Expander list (operators/expanders.py) — None →
        #: built-in FollowLinks; add expanders.load_images for the reference's
        #: LoadImages (img src scheduled as Load tasks)
        self.expanders = expanders
        #: custom-parser / TS analogue: user_extract(doc, task) -> dict of
        #: extra columns (declared by user_extract_schema DDL) that land on
        #: fetch_log rows (reference DocumentParser<P> + TaskStateValues)
        self.user_extract = user_extract
        self.user_extract_schema = user_extract_schema
        #: DocumentParser<P> analogue (types.rs:11; examples/
        #: simple-custom-parser): picklable parser(html_bytes, enc) ->
        #: {"title","text","links","images"} replacing the pinned HTML
        #: extractor; expanders/user_extract run over its output
        self.parser = parser
        #: status_filters::Filter / load_filters::Filter analogues —
        #: picklable (status, content_type, url, depth) -> None | "term:X" /
        #: (status, content_type, body, url, depth) -> None | "term:X";
        #: applied AFTER the built-in filters, exactly the reference's
        #: registration order (crawler.rs:108-143)
        self.custom_status_filters = tuple(custom_status_filters)
        self.custom_load_filters = tuple(custom_load_filters)
        #: optional point-fetch client — the analogue of the reference's
        #: HTTP client (main/src/hyper_utils.rs, client factory
        #: crawler.rs:189-245): ``fetcher(urls: list[str]) ->
        #: pandas.DataFrame`` with columns (url, html, status, location,
        #: content_type, content_encoding); urls absent from the result are
        #: fetch failures (HttpError). The driver-local thin-iteration path
        #: uses it for O(ready) lookups instead of an O(corpus) join scan —
        #: exactly how the reference's network fetch costs O(ready). With a
        #: pages table the distributed path uses the pages join (the batch
        #: analogue); with pages=None the fetcher runs INSIDE the
        #: distributed plan as an Arrow-batched mapInPandas stage
        #: (_fetch_stage) — each executor batch fetches its own URLs, so a
        #: real deployment crawls sources that were never materialized as a
        #: table (the client must be cloudpickle-able).
        self.fetcher = fetcher
        #: pluggable point resolver (Resolver trait, main/src/resolver.rs:16-18):
        #: ``resolver(host) -> list[str]`` addresses. Used when no hosts dim
        #: table is given — runs as the Arrow-batched resolver_stage with a
        #: per-worker DNS cache (operators/resolve.py); the driver-local path
        #: runs the same kernel over ``_resolver_cache``. Must be
        #: cloudpickle-able.
        self.resolver = resolver
        # stable per-engine cache identity for the resolver's per-worker DNS
        # cache: two engines in one Spark session with different resolvers/
        # blacklists must never share cached verdicts (ADVICE r3)
        import uuid as _uuid

        self._resolver_key = _uuid.uuid4().hex if resolver is not None else None
        self._resolver_cache: dict = {}
        # fork + warm the local-path worker pool at construction — the
        # one-time fork/COW/import cost is setup (like JVM startup), never
        # part of a crawl iteration
        from crusty_core_spark.plans.local_step import warm_pool

        warm_pool(self.cfg)
        #: resolved local/distributed crossover (rows). "auto" measures it
        #: per session — the constant default is tuned to one machine's
        #: driver and a real cluster's small driver node needs a smaller
        #: value (calibration happens at construction, never mid-crawl)
        if self.cfg.local_iter_threshold == "auto":
            self.local_thr: int | None = self._calibrate_threshold()
        else:
            self.local_thr = self.cfg.local_iter_threshold
        self.io = TableIO(spark, workdir)

    def _calibrate_threshold(self) -> int:
        """Measure the local/distributed crossover for THIS session.

        The local path wins while an iteration's python work costs less
        than the distributed plan's fixed per-iteration cost, so the
        crossover is (distributed fixed cost seconds) × (local path
        rows/sec):

        A local iteration over n rows costs n/L; a distributed one costs
        F + n/D (fixed floor plus per-row work at the cluster's pace).
        The crossover solves n/L = F + n/D:

            n* = F / (1/L - 1/D)   when L > D, else unbounded (capped)

        All three quantities are MEASURED on this session, with the real
        kernels:

        - F: a thin (96-row) probe with the SHAPE of a real iteration —
          window rank, equi-join, an Arrow ``mapInPandas`` crossing, a
          cogroup ``applyInPandas``, run through the ``noop`` sink (min
          of 2 after a warmup). It writes no files, and a real distributed
          iteration's driver collect and commit are not in it. The earlier
          toy probe (2-stage shuffle × 8 jobs) was blind to AQE re-planning
          and python-worker scheduling and under-read the floor.
        - D: the same pipeline over 4 096 rows carrying ~3 KB html
          through the REAL extract kernel inside ``mapInPandas``; its
          per-row rate is (4096 - 96) / (t_mid - F). On a multi-executor
          cluster D grows with the executor count and n* converges to
          F × L (the floor-amortization rule); on a single box D is
          bounded by the same cores L uses, so n* honestly caps out.
        - L: the pooled extract-kernel rate on the same ~3 KB pages
          (the fork pool the local path actually uses) × 0.35 — extract
          is ~1/3 of a local iteration's wall (profiled: extract /
          dedup+chain / commit split roughly even at 1-12 k rows).

        Clamped to [2_000, 100_000] — the cap bounds how much work the
        driver may take per iteration regardless of ratios. Resolved once
        per (session, pool width) and cached; probe failure falls back to
        the constant default (VERDICT r2 #5 — data over constants)."""
        import pandas as pd

        workers = self.cfg.resolved_local_workers()
        cache_key = (self.spark.sparkContext.applicationId, workers)
        cached = _CALIBRATION_CACHE.get(cache_key)
        if cached is not None:
            return cached

        from crusty_core_spark.functions.extract import _extract_batches

        html = (
            b"<html><head><title>cal</title></head><body>"
            + b'<p>lorem ipsum dolor </p><a href="/x">x</a>' * 60
            + b"</body></html>"
        )

        def frame(n):
            return pd.DataFrame(
                {
                    "job_id": [i % 31 for i in range(n)],
                    "host": [f"h{i % 7}.cal.example" for i in range(n)],
                    "url": [f"http://h{i % 7}.cal.example/p{i}"
                            for i in range(n)],
                    "depth": [0] * n,
                    "html": [html] * n,
                    "content_encoding": [None] * n,
                }
            )

        def extract_pass(it):
            for pdf in it:
                ex = next(_extract_batches(
                    iter([pdf]), "html", "content_encoding", "url"))
                yield pdf.drop(columns=["html"]).assign(n_links=len(ex))

        def iteration_probe(n):
            src = self.spark.createDataFrame(frame(n)).repartition(
                int(self.spark.sparkContext.defaultParallelism))
            right = self.spark.createDataFrame(
                frame(96)[["job_id"]].drop_duplicates().assign(v=1))
            t0 = time.time()
            ranked = src.withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy("job_id", "host").orderBy("url")
                ),
            ).join(right, "job_id", "left")
            out_schema = (
                "job_id bigint, host string, url string, depth bigint, "
                "content_encoding string, _rn int, v bigint, n_links bigint"
            )
            crossed = ranked.mapInPandas(extract_pass, schema=out_schema)
            folded = crossed.groupBy("job_id").cogroup(
                right.groupBy("job_id")
            ).applyInPandas(lambda left, r: left, schema=out_schema)
            # noop sink: runs the whole plan (extract, exchange, cogroup)
            # with zero output IO — unlike a driver-local tempdir it works
            # identically on a multi-node cluster, the deployment 'auto'
            # exists for
            folded.write.mode("overwrite").format("noop").save()
            return time.time() - t0

        try:
            iteration_probe(96)  # warm: codegen, python workers, AQE paths
            floor_s = min(iteration_probe(96) for _ in range(2))
            t_mid = iteration_probe(4_096)
        except Exception:
            # constant-default fallback — deliberately NOT cached, so a
            # later engine in the same session retries after a transient
            # failure instead of being pinned for the session's lifetime
            return 20_000
        dist_rows_per_s = 4_000 / max(t_mid - floor_s, 1e-3)

        # pooled local extract rate (the pool the local path actually runs)
        from crusty_core_spark.plans.local_step import (
            _extract_worker,
            _get_pool,
        )

        n_l = 2_048
        pdf_l = frame(n_l)[["url", "depth", "html", "content_encoding"]]
        t0 = time.time()
        if workers > 1:
            import numpy as np

            # expanders=None → DEFAULT_EXPANDERS, matching the serial
            # branch and the distributed probe; () would skip per-link
            # expansion and overstate the local rate
            chunks = [
                (c, None, None, [], None, False)
                for c in np.array_split(pdf_l, workers) if len(c)
            ]
            _get_pool(workers).map(_extract_worker, chunks)
        else:
            next(_extract_batches(
                iter([pdf_l]), "html", "content_encoding", "url"))
        local_rows_per_s = (n_l / max(time.time() - t0, 1e-6)) * 0.35

        if local_rows_per_s <= dist_rows_per_s:
            thr = int(
                floor_s / (1.0 / local_rows_per_s - 1.0 / dist_rows_per_s)
            )
        else:
            thr = 100_000  # local at least matches the cluster's pace
        thr = max(2_000, min(100_000, thr))
        _CALIBRATION_CACHE[cache_key] = thr
        return thr

    # ------------------------------------------------------------------ seed

    def seed(self, seeds: list[tuple[int, str]] | DataFrame) -> None:
        """Register jobs and schedule their root tasks (iteration 0).

        Mirrors TaskScheduler::go root scheduling
        (main/src/task_scheduler.rs:119-132): the root candidate runs the full
        chain (with task_seq_num=0), which also performs the robots.txt root
        swap when enabled.

        Dispatch mirrors step(): a thin seed list runs driver-local
        (plans/local_step.seed_local — same kernels, same tables) because
        the distributed seed is pure fixed floor: a cogroup exchange and a
        collect for per-row-trivial work. Seeding is
        chain-only (no fetch/extract — roots cost ~30 µs/row vs ~0.6 ms
        for a crawled page), so the cutover sits well above the iteration
        threshold; 8× is conservative against the kernel-cost ratio."""
        t0 = time.time()
        spark = self.spark
        if not isinstance(seeds, DataFrame):
            seeds = list(seeds)
            if self.local_thr and len(seeds) <= int(self.local_thr) * 8:
                from crusty_core_spark.plans.local_step import seed_local

                seed_local(self, [(int(j), u) for j, u in seeds])
                return
            seeds = spark.createDataFrame(seeds, "job_id long, seed_url string")
        roots = (
            seeds.withColumn("url", canonicalize_udf(F.col("seed_url")))
            .filter(F.col("url").isNotNull())
            .withColumn("host", url_host(F.col("url")))
            .withColumn(
                "scheme", F.regexp_extract("url", r"^([a-z][a-z0-9+.-]*):", 1)
            )
        )
        job_state = roots.select(
            "job_id",
            F.col("url").alias("root_url"),
            F.col("host").alias("root_host"),
            F.col("scheme").alias("root_scheme"),
            F.lit(0).cast("long").alias("budget_used"),
            F.lit(-1).cast("long").alias("lpp_seq"),
            F.lit(0).cast("long").alias("lpp_count"),
            F.lit("none").alias("robots_state"),
            F.lit(None).cast("string").alias("robots_rules"),
            F.lit(None).cast("string").alias("stashed_root_url"),
            F.lit(0).cast("long").alias("resp_counter"),
            F.lit(0).cast("long").alias("seq_counter"),
        )
        chain_input = roots.select(
            "job_id",
            F.lit("cand").alias("kind"),
            F.lit(-1).cast("long").alias("task_seq"),
            F.lit(0).alias("link_pos"),
            "url",
            "host",
            F.lit("").alias("rel"),
            F.lit("").alias("alt"),
            F.lit("").alias("text"),
            F.lit(0).alias("depth"),
            F.lit(0).alias("redirect"),
            F.lit("Follow").alias("target"),
            F.lit(0).alias("marker"),
            F.lit(False).alias("seen_global"),
            F.lit(None).cast("int").alias("status"),
            F.lit(None).cast("string").alias("content_type"),
            F.lit(None).cast("string").alias("content_encoding"),
            F.lit(None).cast("binary").alias("body"),
            F.lit(None).cast("string").alias("action"),
            F.lit(None).cast("string").alias("pre_action"),
        )
        chain_out = run_chain_stage(chain_input, job_state, self.cfg,
                                    custom_filters=self.custom_task_filters)
        from crusty_core_spark.plans.local_step import commit_iteration

        # one collect; the seed commits as iteration 0 on the driver, like
        # every iteration. Exact ints: no float64 round trip for
        # null-bearing columns
        pdf = chain_out.toArrow().to_pandas(integer_object_nulls=True)
        with self.io.deferred_manifest():
            commit_iteration(
                self, 0, pdf, None, {}, exec_local=0, t0=t0,
                extra_state={"seeded": True, "cfg": self.cfg.to_dict()},
            )

    # ------------------------------------------------------------------ step

    def step(self) -> dict:
        """Run one crawl iteration; returns counters for the metrics table.

        Dispatch: a thin frontier (≤ cfg.local_iter_threshold pending rows,
        tracked arithmetically — no Spark job to decide) runs driver-local
        via plans/local_step.py with identical semantics and the same table
        commits; fat iterations run the distributed plan below."""
        import os

        thr = self.local_thr
        # straggler carry-overs pin the next iteration to the distributed
        # plan: the local path's pending source (chain last-append) doesn't
        # see them, and the deadline/exempt logic lives in _fetch_stage
        if (
            thr
            and 0 < int(self.io.state.get("pending", 0)) <= int(thr)
            and not self.io.state.get("deferred_tasks")
        ):
            from crusty_core_spark.plans.local_step import step_local

            self._last_step_local = True
            return step_local(self, int(self.io.state["iter"]) + 1)
        self._last_step_local = False

        prof = os.environ.get("SPARK_CRAWL_PROFILE", "0") != "0"
        deep = os.environ.get("SPARK_CRAWL_PROFILE") == "2"
        marks: list[tuple[str, float]] = []

        def mark(label):
            if prof:
                marks.append((label, time.time()))

        def barrier(df, label):
            if deep:
                n = df.count()
                p = df.rdd.getNumPartitions()
                marks.append((f"{label}[{n}r/{p}p]", time.time()))
            return df

        t0 = time.time()
        mark("start")
        cfg = self.cfg
        it = int(self.io.state["iter"]) + 1
        #: soft-timeout drain (task_scheduler.rs:134-157): past the soft cap,
        #: keep fetching the remaining frontier but expand/schedule nothing
        drain = (
            cfg.soft_timeout_iters is not None and it > cfg.soft_timeout_iters
        )
        pending = self._pending_df(it)

        # --- politeness ready-selection (task_processor.rs:388-398 as a
        #     window rank; skipped entirely when delay is 0 — with no delay
        #     every pending row is due by construction, so no extra scan)
        if cfg.delay_ms > 0:
            ready, remaining = politeness_select(
                pending, it, cfg, int(self.io.state.get("pending", 0))
            )
        else:
            ready = pending
            remaining = None

        # --- resolve (broadcast hosts join + IP blacklist;
        #     task_processor.rs:117-126) then fetch = equi-join vs pages
        from crusty_core_spark.operators.resolve import resolve_ready

        ready = resolve_ready(ready, self.hosts, resolver=self.resolver,
                              resolver_cache_key=self._resolver_key)
        fetched = self._fetch_stage(ready)

        # --- status filters + size cap, as bulk masks (exact stage order:
        #     Redirect → ContentType → size; status_filters.rs, task_processor.rs:60-80)
        ct_ok = F.lit(False)
        for a in cfg.accepted_content_types:
            ct_ok = ct_ok | F.col("content_type").contains(a)
        ct_ok = F.coalesce(ct_ok, F.lit(False))  # null content_type → reject
        is_redirect = F.col("status").isNotNull() & F.col("status").between(300, 399)
        canon_loc = canonicalize_udf(F.col("location"), F.col("url"))
        # LinkTarget processing depth (types.rs:166-173, dispatch
        # task_processor.rs:285-346): JustResolveDNS stops after resolve;
        # Head stops after the (bodyless) status — redirect/content-type
        # status filters still apply, the size cap and parse do not;
        # Load/HeadLoad run the full load but never parse (to_parse below
        # filters on FOLLOW_TARGETS); Follow/HeadFollow run everything.
        # straggler carry-over (live mode + fetch_deadline_ms): deferred
        # rows get a non-terminal "deferred" action — they skip fetch_log /
        # chain / parse this iteration and re-enter the pending frontier
        live_deadline = (
            self.pages is None
            and cfg.fetch_deadline_ms
            and getattr(self.fetcher, "supports_deadline", False)
        )
        action_head = F.when(
            F.col("resolve_failed"), F.lit("error:ResolveError")
        )
        if live_deadline:
            action_head = action_head.when(
                F.col("fetch_deferred"), F.lit("deferred")
            )
        fetched = fetched.withColumn(
            "canon_location", F.when(is_redirect, canon_loc)
        ).withColumn(
            "action",
            action_head
            .when(F.col("target") == "JustResolveDNS", F.lit("resolved"))
            .when(F.col("status").isNull(), F.lit("error:HttpError"))
            .when(
                is_redirect & (F.col("redirect") >= cfg.max_redirect),
                F.lit("term:MaxRedirect"),
            )
            .when(
                is_redirect & F.col("canon_location").isNull(),
                F.lit("error:BadLocation"),
            )
            .when(is_redirect, F.lit("term:Redirect"))
            .when(~ct_ok, F.lit("term:ContentType"))
            .when(F.col("target") == "Head", F.lit("head"))
            .when(
                F.length("html") > cfg.max_response_size,
                F.lit("error:HttpTooBigResponse"),
            )
            .otherwise(F.lit("processed")),
        )
        # wire-level byte tap + response header map (HttpStatus.headers
        # types.rs:233-239; LoadMetrics.read_size/write_size via
        # CountingStream, hyper_utils.rs:14-50) — deterministic simulated
        # values shared with the simulator (functions/http_sim.py)
        from crusty_core_spark.functions import http_sim as HS

        h_col, rd_col, wr_col = HS.with_io_columns(fetched, cfg)
        fetched = (
            fetched.withColumn("headers", h_col)
            .withColumn("read_size", rd_col)
            .withColumn("write_size", wr_col)
        )
        custom = bool(self.custom_status_filters or self.custom_load_filters)
        if custom:
            fetched = self._apply_custom_fetch_filters(fetched)
        fetched = (
            # precomputed at persist-build time (after custom filters — the
            # robots-body predicate must see the FINAL action) so the
            # downstream consumers (fetch_log writer, chain-input resp rows)
            # read these tiny columns from the cache instead of decoding the
            # html column
            fetched.withColumn("body_bytes", F.length("html").cast("long"))
            .withColumn(
                "robots_body",
                F.when(
                    (F.col("marker") == 1) & (F.col("action") == "processed"),
                    F.col("html"),
                ),
            )
        )
        # SLIM persist: html is consumed by exactly one downstream path (the
        # extract stage), so storing it in the block-manager cache pays a
        # full memory-bandwidth round trip (write ~#ready x body bytes, read
        # it once) that measures FLAT from 1 to 4 executors on a shared-
        # memory box. Drop html from the cached plan and let the extract
        # branch recompute its slice from the cheap cached-pages SMJ
        # (measured ~0.5 s) — body bytes then stream straight from the join
        # into the Arrow extract crossing without ever being stored. With
        # custom load filters the full row (html included) must survive the
        # filter crossing, so that path keeps the fat persist. Live-crawl
        # mode (pages=None) also keeps the fat persist: the extract branch's
        # recompute would re-run the user's fetcher — a second network hit
        # per URL, and a non-deterministic fetcher could diverge from the
        # persisted classification (ADVICE r3).
        # Fetch-side per-iteration counts ride the cache materialization
        # itself (Dataset.observe = accumulator aggregates computed by
        # whichever job FIRST materializes this plan: wave 1 via the
        # redirect-candidates scan, or the chain job's resp rows in drain
        # mode) — the old separate counts-collect job over the cache was a
        # per-iteration latency barrier that scaled ~1.6x N→4N (mostly
        # fixed scheduler latency the ratio pays 4x for). Only the facts
        # the engine actually consumes are observed: total / processed /
        # error-prefix counts (the metrics row and run() read nothing
        # finer) and the global byte taps.
        obs_fetch = Observation()
        fetch_metrics = [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("action") == "processed", 1).otherwise(0))
            .cast("long").alias("processed"),
            F.sum(F.when(F.col("action").startswith("error"), 1).otherwise(0))
            .cast("long").alias("errors"),
            F.sum(F.when(F.col("action") == "deferred", 1).otherwise(0))
            .cast("long").alias("deferred"),
            F.coalesce(F.sum("read_size"), F.lit(0)).cast("long").alias("rb"),
            F.coalesce(F.sum("write_size"), F.lit(0)).cast("long").alias("wb"),
        ]
        if not custom and self.pages is not None:
            fetched_full = fetched  # fat recompute plan for the extract path
            fetched = fetched.drop("html").observe(obs_fetch, *fetch_metrics)
        else:
            # fat persist: the extract path reads the same cached plan, so
            # the observe node must live inside it (a separate un-observed
            # alias would recompute the fetch — the ADVICE-r3 double-fetch)
            fetched = fetched.observe(obs_fetch, *fetch_metrics)
            fetched_full = fetched
        fetched.persist()
        barrier(fetched, "fetch+classify")

        # --- parse + expand, fused with canonicalization — ONE Python
        #     crossing (FollowLinks, select_task_expanders.rs:37-51 +
        #     Link::new join/strip, types.rs:438-443)
        to_parse = fetched_full.filter(
            (F.col("action") == "processed")
            & F.col("target").isin(*FOLLOW_TARGETS)
        ).select(
            "job_id", "task_seq", "url", "depth", "html", "content_encoding"
        )
        if drain:
            to_parse = to_parse.limit(0)
        # persist policy: with fetch_log_detail OFF, ``parsed`` and ``cands``
        # each have exactly ONE downstream consumer (the title/n_links joins
        # are the second readers) — persisting them would pay a full extra
        # materialization pass over the iteration's two biggest
        # intermediates for nothing. Deep-profile runs persist regardless so
        # the phase barriers don't recompute stages.
        multi_read = cfg.fetch_log_detail or deep
        parsed = extract_pages_canonical(
            to_parse,
            base_col="url",
            expanders=self.expanders,
            user_extract=self.user_extract,
            user_schema=self.user_extract_schema,
            parser=self.parser,
            # title feeds fetch_log only in detail mode; text has no engine
            # consumer at all — skipping them cuts the Arrow crossing's
            # return payload by ~the page text volume of the iteration
            emit_title=bool(cfg.fetch_log_detail),
            emit_text=False,
        )
        if multi_read:
            parsed.persist()
        barrier(parsed, "extract")

        link = F.col("link")
        parsed_links = (
            parsed.select(
                "job_id",
                "task_seq",
                F.col("url").alias("parent_url"),
                "depth",
                F.explode("links_canon").alias("link"),
            )
            .select(
                "job_id",
                "task_seq",
                F.lit("cand").alias("kind"),
                # document-order position; gaps after the null-drop are fine —
                # the chain stage only sorts by it (no window shuffle needed)
                link["pos"].alias("link_pos"),
                link["url"].alias("url"),
                link["host"].alias("host"),
                F.coalesce(link["rel"], F.lit("")).alias("rel"),
                F.coalesce(link["alt"], F.lit("")).alias("alt"),
                F.coalesce(link["text"], F.lit("")).alias("text"),
                (F.col("depth") + 1).alias("depth"),  # Task::new types.rs:484
                F.lit(0).alias("redirect"),
                F.coalesce(link["target"], F.lit("Follow")).alias("target"),
                F.lit(0).alias("marker"),
            )
        )

        # --- redirect candidates (status_filters.rs:58-65; keeps level+marker)
        redirect_cands = fetched.filter(F.col("action") == "term:Redirect").select(
            "job_id",
            "task_seq",
            F.lit("cand").alias("kind"),
            F.lit(0).alias("link_pos"),
            F.col("canon_location").alias("url"),
            url_host(F.col("canon_location")).alias("host"),
            F.lit("").alias("rel"),
            F.lit("").alias("alt"),
            F.lit("").alias("text"),
            F.col("depth"),  # redirect keeps level (types.rs:484)
            (F.col("redirect") + 1).alias("redirect"),
            "target",
            "marker",
        )

        cands_raw = parsed_links.unionByName(redirect_cands)
        if drain:
            # an explicit empty LocalRelation, NOT limit(0): a limit above
            # the observed fetched cache could early-terminate a wave-1 scan
            # after 0 rows and register a PARTIAL obs_fetch result (the
            # Observation keeps its first fire) — the empty relation carries
            # no cache scan at all, so the first fire is the chain job's
            # full resp-row materialization
            cands_raw = self.spark.createDataFrame([], cands_raw.schema)
        cands_raw.persist()  # probe, pos-shard collect, backstop all read it
        # dropped below when the iteration produced zero candidates — the
        # Bloom probe / backstop / slim / union stages all launch tasks even
        # on an empty plan, a pure stage-floor cost on robots-only and drain
        # iterations (the wave-1 count is already paid, so this is free)

        # --- WAVE 1: materialize fetch→classify→extract→explode NOW, so
        #     the probe, pos-shard collect and backstop below read a warm
        #     cache, and an iteration with zero candidates skips them
        n_cands = cands_raw.count()
        mark("wave1")

        # --- touched-jobs-only state pruning: this iteration's chain touches
        #     exactly the jobs with ready rows (candidates inherit their
        #     parent's job_id), so the per-job state read/shuffle/write is
        #     pruned to the touched job-buckets — O(touched), not O(all jobs).
        #     The bucket set was computed by the PREVIOUS iteration's counts
        #     collect and carried in the manifest (no extra Spark job; falls
        #     back to a distinct over the compact pending set on old
        #     checkpoints). Politeness mode accumulates (a superset is safe —
        #     the semi-join below still prunes to touched jobs).
        touched_buckets = self.io.state.get("pending_buckets")
        if touched_buckets is None:
            touched_buckets = [
                r[0]
                for r in pending.select(
                    F.pmod(F.col("job_id"), F.lit(N_JOB_BUCKETS)).cast("int")
                ).distinct().collect()
            ]
        # Every state row in a touched bucket rides through the chain stage:
        # untouched jobs pass through the Python fold unmodified (their
        # bucket's partition file is rewritten regardless, and an Arrow
        # passthrough is cheaper than the broadcast-anti-join + re-scan it
        # replaces) and come back tagged action="untouched", so the commit
        # writes job_state straight from the cached chain output.
        job_state = self.io.read_partitions(
            "job_state", touched_buckets
        ).select(*_STATE_COLS)

        # --- dedup check flag (task_filters.rs:184-192; commit stays in the
        #     chain): Bloom-shard prefilter + shard-pruned exact backstop,
        #     or plain join
        dedup_stats = {}
        if n_cands == 0:
            cands = None
            dedup_stats = {"dedup_shards_read": 0, "dedup_read_bytes": 0}
        elif cfg.use_bloom:
            from crusty_core_spark.operators import bloom

            cands = bloom.dedup_flag(cands_raw, self.io, cfg,
                                     stats=dedup_stats)
        else:
            seen = self.url_seen_df().select(
                "job_id", "url", F.lit(True).alias("seen_global")
            )
            cands = cands_raw.join(
                seen, on=["job_id", "url"], how="left"
            ).withColumn(
                "seen_global", F.coalesce("seen_global", F.lit(False))
            )
        if cands is not None:
            cands = (
                cands
                .withColumn("status", F.lit(None).cast("int"))
                .withColumn("content_type", F.lit(None).cast("string"))
                .withColumn("content_encoding", F.lit(None).cast("string"))
                .withColumn("body", F.lit(None).cast("binary"))
                .withColumn("action", F.lit(None).cast("string"))
            )
        # SLIM the known-skip candidates OUT of the chain exchange
        # (counts-only mode): scheme rejection, the no-follow skip (filter
        # #1, task_filters.rs:297-306) and the committed-seen skip (filter
        # #3 via the precomputed seen_global flag) are stateless verdicts —
        # precompute them JVM-side as ``pre_action``, then AGGREGATE the
        # slim rows JVM-side to one compact row per (job, parent, action):
        # kind="slimagg", link_pos = the count, text = the comma-joined
        # original positions. On a dup-heavy fat iteration the majority of
        # candidates are committed-seen, so this removes ~60% of the rows
        # from the cogroup's Arrow/pandas crossing entirely (measured
        # 12.8x row compression on the 2M-row isolation-bench input) —
        # only the full-fold minority crosses into Python at all.
        # EXACT semantics: the fold records each processed batch's term
        # cutoff in link_pos coordinates and counts a pre-aggregated slim
        # verdict iff its position precedes the cut — the same take_while
        # predicate the per-row path applied (operators/chain_stage.py,
        # pinned by tests/test_chain_fold.py). Detail mode keeps full
        # rows — its sched log records the urls.
        slim_cands = None
        if cands is None:
            pass
        elif not cfg.sched_log_detail:
            scheme_ok = F.col("url").startswith("http:") | F.col(
                "url"
            ).startswith("https:")
            cands = cands.withColumn(
                "pre_action",
                F.when(~F.coalesce(scheme_ok, F.lit(False)), F.lit("rejected"))
                .when(
                    F.lower(F.coalesce(F.col("rel"), F.lit(""))) == "no-follow",
                    F.lit("skip"),
                )
                .when(F.col("seen_global"), F.lit("skip")),
            )
            keep = F.col("pre_action").isNull()
            for c in ("url", "host", "rel", "alt", "text"):
                cands = cands.withColumn(c, F.when(keep, F.col(c)))
            slim_cands = True  # split+aggregate below (needs the cache)
        else:
            cands = cands.withColumn(
                "pre_action", F.lit(None).cast("string")
            )
        if (multi_read or slim_cands) and cands is not None:
            # feeds the chain input and either the n_links agg (detail) or
            # the slimagg + full-row branches (counts mode) — two readers
            cands.persist()
        if cands is not None:
            barrier(cands, "cands+bloom+seen")

        # --- response rows (every ready task; robots rows carry their body).
        # The fold reads ONLY url/task_seq/marker/action/status + the robots
        # trio (content_type/content_encoding/body, marker==1 rows) from
        # resp-kind rows — host/rel/alt/text/target are candidate-side
        # fields that would ride the cogroup exchange unread, so null them
        # here (string payload ~= one row per ready task; pure shuffle-byte
        # savings, the fold never looks at them for resps)
        null_s = F.lit(None).cast("string")
        is_robots = F.col("marker") == 1
        resp_src = fetched
        if live_deadline:
            # deferred rows never reach the chain (no resp_counter advance,
            # no robots mutation) — they are still pending
            resp_src = fetched.filter(F.col("action") != "deferred")
        resp_rows = resp_src.select(
            "job_id",
            F.lit("resp").alias("kind"),
            "task_seq",
            F.lit(0).alias("link_pos"),
            "url",
            null_s.alias("host"),
            null_s.alias("rel"),
            null_s.alias("alt"),
            null_s.alias("text"),
            "depth",
            "redirect",
            null_s.alias("target"),
            "marker",
            F.lit(False).alias("seen_global"),
            "status",
            F.when(is_robots, F.col("content_type")).alias("content_type"),
            F.when(is_robots, F.col("content_encoding")).alias(
                "content_encoding"),
            F.col("robots_body").alias("body"),
            "action",
            null_s.alias("pre_action"),
        )
        if cands is None:
            chain_input = resp_rows
        else:
            cand_side = cands
            if slim_cands:
                is_slim = F.col("pre_action").isNotNull() & (
                    F.col("task_seq") >= 0
                )
                slimagg = (
                    cands.filter(is_slim)
                    .groupBy("job_id", "task_seq", "pre_action")
                    .agg(
                        F.count("*").cast("int").alias("link_pos"),
                        F.concat_ws(
                            ",",
                            F.collect_list(F.col("link_pos").cast("string")),
                        ).alias("text"),
                    )
                )
                slimagg_rows = slimagg.select(
                    "job_id",
                    F.lit("slimagg").alias("kind"),
                    "task_seq",
                    "link_pos",
                    null_s.alias("url"),
                    null_s.alias("host"),
                    null_s.alias("rel"),
                    null_s.alias("alt"),
                    "text",
                    F.lit(0).alias("depth"),
                    F.lit(0).alias("redirect"),
                    null_s.alias("target"),
                    F.lit(0).alias("marker"),
                    F.lit(False).alias("seen_global"),
                    F.lit(None).cast("int").alias("status"),
                    null_s.alias("content_type"),
                    null_s.alias("content_encoding"),
                    F.lit(None).cast("binary").alias("body"),
                    null_s.alias("action"),
                    "pre_action",
                )
                fields = [f.name for f in resp_rows.schema.fields]
                cand_side = cands.filter(~is_slim).select(*fields).unionByName(
                    slimagg_rows.select(*fields)
                )
            chain_input = resp_rows.unionByName(
                cand_side.select(*[f.name for f in resp_rows.schema.fields])
            )

        # diagnostic hook: dump the chain stage's exact inputs so
        # scripts/bench_chain_stage.py can time run_chain_stage in isolation
        # at different topologies (not used in production runs)
        dump = os.environ.get("SPARK_CRAWL_DUMP_CHAIN")
        if dump:
            chain_input.write.mode("overwrite").parquet(
                f"{dump}/chain_input_it{it}")
            job_state.write.mode("overwrite").parquet(
                f"{dump}/job_state_it{it}")

        # --- per-job chain replay, bucketed (exact semantics per job,
        #     parallel across jobs); only TOUCHED jobs' states cross
        #     Python — untouched states are carried over JVM-side at commit
        chain_out = run_chain_stage(chain_input, job_state, self.cfg,
                                    custom_filters=self.custom_task_filters,
                                    drain=drain)
        chain_out.persist()
        barrier(chain_out, "chain")

        # --- fetch_log rows (title + n_links folded in when detail is on)
        user_cols = []
        if self.user_extract_schema:
            from pyspark.sql import types as PT

            user_cols = [
                f.name
                for f in PT.StructType.fromDDL(self.user_extract_schema).fields
            ]
        log_src = fetched
        if live_deadline:
            # a deferred fetch is not an outcome — its row logs when it
            # finally settles (wait_iters then spans the deferral)
            log_src = fetched.filter(F.col("action") != "deferred")
        base_log = log_src.select(
            F.lit(it).alias("iter"),
            "job_id",
            "task_seq",
            "url",
            "depth",
            "redirect",
            "target",
            "marker",
            "status",
            "action",
            F.col("body_bytes").alias("bytes"),
            # per-stage metric analogue (StatusMetrics.wait_duration,
            # types.rs:242-246) in deterministic iteration ticks
            (F.lit(it) - F.col("added_iter")).cast("long").alias("wait_iters"),
            # response header map + wire byte tap (functions/http_sim.py)
            "headers",
            "read_size",
            "write_size",
        )
        if cfg.fetch_log_detail:
            titles = parsed.select("job_id", "task_seq", "title", *user_cols)
            fetch_log = base_log.join(titles, ["job_id", "task_seq"], "left")
            if cands is None:  # zero candidates this iteration
                fetch_log = fetch_log.withColumn("n_links", F.lit(0))
            else:
                n_links = (
                    cands.filter(F.col("redirect") == 0)  # parsed links only
                    .groupBy("job_id", "task_seq")
                    .agg(F.count("*").cast("int").alias("n_links"))
                )
                fetch_log = (
                    fetch_log.join(n_links, ["job_id", "task_seq"], "left")
                    .withColumn("n_links", F.coalesce("n_links", F.lit(0)))
                )
        else:
            fetch_log = base_log.withColumn(
                "n_links", F.lit(0)
            ).withColumn("title", F.lit(None).cast("string"))
            user_cols = []
        fetch_log = fetch_log.select(
            "iter", "job_id", "task_seq", "url", "depth", "redirect",
            "target", "marker", "status", "action", "n_links", "title",
            "bytes", "wait_iters", "headers", "read_size", "write_size",
            *user_cols,
        )

        # ONE materialization wave BEFORE the commit's collects.
        # Concurrent jobs racing to compute the shared persisted plans
        # serialize on executor block locks — a task blocked on an
        # in-progress cached block still occupies its slot, so the fan-out
        # wastes cores exactly when parallelism is highest (event-log
        # measured: a concurrent counts job alone held 171 task-seconds of
        # blocked slots at 4 executors vs 27 at 1). chain_out is the DAG
        # sink — one count() runs fetch→extract→dedup→chain fully parallel
        # with zero lock contention, and every downstream job reads warm
        # cache. The fetch counts and byte taps were observed DURING this
        # wave by obs_fetch — no counts job exists; resolve just reads the
        # accumulators. The sched counts and the touched shard/bucket sets
        # are recomputed by commit_iteration from the collected chain output.
        chain_out.count()

        def resolve_counts():
            fm = obs_fetch.get  # blocks until the observed plan's first
            # action lands — it already did, above
            n = int(fm["n"] or 0)
            p = int(fm["processed"] or 0)
            e = int(fm["errors"] or 0)
            d = int(fm["deferred"] or 0)
            # deferred rows were NOT consumed — they re-enter the pending
            # frontier, so every counts consumer (metrics n_ready, the
            # pending arithmetic, run()'s progress check) sees only the
            # rows this iteration actually settled
            counts = {}
            if p:
                counts["processed"] = p
            if e:
                counts["error:all"] = e
            if n - p - e - d:
                counts["other"] = n - p - e - d
            return {
                "counts": counts,
                "bytes": {"read": int(fm["rb"] or 0),
                          "write": int(fm["wb"] or 0)},
            }

        mark("materialize")
        # --- straggler carry-over: pull the deferred fetch rows (tiny —
        #     one wave's unfinished stragglers) off the warm fetched cache,
        #     re-queue them and exempt their jobs from completion. The rows
        #     ride the manifest state, so a resumed engine re-pends them
        #     deterministically; next iteration's fetch stage reads their
        #     URLs as its deadline-exempt set.
        def_rows: list[list] = []
        if live_deadline:
            import json

            def_pdf = (
                fetched.filter(F.col("action") == "deferred")
                .select(*_PENDING_COLS)
                .toPandas()
            )
            # plain python scalars — these rows ride the JSON manifest state
            def_rows = json.loads(def_pdf.to_json(orient="values"))
        deferred_jobs = sorted({int(r[0]) for r in def_rows})
        if def_rows and remaining is not None:
            remaining = remaining.select(*_PENDING_COLS).unionByName(
                self.spark.createDataFrame(def_rows, _pending_schema())
            )
        state_kw = {}
        if live_deadline:
            # overwritten every iteration: consumed carry-overs drop out,
            # this wave's stragglers ride the (checkpointed) manifest state
            state_kw["deferred_tasks"] = def_rows
        caches = [df for df in (chain_out, cands, cands_raw, parsed, fetched)
                  if df is not None]
        # collect the cached results once and commit on the driver like a
        # local iteration — writes, compaction, state and checkpoint all
        # land inside this step. Spark writer jobs cost seconds of fixed
        # floor per iteration and, deferred under the next step, still
        # lost to this commit at 24k and 51k pending rows (README,
        # "Hybrid dispatch")
        from crusty_core_spark.plans.local_step import commit_iteration

        resolved = resolve_counts()
        # one manifest dump for the whole commit, as in step_local
        with self.io.deferred_manifest():
            commit_iteration(
                self, it,
                # exact ints: no float64 round trip for null-bearing columns
                chain_out.toArrow().to_pandas(integer_object_nulls=True),
                fetch_log.toArrow(), resolved["counts"],
                remaining=(remaining.toPandas() if remaining is not None
                           else None),
                drain=drain, read_bytes=resolved["bytes"]["read"],
                write_bytes=resolved["bytes"]["write"],
                dedup_stats=dedup_stats, exec_local=0, t0=t0,
                deferred_jobs=deferred_jobs, extra_state=state_kw,
            )
        for df in caches:
            df.unpersist()
        counts = resolved["counts"]
        if prof:
            mark("commit")
            deltas = {
                marks[i][0]: round(marks[i][1] - marks[i - 1][1], 2)
                for i in range(1, len(marks))
            }
            print(f"[profile] iter={it} ready={sum(counts.values())} "
                  f"{deltas}", flush=True)
        return counts

    def _fetch_stage(self, ready: DataFrame) -> DataFrame:
        """One logical fetch (reference task_processor.rs:128-208), two
        physical strategies:

        - pages table present (the batch/sandbox contract): equi-join
          against the bucketed pages table — with the table cached
          hash-partitioned + sorted on url, only the thin ready side
          shuffles per iteration.
        - pages=None (live-crawl mode): the registered point-fetch client
          runs as an Arrow-batched ``mapInPandas`` stage — every executor
          partition fetches its own ready URLs (the reference's per-task
          HTTP fetch re-expressed as a vectorized stage; client factory
          crawler.rs:189-245) through operators.fetcher.fetch_merge, the
          kernel the driver-local path calls directly. Resolve-failed rows
          never reach the client.
        """
        if self.pages is not None:
            return ready.join(self.pages, on="url", how="left")

        from pyspark.sql import types as PT

        from crusty_core_spark.operators.fetcher import (
            RESPONSE_DDL,
            fetch_merge,
        )

        fetcher = self.fetcher
        # straggler tolerance (CrawlConfig.fetch_deadline_ms): a wall
        # deadline per batch, deferred URLs re-queued by step(). URLs
        # deferred LAST iteration (carried in the manifest state) are
        # exempt this iteration (see fetch_merge).
        deadline_s = None
        exempt: set = set()
        if self.cfg.fetch_deadline_ms and getattr(
            fetcher, "supports_deadline", False
        ):
            deadline_s = self.cfg.fetch_deadline_ms / 1000.0
            exempt = {
                r[2] for r in (self.io.state.get("deferred_tasks") or ())
            }
        page_ddl = RESPONSE_DDL
        if deadline_s is not None:
            page_ddl += ", fetch_deferred boolean"
        out_schema = PT.StructType(
            list(ready.schema.fields)
            + list(PT.StructType.fromDDL(page_ddl).fields)
        )
        cols = [f.name for f in out_schema.fields]

        def fetch_batches(batches):
            for pdf in batches:
                yield fetch_merge(pdf, fetcher, deadline_s, exempt)[cols]

        return ready.mapInPandas(fetch_batches, schema=out_schema)

    def _maybe_compact(self) -> None:
        """Size-triggered compaction of the append-only tables (VERDICT r2
        #6): decided from the manifest alone (no FS calls), so an
        iteration that triggers nothing pays nothing. chain keeps its most
        recent data dir unmerged — _pending_df's read_last_append contract
        depends on it."""
        io = self.io
        k = self.cfg.compact_max_files
        if k:
            io.compact_partitions("url_seen", k)
            io.compact_appends("chain", k, keep_last=1)
            if io.exists("fetch_log"):
                io.compact_appends("fetch_log", k, keep_last=1)
            if io.exists("job_log"):
                io.compact_appends("job_log", k, keep_last=1)
        # bound manifest/checkpoint history (O(n^2) growth otherwise) and
        # drop data dirs nothing retained references — see config.snapshot_keep
        keep = self.cfg.snapshot_keep
        if keep:
            io.expire_checkpoints(keep)
            io.expire_snapshots(keep)

    def _apply_custom_fetch_filters(self, fetched: DataFrame) -> DataFrame:
        """status_filters::Filter / load_filters::Filter extension points.

        Reference semantics (task_processor.rs:60-80, status_filters.rs:9-14,
        load_filters.rs:8-19): custom status filters run after the built-in
        Redirect/ContentType (so only on rows those accepted); custom load
        filters run after the body loaded (action == processed), before
        parse. Both paths run operators.filters.apply_fetch_filters; here
        it costs one extra Arrow crossing, paid only when filters are
        registered."""
        sf = self.custom_status_filters
        lf = self.custom_load_filters

        def apply(batches):
            for pdf in batches:
                pdf["action"] = apply_fetch_filters(pdf, pdf["action"], sf, lf)
                yield pdf

        return fetched.mapInPandas(apply, schema=fetched.schema)

    # ----------------------------------------------------------- run/readers

    def _tasks_slice(self, chain_out, it) -> DataFrame:
        return chain_out.filter(F.col("row_kind") == "task").select(
            "job_id", "task_seq", "url", "host", "depth", "redirect",
            "target", "marker", "rel", "alt", "text", "parent_url",
            "parent_seq", "link_pos", "priority",
            F.lit(it + 1).cast("long").alias("next_fetch_iter"),
            F.lit(it).cast("long").alias("added_iter"),
        )

    def _pending_df(self, it: int) -> DataFrame:
        """The live work queue. delay=0: exactly the tasks accepted last
        iteration, the chain table's last append; politeness mode: the
        explicit compact frontier_pending table."""
        if self.cfg.delay_ms > 0:
            pending = self.io.read("frontier_pending")
        else:
            last = self.io.read_last_append("chain")
            pending = self._tasks_slice(
                last.filter(F.col("row_kind") == "task"),
                it - 1,
            )
            # straggler carry-overs (live fetch deadline): their task rows
            # live in OLDER chain appends — re-pended from the manifest
            # state
            def_rows = self.io.state.get("deferred_tasks") or []
            if def_rows:
                pending = pending.unionByName(
                    self.spark.createDataFrame(def_rows, _pending_schema())
                )
        # The fetch join's hash(url) exchange redistributes the frontier to
        # full parallelism regardless of scan partitioning, so an
        # unconditional repartition here would shuffle the whole frontier
        # TWICE per iteration. A respread is only needed when the backing
        # commit is a single file (a driver-local iteration writes one):
        # then the exchange's map side — scan + resolve probe + hash/write
        # of up to threshold×branching rows — would run as one task. And the
        # respread hash-partitions on the key the plan needs next (url for
        # the fetch join, (job_id, host) for the politeness window — a
        # subset clustering satisfies the salted window too), so Catalyst
        # REUSES it instead of exchanging again: one shuffle either way.
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        try:
            few_files = len(pending.inputFiles()) < max(2, n // 8)
        except Exception:
            few_files = True
        if not few_files:
            return pending
        key = ["job_id", "host"] if self.cfg.delay_ms > 0 else ["url"]
        return pending.repartition(n, *[F.col(c) for c in key])

    def _job_state_df(self) -> DataFrame:
        """All jobs' current states (the partitioned job_state table —
        per-iteration commits touch only the active buckets)."""
        return self.io.read_partitions("job_state").select(*_STATE_COLS)

    def url_seen_df(self) -> DataFrame:
        """The committed URL-seen set (commit-last semantics, one row per
        (job_id, url)) — the dedicated host-hash-partitioned table, so the
        per-iteration dedup backstop prunes its scan to touched shards."""
        return self.io.read_partitions("url_seen").select(
            "job_id", "url", "added_iter"
        )

    def pending_count(self) -> int:
        """Exact pending count (maintained arithmetically — no Spark job)."""
        return int(self.io.state.get("pending", 0))

    def job_log_df(self) -> DataFrame:
        """Per-job Finished records (JobStatus::Finished analogue,
        types.rs:325-328): one row per job on completion/root-rejection."""
        return self.io.read("job_log")

    def sched_log_df(self) -> DataFrame:
        return self.io.read("chain").filter(
            F.col("row_kind") == "sched"
        ).select("iter", "job_id", "parent_seq_num", "url", "depth",
                 "link_pos", "action", "filter")

    def lineage_df(self) -> DataFrame:
        return self.io.read("chain").filter(
            F.col("row_kind") == "lineage"
        ).select("job_id", "url", "seed_url", "depth", "discovered_by", "iter")

    def flush_metrics(self) -> DataFrame:
        """Materialize the manifest-buffered per-iteration metrics as a
        table — a driver-side pyarrow write (the buffer is one tiny row per
        iteration; the old Spark createDataFrame+write job cost ~0.7 s of
        fixed floor per crawl)."""
        import pandas as pd
        from pyspark.sql import types as T

        buf = self.io.state.get("metrics_buffer", [])
        schema = T.StructType.fromDDL(S.METRICS)
        cols = [f.name for f in schema.fields]
        pdf = pd.DataFrame([tuple(r) for r in buf], columns=cols)
        for c in cols:
            pdf[c] = pd.to_numeric(pdf[c]).astype("int64")
        self.io.overwrite_pdf("metrics", pdf, schema)
        return self.io.read("metrics")

    def run(self, max_iterations: int | None = None) -> dict:
        cap = max_iterations or self.cfg.max_iterations
        stats = {"iterations": 0, "processed": 0,
                 "local_iters": 0, "dist_iters": 0}
        while stats["iterations"] < cap:
            if self.pending_count() == 0:
                break
            counts = self.step()
            stats["iterations"] += 1
            stats["processed"] += counts.get("processed", 0)
            key = (
                "local_iters" if getattr(self, "_last_step_local", False)
                else "dist_iters"
            )
            stats[key] += 1
        self.flush_metrics()
        return stats

    # ---------------------------------------------------------------- resume

    @classmethod
    def resume(cls, spark: SparkSession, pages: DataFrame, workdir: str,
               hosts: DataFrame | None = None) -> "CrawlEngine":
        """Restore from the last complete checkpoint (kill-safe: a crash
        mid-iteration rolls back to the previous iteration's manifest)."""
        io = TableIO(spark, workdir)
        cks = io.list_checkpoints()
        if not cks:
            raise RuntimeError(f"no checkpoints under {workdir}")
        ck = io.restore(cks[-1])
        cfg = CrawlConfig.from_dict(ck["manifest"]["state"]["cfg"])
        return cls(spark, pages, workdir, cfg, hosts=hosts)
