"""Driver-local crawl iteration — the thin-frontier fast path.

A crawl's head and tail iterations are a few hundred URLs. Running them
through the full distributed plan costs multi-stage Spark job latency
(politeness window, fetch join, Arrow extract, cogroup chain, N table
writes) — seconds of fixed overhead for milliseconds of work. The same
pathology exists on a 1000-executor cluster: thin micro-batches are
launch-overhead-bound, so a scale-out engine wants a local execution mode
for them (the Spark analogue of AQE's LocalTableScan collapse).

``step_local`` runs ONE iteration entirely on the driver when the pending
frontier is at or under ``cfg.local_iter_threshold`` rows, with *identical
semantics* to ``CrawlEngine.step``, by reusing the SAME kernel functions the
distributed plan runs inside its Arrow stages:

- politeness ready-selection: pandas stable sort + cumcount == the window
  rank (plans/engine.py step);
- resolve + fetch: ONE small Spark job — ``resolve_ready`` (the same
  operator) + broadcast join against the pages table, collected; with a
  point-fetch client instead, no Spark job: the ``resolve_failed_flags``
  and ``fetch_merge`` kernels the distributed ``mapInPandas`` stages run;
- status classification: a numpy mirror of the engine's bulk masks (the
  simulator pins both via the parity suite); custom status/load filters:
  ``operators.filters.apply_fetch_filters``, the distributed kernel;
- parse/expand/canonicalize: ``functions.extract._extract_batches`` — the
  exact generator the distributed ``mapInPandas`` runs;
- Bloom dedup: ``functions.xxh64`` (bit-exact python twin of F.xxhash64)
  against the same shard bitsets, exact backstop via pruned pyarrow reads
  of the ``url_seen`` partitions;
- filter chain: ``operators.chain_stage.make_chain_fn`` — the exact
  cogroup function, called per job bucket;
- commits: pyarrow writes through the same TableIO manifest (same dirs,
  same schemas) — Spark and local iterations interleave freely, and
  resume/checkpoint behave identically.

Parity between this path, the distributed path, and the reference simulator
is pinned by tests/test_fastpath.py and the parametrized parity suite.
"""

from __future__ import annotations

import os
import time
from urllib.parse import urlsplit

import pandas as pd

from crusty_core_spark.functions.canonicalize import canonicalize_url
from crusty_core_spark.functions.extract import _extract_batches
from crusty_core_spark.functions.xxh64 import bloom_positions, bloom_shard_id
from crusty_core_spark.operators import bloom
from crusty_core_spark.operators.chain import FOLLOW_TARGETS
from crusty_core_spark.operators.chain_stage import (
    N_JOB_BUCKETS,
    _STATE_COLS,
    make_chain_fn,
)
from crusty_core_spark.operators.filters import (
    _str_or_none,
    apply_fetch_filters,
)
from crusty_core_spark.plans import schemas as S

_FRONTIER_COLS = [c.strip().split(" ")[0] for c in S.FRONTIER.split(",")]
_CHAIN_IN_COLS = [c.strip().split(" ")[0] for c in S.CHAIN_IN.split(",")]
_TASK_SLICE = ["job_id", "task_seq", "url", "host", "depth", "redirect",
               "target", "marker", "rel", "alt", "text", "parent_url",
               "parent_seq", "link_pos", "priority"]


# ------------------------------------------------------------------ mp pool
#
# Medium-width local iterations are dominated by two pure-python stages:
# html extraction (~0.6 ms/page) and the per-job chain fold. Both are
# embarrassingly parallel (per page / per job-bucket), so a fork-based
# process pool runs them across cores WITHOUT Spark's per-job floor —
# this is what lets the local path own iterations up to tens of thousands
# of rows. Workers are module-level (picklable by reference); extension
# callables ride in the pickled args, so a try-pickle guard falls back to
# the serial path for non-picklable (e.g. closure-defined) extensions.

_POOL = None
_POOL_N = None

#: shared commit thread pool — the per-iteration table commits (chain /
#: job_state / url_seen / bloom / fetch_log / job_log / frontier) are
#: independent tables whose writes serialize only on the manifest lock.
#: pyarrow's encode/write releases the GIL, so a handful of threads
#: overlap the per-file metadata floors.
_COMMIT_POOL = None


def _commit_pool():
    global _COMMIT_POOL
    if _COMMIT_POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        _COMMIT_POOL = ThreadPoolExecutor(
            max_workers=4, thread_name_prefix="local-commit"
        )
    return _COMMIT_POOL


def _get_pool(n: int):
    global _POOL, _POOL_N
    if _POOL is not None and _POOL_N == n:
        return _POOL
    if _POOL is not None:
        _POOL.terminate()
    import multiprocessing as mp

    _POOL = mp.get_context("fork").Pool(n)
    _POOL_N = n
    return _POOL


def _pool_warm(_):
    """Run a small REAL extraction in the child: imports the hot modules,
    grows the allocator past the first-touch page-fault regime, and JITs
    nothing (python) but primes every code path the real tasks hit.
    Sized near a real fat-iteration chunk (a few hundred pages, MBs of
    frame memory): a first TIMED fat iteration otherwise still pays the
    children's allocator growth — measured as the first crawl of a
    session running ~10% slower than the second on identical inputs."""
    import numpy as np
    import pandas as pd

    from crusty_core_spark.functions.extract import _extract_batches

    html = (
        b"<html><head><title>warm</title></head><body>"
        + b'<p>word w2 w3 </p><a href="/page/p1">a</a>'
        + b'<a href="/page/p2#s">b</a><img src="/i.png" alt="x"/>' * 7
        + b"</body></html>"
    ) * 3
    n = 384
    pdf = pd.DataFrame(
        {
            "url": [f"http://warm{i % 17}.example/{i}" for i in range(n)],
            "depth": [0] * n,
            "html": [html] * n,
            "content_encoding": [None] * n,
        }
    )
    out = next(_extract_batches(iter([pdf]), "html", "content_encoding",
                                "url"))
    _columnarize_parsed(out, [], False)
    # big-array paths the fold/commit kernels hit: object-array take,
    # stable argsort, frame construction/boolean masks at size
    arr = np.empty(200_000, dtype=object)
    arr[:] = "http://warm.example/page"
    order = np.argsort(np.arange(200_000) % 16, kind="stable")
    big = pd.DataFrame({"a": arr[order], "b": np.arange(200_000) % 97})
    _ = big[big["b"] > 50]
    return 0


def warm_pool(cfg) -> None:
    """Fork + warm the local-path worker pool NOW (engine construction) so
    the one-time fork/COW/import cost never lands inside a crawl
    iteration. No-op when the local path or multiprocessing is disabled.
    Also primes the PARENT-side arrow/numpy kernels the iteration loop
    uses (is_in hash probe, element-wise join, factorize) — their
    first-call registry/dispatch setup otherwise lands in the first
    timed fat iteration."""
    if not cfg.local_iter_threshold:
        return
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    keys = pa.array([f"{i}|http://warm.example/{i}" for i in range(4096)])
    probe = pc.binary_join_element_wise(
        pc.cast(pa.array(np.arange(4096, dtype="int64")), "string"),
        pa.array(["http://warm.example/x"] * 4096),
        "|",
    )
    pc.fill_null(pc.is_in(probe, value_set=keys), False).to_numpy(
        zero_copy_only=False
    )
    pc.starts_with(keys, pattern="http:")
    pd.factorize(np.asarray(["", "no-follow"] * 512, dtype=object))
    n = cfg.resolved_local_workers()
    if n <= 1:
        return
    _get_pool(n).map(_pool_warm, range(n))


def _picklable(*objs) -> bool:
    import pickle

    try:
        pickle.dumps(objs)
        return True
    except Exception:
        return False


def _columnarize_parsed(pdf, user_cols, emit_title):
    """Flatten a parsed chunk's per-page ``links_canon`` dict rows into
    plain columnar lists. Runs INSIDE the fork-pool worker: the flatten is
    embarrassingly parallel, and the columnar payload both pickles far
    smaller than 20-links-per-page dict rows and spares the main thread
    the 250k-element dict iteration it used to do serially."""
    import itertools

    import numpy as np

    link_lists = pdf["links_canon"].tolist()
    lens = [len(x) for x in link_lists]
    flat = list(itertools.chain.from_iterable(link_lists))

    def _i64(name):
        # the calibration probe's frames carry no job/seq ids — zeros keep
        # its timing representative without forking the worker code path
        if name in pdf.columns:
            return pd.to_numeric(pdf[name]).astype("int64").to_numpy()
        return np.zeros(len(pdf), dtype="int64")

    payload = {
        "job_id": _i64("job_id"),
        "task_seq": _i64("task_seq"),
        "depth": _i64("depth"),
        "lens": lens,
        "pos": np.fromiter(
            (lk["pos"] for lk in flat), dtype="int64", count=len(flat)
        ),
        "url": [lk["url"] for lk in flat],
        "host": [lk["host"] for lk in flat],
        "rel": [(lk["rel"] or "") for lk in flat],
        "alt": [(lk["alt"] or "") for lk in flat],
        "text": [(lk["text"] or "") for lk in flat],
        "target": [(lk["target"] or "Follow") for lk in flat],
    }
    if emit_title:
        payload["title"] = pdf["title"].tolist()
    for uc in user_cols:
        payload[uc] = pdf[uc].tolist()
    return payload


def _extract_worker(args):
    pdf, expanders, user_extract, user_cols, parser, emit_title = args
    if isinstance(pdf, dict):
        # dict-of-column-slices handoff (same pattern as _chain_worker):
        # the frame construction runs here, parallel across the pool,
        # instead of the main thread paying pandas block splitting per
        # chunk before pickling
        pdf = pd.DataFrame(pdf)
    out = next(
        _extract_batches(
            iter([pdf]), "html", "content_encoding", "url",
            expanders, user_extract, user_cols, parser,
            # text is never consumed by the local path (fetch_log has no
            # text column) — same output pruning the distributed stage
            # applies (plans/engine.py emit_text=False)
            emit_title=emit_title, emit_text=False,
        )
    )
    return _columnarize_parsed(out, user_cols, emit_title)


def _bloom_positions_worker(args):
    """Fork-pool kernel: bit positions for a slice of the accepted tasks.
    The pure-python xxhash64 twin costs ~60 µs/url — serial it dominates a
    fat local commit (measured ~7 s per 120 k tasks), across the pool it's
    sub-second."""
    num_hashes, n_bits, jobs, urls = args
    return [
        bloom_positions(int(j), u, num_hashes, n_bits)
        for j, u in zip(jobs, urls)
    ]


#: accepted-task count from which the Bloom bit positions are computed
#: across the fork pool: the pure-python xxhash64 twin costs ~60 us/url
#: serial while the pool dispatch for a list of short urls is ~10 ms
_BLOOM_POOL_MIN = 512


def _bloom_pool(cfg, n_tasks: int):
    """The fork pool for a commit's Bloom positions, or None (serial).
    Called on the thread that runs the iteration, BEFORE the commit
    fan-out: ``_bloom_commit`` runs on a commit-pool thread, and forking
    the pool lazily from there would fork while the py4j and commit
    threads hold locks the child inherits."""
    n = cfg.resolved_local_workers()
    if not cfg.use_bloom or n <= 1 or n_tasks < _BLOOM_POOL_MIN:
        return None
    return _get_pool(n)


def _bloom_commit(io, cfg, pool, jobs_list, urls_list, hosts_list,
                  shard_by_host):
    """Bit-position computation + shard merge as ONE unit, submitted to
    the commit pool so the serial-path xxhash64 twin (thin iterations,
    below the fork-pool threshold) runs concurrently with the other
    table writes instead of on the main thread between submissions.
    ``pool`` comes from ``_bloom_pool`` (resolved by the caller — this
    function never forks)."""
    if pool is not None:
        import numpy as np

        splits = [
            ix for ix in np.array_split(np.arange(len(jobs_list)),
                                        cfg.resolved_local_workers())
            if len(ix)
        ]
        parts = pool.map(
            _bloom_positions_worker,
            [
                (cfg.bloom_num_hashes, cfg.bloom_bits_per_shard,
                 [jobs_list[i] for i in ix], [urls_list[i] for i in ix])
                for ix in splits
            ],
        )
        positions = [p for part in parts for p in part]
    else:
        positions = [
            bloom_positions(int(j), u, cfg.bloom_num_hashes,
                            cfg.bloom_bits_per_shard)
            for j, u in zip(jobs_list, urls_list)
        ]
    bloom.merge_pairs_local(
        io, cfg,
        [(shard_by_host[h], p) for h, p in zip(hosts_list, positions)],
    )


def _chain_worker(args):
    cfg, filters, drain, key, left, right = args
    if isinstance(left, dict):
        # dict-of-column-arrays handoff: the main thread ships numpy
        # slices and the (cheap but serial) DataFrame construction runs
        # here, in parallel across the pool workers
        left = pd.DataFrame(left, columns=_CHAIN_IN_COLS)
    fn = make_chain_fn(cfg, filters, drain)
    return fn((key,), left, right)


def _url_host(u: str | None) -> str | None:
    """Python twin of functions.canonicalize.url_host for canonical URLs."""
    if u is None:
        return None
    try:
        return urlsplit(u).hostname or ""
    except ValueError:
        return ""


def _shard_map_worker(args):
    """Fork-pool kernel: host -> bloom shard id for a slice of hosts."""
    hosts, n_shards = args
    return {h: bloom_shard_id(h or "", n_shards) for h in hosts}


def _host_shards(engine, cfg, hosts) -> dict:
    """host → bloom shard id through a crawl-lifetime cache on the engine:
    the same domains recur every iteration, and the pure-python xxhash64
    twin costs ~10 µs per call (38k calls/crawl profiled before caching —
    vs ~1 distinct host per domain per crawl). A seed brings up to 8x the
    iteration threshold of new hosts at once, so 2,000 or more uncached
    hosts are hashed across the fork pool (1.4 s of a 100k-host seed
    serial). Call it on the iteration's thread, never from a commit
    writer: it may fork."""
    cache = getattr(engine, "_host_shard_cache", None)
    if (
        cache is None
        or getattr(engine, "_host_shard_n", None) != cfg.n_bloom_shards
    ):
        cache = engine._host_shard_cache = {}
        engine._host_shard_n = cfg.n_bloom_shards
    n = cfg.n_bloom_shards
    missing = [h for h in hosts if h not in cache]
    n_workers = cfg.resolved_local_workers()
    if n_workers > 1 and len(missing) >= 2000:
        import numpy as np

        chunks = [
            ([missing[i] for i in ix], n)
            for ix in np.array_split(np.arange(len(missing)), n_workers)
            if len(ix)
        ]
        for part in _get_pool(n_workers).map(_shard_map_worker, chunks):
            cache.update(part)
    else:
        for h in missing:
            cache[h] = bloom_shard_id(h or "", n)
    return {h: cache[h] for h in hosts}


def _slimagg_groups(jj, tt, pp, ll):
    """Aggregate slim candidates into one row per (job, parent task_seq,
    pre_action): (job, seq, n, comma-joined positions, action) arrays, in
    pandas ``groupby(sort=False)`` FIRST-APPEARANCE group order with
    original within-group position order — the exact contract of the
    python-lambda groupby this replaces (that lambda forced pandas'
    pure-python group chopping: ~0.2 s per fat iteration for 15k groups).

    Vectorized: stable lexsort by group key (original index as the
    tiebreaker key keeps within-group appearance order), boundary diff
    for sizes, one small join per group, then groups reordered by their
    first original occurrence to reproduce sort=False."""
    import numpy as np

    n = len(jj)
    codes_p, uniq_p = pd.factorize(pp)
    order = np.lexsort((np.arange(n), codes_p, tt, jj))
    sj = jj[order]
    st = tt[order]
    sp = codes_p[order]
    newgrp = np.empty(n, dtype=bool)
    newgrp[0] = True
    newgrp[1:] = (
        (sj[1:] != sj[:-1]) | (st[1:] != st[:-1]) | (sp[1:] != sp[:-1])
    )
    starts = np.flatnonzero(newgrp)
    ends = np.append(starts[1:], n)
    sizes = (ends - starts).astype("int64")
    strs = [str(x) for x in ll[order].tolist()]
    txts = [",".join(strs[a:b]) for a, b in zip(starts, ends)]
    # appearance rank: the first sorted element of each group carries the
    # group's smallest original index (arange was the sort tiebreaker)
    app = np.argsort(order[starts], kind="stable")
    uniq_l = list(uniq_p)
    # hoist the per-group key array: evaluating sp[starts] INSIDE the
    # comprehension rebuilt the O(G) fancy-index array once per group —
    # O(G^2), ~5 s at an 80k-group iteration (3x-corpus scale check)
    sp_starts = sp[starts]
    return (
        sj[starts][app],
        st[starts][app],
        sizes[app],
        [txts[i] for i in app],
        [uniq_l[c] for c in sp_starts[app].tolist()],
    )


def _hosts_usable_map(engine) -> dict[str, bool]:
    """host → has-usable-address, from the hosts dim table (driver-cached;
    the dim is broadcast-size by contract). Python twin of
    operators.resolve.resolve_ready: host lowered/trimmed, reserved-subnet
    addresses dropped, resolution fails when nothing usable remains."""
    m = getattr(engine, "_hosts_usable_cache", None)
    if m is None:
        from crusty_core_spark.operators.resolve import ip_blacklisted

        pdf = engine.hosts.select("host", "addrs").toPandas()
        m = {}
        for h, addrs in zip(pdf["host"].tolist(), pdf["addrs"].tolist()):
            usable = [
                a for a in (addrs if addrs is not None else [])
                if not ip_blacklisted(a)
            ]
            m[str(h).strip().lower()] = bool(usable)
        engine._hosts_usable_cache = m
    return m


def _seen_key_chunks(io, shards: list[int]) -> dict[int, list]:
    """Per-shard url_seen membership keys as arrow string chunks
    (``"<job_id>|<url>"`` — job ids are digits-only, so the first ``|``
    always terminates them and the key is collision-free) — a candidate
    can only live in its host's shard, so membership tests stay per-shard
    (no O(history) union per iteration).

    Incremental cache: url_seen partitions only ever APPEND new immutable
    files, so a shard whose cached rel-list is a prefix of the current one
    loads only the new files' keys — O(new rows) per iteration regardless
    of history length. The chunks feed ``pyarrow.compute.is_in`` (a C
    hash probe over the whole candidate batch) instead of the former
    per-candidate python ``(job, url) in set`` lookups, which were the
    single biggest main-thread cost of a fat iteration's dedup stage."""
    import pyarrow.compute as pc

    cache = getattr(io, "_local_seen_keys", None)
    if cache is None:
        cache = io._local_seen_keys = {}
    parts = io._parts(bloom.URL_SEEN_TABLE)
    out: dict[int, list] = {}
    for sid in shards:
        key = str(sid)
        rels = tuple(parts.get(key, ()))
        cached_rels, chunks = cache.get(key, ((), []))
        if rels[: len(cached_rels)] != cached_rels:
            cached_rels, chunks = (), []  # rewritten (compaction)
        new_rels = rels[len(cached_rels):]
        if new_rels:
            # arrow-direct: only two columns are needed, and the join to
            # key strings happens inside arrow — no python tuples at all
            for t in io._read_paths_tables(
                [os.path.join(io.root, bloom.URL_SEEN_TABLE, r)
                 for r in new_rels],
                columns=["job_id", "url"],
            ):
                if t.num_rows:
                    joined = pc.binary_join_element_wise(
                        pc.cast(t.column("job_id"), "string"),
                        t.column("url"),
                        "|",
                    )
                    chunks.extend(getattr(joined, "chunks", [joined]))
            cache[key] = (rels, chunks)
        out[sid] = chunks
    return out


def _none(v):
    """NaN/pd.NA → None scalar."""
    if v is None:
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def seed_local(engine, seed_pairs: list[tuple[int, str]]) -> None:
    """Driver-local seed — iteration 0 without the distributed chain stage.

    ``CrawlEngine.seed`` is a chain-only iteration (no fetch, no extract):
    root candidates fold through the exact filter chain and the results
    land in the same tables. Running that through Spark costs the cogroup
    exchange and a collect — seconds of fixed floor for what is per-row
    trivial work (measured when the distributed seed still committed with
    five Spark writer jobs: 2.8 s foreground + ~1.8 s of writers landing
    inside iteration 1, for a 1 200-seed crawl whose local seed takes
    ~0.1 s). The same floor
    exists on a real cluster's driver, so a scale-out engine wants the
    thin-seed fast path just like the thin-iteration one.

    Semantics are identical by construction: the SAME kernels run —
    ``canonicalize_url`` (the function inside canonicalize_udf),
    ``_url_host``/scheme twins, and ``make_chain_fn`` — and the commit is
    ``commit_iteration``'s, as iteration 0 (same tables, same partition
    layout, same checkpoint label), so distributed iterations, resume,
    and readers interleave freely. Parity distributed-vs-local seed is
    pinned by tests/test_fastpath.py."""
    import gc

    t0 = time.time()
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        with engine.io.deferred_manifest():
            _seed_local_inner(engine, seed_pairs, t0)
    finally:
        if gc_was_enabled:
            gc.enable()


#: parsed-DDL cache: StructType.fromDDL is a py4j round trip (~0.2 s per
#: call, 5+ calls per local seed/step) and every DDL here is a constant
#: string. fromDDL results are plain python objects, valid across
#: sessions. NEVER .add() on a cached instance (add mutates in place) —
#: build a new StructType from its fields instead.
_DDL_CACHE: dict = {}


def _ddl(ddl_str):
    st = _DDL_CACHE.get(ddl_str)
    if st is None:
        from pyspark.sql import types as T

        st = T.StructType.fromDDL(ddl_str)
        _DDL_CACHE[ddl_str] = st
    return st


def _canon_seed_worker(pairs):
    """Fork-pool kernel: canonicalize + host/scheme for a slice of seed
    pairs (the python twins of the Column exprs). Serial this is the
    single biggest seed cost (~36 µs/url — 3.4 s of a 100k seed,
    cProfile-measured), and it is embarrassingly parallel."""
    import re

    scheme_re = re.compile(r"^([a-z][a-z0-9+.-]*):")
    out = []
    for job_id, seed_url in pairs:
        url = canonicalize_url(seed_url)
        if url is None:
            continue
        m = scheme_re.match(url)
        out.append((int(job_id), url, _url_host(url) or "",
                    m.group(1) if m else ""))
    return out


def _seed_local_inner(engine, seed_pairs, t0: float):
    cfg = engine.cfg
    n_workers = cfg.resolved_local_workers()
    # --- canonicalize + host/scheme (python twins of the Column exprs),
    #     pooled above the same 2k threshold as the chain fold
    if n_workers > 1 and len(seed_pairs) >= 2000:
        import numpy as np

        splits = [
            s for s in np.array_split(np.arange(len(seed_pairs)),
                                      n_workers) if len(s)
        ]
        parts = _get_pool(n_workers).map(
            _canon_seed_worker,
            [[seed_pairs[i] for i in ix] for ix in splits],
        )
        roots = [r for p in parts for r in p]
    else:
        roots = _canon_seed_worker(seed_pairs)

    states = pd.DataFrame(
        {
            "job_id": pd.Series([r[0] for r in roots], dtype="int64"),
            "root_url": [r[1] for r in roots],
            "root_host": [r[2] for r in roots],
            "root_scheme": [r[3] for r in roots],
            "budget_used": pd.Series(0, index=range(len(roots)),
                                     dtype="int64"),
            "lpp_seq": pd.Series(-1, index=range(len(roots)), dtype="int64"),
            "lpp_count": pd.Series(0, index=range(len(roots)), dtype="int64"),
            "robots_state": "none",
            "robots_rules": None,
            "stashed_root_url": None,
            "resp_counter": pd.Series(0, index=range(len(roots)),
                                      dtype="int64"),
            "seq_counter": pd.Series(0, index=range(len(roots)),
                                     dtype="int64"),
        },
        columns=_STATE_COLS,
    )
    chain_in = pd.DataFrame(
        {
            "job_id": pd.Series([r[0] for r in roots], dtype="int64"),
            "kind": "cand",
            "task_seq": pd.Series(-1, index=range(len(roots)), dtype="int64"),
            "link_pos": 0,
            "url": [r[1] for r in roots],
            "host": [r[2] for r in roots],
            "rel": "",
            "alt": "",
            "text": "",
            "depth": 0,
            "redirect": 0,
            "target": "Follow",
            "marker": 0,
            "seen_global": False,
        },
        columns=_CHAIN_IN_COLS,
    )

    # --- the exact chain fold (same pool split as step_local)
    if (
        n_workers > 1
        and len(chain_in) >= 2000
        and _picklable(engine.custom_task_filters)
    ):
        in_g = chain_in["job_id"].astype("int64") % n_workers
        st_g = states["job_id"].astype("int64") % n_workers
        tasks = [
            (cfg, engine.custom_task_filters, False, g,
             chain_in[in_g == g], states[st_g == g])
            for g in range(n_workers)
        ]
        parts = [p for p in _get_pool(n_workers).map(_chain_worker, tasks)
                 if len(p)]
        chain_out = (
            pd.concat(parts, ignore_index=True)
            if parts else pd.DataFrame(columns=S.CHAIN_OUT_COLS)
        )
    else:
        fn = make_chain_fn(cfg, engine.custom_task_filters, False)
        chain_out = fn((0,), chain_in, states)
    if not len(chain_out):
        chain_out = pd.DataFrame(columns=S.CHAIN_OUT_COLS)
    commit_iteration(engine, 0, chain_out, None, {}, exec_local=1, t0=t0,
                     extra_state={"seeded": True, "cfg": cfg.to_dict()})


def step_local(engine, it: int) -> dict:
    """One crawl iteration on the driver; same contract as CrawlEngine.step.

    Cyclic GC is paused for the duration: a wide iteration churns hundreds
    of thousands of short-lived dicts/rows, and the generational collector's
    full-heap scans over that population dominate wall time. Nothing in the
    row pipeline forms reference cycles — refcounting reclaims everything —
    so pausing collection is safe and collection is NOT forced afterwards."""
    import gc

    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        # batch manifest persistence across this iteration's table commits:
        # the recovery point is the end-of-iteration checkpoint (resume
        # rolls back to the last COMPLETE checkpoint either way), and each
        # manifest dump serializes every table's snapshot history — measured
        # ~33 ms × 8 commits on a tail iteration
        with engine.io.deferred_manifest():
            return _step_local_inner(engine, it)
    finally:
        if gc_was_enabled:
            gc.enable()


def _step_local_inner(engine, it: int) -> dict:
    t0 = time.time()
    cfg = engine.cfg
    io = engine.io
    spark = engine.spark
    prof = os.environ.get("SPARK_CRAWL_PROFILE", "0") != "0"
    drain = cfg.soft_timeout_iters is not None and it > cfg.soft_timeout_iters

    # --- pending (pandas, pyarrow read of the compact queue)
    if cfg.delay_ms > 0:
        pending = io.read_local("frontier_pending")
    else:
        last = io.read_last_append_local("chain")
        tasks = last[last["row_kind"] == "task"]
        pending = tasks[_TASK_SLICE].copy()
        pending["next_fetch_iter"] = int(it)
        pending["added_iter"] = int(it - 1)

    # --- politeness ready-selection (mirror of the window rank)
    if cfg.delay_ms > 0 and len(pending):
        per_host = max(1, cfg.concurrency_per_host)
        due = pending[pending["next_fetch_iter"] <= it]
        not_due = pending[pending["next_fetch_iter"] > it]
        due = due.sort_values(["priority", "task_seq"], kind="mergesort")
        rn = due.groupby(["job_id", "host"], sort=False).cumcount()
        ready = due[rn < per_host]
        remaining = pd.concat([not_due, due[rn >= per_host]],
                              ignore_index=True)
    else:
        ready = pending
        remaining = None

    # --- touched job buckets → states (pyarrow partition-pruned read)
    touched_buckets = io.state.get("pending_buckets")
    if touched_buckets is None:
        touched_buckets = sorted(
            {int(j) % N_JOB_BUCKETS for j in ready["job_id"].tolist()}
        )
    states = io.read_partitions_local("job_state", touched_buckets)

    # --- resolve + fetch: the ONE Spark job of a local iteration (the pages
    #     table is the scale-out side; the thin ready set broadcasts)
    from pyspark.sql import types as T

    from crusty_core_spark.operators.fetcher import RESPONSE_COLS, fetch_merge
    from crusty_core_spark.operators.resolve import (
        resolve_failed_flags,
        resolve_ready,
    )

    fetch_cols = _FRONTIER_COLS + ["resolve_failed", *RESPONSE_COLS]
    if engine.fetcher is not None and (
        engine.hosts is None or engine.pages is None
    ):
        # point-fetch client: O(ready) lookups, zero Spark jobs (the
        # reference's HTTP fetch is exactly this shape) — the same resolve
        # and fetch kernels the distributed plan runs in its mapInPandas.
        # With a hosts dim, resolution runs against a driver-cached
        # usable-host map (the python twin of resolve_ready's join).
        if engine.hosts is not None:
            usable = _hosts_usable_map(engine)
            rf = [
                not usable.get(str(h or "").strip().lower(), False)
                for h in ready["host"]
            ]
        elif engine.resolver is not None:
            rf = resolve_failed_flags(
                ready["host"], engine.resolver, engine._resolver_cache
            )
        else:
            rf = False
        fetched = fetch_merge(
            ready.assign(resolve_failed=rf), engine.fetcher
        )[fetch_cols]
    else:
        # pandas promotes int columns to float when they ever met a NaN
        # (e.g. via concat with empty frames) — coerce back to the frontier
        # schema's exact types before the Spark conversion
        frontier_schema = _ddl(S.FRONTIER)
        ready_pd = ready[_FRONTIER_COLS].copy()
        for f in frontier_schema.fields:
            if isinstance(f.dataType, (T.LongType, T.IntegerType)):
                ready_pd[f.name] = (
                    pd.to_numeric(ready_pd[f.name]).fillna(0).astype("int64")
                )
        ready_sdf = spark.createDataFrame(ready_pd, schema=frontier_schema)
        # NB: no broadcast hint — Spark cannot broadcast the LEFT (outer)
        # side of a left join; the LocalRelation's known tiny size lets AQE
        # pick the build side
        fetched = (
            resolve_ready(ready_sdf, engine.hosts, resolver=engine.resolver,
                          resolver_cache_key=engine._resolver_key)
            .join(engine.pages, on="url", how="left")
            .select(*fetch_cols)
            .toPandas()
        )
    marks = [("fetch", time.time())] if prof else None

    def mark(label):
        if prof:
            marks.append((label, time.time()))

    # --- classify (status filters + size cap + custom status/load filters),
    #     VECTORIZED — the numpy mirror of the engine's bulk masks
    #     (plans/engine.py step). Precedence is the same linear CASE chain;
    #     expressed as reverse-order masked assignment (later assignment =
    #     higher precedence), which is exactly the chain's first-match-wins.
    import numpy as np

    n_rows = len(fetched)
    url_a = fetched["url"].to_numpy()
    host_a = fetched["host"].to_numpy()
    job_a = pd.to_numeric(fetched["job_id"]).astype("int64").to_numpy()
    seq_a = pd.to_numeric(fetched["task_seq"]).astype("int64").to_numpy()
    depth_a = pd.to_numeric(fetched["depth"]).astype("int64").to_numpy()
    red_a = pd.to_numeric(fetched["redirect"]).astype("int64").to_numpy()
    target_a = fetched["target"].to_numpy()
    marker_a = pd.to_numeric(fetched["marker"]).astype("int64").to_numpy()
    rf_a = fetched["resolve_failed"].to_numpy().astype(bool)
    status_f = pd.to_numeric(fetched["status"], errors="coerce").to_numpy(
        dtype="float64"
    )
    has_status = ~np.isnan(status_f)

    def _as_bytes(h):
        if isinstance(h, bytes):
            return h
        if isinstance(h, (bytearray, memoryview)):
            return bytes(h)
        return None

    ct_list = [_str_or_none(v) for v in fetched["content_type"].tolist()]
    ce_list = [_str_or_none(v) for v in fetched["content_encoding"].tolist()]
    loc_list = [_str_or_none(v) for v in fetched["location"].tolist()]
    html_list = [_as_bytes(h) for h in fetched["html"].tolist()]
    blen = np.fromiter(
        (len(h) if h is not None else -1 for h in html_list),
        dtype="int64", count=n_rows,
    )
    is_redirect = has_status & (status_f >= 300) & (status_f <= 399)
    ct_ok = np.fromiter(
        (
            c is not None and any(a in c for a in cfg.accepted_content_types)
            for c in ct_list
        ),
        dtype=bool, count=n_rows,
    )
    canon_loc_list = [None] * n_rows
    for i in np.flatnonzero(is_redirect):
        canon_loc_list[i] = canonicalize_url(loc_list[i], base=url_a[i])
    canon_none = np.fromiter(
        (c is None for c in canon_loc_list), dtype=bool, count=n_rows
    )

    action = np.full(n_rows, "processed", dtype=object)
    action[blen > cfg.max_response_size] = "error:HttpTooBigResponse"
    action[target_a == "Head"] = "head"
    action[~ct_ok] = "term:ContentType"
    action[is_redirect] = "term:Redirect"
    action[is_redirect & canon_none] = "error:BadLocation"
    action[is_redirect & (red_a >= cfg.max_redirect)] = "term:MaxRedirect"
    action[~has_status] = "error:HttpError"
    action[target_a == "JustResolveDNS"] = "resolved"
    action[rf_a] = "error:ResolveError"

    # custom status/load filters: the same kernel the distributed plan
    # runs in its mapInPandas (status filters first, then load filters
    # against the post-status action)
    if engine.custom_status_filters or engine.custom_load_filters:
        action = apply_fetch_filters(
            fetched, action, engine.custom_status_filters,
            engine.custom_load_filters,
        )
    mark("classify")

    # --- parse + expand + canonicalize (the exact mapInPandas generator)
    user_cols = []
    if engine.user_extract_schema:
        user_cols = [
            f.name
            for f in _ddl(engine.user_extract_schema).fields
        ]
    follow_mask = (action == "processed") & np.fromiter(
        (t in FOLLOW_TARGETS for t in target_a), dtype=bool, count=n_rows
    )
    if drain:
        follow_mask[:] = False
    parse_idx = np.flatnonzero(follow_mask)
    n_workers = cfg.resolved_local_workers()
    emit_title = bool(cfg.fetch_log_detail)
    parts: list[dict] = []
    if len(parse_idx):
        parse_cols = {
            "job_id": job_a[parse_idx],
            "task_seq": seq_a[parse_idx],
            "url": url_a[parse_idx],
            "depth": depth_a[parse_idx],
            "html": [html_list[i] for i in parse_idx],
            "content_encoding": [ce_list[i] for i in parse_idx],
        }
        n_parse = len(parse_idx)
        ext_args = (engine.expanders, engine.user_extract, user_cols,
                    getattr(engine, "parser", None), emit_title)
        if (
            n_workers > 1
            and n_parse >= 256
            and _picklable(*ext_args)
        ):
            # ship contiguous column slices (numpy views / list slices);
            # each worker builds its own frame — chunk boundaries don't
            # affect results (rows parse independently, output order is
            # chunk order = row order either way)
            bounds = [n_parse * g // n_workers for g in range(n_workers + 1)]
            chunks = [
                {k: v[lo:hi] for k, v in parse_cols.items()}
                for lo, hi in zip(bounds, bounds[1:])
                if hi > lo
            ]
            parts = _get_pool(n_workers).map(
                _extract_worker, [(c, *ext_args) for c in chunks]
            )
        else:
            parts = [_extract_worker((parse_cols, *ext_args))]
    mark("extract")

    # --- candidates: parsed links ∪ redirect re-emits, assembled from the
    #     workers' pre-flattened columnar payloads (the per-link dict rows,
    #     and later the dict flatten itself, were the profiled hot spots of
    #     a fat iteration — both now run inside the parallel workers)
    import itertools

    if parts:
        p_job = np.concatenate([p["job_id"] for p in parts])
        p_seq = np.concatenate([p["task_seq"] for p in parts])
        p_depth = np.concatenate([p["depth"] for p in parts])
        lens = list(itertools.chain.from_iterable(p["lens"] for p in parts))

        def _cat(key):
            if len(parts) == 1:
                return parts[0][key]
            return list(itertools.chain.from_iterable(p[key] for p in parts))

        # int columns stay numpy end to end (the former .tolist() round
        # trip re-converted 260k-element lists back to arrays downstream);
        # string columns stay python lists (consumed by _take / pa.array)
        c_job = np.repeat(p_job, lens)
        c_seq = np.repeat(p_seq, lens)
        c_depth = np.repeat(p_depth + 1, lens)
        c_pos = (
            np.concatenate([p["pos"] for p in parts])
            if len(parts) > 1 else np.asarray(parts[0]["pos"], dtype="int64")
        )
        c_url = _cat("url")
        c_host = _cat("host")
        c_rel = _cat("rel")
        c_alt = _cat("alt")
        c_text = _cat("text")
        c_target = _cat("target")
        c_red = np.zeros(len(c_url), dtype="int64")
        c_marker = np.zeros(len(c_url), dtype="int64")
    else:
        zi64 = np.zeros(0, dtype="int64")
        c_job, c_seq, c_depth, c_pos = zi64, zi64, zi64, zi64
        c_url, c_host, c_rel, c_alt, c_text, c_target = [], [], [], [], [], []
        c_red, c_marker = zi64, zi64
    n_parsed_links = len(c_url)
    if not drain:
        ridx = np.flatnonzero(action == "term:Redirect")
        if len(ridx):
            c_job = np.concatenate([c_job, job_a[ridx]])
            c_seq = np.concatenate([c_seq, seq_a[ridx]])
            c_pos = np.concatenate(
                [c_pos, np.zeros(len(ridx), dtype="int64")]
            )
            c_depth = np.concatenate([c_depth, depth_a[ridx]])
            c_red = np.concatenate([c_red, red_a[ridx] + 1])
            c_marker = np.concatenate([c_marker, marker_a[ridx]])
            for i in ridx:
                c_url.append(canon_loc_list[i])
                c_host.append(_url_host(canon_loc_list[i]))
                c_rel.append("")
                c_alt.append("")
                c_text.append("")
                c_target.append(target_a[i])
    n_cands = len(c_url)

    # --- dedup flag: exact check against the url_seen partitions, pruned to
    #     the CANDIDATE HOSTS' shards (one xxhash64 per distinct host — the
    #     probe needs no Bloom bit positions driver-side because the exact
    #     set itself is the membership test; the bitsets still get every new
    #     task's bits below, so later DISTRIBUTED iterations probe the same
    #     filters). Scan volume stays O(touched-shard history), same as the
    #     distributed Bloom-positive prune.
    dedup_stats = {"dedup_shards_read": 0, "dedup_read_bytes": 0}
    seen_flags = np.zeros(n_cands, dtype=bool)
    if n_cands:
        if cfg.use_bloom:
            host_shards = _host_shards(engine, cfg, set(c_host))
            pos_shards = sorted(set(host_shards.values()))
            key_chunks: dict[int, list] = {}
            if io.exists(bloom.URL_SEEN_TABLE):
                dedup_stats["dedup_shards_read"] = len(pos_shards)
                key_chunks = _seen_key_chunks(io, pos_shards)
            if any(key_chunks.get(s) for s in pos_shards):
                import pyarrow as pa
                import pyarrow.compute as pc

                cand_keys = pc.binary_join_element_wise(
                    pc.cast(pa.array(c_job, type=pa.int64()), "string"),
                    pa.array(c_url, type=pa.string()),
                    "|",
                )
                shard_of = np.fromiter(
                    (host_shards[h] for h in c_host), dtype="int64",
                    count=n_cands,
                )
                for s in np.unique(shard_of):
                    ch = key_chunks.get(int(s))
                    if not ch:
                        continue
                    idx = np.flatnonzero(shard_of == s)
                    hit = pc.is_in(
                        cand_keys.take(pa.array(idx)),
                        value_set=pa.chunked_array(ch),
                    )
                    # a None url joins to a null key → null is_in → not
                    # seen, matching the former (job, None)-not-in-set
                    seen_flags[idx] = pc.fill_null(hit, False).to_numpy(
                        zero_copy_only=False
                    )
        else:
            seen_pdf = (
                io.read_partitions_local(
                    bloom.URL_SEEN_TABLE, columns=["job_id", "url"]
                )
                if io.exists(bloom.URL_SEEN_TABLE)
                else pd.DataFrame(columns=["job_id", "url"])
            )
            seen_set = set(
                zip(seen_pdf["job_id"].tolist(), seen_pdf["url"].tolist())
            )
            seen_flags = np.fromiter(
                ((j, u) in seen_set for j, u in zip(c_job, c_url)),
                dtype=bool, count=n_cands,
            )
    mark("dedup")

    # --- chain input (resp rows ∪ cand rows), columnar. Known-skip
    #     candidates (scheme rejection / no-follow / committed-seen) get
    #     their stateless verdict precomputed VECTORIZED and ride the fold
    #     pre-aggregated — kind="slimagg", one row per (job, parent,
    #     action), link_pos = count, text = comma-joined positions — the
    #     exact shape engine.step builds JVM-side; the fold's pinned slim
    #     accounting (operators/chain_stage.py, tests/test_chain_fold.py)
    #     reconstructs batch positions and term cutoffs, so only the
    #     full-fold minority pays per-row python chain_decide.
    body_list = [
        html_list[i]
        if (marker_a[i] == 1 and action[i] == "processed") else None
        for i in range(n_rows)
    ]
    status_list = [
        None if not has_status[i] else int(status_f[i])
        for i in range(n_rows)
    ]
    # slim verdicts + slimagg aggregation over the candidate arrays
    nf = ns = 0
    ns_txt: list = []
    ns_pre: list = []
    if n_cands:
        cj = np.asarray(c_job, dtype="int64")
        cs = np.asarray(c_seq, dtype="int64")
        cp = np.asarray(c_pos, dtype="int64")
        cd = np.asarray(c_depth, dtype="int64")
        cr = np.asarray(c_red, dtype="int64")
        cm = np.asarray(c_marker, dtype="int64")
        pre = np.full(n_cands, None, dtype=object)
        if not cfg.sched_log_detail:
            # exact twin of engine.step's pre_action CASE (rejected takes
            # precedence; rel is already ""-coalesced here). Arrow prefix
            # test over the whole batch (null url → not ok, like the old
            # "u is not None and ..." guard); rel values repeat heavily,
            # so lower() runs once per DISTINCT value via factorize
            import pyarrow as pa
            import pyarrow.compute as pc

            u_pa = pa.array(c_url, type=pa.string())
            scheme_ok = pc.fill_null(
                pc.or_(
                    pc.starts_with(u_pa, pattern="http:"),
                    pc.starts_with(u_pa, pattern="https:"),
                ),
                False,
            ).to_numpy(zero_copy_only=False)
            rel_codes, rel_uniq = pd.factorize(
                np.asarray(c_rel, dtype=object)
            )
            nofollow = np.zeros(n_cands, dtype=bool)
            if len(rel_uniq):
                rel_flags = np.fromiter(
                    (u.lower() == "no-follow" for u in rel_uniq),
                    dtype=bool, count=len(rel_uniq),
                )
                valid = rel_codes >= 0
                nofollow[valid] = rel_flags[rel_codes[valid]]
            pre[~scheme_ok] = "rejected"
            pre[scheme_ok & (nofollow | seen_flags)] = "skip"
        slim_mask = (pre != None) & (cs >= 0)  # noqa: E711
        fidx = np.flatnonzero(~slim_mask)
        sidx = np.flatnonzero(slim_mask)
        nf = len(fidx)
        ns_job = ns_ts = ns_n = None
        if len(sidx):
            ns_job, ns_ts, ns_n, ns_txt, ns_pre = _slimagg_groups(
                cj[sidx], cs[sidx], pre[sidx], cp[sidx]
            )
            ns = len(ns_job)

    def _take(lst, idx):
        return [lst[i] for i in idx]

    # one direct columnar assembly (no pandas concat: its all-NA join-unit
    # validation walked every element of the null columns — profiled ~1.3 s
    # on a fat iteration)
    def _icol(*parts):
        return np.concatenate(parts) if len(parts) > 1 else parts[0]

    zi = np.zeros(0, dtype="int64")
    zb = np.zeros(0, dtype=bool)
    if n_cands:
        i_job = _icol(job_a, cj[fidx], ns_job if ns else zi)
        i_seq = _icol(seq_a, cs[fidx], ns_ts if ns else zi)
        i_pos = _icol(np.zeros(n_rows, dtype="int64"), cp[fidx],
                      ns_n if ns else zi)
        i_depth = _icol(depth_a, cd[fidx], zi if not ns else
                        np.zeros(ns, dtype="int64"))
        i_red = _icol(red_a, cr[fidx], zi if not ns else
                      np.zeros(ns, dtype="int64"))
        i_marker = _icol(marker_a, cm[fidx], zi if not ns else
                         np.zeros(ns, dtype="int64"))
        i_seen = _icol(np.zeros(n_rows, dtype=bool), seen_flags[fidx],
                       zb if not ns else np.zeros(ns, dtype=bool))
    else:
        i_job, i_seq = job_a, seq_a
        i_pos = np.zeros(n_rows, dtype="int64")
        i_depth, i_red, i_marker = depth_a, red_a, marker_a
        i_seen = np.zeros(n_rows, dtype=bool)
    n_chain_rows = n_rows + nf + ns

    # slice-assign assembly: np.empty(object) arrays initialize to None,
    # so the slimagg/resp tails that are all-None cost nothing — the old
    # list-concat + asarray path walked every element of every column
    def _scol(resp_part, cand_list=None, tail=None):
        arr = np.empty(n_chain_rows, dtype=object)
        arr[:n_rows] = resp_part
        if cand_list is not None and nf:
            arr[n_rows:n_rows + nf] = _take(cand_list, fidx)
        if tail is not None and ns:
            arr[n_rows + nf:] = tail
        return arr

    kind_col = np.empty(n_chain_rows, dtype=object)
    kind_col[:n_rows] = "resp"
    kind_col[n_rows:n_rows + nf] = "cand"
    kind_col[n_rows + nf:] = "slimagg"
    chain_cols = {
        "job_id": i_job,
        "kind": kind_col,
        "task_seq": i_seq,
        "link_pos": i_pos,
        "url": _scol(url_a, c_url),
        "host": _scol(host_a, c_host),
        "rel": _scol(fetched["rel"].to_numpy(), c_rel),
        "alt": _scol(fetched["alt"].to_numpy(), c_alt),
        "text": _scol(fetched["text"].to_numpy(), c_text, ns_txt),
        "depth": i_depth,
        "redirect": i_red,
        "target": _scol(target_a, c_target),
        "marker": i_marker,
        "seen_global": i_seen,
        "status": _scol(status_list),
        "content_type": _scol(ct_list),
        "content_encoding": _scol(ce_list),
        "body": _scol(body_list),
        "action": _scol(action),
        "pre_action": _scol([None] * n_rows, None, ns_pre),
    }
    mark("chain_prep")
    # Jobs are processed independently inside bucket_fn, so ANY partition of
    # the rows by job produces the identical per-job output (row order in
    # the appended log differs, which nothing depends on: every consumer
    # sorts). Serial: one fold call. Wide iterations: per-group folds
    # across the fork pool — job-disjoint groups, as in the Spark cogroup.
    if (
        n_workers > 1
        and n_chain_rows >= 2000
        and _picklable(engine.custom_task_filters)
    ):
        # one fold call per WORKER (not per bucket): jobs are independent,
        # so any job-disjoint partition of the rows is valid — n_workers
        # coarse chunks keep the pickle/transfer overhead at n_workers
        # round-trips instead of N_JOB_BUCKETS. The handoff is the column
        # dict itself: a stable argsort by group + contiguous slices per
        # worker (within-group original order preserved), with each
        # worker's DataFrame constructed in the CHILD — the old path built
        # one big frame and took 16 boolean-mask copies of it serially.
        grp = (np.asarray(chain_cols["job_id"], dtype="int64")
               % n_workers)
        order = np.argsort(grp, kind="stable")
        bounds = np.searchsorted(grp[order], np.arange(n_workers + 1))
        sorted_cols = {k: np.asarray(v)[order] for k, v in chain_cols.items()}
        st_g = (
            states["job_id"].astype("int64") % n_workers
            if len(states) else None
        )
        tasks = [
            (cfg, engine.custom_task_filters, drain, g,
             {k: v[bounds[g]:bounds[g + 1]] for k, v in sorted_cols.items()},
             states[st_g == g] if st_g is not None else states.iloc[0:0])
            for g in range(n_workers)
        ]
        parts = _get_pool(n_workers).map(_chain_worker, tasks)
        parts = [p for p in parts if len(p)]
        chain_out = (
            pd.concat(parts, ignore_index=True)
            if parts else pd.DataFrame(columns=S.CHAIN_OUT_COLS)
        )
    else:
        chain_in = pd.DataFrame(chain_cols, columns=_CHAIN_IN_COLS)
        fn = make_chain_fn(cfg, engine.custom_task_filters, drain)
        chain_out = fn((0,), chain_in, states)
    if not len(chain_out):
        chain_out = pd.DataFrame(columns=S.CHAIN_OUT_COLS)
    mark("chain")

    # --- fetch_log rows (columnar mirror of base_log + detail joins)
    from crusty_core_spark.functions import http_sim as HS

    status_out = [
        None if not has_status[i] else int(status_f[i])
        for i in range(n_rows)
    ]
    bytes_list = [len(h) if h is not None else None for h in html_list]
    wait_a = int(it) - pd.to_numeric(
        fetched["added_iter"]
    ).astype("int64").to_numpy()
    # wire byte tap + header map (functions/http_sim.py) — identical
    # formulas to the engine's Column path and the simulator; batch twin
    # (row-pinned by test_http_sim) instead of 3 function calls per row
    hdr_list, rd_list, wr_list = HS.io_metrics_rows(
        urls=url_a,
        hosts=host_a,
        user_agent=cfg.user_agent,
        resolve_failed=rf_a,
        targets=target_a,
        statuses=status_out,
        content_types=ct_list,
        content_encodings=ce_list,
        locations=loc_list,
        body_lens=bytes_list,
        accepted_content_types=cfg.accepted_content_types,
        custom_headers=cfg.custom_headers,
    )
    rd_a = np.asarray(rd_list, dtype="int64")
    wr_a = np.asarray(wr_list, dtype="int64")
    fl_data = {
        "iter": np.full(n_rows, int(it), dtype="int64"),
        "job_id": job_a,
        "task_seq": seq_a,
        "url": url_a,
        "depth": depth_a,
        "redirect": red_a,
        "target": target_a,
        "marker": marker_a,
        "status": status_out,
        "action": action,
        "n_links": np.zeros(n_rows, dtype="int64"),
        "title": None,
        "bytes": bytes_list,
        "wait_iters": wait_a,
        "headers": hdr_list,
        "read_size": rd_a,
        "write_size": wr_a,
    }
    if cfg.fetch_log_detail:
        titles: dict = {}
        for p in parts:
            t_list = p.get("title")
            uc_lists = [p[uc] for uc in user_cols]
            for i, (j, s) in enumerate(
                zip(p["job_id"].tolist(), p["task_seq"].tolist())
            ):
                titles[(j, s)] = (
                    t_list[i] if t_list is not None else None,
                    [ucl[i] for ucl in uc_lists],
                )
        from collections import Counter

        # parsed-link candidates only (redirect re-emits carry redirect>=1)
        n_links_cnt = Counter(
            zip(c_job[:n_parsed_links], c_seq[:n_parsed_links])
        )
        keys = list(zip(job_a.tolist(), seq_a.tolist()))
        parsed_rows = [titles.get(k) for k in keys]
        fl_data["n_links"] = np.fromiter(
            (n_links_cnt.get(k, 0) for k in keys), dtype="int64",
            count=n_rows,
        )
        fl_data["title"] = [
            _none(p[0]) if p is not None else None for p in parsed_rows
        ]
        for ui, uc in enumerate(user_cols):
            fl_data[uc] = [
                _none(p[1][ui]) if p is not None else None
                for p in parsed_rows
            ]
    else:
        user_cols = []
    fetch_log_pdf = pd.DataFrame(
        fl_data,
        columns=["iter", "job_id", "task_seq", "url", "depth", "redirect",
                 "target", "marker", "status", "action", "n_links", "title",
                 "bytes", "wait_iters", "headers", "read_size", "write_size",
                 *user_cols],
    )

    # --- counters (mirror of the one-collect aggregate)
    counts: dict[str, int] = {
        str(k): int(v)
        for k, v in pd.Series(action).value_counts().items()
    }
    commit_iteration(
        engine, it, chain_out, fetch_log_pdf, counts,
        remaining=remaining, drain=drain, read_bytes=int(rd_a.sum()),
        write_bytes=int(wr_a.sum()), dedup_stats=dedup_stats, exec_local=1,
        t0=t0,
    )
    if prof:
        mark("commit")
        prev = t0
        deltas = {}
        for label, t in marks:
            deltas[label] = round(t - prev, 2)
            prev = t
        print(f"[profile] iter={it} ready={sum(counts.values())} LOCAL "
              f"{deltas}", flush=True)
    return counts


#: fresh-table DDL of every table an iteration commits: the frame's
#: columns, with the partition or log column last where the table's
#: first writer appended one
_FRESH_DDL = {
    "chain": S.CHAIN_OUT + ", iter long",
    "job_state": S.JOB_STATE + ", _bucket int",
    "url_seen": S.URL_SEEN + ", shard int",
    "frontier_pending": S.FRONTIER,
    "job_log": S.JOB_LOG,
    "fetch_log": S.FETCH_LOG,
}


def _schema(engine, name: str):
    """The committed schema of ``name``, or its fresh-table schema when
    no commit has landed yet (the seed; fetch_log at iteration 1). An
    existing table keeps the columns it was created with: re-seeding a
    crashed workdir must not add ``iter`` to a chain table again."""
    io = engine.io
    if io.exists(name) or io.snapshot_id(name) > 0:
        return io.schema(name)
    schema = _ddl(_FRESH_DDL[name])
    if (name == "fetch_log" and engine.user_extract_schema
            and engine.cfg.fetch_log_detail):
        from pyspark.sql import types as T

        # a new StructType: .add() would mutate the cached instance
        schema = T.StructType(
            list(schema.fields) + list(_ddl(engine.user_extract_schema))
        )
    return schema


def commit_iteration(engine, it: int, chain_out, fetch_log, counts: dict,
                     *, remaining=None, drain: bool = False,
                     read_bytes: int = 0, write_bytes: int = 0,
                     dedup_stats: dict | None = None,
                     exec_local: int = 1, t0: float,
                     deferred_jobs=(), extra_state: dict | None = None):
    """Commit one crawl iteration from driver-resident results: the table
    writes, the metrics row, maintenance, state and the checkpoint.

    Every commit ends here: driver-local iterations, distributed ones
    (which collect their cached chain output and fetch_log once), and
    both seed paths, as iteration 0. ``chain_out``: the fold's output
    frame (CHAIN_OUT rows); ``fetch_log``: a pandas frame or Arrow table
    of fetch_log rows, None for the seed; ``counts``: fetch action
    counts; ``remaining``: politeness mode's not-yet-ready rows (frontier
    columns); ``dedup_stats``: the dedup stage's scan counters;
    ``deferred_jobs``: jobs with a straggler carried to the next iteration
    (never Finished); ``extra_state``: more manifest state to set with the
    iteration's."""
    cfg = engine.cfg
    io = engine.io
    if cfg.sched_log_detail:
        sched = chain_out[chain_out["row_kind"] == "sched"]
        sched_counts = sched.groupby("action").size().to_dict()
    else:
        sc = chain_out[chain_out["row_kind"] == "sched_count"]
        sched_counts = (
            sc.groupby("action")["parent_seq_num"].sum().astype(int).to_dict()
        )
    sched_counts = {k: int(v) for k, v in sched_counts.items()}

    new_tasks = chain_out[chain_out["row_kind"] == "task"]
    # shard ids are per-HOST — hosts repeat heavily across tasks AND
    # iterations, so one cached hash per distinct host per crawl (the old
    # per-task set comprehension hashed every task's host)
    hosts_list = new_tasks["host"].tolist()
    shard_by_host = _host_shards(engine, cfg, set(hosts_list))
    new_buckets = {
        int(j) % N_JOB_BUCKETS
        for j in [*new_tasks["job_id"].tolist(), *deferred_jobs]
    }

    # --- commits: pyarrow through the same TableIO manifest. Independent
    # tables commit CONCURRENTLY: each write is submitted as soon as its
    # input frame exists, all are joined before set_state/checkpoint —
    # the durability point — so the crash/recovery model is unchanged.
    # Both fork-pool uses (_host_shards above, the Bloom pool here) are
    # resolved before the first writer starts: a fork while commit
    # threads run would copy their held locks.
    bloom_pool = _bloom_pool(cfg, len(new_tasks))
    commit_futs = []
    _submit = _commit_pool().submit
    # boolean-mask selection already copies; assign() adds the column
    # without a SECOND full copy of the 20 object columns
    log_rows = chain_out[chain_out["row_kind"] != "state"].assign(
        iter=int(it)
    )
    # fat commits split into multiple files (threaded write): the NEXT
    # iteration may be distributed — its frontier scan then starts from
    # parallel input partitions instead of one single-file task
    commit_futs.append(_submit(
        io.append_pdf, "chain", log_rows, _schema(engine, "chain"),
        n_files=min(16, len(log_rows) // 25_000 + 1),
    ))

    states_out = chain_out.loc[
        chain_out["row_kind"] == "state", _STATE_COLS
    ]
    states_out = states_out.assign(
        _bucket=states_out["job_id"].astype("int64") % N_JOB_BUCKETS
    )
    commit_futs.append(_submit(
        io.overwrite_partitions_pdf,
        "job_state", states_out, "_bucket", _schema(engine, "job_state"),
    ))

    seen_new = new_tasks[["job_id", "url"]].assign(
        added_iter=int(it),
        shard=[shard_by_host[h] for h in hosts_list],
    )
    commit_futs.append(_submit(
        io.append_partitions_pdf,
        "url_seen", seen_new, "shard", _schema(engine, "url_seen"),
    ))

    if cfg.use_bloom and len(new_tasks):
        commit_futs.append(_submit(
            _bloom_commit, io, cfg, bloom_pool,
            new_tasks["job_id"].tolist(), new_tasks["url"].tolist(),
            hosts_list, shard_by_host,
        ))

    if cfg.delay_ms > 0:
        tasks_pdf = new_tasks[_TASK_SLICE].assign(
            next_fetch_iter=int(it + 1), added_iter=int(it)
        )
        if remaining is not None and len(remaining):
            tasks_pdf = pd.concat(
                [remaining[_FRONTIER_COLS], tasks_pdf[_FRONTIER_COLS]],
                ignore_index=True,
            )
        commit_futs.append(_submit(
            io.overwrite_pdf,
            "frontier_pending", tasks_pdf[_FRONTIER_COLS],
            _schema(engine, "frontier_pending"),
            n_files=min(16, len(tasks_pdf) // 25_000 + 1),
        ))
        next_job_ids = set(tasks_pdf["job_id"].tolist())
    else:
        next_job_ids = set(new_tasks["job_id"].tolist())
    next_job_ids.update(deferred_jobs)

    touched = chain_out[
        (chain_out["row_kind"] == "state")
        & (chain_out["action"].isin(["touched", "touched_done"]))
    ]
    finished = touched[~touched["job_id"].isin(next_job_ids)]
    job_log_pdf = pd.DataFrame(
        {
            "job_id": finished["job_id"].astype("int64"),
            "iter": int(it),
            # a job the seed leaves with no task lost its root to the chain
            "reason": ("RootRejected" if it == 0
                       else "SoftTimeout" if drain else "Complete"),
            "budget_used": finished["budget_used"].astype("int64"),
            "resp_counter": finished["resp_counter"].astype("int64"),
            "seq_counter": finished["seq_counter"].astype("int64"),
        }
    )
    commit_futs.append(_submit(
        io.append_pdf, "job_log", job_log_pdf, _schema(engine, "job_log")
    ))

    if fetch_log is not None:
        commit_futs.append(_submit(
            io.append_pdf, "fetch_log", fetch_log,
            _schema(engine, "fetch_log"),
        ))
    for f in commit_futs:  # join before the checkpoint (durability point)
        f.result()

    # --- metrics buffer + state + checkpoint (identical on both paths)
    dedup_stats = dedup_stats or {}
    n_ready = sum(counts.values())
    row = [
        it,
        n_ready,
        counts.get("processed", 0),
        sum(v for k, v in counts.items() if k.startswith("error")),
        sum(sched_counts.values()),
        sched_counts.get("accept", 0),
        sched_counts.get("skip", 0),
        sched_counts.get("term", 0),
        int(read_bytes),
        int(write_bytes),
        int((time.time() - t0) * 1000),
        dedup_stats.get("dedup_shards_read", 0),
        dedup_stats.get("dedup_read_bytes", 0),
        int(exec_local),
    ]
    buf = list(io.state.get("metrics_buffer", []))
    buf.append(row)
    io.state["metrics_buffer"] = buf

    # the seed starts from an empty frontier: it replaces whatever an
    # earlier seed into this workdir left pending
    before = io.state if it else {}
    pending_next = (
        int(before.get("pending", 0))
        - n_ready
        + sched_counts.get("accept", 0)
    )
    if cfg.delay_ms > 0:
        new_buckets |= set(before.get("pending_buckets") or [])
    engine._maybe_compact()
    io.set_state(iter=it, pending=pending_next,
                 pending_buckets=sorted(new_buckets),
                 **(extra_state or {}))
    io.checkpoint(f"iter-{it:06d}")
