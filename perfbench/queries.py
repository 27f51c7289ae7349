"""Queries workload: one op is one pass over the 12 timed queries of
bench.py, each built and then run to completion through the ``noop``
sink, so every output column is computed (``count()`` would let Spark
prune them).

The tables are generated from the seed at ``SF`` (perfbench/inputs.py).
Warm-up, counted in ``setup_s``: the session's first pass collects every
query and compares it with its DuckDB oracle through
``scripts/check_oracle.value_hash`` (a mismatch counts as a failed op; the
DuckDB side is left out of ``setup_s``; the Spark side per query is the
``query.<q>.first_s`` layer number), then noop passes up to
``WARM_PASSES``. The timed passes follow, until ``--seconds`` have passed
and at least ``MIN_PLAIN_OPS`` untraced passes were made.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

from perfbench.harness import log, measured_session
from perfbench.inputs import TABLES, gen_tables, write_tables
from perfbench.trace import Py4jCounter, Tracer

SF = 0.01
HEADLINE = [
    "q01_pricing_summary",
    "q03_nation_revenue",
    "q04_politeness_rank",
    "q06_running_counter",
    "q07_exact_dedup_groups",
    "q08_anti_join_unseen",
    "q12_lang_id",
    "q14_simhash",
    "q16_lsh_candidate_pairs",
    "q17_ngram_jaccard",
    "q18_ann_cosine_topk",
    "q33_ann_ivf_probe",
]
#: warm-up passes, the oracle pass included. Pass times drift down over
#: the first passes (e.g. 9.5, 5.9, 5.7, 5.3 s at sf 0.01 on a busy 4-CPU
#: box); a fixed count keeps setup_s comparable between runs.
WARM_PASSES = 3
#: untraced passes a run times at least, whatever ``--seconds`` says. The
#: passes keep speeding up long after the warm-up (the JIT still compiles
#: 2-3 CPU-seconds per pass after 15 passes), so the median must come from
#: the same passes of the session on every run: with "until --seconds",
#: runs that made 2 passes and runs that made 3 read 20% apart. 4 passes
#: take longer than 10 s unless a pass is under 2.5 s.
MIN_PLAIN_OPS = 4


def short(q: str) -> str:
    return q.split("_", 1)[0]


#: the per-layer metrics a traced run of this workload reports
LAYERS = ("session.start_s",) + tuple(
    f"query.{short(q)}.{part}" for q in HEADLINE
    for part in ("first_s", "build_s", "run_s", "py4j_calls"))


def query_pass(spark, tables, tracer, py4j=None) -> tuple[float, dict]:
    """One op: build and run every headline query. Returns the wall time
    and per-query (build_s, run_s, py4j_calls)."""
    from crusty_core_spark.entry_queries import QUERIES

    per = {}
    t0 = time.perf_counter()
    for q in HEADLINE:
        fn = QUERIES[q][0]
        tb = time.perf_counter()
        with tracer.span(f"query.{short(q)}.build"), (
                py4j.counting() if py4j else contextlib.nullcontext()):
            df = fn(spark, tables)
        tr = time.perf_counter()
        with tracer.span(f"query.{short(q)}.run"):
            df.write.format("noop").mode("overwrite").save()
        per[q] = (tr - tb, time.perf_counter() - tr, py4j.calls if py4j else 0)
    return time.perf_counter() - t0, per


def oracle_pass(spark, tables) -> tuple[dict, list[str]]:
    """Collect every query and compare it with its DuckDB oracle: row
    count, column names and ``scripts/check_oracle.value_hash``. Returns
    the Spark-side seconds per query (build + collect) and the
    mismatching queries."""
    import duckdb

    from crusty_core_spark.entry_queries import QUERIES
    from scripts.check_oracle import value_hash

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet')")
    spark_s, bad = {}, []
    for q in HEADLINE:
        fn, sql = QUERIES[q]
        t = time.perf_counter()
        sdf = fn(spark, tables)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        spark_s[q] = time.perf_counter() - t
        cur = con.execute(sql)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if (len(srows) != len(orows) or sorted(scols) != sorted(ocols)
                or value_hash(srows, scols) != value_hash(orows, ocols)):
            bad.append(q)
    con.close()
    return spark_s, bad


def run(workload, seed, seconds, tracer, settings, work) -> dict:
    tables = os.path.join(work, "tables")
    write_tables(gen_tables(seed, SF), tables)  # inputs: not timed
    log(f"inputs: tables at sf {SF}")
    with measured_session(settings, f"perfbench-{workload}", tracer) as (
            spark, info):
        py4j = Py4jCounter() if tracer.enabled else None
        try:
            res = _measure(spark, tables, seconds, tracer, py4j, info["t0"],
                           info["checkpoint"])
        finally:
            if py4j is not None:
                py4j.close()
    res["layers"]["session.start_s"] = info["session_s"]
    res["memory_mb"] = info["memory_mb"]
    res["settings"] = {"tables_sf": SF, "queries": HEADLINE,
                       "sink": "noop", "warm_passes": res.pop("warm_passes")}
    return res


def _measure(spark, tables, seconds, tracer, py4j, t_setup,
             checkpoint) -> dict:
    quiet = Tracer(False)
    layers: dict[str, float] = {}
    # the check pass is the session's first pass; its DuckDB side is not
    # set-up work and is left out of setup_s
    t = time.perf_counter()
    with tracer.span("warmup.oracle_pass"):
        first, bad = oracle_pass(spark, tables)
    for q, spark_s in first.items():
        layers[f"query.{short(q)}.first_s"] = spark_s
    oracle_s = time.perf_counter() - t - sum(first.values())
    log(f"oracle checked ({oracle_s:.2f}s DuckDB)")
    if bad:
        print("perfbench: oracle mismatch: " + ", ".join(bad))
    warm = [sum(first.values())]
    while len(warm) < WARM_PASSES:
        warm.append(query_pass(spark, tables, quiet)[0])
    setup_s = time.perf_counter() - t_setup - oracle_s
    log(f"setup done in {setup_s:.2f}s, warm passes {warm}")
    # after the warm-up, so after the same work in every run, and before
    # the timed passes, so its full collections land in none of them
    checkpoint()

    ops, per_q = [], []
    t_end = time.perf_counter() + seconds
    k = 0
    while True:
        traced = tracer.enabled and k % 2 == 1
        n_plain = sum(not o["traced"] for o in ops)
        if time.perf_counter() >= t_end and n_plain >= MIN_PLAIN_OPS and (
                len(ops) - n_plain >= 1 or not tracer.enabled):
            break
        k += 1
        with tracer.span("op", traced=traced):
            wall, per = query_pass(spark, tables, tracer if traced else quiet,
                                   py4j if traced else None)
        ops.append({"wall_s": wall, "items": len(HEADLINE), "traced": traced})
        if traced:
            per_q.append(per)
        log(f"op {k}: {wall:.3f}s")

    for q in HEADLINE:
        for i, part in enumerate(("build_s", "run_s", "py4j_calls")):
            if per_q:
                layers[f"query.{short(q)}.{part}"] = statistics.median(
                    p[q][i] for p in per_q)
    return {"ops": ops, "setup_s": setup_s, "layers": layers,
            "attempted": len(ops) + len(warm), "failed": int(bool(bad)),
            "warm_passes": [round(w, 4) for w in warm]}
