"""Direct (no-Spark) unit tests for the chain bucket fold's vectorized
slim accounting (operators/chain_stage.make_chain_fn).

The engine-level A/B (test_fastpath.test_counts_only_slim_chain_identical)
proves whole-crawl parity; these tests pin the tricky term-cutoff edges in
isolation: slim rows straddling a TotalPageBudget term, slim rows whose
parent response was never processed this iteration, and slim root rows
(which keep the per-root-batch path).

Ground truth = the same fold run in detail mode on the FULL (un-slimmed)
rows — the original per-row early-out path — with its sched log aggregated
to action counts.

One test runs the Spark cogroup stage (``run_chain_stage``) itself: how
jobs are grouped into cogroup keys must not change any per-job row.
"""

from __future__ import annotations

import pandas as pd

from crusty_core_spark.config import CrawlConfig
from crusty_core_spark.operators.chain_stage import make_chain_fn

_IN_COLS = [
    "job_id", "kind", "task_seq", "link_pos", "url", "host", "rel", "alt",
    "text", "depth", "redirect", "target", "marker", "seen_global",
    "status", "content_type", "content_encoding", "body", "action",
    "pre_action",
]


def _cand(job, parent, pos, url, *, seen=False, rel="", pre=None):
    return dict(
        job_id=job, kind="cand", task_seq=parent, link_pos=pos, url=url,
        host="h.example", rel=rel, alt="", text="", depth=1, redirect=0,
        target="Follow", marker=0, seen_global=seen, status=None,
        content_type=None, content_encoding=None, body=None, action=None,
        pre_action=pre,
    )


def _resp(job, seq, url):
    return dict(
        job_id=job, kind="resp", task_seq=seq, link_pos=0, url=url,
        host="h.example", rel="", alt="", text="", depth=0, redirect=0,
        target="Follow", marker=0, seen_global=False, status=200,
        content_type="text/html", content_encoding=None, body=None,
        action="processed", pre_action=None,
    )


def _state(job):
    return dict(
        job_id=job, root_url="http://h.example/", root_host="h.example",
        root_scheme="http", budget_used=0, lpp_seq=-1, lpp_count=0,
        robots_state="enabled", robots_rules="User-agent: *\nAllow: /",
        stashed_root_url=None, resp_counter=0, seq_counter=0,
    )


def _slim_variant(rows):
    """What engine.step's JVM precompute produces: known-skip candidates get
    pre_action + nulled string payload."""
    out = []
    for r in rows:
        r = dict(r)
        if r["kind"] == "cand" and r["pre_action"] is None:
            if not (r["url"].startswith("http:")
                    or r["url"].startswith("https:")):
                r["pre_action"] = "rejected"
            elif (r["rel"] or "").lower() == "no-follow":
                r["pre_action"] = "skip"
            elif r["seen_global"]:
                r["pre_action"] = "skip"
            if r["pre_action"] is not None:
                for c in ("url", "host", "rel", "alt", "text"):
                    r[c] = None
        out.append(r)
    return out


def _slimagg_variant(rows):
    """What engine.step's JVM pre-aggregation produces (round 5): non-root
    slim candidates collapse to ONE kind="slimagg" row per (job, parent,
    action) — link_pos carries the count, text the comma-joined original
    positions. Root slim rows (task_seq < 0) stay per-row, as in the
    engine (is_slim excludes them)."""
    out, agg = [], {}
    for r in _slim_variant(rows):
        if (r["kind"] == "cand" and r["pre_action"] is not None
                and r["task_seq"] >= 0):
            k = (r["job_id"], r["task_seq"], r["pre_action"])
            agg.setdefault(k, []).append(r["link_pos"])
        else:
            out.append(r)
    for (job, parent, act), poss in agg.items():
        out.append(dict(
            job_id=job, kind="slimagg", task_seq=parent,
            link_pos=len(poss), url=None, host=None, rel=None, alt=None,
            text=",".join(str(p) for p in poss), depth=0, redirect=0,
            target=None, marker=0, seen_global=False, status=None,
            content_type=None, content_encoding=None, body=None,
            action=None, pre_action=act,
        ))
    return out


def _run(rows, states, cfg):
    fn = make_chain_fn(cfg)
    left = pd.DataFrame(rows, columns=_IN_COLS)
    right = pd.DataFrame(states)
    return fn((0,), left, right)


def _counts(out):
    """action -> count, from either a detail sched log or sched_count rows."""
    agg: dict[str, int] = {}
    for _, r in out[out.row_kind == "sched"].iterrows():
        agg[r["action"]] = agg.get(r["action"], 0) + 1
    for _, r in out[out.row_kind == "sched_count"].iterrows():
        agg[r["action"]] = agg.get(r["action"], 0) + int(r["parent_seq_num"])
    return agg


def _tasks(out):
    t = out[out.row_kind == "task"]
    return sorted(zip(t["job_id"], t["task_seq"], t["url"], t["link_pos"]))


def _states(out):
    s = out[out.row_kind == "state"]
    return sorted(zip(s["job_id"], s["budget_used"], s["lpp_seq"],
                      s["lpp_count"], s["action"]))


def _ab(rows, states, cfg_kw):
    detail = _run(rows, states,
                  CrawlConfig(sched_log_detail=True, **cfg_kw))
    for variant in (_slim_variant, _slimagg_variant):
        counts = _run(variant(rows), states,
                      CrawlConfig(sched_log_detail=False, **cfg_kw))
        assert _counts(detail) == _counts(counts), variant.__name__
        assert _tasks(detail) == _tasks(counts), variant.__name__
        assert _states(detail) == _states(counts), variant.__name__
    return _counts(detail)


def test_slim_rows_straddle_budget_term():
    """Slim rows before the term position log; slim rows after it are
    dropped with the remainder of the batch (take_while)."""
    rows = [_resp(0, 7, "http://h.example/p")]
    # batch: seen, fresh, seen, fresh(TERM here: budget=1), seen, seen
    rows += [
        _cand(0, 7, 0, "http://h.example/a", seen=True),
        _cand(0, 7, 1, "http://h.example/b"),
        _cand(0, 7, 2, "http://h.example/c", seen=True),
        _cand(0, 7, 3, "http://h.example/d"),
        _cand(0, 7, 4, "http://h.example/e", seen=True),
        _cand(0, 7, 5, "http://h.example/f", seen=True),
    ]
    c = _ab(rows, [_state(0)], dict(page_budget=1, robots_txt=False))
    # b accepted (budget 1), d terms; the two seen rows before d's position
    # log skip, the two after are dropped
    assert c == {"accept": 1, "term": 1, "skip": 2}


def test_unprocessed_parent_slim_rows_not_counted():
    """Candidates whose parent response is absent this iteration are ignored
    entirely — slim or not."""
    rows = [_resp(0, 7, "http://h.example/p"),
            _cand(0, 7, 0, "http://h.example/a"),
            # orphans: parent 99 never responded
            _cand(0, 99, 0, "http://h.example/x", seen=True),
            _cand(0, 99, 1, "http://h.example/y")]
    c = _ab(rows, [_state(0)], dict(robots_txt=False))
    assert c == {"accept": 1}


def test_slim_root_batches_stay_independent():
    """Each root is its own batch: a seen (slim) root logs its skip and does
    not affect the other root."""
    rows = [
        _cand(0, -1, 0, "http://h.example/", seen=True),
        _cand(0, -1, 1, "http://h.example/alt"),
    ]
    c = _ab(rows, [_state(0)], dict(robots_txt=False))
    assert c == {"skip": 1, "accept": 1}


def test_scheme_rejected_nonslim_counts_toward_cutoff():
    """Detail mode rejects bad schemes inside the fold; counts mode
    pre-slims them. Either way the slim row after a term is dropped."""
    rows = [_resp(0, 7, "http://h.example/p")]
    rows += [
        _cand(0, 7, 0, "ftp://h.example/bad"),
        _cand(0, 7, 1, "http://h.example/b"),      # accept (budget 1)
        _cand(0, 7, 2, "http://h.example/c"),      # term
        _cand(0, 7, 3, "http://h.example/d", seen=True),  # dropped
    ]
    c = _ab(rows, [_state(0)], dict(page_budget=1, robots_txt=False))
    assert c == {"rejected": 1, "accept": 1, "term": 1}


def test_no_follow_slim_and_lpp_term():
    rows = [_resp(0, 7, "http://h.example/p")]
    rows += [
        _cand(0, 7, 0, "http://h.example/a", rel="no-follow"),
        _cand(0, 7, 1, "http://h.example/b"),
        _cand(0, 7, 2, "http://h.example/c"),  # lpp budget 1 -> term
        _cand(0, 7, 3, "http://h.example/d", rel="no-follow"),  # dropped
    ]
    c = _ab(rows, [_state(0)],
            dict(links_per_page_budget=1, robots_txt=False))
    assert c == {"skip": 1, "accept": 1, "term": 1}


def test_slimagg_groups_matches_pandas_reference():
    """_slimagg_groups must reproduce the pandas groupby(sort=False)
    python-lambda aggregation it replaced: same group ORDER (first
    appearance), same sizes, same comma-joined positions in original
    within-group order — across randomized interleavings."""
    import numpy as np
    import pandas as pd

    from crusty_core_spark.plans.local_step import _slimagg_groups

    rng = np.random.RandomState(11)
    for trial in range(20):
        n = int(rng.randint(1, 400))
        jj = rng.randint(0, 9, n).astype("int64")
        tt = rng.randint(0, 17, n).astype("int64")
        pp = np.array(
            [["skip", "rejected"][i] for i in rng.randint(0, 2, n)],
            dtype=object,
        )
        ll = rng.randint(0, 1000, n).astype("int64")

        ref = (
            pd.DataFrame(
                {"job_id": jj, "task_seq": tt, "pre_action": pp,
                 "link_pos": ll}
            )
            .groupby(["job_id", "task_seq", "pre_action"], sort=False)
            ["link_pos"]
            .agg(n="size", txt=lambda s: ",".join(map(str, s.tolist())))
            .reset_index()
        )
        g_job, g_ts, g_n, g_txt, g_pre = _slimagg_groups(jj, tt, pp, ll)
        assert g_job.tolist() == ref["job_id"].tolist(), trial
        assert g_ts.tolist() == ref["task_seq"].tolist(), trial
        assert g_n.tolist() == ref["n"].astype("int64").tolist(), trial
        assert g_txt == ref["txt"].tolist(), trial
        assert g_pre == ref["pre_action"].tolist(), trial


def test_chain_stage_grouping_does_not_change_rows(spark):
    """The cogroup key only partitions jobs: the default few groups per
    shuffle partition and one group per job bucket give the same task,
    state and lineage rows and the same summed sched counts."""
    from crusty_core_spark.operators.chain_stage import (
        N_JOB_BUCKETS,
        run_chain_stage,
    )
    from crusty_core_spark.plans.schemas import CHAIN_IN, JOB_STATE

    cfg = CrawlConfig(sched_log_detail=False, page_budget=3,
                      robots_txt=False)
    rows, states = [], []
    for j in range(40):
        rows.append(_resp(j, 1, f"http://h{j}.example/p"))
        rows += [_cand(j, 1, k, f"http://h{j}.example/{k}", seen=k == 2)
                 for k in range(5)]
        states.append(_state(j))
    ci = spark.createDataFrame(
        [tuple(r[c] for c in _IN_COLS) for r in _slimagg_variant(rows)],
        schema=CHAIN_IN)
    state_cols = [c.strip().split(" ")[0] for c in JOB_STATE.split(",")]
    js = spark.createDataFrame(
        [tuple(s[c] for c in state_cols) for s in states], schema=JOB_STATE)

    def out(n_groups):
        pdf = run_chain_stage(ci, js, cfg, n_groups).toPandas()
        lin = pdf[pdf.row_kind == "lineage"]
        return (_counts(pdf), _tasks(pdf), _states(pdf),
                sorted(zip(lin["job_id"], lin["url"])))

    coarse, per_bucket = out(None), out(N_JOB_BUCKETS)
    assert coarse == per_bucket
    assert coarse[0]["accept"] == 40 * 3
