"""The distributed chain stage: per-job serial semantics, parallel across jobs.

``run_chain_stage`` cogroups this iteration's chain input (response rows +
candidate rows) with the per-job state table and replays the exact filter
chain (operators/chain.py) inside ``applyInArrow``. Jobs are hashed into a
few GROUPS per shuffle partition (the cogroup key), so per-group Arrow/pandas
overhead amortizes over many jobs — the group count is O(partitions), not
O(jobs).
Inside a group, the fold is plain-python over itertuples with columnar
output accumulation (no per-row dicts, no per-job pandas slicing) — the
group loop is the measured hot path of an iteration.

Scale story: parallelism unit = the job (domain), exactly like the
reference's per-domain worker model (main/src/crawler.rs:382-402) minus the
shared-memory state; per-job work per iteration is budget-bounded.

The robots.txt LOAD-filter logic (reference main/src/load_filters.rs:53-112)
also lives here: it mutates per-job state (rules blob + stashed-root
re-emit), so it belongs to the same per-job serial fold.
"""

from __future__ import annotations

import itertools

import pandas as pd

from crusty_core_spark.functions.extract import decode_body
from crusty_core_spark.operators.chain import (
    Candidate,
    JobChainState,
    chain_decide,
)
from crusty_core_spark.plans.schemas import CHAIN_OUT, CHAIN_OUT_COLS

_ALLOW_ALL = "User-agent: *\nAllow: /"

#: the job_state table's partition count: the per-iteration state commit is
#: a partition-level overwrite of the touched buckets only
N_JOB_BUCKETS = 128

#: cogroup groups per shuffle partition in ``run_chain_stage``. Every group
#: pays a fixed cost whatever its size: the fold's frame construction and
#: Arrow <-> pandas conversion (~20 ms; on a 12k-row iteration input 120
#: groups folded in 2.6 s serial, 16 groups in 0.36 s) plus the cogroup's
#: per-group Arrow handoff. The whole stage on that input, local[4], four
#: shuffle partitions: 3.0-3.8 s at 128 groups, 0.9-1.2 s at 16, 0.7-0.9 s
#: at 8, 0.6-0.8 s at 4. Two per partition keeps a group at about half a
#: partition's rows in the Python worker.
GROUPS_PER_PARTITION = 2

_SCHED_COLS = ["job_id", "parent_seq_num", "url", "depth", "link_pos",
               "action", "filter"]
_TASK_COLS = ["job_id", "task_seq", "url", "host", "depth", "redirect",
              "target", "marker", "rel", "alt", "text", "parent_url",
              "parent_seq", "link_pos", "priority"]
_LINEAGE_COLS = ["job_id", "url", "seed_url", "depth", "discovered_by"]
_STATE_COLS = ["job_id", "root_url", "root_host", "root_scheme",
               "budget_used", "lpp_seq", "lpp_count", "robots_state",
               "robots_rules", "stashed_root_url", "resp_counter",
               "seq_counter"]


_NA = pd.NA


def _nn(v, default=None):
    """NaN/None-safe scalar. Hot path: called per field per folded row, so
    no pd.isna — None/pd.NA identity checks plus the NaN self-inequality
    test cover every null representation the Arrow/pandas crossing
    produces (strings/ints/bools are never self-unequal)."""
    if v is None or v is _NA:
        return default
    try:
        if v != v:  # float('nan') — the only self-unequal scalar here
            return default
    except (TypeError, ValueError):
        pass
    return v


def make_chain_fn(cfg, custom_filters: tuple = (), drain: bool = False):
    user_agent = cfg.user_agent

    detail = getattr(cfg, "sched_log_detail", True)

    def bucket_fn(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        sched_rows: list[tuple] = []
        sched_counts: dict[str, int] = {}
        task_rows: list[tuple] = []
        lineage_rows: list[tuple] = []
        state_rows: list[tuple] = []

        if detail:
            def log_sched(job_id, psn, url, depth, pos, action, name):
                sched_rows.append((job_id, psn, url, depth, pos, action, name))
        else:
            def log_sched(job_id, psn, url, depth, pos, action, name):
                sched_counts[action] = sched_counts.get(action, 0) + 1

        by_job: dict[int, list] = {}
        slim_pdf = None
        slimagg_pdf = None
        #: (job_id, parent task_seq) -> term cutoff for every response batch
        #: this bucket processed: the non-slim row index at which the batch
        #: terminated (-1 = term at the stashed root re-emit), or BIG if the
        #: whole batch ran. Feeds the vectorized slim accounting below.
        processed_batches: dict[tuple[int, int], int] = {}
        #: same idea in LINK_POS coordinates for SLIMAGG rows (engine.step's
        #: JVM pre-aggregation — one row per (job, parent, action) instead
        #: of one per slim candidate): the link_pos of the terminating row
        #: (-1 = term at the stashed re-emit), or BIG. A pre-aggregated slim
        #: candidate is logged iff its link_pos < the cut — equivalent to
        #: the nb<=cut comparison because link_pos is the batch's unique
        #: document-order sort key, so "before the term row" is the same
        #: predicate in either coordinate.
        pos_batches: dict[tuple[int, int], int] = {}
        _NO_TERM = 1 << 60
        if len(left):
            import numpy as np

            sa_np = left["kind"].to_numpy() == "slimagg"
            if sa_np.any():
                # JVM-pre-aggregated slim verdicts: link_pos carries the
                # count, text the comma-joined original positions (parsed
                # only for the rare term-cut batches). Pulled out before
                # the sort/fold — they never build Candidates.
                slimagg_pdf = left.loc[
                    sa_np, ["job_id", "task_seq", "link_pos", "text",
                            "pre_action"]
                ]
                left = left.loc[~sa_np]

            ls = left.sort_values(["job_id", "kind", "task_seq", "link_pos"])
            cmask = ls["kind"].to_numpy() == "cand"
            pa_null = ls["pre_action"].isna().to_numpy()
            # per-(job, parent) batch coordinates, computed vectorized on the
            # SAME sorted frame the fold iterates ("cand" sorts before
            # "resp", so resp rows never perturb candidate ranks):
            #   rankpos — the row's original index within its batch (the
            #             `pos` the old per-row loop got from enumerate)
            #   nsi     — the row's index among the batch's NON-slim rows
            #             (the take_while/term coordinate)
            tmp = ls[["job_id", "task_seq"]].copy()
            tmp["f"] = np.where(cmask, pa_null, False).astype("int64")
            grp = tmp.groupby(["job_id", "task_seq"], sort=False)
            nb_incl = grp["f"].cumsum().to_numpy()
            # SLIMAGG rank reconstruction: the pre-aggregated slim rows are
            # absent from this frame, but `pos` (the task row's recorded
            # batch position) must still count them — add, per full cand
            # row, the number of slim positions before it in its batch
            # (vectorized: explode the position lists, stable-sort the
            # combined (batch, link_pos) keys, exclusive cumsum of the slim
            # indicator). nsi is untouched — it indexes non-slim rows only.
            adj = np.zeros(len(ls), dtype="int64")
            if slimagg_pdf is not None and len(slimagg_pdf):
                cand_sel = cmask & (ls["task_seq"].to_numpy() >= 0)
                if cand_sel.any():
                    ex = slimagg_pdf.assign(
                        _p=slimagg_pdf["text"].str.split(",")
                    ).explode("_p")
                    pos_exp = pd.DataFrame({
                        "job_id": ex["job_id"].to_numpy(),
                        "task_seq": ex["task_seq"].to_numpy(),
                        "link_pos": ex["_p"].astype("int64").to_numpy(),
                        "_slim": 1,
                        "_i": -1,
                    })
                    idx = np.flatnonzero(cand_sel)
                    sub = pd.DataFrame({
                        "job_id": ls["job_id"].to_numpy()[idx],
                        "task_seq": ls["task_seq"].to_numpy()[idx],
                        "link_pos": ls["link_pos"].to_numpy()[idx],
                        "_slim": 0,
                        "_i": idx,
                    })
                    allp = pd.concat([sub, pos_exp], ignore_index=True)
                    allp = allp.sort_values(
                        ["job_id", "task_seq", "link_pos"], kind="stable"
                    )
                    slim_np = allp["_slim"].to_numpy()
                    before = (
                        allp.groupby(["job_id", "task_seq"], sort=False)
                        ["_slim"].cumsum().to_numpy() - slim_np
                    )
                    ii = allp["_i"].to_numpy()
                    take = ii >= 0
                    adj[ii[take]] = before[take]
            ls = ls.assign(rankpos=grp.cumcount().to_numpy() + adj,
                           nsi=nb_incl - 1)
            # SLIM rows (engine.step, counts-only mode): the verdict for
            # stateless decisions — scheme rejection, no-follow skip,
            # committed-seen skip — was precomputed JVM-side as
            # ``pre_action``. They mutate no chain state, so instead of
            # riding the python fold row-by-row they are pulled out here and
            # accounted for VECTORIZED after the fold: a slim row is logged
            # iff its batch ran past it, i.e. its non-slim-rows-before count
            # (nb) <= the batch's term cutoff. Root rows (task_seq < 0) keep
            # the per-root-batch path; drain logs nothing, so no pull-out.
            slim_sel = np.zeros(len(ls), dtype=bool)
            if not drain and not detail:
                slim_sel = (cmask & ~pa_null
                            & (ls["task_seq"].to_numpy() >= 0))
            if slim_sel.any():
                slim_pdf = pd.DataFrame({
                    "job_id": ls["job_id"].to_numpy()[slim_sel],
                    "parent": ls["task_seq"].to_numpy()[slim_sel],
                    "act": ls["pre_action"].to_numpy()[slim_sel],
                    "nb": nb_incl[slim_sel],
                })
                ls = ls.loc[~slim_sel]
            for j, rows in itertools.groupby(
                ls.itertuples(index=False), key=lambda r: int(r.job_id)
            ):
                by_job[j] = list(rows)

        for srow in right.to_dict("records"):
            job_id = int(srow["job_id"])
            tasks_before = len(task_rows)
            srow = {k: _nn(v) for k, v in srow.items()}
            st = JobChainState.from_row(srow)
            resp_counter = int(srow["resp_counter"])
            seq_counter = int(srow["seq_counter"])
            # in-batch dedup set; pre-seed with the robots URL if committed in
            # an earlier pass (the only in-chain-generated committed URL that
            # never appears in the bulk seen_global anti-join input)
            st.seen = set()
            if cfg.robots_txt and st.robots_state != "none":
                st.seen.add(f"{st.root_scheme}://{st.root_host}/robots.txt")

            def run_batch(batch, parent_seq_num, parent_url, parent_seq,
                          stash=0):
                """Fold one candidate batch; returns the term cutoff as a
                (nsi, link_pos) pair — the non-slim row index AND the
                link_pos of the row at which the batch terminated (-1 = at
                the stashed re-emit), or (None, None) if the whole batch
                ran."""
                nonlocal seq_counter
                if drain:
                    # soft-timeout drain: responses are processed (robots
                    # state above still mutates) but nothing new is scheduled
                    # (task_scheduler.rs:134-157)
                    return None, None
                for item in batch:
                    lp = -1
                    if not isinstance(item, Candidate):
                        lp = int(item.link_pos)
                        # rankpos = the row's index within its ORIGINAL batch
                        # (slim rows included), so `pos` matches the old
                        # enumerate() exactly; stash offsets for the re-emit
                        # at the batch head; root batches are single-row
                        pos = (stash + int(item.rankpos)
                               if parent_seq >= 0 else 0)
                        # residual slim rows: roots (task_seq < 0) keep the
                        # per-root-batch path — everything else was pulled
                        # out pre-fold and is accounted vectorized below
                        pa = _nn(getattr(item, "pre_action", None))
                        if pa is not None:
                            log_sched(job_id, parent_seq_num, item.url,
                                      item.depth, pos, pa, "pre")
                            continue
                        nsi = int(item.nsi)
                        item = to_cand(item)
                    else:
                        pos = 0  # stashed root re-emit rides the batch head
                        nsi = -1
                    c = item
                    c.link_pos = pos
                    if not (c.url.startswith("http:")
                            or c.url.startswith("https:")):
                        # Task::new scheme rejection (types.rs:477-480)
                        log_sched(job_id, parent_seq_num, c.url, c.depth, pos,
                                  "rejected", "scheme")
                        continue
                    action, name, sched = chain_decide(
                        c, st, cfg, parent_seq_num, user_agent, custom_filters
                    )
                    log_sched(job_id, parent_seq_num, c.url, c.depth, pos,
                              action, name)
                    if action == "term":
                        # take_while (task_scheduler.rs:92-97)
                        return nsi, lp
                    if action == "skip":
                        continue
                    task_rows.append((job_id, seq_counter, sched.url,
                                      sched.host, sched.depth, sched.redirect,
                                      sched.target, sched.marker, sched.rel,
                                      sched.alt, sched.text,
                                      parent_url, parent_seq, pos,
                                      sched.priority))
                    lineage_rows.append((job_id, sched.url, st.root_url,
                                         sched.depth, parent_url))
                    seq_counter += 1
                return None, None

            rows = by_job.get(job_id)
            if rows:
                # sorted by (kind, task_seq, link_pos): cands before resps
                cands = [r for r in rows if r.kind == "cand"]
                resps = [r for r in rows if r.kind == "resp"]
                roots = [r for r in cands if int(r.task_seq) < 0]
                by_parent: dict[int, list] = {}
                for r in cands:
                    if int(r.task_seq) >= 0:
                        by_parent.setdefault(int(r.task_seq), []).append(r)

                def to_cand(r) -> Candidate:
                    return Candidate(
                        url=r.url, host=r.host, rel=_nn(r.rel, ""),
                        alt=_nn(r.alt, ""), text=_nn(r.text, ""),
                        depth=int(r.depth), redirect=int(r.redirect),
                        target=r.target, marker=int(r.marker),
                        seen_global=bool(_nn(r.seen_global, False)),
                    )

                # --- root scheduling (task_scheduler.rs:128-132, seq_num=0)
                for r in roots:
                    run_batch([r], 0, None, -1)

                # --- response processing in task_seq order
                for r in resps:
                    resp_counter += 1  # task_scheduler.rs:80
                    psn = resp_counter
                    batch: list[Candidate] = []
                    stash = 0
                    # robots.txt load filter (load_filters.rs:53-112)
                    if (
                        cfg.robots_txt
                        and int(r.marker) == 1
                        and r.action == "processed"
                    ):
                        status = int(_nn(r.status, 0))
                        ctype = (_nn(r.content_type, "") or "").lower()
                        rules = None
                        if 400 <= status < 500:
                            rules = _ALLOW_ALL  # (:82-84)
                        elif "text/plain" not in ctype:
                            rules = None  # quarantine (:92-94)
                        else:
                            body = _nn(r.body)
                            body = decode_body(
                                bytes(body) if body is not None else b"",
                                _nn(r.content_encoding),
                            )
                            rules = body.decode("utf-8", errors="replace")
                        if rules is not None:
                            st.robots_rules = rules
                            st._matcher = None
                            if st.stashed_root is not None:  # re-emit (:101-103)
                                batch.append(st.stashed_root)
                                st.stashed_root = None
                                stash = 1
                    # raw rows; run_batch converts lazily (slim rows were
                    # pulled out pre-fold and never build a Candidate)
                    pseq = int(r.task_seq)
                    batch.extend(by_parent.get(pseq, ()))
                    cut, cut_pos = run_batch(batch, psn, r.url, pseq, stash)
                    if slim_pdf is not None:
                        processed_batches[(job_id, pseq)] = (
                            _NO_TERM if cut is None else cut
                        )
                    if slimagg_pdf is not None:
                        pos_batches[(job_id, pseq)] = (
                            _NO_TERM if cut_pos is None else cut_pos
                        )

            ns = st.to_row()
            ns["resp_counter"] = resp_counter
            ns["seq_counter"] = seq_counter
            # action tags whether this job had chain input this iteration:
            # untouched jobs in a touched bucket pass through unmodified
            # (their partition is rewritten anyway) and the tag lets the
            # engine derive job-completion records from the cached output.
            # "touched_done" = touched AND emitted zero new tasks — in the
            # delay=0 regime that job's frontier is empty afterwards, so
            # the engine's job_log writer reads Finished records straight
            # off the state rows (no distinct/anti-join job needed).
            if not rows:
                ns["action"] = "untouched"
            elif len(task_rows) > tasks_before:
                ns["action"] = "touched"
            else:
                ns["action"] = "touched_done"
            state_rows.append(tuple(job_id if c == "job_id" else ns[c]
                                    for c in _STATE_COLS + ["action"]))

        # vectorized slim accounting: a slim row is logged iff its parent
        # batch was processed (inner join) AND the batch ran past it
        # (nb <= the batch's term cutoff) — exactly when the old per-row
        # loop would have hit its early-out. One pandas pass instead of
        # ~10^6 python iterations on dup-heavy fat iterations.
        if slim_pdf is not None and processed_batches:
            cuts = pd.DataFrame(
                [(j, p, c) for (j, p), c in processed_batches.items()],
                columns=["job_id", "parent", "cut"],
            )
            m = slim_pdf.merge(cuts, on=["job_id", "parent"], how="inner")
            for a, n in m.loc[m["nb"] <= m["cut"], "act"].value_counts().items():
                sched_counts[a] = sched_counts.get(a, 0) + int(n)

        # pre-aggregated slim accounting (one row per batch+action): a
        # whole-batch-ran cut adds the row's count outright; a term cut
        # parses the position list and counts positions strictly before the
        # terminating row's link_pos. Unprocessed parents drop out of the
        # inner merge exactly like the per-row slim path.
        if slimagg_pdf is not None and pos_batches:
            cuts = pd.DataFrame(
                [(j, p, c) for (j, p), c in pos_batches.items()],
                columns=["job_id", "task_seq", "cut"],
            )
            m = slimagg_pdf.merge(cuts, on=["job_id", "task_seq"],
                                  how="inner")
            ran = m["cut"] >= _NO_TERM
            full_counts = m.loc[ran].groupby("pre_action")["link_pos"].sum()
            for a, n in full_counts.items():
                sched_counts[a] = sched_counts.get(a, 0) + int(n)
            for r in m.loc[~ran].itertuples(index=False):
                txt = r.text or ""
                n = sum(1 for s in txt.split(",") if s and int(s) < r.cut)
                if n:
                    sched_counts[r.pre_action] = (
                        sched_counts.get(r.pre_action, 0) + n
                    )

        # counts-only mode: one row per (bucket, action) instead of one per
        # candidate; count travels in parent_seq_num
        count_rows = [
            (-1, n, None, None, None, a, None)
            for a, n in sched_counts.items()
        ]

        # columnar assembly: one small frame per row_kind, aligned to the
        # wide CHAIN_OUT schema (absent columns are null)
        frames = []
        for kind, rows, cols in (
            ("sched", sched_rows, _SCHED_COLS),
            ("sched_count", count_rows, _SCHED_COLS),
            ("task", task_rows, _TASK_COLS),
            ("lineage", lineage_rows, _LINEAGE_COLS),
            ("state", state_rows, _STATE_COLS + ["action"]),
        ):
            if not rows:
                continue
            df = pd.DataFrame(rows, columns=cols)
            df["row_kind"] = kind
            frames.append(df)
        if not frames:
            return pd.DataFrame(columns=CHAIN_OUT_COLS)
        # frames carry different column subsets (per row_kind), so concat
        # sees all-NA columns and pandas warns about future dtype inference
        # changes; the result always passes through the explicit CHAIN_OUT
        # Arrow schema downstream, so either inference is fine — silence the
        # FutureWarning instead of paying an object-dtype conversion here
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", FutureWarning)
            out = pd.concat(frames, ignore_index=True)
        return out.reindex(columns=CHAIN_OUT_COLS)

    return bucket_fn


def make_chain_arrow_fn(cfg, custom_filters: tuple = (), drain: bool = False):
    """Arrow-native cogroup entry around the same bucket fold.

    ``applyInArrow`` hands the bucket over as ``pyarrow.Table`` — skipping
    Spark's serializer-side Arrow→pandas conversion (measured ~0.3-0.5 s
    of the 4N exchange floor on a 900 k-row iteration input) and letting
    the exit build the output Table straight from the fold's frame with an
    explicit schema (no inference pass). The fold itself is byte-identical:
    the pandas kernel runs unchanged on a minimal-cost conversion
    (``split_blocks+self_destruct`` — zero-copy for the int columns, which
    are the row majority after the slimagg pre-aggregation)."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    fn = make_chain_fn(cfg, custom_filters, drain)
    out_schema = to_arrow_schema(T.StructType.fromDDL(CHAIN_OUT))

    def arrow_fn(key, left: pa.Table, right: pa.Table) -> pa.Table:
        lpdf = left.to_pandas(split_blocks=True, self_destruct=True)
        rpdf = right.to_pandas(split_blocks=True, self_destruct=True)
        out = fn(key, lpdf, rpdf)
        return pa.Table.from_pandas(out, schema=out_schema,
                                    preserve_index=False)

    return arrow_fn


def run_chain_stage(chain_input, job_state, cfg, n_groups: int | None = None,
                    custom_filters: tuple = (), drain: bool = False):
    """chain_input (CHAIN_IN rows) × job_state (JOB_STATE rows) → CHAIN_OUT.

    Jobs are hashed into ``n_groups`` cogroup keys (default
    ``GROUPS_PER_PARTITION`` per shuffle partition); exact per-job serial
    semantics are preserved inside each group (jobs are independent, so
    any job-disjoint grouping gives the same per-job rows — only the
    per-group ``sched_count`` rows split differently, and every consumer
    sums them)."""
    from pyspark.sql import functions as F

    if n_groups is None:
        n_groups = GROUPS_PER_PARTITION * int(
            chain_input.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    g = lambda c: F.pmod(F.col(c), F.lit(n_groups)).cast("int")  # noqa: E731
    ci = chain_input.withColumn("_group", g("job_id"))
    js = job_state.withColumn("_group", g("job_id"))
    grouped = ci.groupBy("_group").cogroup(js.groupBy("_group"))
    return grouped.applyInArrow(
        make_chain_arrow_fn(cfg, custom_filters, drain), schema=CHAIN_OUT)
