"""Extension-surface parity: expanders, LinkTarget pipelines, custom
status/load filters, user extract columns, job_log, soft-timeout drain.

Every extension runs through BOTH the Spark engine and the reference
simulator with the same configuration; crawl order/url_seen/lineage must
stay exact (the simulator is the executable spec — reference citations in
simulator.py/chain.py)."""

from __future__ import annotations

from crusty_core_spark.config import CrawlConfig
from crusty_core_spark.operators import expanders as X
from crusty_core_spark.operators.chain import selective_task_filter
from crusty_core_spark.operators.filters import (
    load_content_type,
    status_code_range,
)
from crusty_core_spark.plans.engine import CrawlEngine
from crusty_core_spark.simulator import ReferenceSimulator
from crusty_core_spark.sources.datagen import CorpusSpec, gen_corpus

from tests.conftest import pages_df
from tests.test_crawl_parity import assert_parity


SPEC = CorpusSpec(n_hosts=4, base_pages_per_host=10, seed=77)


def run_both(spark, workdir, cfg, **ext):
    rows, seeds = gen_corpus(SPEC)
    sim_ext = {k: v for k, v in ext.items() if k != "user_extract_schema"}
    sim = ReferenceSimulator(
        {r["url"]: r for r in rows}, seeds, cfg, **sim_ext
    ).run()
    eng = CrawlEngine(
        spark,
        pages_df(spark, rows),
        workdir,
        cfg,
        custom_task_filters=ext.get("custom_task_filters", ()),
        expanders=ext.get("expanders"),
        user_extract=ext.get("user_extract"),
        user_extract_schema=ext.get("user_extract_schema"),
        custom_status_filters=ext.get("custom_status_filters", ()),
        custom_load_filters=ext.get("custom_load_filters", ()),
        parser=ext.get("parser"),
    )
    eng.seed(seeds)
    eng.run()
    return sim, eng


def job_log_engine(eng):
    return sorted(
        (r.job_id, r.iter, r.reason, r.budget_used, r.resp_counter,
         r.seq_counter)
        for r in eng.job_log_df().collect()
    )


def job_log_sim(sim):
    return sorted(
        (r["job_id"], r["iter"], r["reason"], r["budget_used"],
         r["resp_counter"], r["seq_counter"])
        for r in sim.job_log
    )


def test_load_images_expander_parity(spark, workdir):
    """LoadImages (select_task_expanders.rs:79-93): img src scheduled as
    Load-target tasks — fetched (404 in this corpus: no image rows exist),
    never parsed — with exact engine/simulator parity."""
    cfg = CrawlConfig(page_budget=30)
    sim, eng = run_both(
        spark, workdir, cfg, expanders=(X.follow_links, X.load_images)
    )
    assert_parity(sim, eng)
    targets = {
        r.target
        for r in eng.io.read("fetch_log").select("target").distinct().collect()
    }
    assert "Load" in targets  # images (and robots) fetched as Load tasks
    img_rows = (
        eng.io.read("fetch_log")
        .filter("url LIKE '%/static/img%'")
        .collect()
    )
    assert img_rows, "no image tasks were scheduled"
    assert all(r.target == "Load" for r in img_rows)


def test_link_target_reduced_pipelines(spark, workdir):
    """JustResolveDNS/Head targets run reduced pipelines
    (task_processor.rs:285-346): resolved/head actions in fetch_log, no
    parse, exact parity."""

    def head_and_dns(doc, task):
        out = []
        for link in doc["links"][:2]:
            out.append(dict(link, target="Head"))
        for link in doc["links"][2:3]:
            out.append(dict(link, target="JustResolveDNS"))
        return out

    cfg = CrawlConfig(page_budget=25)
    sim, eng = run_both(
        spark, workdir, cfg, expanders=(X.follow_links, head_and_dns)
    )
    assert_parity(sim, eng)
    actions = {
        r.action
        for r in eng.io.read("fetch_log").select("action").distinct().collect()
    }
    assert "head" in actions
    assert "resolved" in actions
    # Head/JustResolveDNS rows are never parsed (n_links stays 0)
    for r in eng.io.read("fetch_log").filter(
        "target IN ('Head', 'JustResolveDNS')"
    ).collect():
        assert r.n_links == 0


def test_user_extract_column_lands_in_fetch_log(spark, workdir):
    """Custom-parser / TS analogue: user_extract's extra column appears on
    fetch_log rows (reference DocumentParser<P> + TaskStateValues,
    examples/simple-custom-parser/main.rs:128-142)."""

    def n_words(doc, task):
        return {"n_words": len((doc["text"] or "").split())}

    cfg = CrawlConfig(page_budget=15)
    sim, eng = run_both(
        spark, workdir, cfg,
        user_extract=n_words, user_extract_schema="n_words int",
    )
    assert_parity(sim, eng)
    log = {
        (r.job_id, r.task_seq): r.n_words
        for r in eng.io.read("fetch_log").collect()
    }
    sim_log = {
        (r["job_id"], r["task_seq"]): r.get("n_words")
        for r in sim.fetch_log
    }
    assert log == sim_log
    assert any(v is not None and v > 0 for v in log.values())


def _custom_filters_parity(spark, workdir, cfg):
    def status_echo(status, content_type, url, depth):
        # the verdict embeds the status the filter got: a status handed
        # over as 404.0 instead of 404 is a parity mismatch
        if url.endswith("/robots.txt") or status is None or 200 <= status < 300:
            return None
        return f"term:S{status}"

    def dangling(doc, task):
        # links to pages the corpus lacks: null-status rows in the same
        # fetch batches as the filtered ones
        return [{"href": f"{task['url']}-missing{k}"} for k in range(2)]

    sf = (status_echo,)
    lf = (load_content_type(("text/html",)),)  # robots text/plain exempt
    sim, eng = run_both(
        spark, workdir, cfg,
        custom_status_filters=sf, custom_load_filters=lf,
        expanders=(X.follow_links, dangling),
    )
    assert_parity(sim, eng)
    actions = {
        r.action
        for r in eng.io.read("fetch_log").select("action").distinct().collect()
    }
    assert {"term:S404", "term:S503", "error:HttpError"} <= actions, actions
    return eng


def test_custom_status_and_load_filters_parity(spark, workdir):
    """status_filters::Filter / load_filters::Filter extension points +
    the built-in post-load ContentType (load_filters.rs:21-51), at the
    default threshold (driver-local iterations)."""
    _custom_filters_parity(spark, workdir, CrawlConfig(page_budget=25))


def test_custom_status_and_load_filters_parity_distributed(spark, workdir):
    """The same filters through the distributed plan's mapInPandas stage,
    every iteration distributed. One shuffle partition puts each
    iteration's rows in one Arrow batch, so null statuses share the batch
    with the filtered rows: Spark hands that int column to pandas as
    float64, and the filters must still get 404, not 404.0."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        eng = _custom_filters_parity(
            spark, workdir,
            CrawlConfig(page_budget=25, local_iter_threshold=0),
        )
    finally:
        spark.conf.set(key, old)
    assert {r.exec_local for r in eng.flush_metrics().collect()} == {0}


def test_fetch_filter_kernel_on_float_status():
    """operators.filters.apply_fetch_filters over a float64-with-NaN status
    column (Spark's pandas form of a nullable int): filters get int/None,
    status filters touch only the rows the built-in filters accepted, and
    load filters see the post-status action and skip robots rows."""
    import numpy as np
    import pandas as pd

    from crusty_core_spark.operators.filters import apply_fetch_filters

    seen = []

    def sf(status, ctype, url, depth):
        seen.append((url, status, ctype, depth))
        return f"term:S{status}" if status != 200 else None

    def lf(status, ctype, body, url, depth):
        return "term:Body" if body == b"bad" else "accept"

    pdf = pd.DataFrame({
        "url": ["u0", "u1", "u2", "u3", "u4", "u5"],
        "status": [200.0, 404.0, np.nan, 200.0, 200.0, 301.0],
        "content_type": ["text/html", None, None, "text/html", "text/plain",
                         "text/html"],
        "depth": [0, 1, 2, 1, 0, 1],
        "marker": [0, 0, 0, 0, 1, 0],
        "html": [b"ok", b"x", None, b"bad", b"bad", b""],
        "content_encoding": [None] * 6,
    })
    assert pdf["status"].dtype == np.float64
    action = ["processed", "processed", "error:HttpError", "processed",
              "processed", "term:Redirect"]
    out = apply_fetch_filters(pdf, action, (sf,), (lf,))
    assert list(out) == ["processed", "term:S404", "error:HttpError",
                         "term:Body", "processed", "term:Redirect"]
    assert seen == [("u0", 200, "text/html", 0), ("u1", 404, None, 1),
                    ("u3", 200, "text/html", 1), ("u4", 200, "text/plain", 0)]
    assert all(type(s) is int for _, s, _, _ in seen)


def test_selective_task_filter_combinator(spark, workdir):
    """Generic SelectiveTaskFilter (task_filters.rs:24-47): the wrapped
    filter applies to Follow targets only; Load targets (robots) pass."""
    hits = []

    def block_deep(cand, st):
        if cand.depth >= 2:
            return "skip"
        return "accept"

    filt = selective_task_filter(("Follow", "HeadFollow"), block_deep)
    cfg = CrawlConfig(page_budget=25)
    sim, eng = run_both(
        spark, workdir, cfg, custom_task_filters=(filt,)
    )
    assert_parity(sim, eng)
    depths = {
        r.depth for r in eng.io.read("fetch_log").select("depth").collect()
    }
    assert max(depths) <= 2  # depth-2 candidates were skipped


def test_job_log_parity_and_reasons(spark, workdir):
    cfg = CrawlConfig(page_budget=12)
    sim, eng = run_both(spark, workdir, cfg)
    assert_parity(sim, eng)
    assert job_log_engine(eng) == job_log_sim(sim)
    assert job_log_engine(eng), "no job completion rows"
    assert all(r[2] == "Complete" for r in job_log_engine(eng))


def test_soft_timeout_drain_parity(spark, workdir):
    """Soft-timeout drain (task_scheduler.rs:134-157): past the cap the
    frontier drains without expanding; finished jobs record SoftTimeout."""
    cfg = CrawlConfig(page_budget=None, soft_timeout_iters=2)
    sim, eng = run_both(spark, workdir, cfg)
    assert_parity(sim, eng)
    assert job_log_engine(eng) == job_log_sim(sim)
    reasons = {r[2] for r in job_log_engine(eng)}
    assert "SoftTimeout" in reasons
    # engine drained: run() terminated with an empty frontier
    assert eng.pending_count() == 0


def markdownish_parser(html: bytes, content_encoding=None) -> dict:
    """Custom DocumentParser (types.rs:11; examples/simple-custom-parser):
    byte-level regex extraction instead of the pinned HTML parser — title
    uppercased, only /page/ links followed, no images, text is a digest."""
    import re

    from crusty_core_spark.functions.extract import decode_body

    body = decode_body(bytes(html or b""), content_encoding)
    s = body.decode("utf-8", errors="replace")
    m = re.search(r"<title>(.*?)</title>", s, re.S)
    title = (m.group(1).strip().upper() if m else None)
    links = [
        {"href": h, "rel": "", "alt": "", "text": ""}
        for h in re.findall(r'href="([^"]+)"', s)
        if "/page/" in h
    ]
    return {"title": title, "text": f"digest:{len(s)}", "links": links,
            "images": []}


def test_custom_document_parser_parity(spark, workdir):
    """Swapping the document parser changes what gets crawled — and the
    engine and simulator must change IDENTICALLY (crawl order, url_seen,
    lineage, titles)."""
    cfg = CrawlConfig()
    sim, eng = run_both(spark, workdir, cfg, parser=markdownish_parser)
    assert_parity(sim, eng)
    # the custom parser actually drove extraction: titles are uppercased
    titles = [
        r.title
        for r in eng.io.read("fetch_log").select("title").collect()
        if r.title
    ]
    assert titles and all(t == t.upper() for t in titles)
    # and only /page/ links were ever scheduled beyond the roots
    urls = [
        r.url for r in eng.io.read("fetch_log").select("url", "depth")
        .filter("depth > 0").collect()
    ]
    assert urls and all("/page/" in u or u.endswith("/robots.txt")
                        for u in urls)


def test_builder_registration_surface(spark, workdir):
    """CrawlRulesBuilder (plans/builder.py) — the CrawlingRules fluent twin
    (crawler.rs:60-105) — must produce an engine identical to the kwargs
    construction: parity vs the simulator with the same registrations."""
    from crusty_core_spark.plans.builder import CrawlRulesBuilder

    cfg = CrawlConfig()
    rows, seeds = gen_corpus(SPEC)
    sim = ReferenceSimulator(
        {r["url"]: r for r in rows}, seeds, cfg,
        expanders=(X.follow_links, X.load_images),
        custom_status_filters=(status_code_range(200, 399),),
    ).run()
    eng = (
        CrawlRulesBuilder(spark, pages_df(spark, rows), workdir, cfg)
        # reference semantics: registering any expander makes the list fully
        # explicit, so FollowLinks is registered explicitly like crawler.rs
        .with_task_expander(X.follow_links)
        .with_task_expander(X.load_images)
        .with_status_filter(status_code_range(200, 399))
        .build()
    )
    eng.seed(seeds)
    eng.run()
    assert_parity(sim, eng)


def test_builder_expander_list_fully_explicit(spark, workdir):
    """Registering an expander must NOT keep an implicit FollowLinks
    (crawler.rs: CrawlingRules starts with an empty expander list; the
    simple-custom-parser example registers only non-following expanders).
    An images-only crawl follows no <a href> links: parity vs the
    simulator with the same single-expander set."""
    from crusty_core_spark.plans.builder import CrawlRulesBuilder

    cfg = CrawlConfig()
    rows, seeds = gen_corpus(SPEC)
    sim = ReferenceSimulator(
        {r["url"]: r for r in rows}, seeds, cfg,
        expanders=(X.load_images,),
    ).run()
    eng = (
        CrawlRulesBuilder(spark, pages_df(spark, rows), workdir, cfg)
        .with_task_expander(X.load_images)
        .build()
    )
    eng.seed(seeds)
    eng.run()
    assert_parity(sim, eng)
    # no Follow-target rows beyond the seeds themselves: links not followed
    log = eng.io.read("fetch_log")
    followed = log.filter(
        (log.target == "Follow") & (log.depth > 0)
    ).count()
    assert followed == 0
