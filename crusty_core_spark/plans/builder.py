"""CrawlingRules-style registration builder for CrawlEngine.

The reference configures a crawl by chaining registrations onto
``CrawlingRules`` (main/src/crawler.rs:60-105: with_task_filter /
with_status_filter / with_load_filter / with_task_expander) before handing
the rules to the crawler. ``CrawlEngine``'s constructor kwargs already carry
every extension point; this builder is the fluent twin of that registration
surface, so a reference user's setup code translates 1:1:

    engine = (
        CrawlRulesBuilder(spark, pages, workdir, cfg)
        .with_task_filter(my_filter)
        .with_task_expander(expanders.load_images)
        .with_status_filter(status_code_range(200, 399))
        .with_load_filter(load_content_type(("text/html",)))
        .with_parser(my_parser)
        .with_extractor(my_extract, "my_col string")
        .build()
    )

Every registered callable must be picklable (it rides into Arrow-batched
executor stages and the local path's fork pool); registration ORDER is
preserved, matching the reference's "custom filters run after the built-in
chain, in registration order" contract (crawler.rs:108-143).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from crusty_core_spark.config import CrawlConfig
from crusty_core_spark.plans.engine import CrawlEngine


class CrawlRulesBuilder:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        workdir: str,
        cfg: CrawlConfig | None = None,
    ):
        self._spark = spark
        self._pages = pages
        self._workdir = workdir
        self._cfg = cfg
        self._task_filters: list = []
        self._status_filters: list = []
        self._load_filters: list = []
        self._expanders: list | None = None
        self._user_extract = None
        self._user_extract_schema: str | None = None
        self._parser = None
        self._hosts: DataFrame | None = None
        self._fetcher = None
        self._resolver = None

    # --- registration surface (crawler.rs:60-105 names, snake_case) -------

    def with_task_filter(self, fn) -> "CrawlRulesBuilder":
        """task_filters::Filter analogue: (cand, job_state) ->
        "accept" | "skip" | ("term", reason). Wrap with
        operators.chain.selective_task_filter to target specific
        LinkTargets (SelectiveTaskFilter)."""
        self._task_filters.append(fn)
        return self

    def with_status_filter(self, fn) -> "CrawlRulesBuilder":
        """status_filters::Filter analogue:
        (status, content_type, url, depth) -> None | "term:X" | "error:X"."""
        self._status_filters.append(fn)
        return self

    def with_load_filter(self, fn) -> "CrawlRulesBuilder":
        """load_filters::Filter analogue (post-body, pre-parse):
        (status, content_type, body, url, depth) -> None | "term:X"."""
        self._load_filters.append(fn)
        return self

    def with_task_expander(self, fn) -> "CrawlRulesBuilder":
        """task_expanders::Expander analogue (operators/expanders.py):
        (doc, task) -> list of link dicts scheduled as new tasks.

        Matches the reference exactly (crawler.rs:60-105): CrawlingRules
        starts with an EMPTY expander list and every example registers
        FollowLinks explicitly — so the first registration here makes the
        list fully explicit (no implicit follow_links). Register
        ``expanders.follow_links`` yourself to follow links; an expander
        set without link-following (e.g. a pure DataExtractor) is
        expressible. An engine built with NO with_task_expander calls keeps
        the engine-level default (DEFAULT_EXPANDERS = follow_links)."""
        if self._expanders is None:
            self._expanders = []
        self._expanders.append(fn)
        return self

    def with_parser(self, parser) -> "CrawlRulesBuilder":
        """DocumentParser<P> analogue (types.rs:11): picklable
        parser(html_bytes, enc) -> {"title","text","links","images"}."""
        self._parser = parser
        return self

    def with_extractor(self, fn, schema_ddl: str) -> "CrawlRulesBuilder":
        """TaskStateValues/TS analogue: fn(doc, task) -> dict of extra
        columns (declared by schema_ddl) landing on fetch_log rows."""
        self._user_extract = fn
        self._user_extract_schema = schema_ddl
        return self

    def with_hosts(self, hosts: DataFrame) -> "CrawlRulesBuilder":
        """Pre-resolved DNS dim table: (host, addrs array<string>),
        broadcast-joined per iteration (the batch analogue of resolution)."""
        self._hosts = hosts
        return self

    def with_resolver(self, resolver) -> "CrawlRulesBuilder":
        """Resolver trait analogue (main/src/resolver.rs:16-18): picklable
        ``resolver(host) -> list[str]`` of addresses. Without a hosts dim
        table it runs inside the distributed plan as an Arrow-batched
        ``mapInPandas`` stage with a per-worker DNS cache
        (operators/resolve.py resolver_stage); the driver-local path runs
        the same ``resolve_failed_flags`` kernel over a driver-side cache."""
        self._resolver = resolver
        return self

    def with_fetcher(self, fetcher) -> "CrawlRulesBuilder":
        """Point-fetch client for the driver-local path:
        fetcher(urls) -> pandas.DataFrame of page rows."""
        self._fetcher = fetcher
        return self

    # ----------------------------------------------------------------------

    def build(self) -> CrawlEngine:
        return CrawlEngine(
            self._spark,
            self._pages,
            self._workdir,
            self._cfg,
            hosts=self._hosts,
            custom_task_filters=tuple(self._task_filters),
            expanders=tuple(self._expanders) if self._expanders is not None
            else None,
            user_extract=self._user_extract,
            user_extract_schema=self._user_extract_schema,
            custom_status_filters=tuple(self._status_filters),
            custom_load_filters=tuple(self._load_filters),
            fetcher=self._fetcher,
            parser=self._parser,
            resolver=self._resolver,
        )
