"""Driver-gate replica as pytest: Spark vs DuckDB value-hash parity at
sf0.001 for the fast queries (the full sweep incl. the heavy LSH/Jaccard
pairs runs via scripts/check_oracle.py)."""

import duckdb
import pytest

from scripts.check_oracle import TABLES, value_hash

SF_DIR = "/root/testdata/sf0.001"

FAST = [
    "q01_pricing_summary",
    "q02_order_revenue_topk",
    "q03_nation_revenue",
    "q04_politeness_rank",
    "q05_page_budget_topk",
    "q06_running_counter",
    "q07_exact_dedup_groups",
    "q08_anti_join_unseen",
    "q09_sessionize",
    "q10_dedup_keep_first",
    "q11_token_stats",
    "q12_lang_id",
    "q13_quality_features",
    "q14_simhash",
    "q15_minhash_signature",
    "q18_ann_cosine_topk",
    "q19_embed_neardup_pairs",
    "q20_label_centroids",
    "q21_url_canonical",
    "q22_duplicate_titles",
    "q23_event_pivot",
    "q24_rollup_counts",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", FAST)
def test_query_matches_oracle(spark, duck, name):
    from crusty_core_spark.entry_queries import QUERIES

    fn, sql = QUERIES[name]
    sdf = fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert value_hash(srows, sdf.columns) == value_hash(orows, ocols)


def test_prefetch_failure_is_logged(tmp_path, caplog):
    """The table-handle prefetch thread logs a failed read at debug level
    instead of dropping it. A stand-in session: no Spark job runs."""
    import logging
    import threading
    from types import SimpleNamespace

    from crusty_core_spark import entry_queries as EQ

    for t in EQ._FIXTURE_TABLES:
        (tmp_path / f"{t}.parquet").write_bytes(b"")
    first = f"{tmp_path}/{EQ._FIXTURE_TABLES[0]}.parquet"
    failed = threading.Event()

    def parquet(path):
        if path == first:
            return "handle"
        failed.set()
        raise OSError("unreadable")

    fake = SimpleNamespace(read=SimpleNamespace(parquet=parquet))
    with caplog.at_level(logging.DEBUG, logger=EQ.__name__):
        assert EQ._t(fake, str(tmp_path), EQ._FIXTURE_TABLES[0]) == "handle"
        assert failed.wait(10)
        for _ in range(200):
            if caplog.records:
                break
            threading.Event().wait(0.05)
    assert any("prefetch of" in r.getMessage() and r.exc_info
               for r in caplog.records)
