"""Bloom-shard dedup properties: NO false negatives ever; flag equivalence
with the exact path.

The shards are written the way every engine commit writes them: python
xxhash64-twin positions merged on the driver (``local_step._bloom_commit``
→ ``bloom.merge_pairs_local``). They are probed the way a distributed
iteration probes them: JVM positions (``bloom.probe``, ``bloom.dedup_flag``).
"""

import pandas as pd
from pyspark.sql import types as T

from crusty_core_spark.config import CrawlConfig
from crusty_core_spark.functions.xxh64 import bloom_shard_id
from crusty_core_spark.operators import bloom
from crusty_core_spark.plans import local_step
from crusty_core_spark.sources.tables import TableIO


def _df(spark, rows):
    return spark.createDataFrame(rows, "job_id long, url string, host string")


def _commit(io, cfg, rows):
    """OR ``rows``' (job_id, url, host) bits into their shards, as an
    iteration's commit does (fork pool from the same size rule)."""
    jobs, urls, hosts = (list(c) for c in zip(*rows))
    shard_by_host = {h: bloom_shard_id(h, cfg.n_bloom_shards) for h in hosts}
    local_step._bloom_commit(io, cfg, local_step._bloom_pool(cfg, len(rows)),
                             jobs, urls, hosts, shard_by_host)


def test_no_false_negatives_and_backstop(spark, workdir):
    cfg = CrawlConfig(n_bloom_shards=8, bloom_bits_per_shard=1 << 14)
    io = TableIO(spark, workdir)
    seen_rows = [
        (j, f"http://h{j % 5}.x/p{i}", f"h{j % 5}.x")
        for j in range(3)
        for i in range(200)
    ]
    _commit(io, cfg, seen_rows)
    io.append_partitions_pdf(
        "url_seen",
        pd.DataFrame({
            "job_id": [r[0] for r in seen_rows],
            "url": [r[1] for r in seen_rows],
            "added_iter": 0,
            "shard": [bloom_shard_id(r[2], cfg.n_bloom_shards)
                      for r in seen_rows],
        }),
        "shard",
        T.StructType([
            T.StructField("job_id", T.LongType()),
            T.StructField("url", T.StringType()),
            T.StructField("added_iter", T.LongType()),
            T.StructField("shard", T.IntegerType()),
        ]),
    )

    cand_rows = seen_rows[::7] + [
        (j, f"http://h{j % 5}.x/new{i}", f"h{j % 5}.x")
        for j in range(3)
        for i in range(100)
    ]
    cands = _df(spark, cand_rows)

    probed = bloom.probe(cands, io, cfg)
    flags = {(r.job_id, r.url): r.maybe_seen for r in probed.collect()}
    truly_seen = set((j, u) for j, u, _ in seen_rows)
    for (j, u), maybe in flags.items():
        if (j, u) in truly_seen:
            assert maybe, f"FALSE NEGATIVE for {(j, u)}"

    # dedup_flag == exact-join ground truth (backstop kills false positives)
    stats: dict = {}
    flagged = bloom.dedup_flag(cands, io, cfg, stats=stats)
    got = {(r.job_id, r.url): r.seen_global for r in flagged.collect()}
    for (j, u), sg in got.items():
        assert sg == ((j, u) in truly_seen)
    # the exact backstop must have pruned its scan to the positive shards
    assert 0 < stats["dedup_shards_read"] <= cfg.n_bloom_shards
    assert stats["dedup_read_bytes"] > 0


def test_incremental_update_merges(spark, workdir):
    cfg = CrawlConfig(n_bloom_shards=4, bloom_bits_per_shard=1 << 12)
    io = TableIO(spark, workdir)
    _commit(io, cfg, [(1, "http://a.x/1", "a.x")])
    _commit(io, cfg, [(1, "http://a.x/2", "a.x")])
    probed = bloom.probe(
        _df(spark, [(1, "http://a.x/1", "a.x"), (1, "http://a.x/2", "a.x")]),
        io, cfg,
    )
    assert all(r.maybe_seen for r in probed.collect())
    shards = {r.shard_id: r.n_items for r in io.read(bloom.SHARDS_TABLE).collect()}
    assert sum(shards.values()) == 2


def test_update_leaves_untouched_shards_byte_identical(spark, workdir):
    """Partition-level shard commit: an update touching one host must not
    rewrite the other shards' files."""
    import os

    cfg = CrawlConfig(n_bloom_shards=8, bloom_bits_per_shard=1 << 12)
    io = TableIO(spark, workdir)
    _commit(io, cfg, [(1, f"http://h{i}.x/p", f"h{i}.x") for i in range(40)])

    def files():
        out = {}
        base = os.path.join(workdir, bloom.SHARDS_TABLE)
        for dirpath, _, names in os.walk(base):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(dirpath, n)
                    out[os.path.relpath(p, base)] = (
                        os.path.getmtime(p), os.path.getsize(p)
                    )
        return out

    before = files()
    _commit(io, cfg, [(2, "http://h0.x/new", "h0.x")])
    after = files()
    assert len(after) == len(before) + 1  # one touched shard rewritten
    for rel, meta in before.items():
        assert after[rel] == meta  # old files untouched (append-only dirs)
    # and the touched shard's probe still sees both generations
    probed = bloom.probe(
        _df(spark, [(2, "http://h0.x/new", "h0.x"),
                    (1, "http://h0.x/p", "h0.x")]),
        io, cfg,
    )
    assert all(r.maybe_seen for r in probed.collect())
