"""TableIO snapshot/append/rollback/checkpoint semantics, over tables
written with the pyarrow writers every engine commit uses."""

import pandas as pd
from pyspark.sql import types as T

from crusty_core_spark.sources.tables import TableIO

SCHEMA = T.StructType([T.StructField("k", T.LongType()),
                       T.StructField("v", T.StringType())])
PSCHEMA = T.StructType(list(SCHEMA) + [T.StructField("b", T.IntegerType())])


def df(rows):
    return pd.DataFrame(rows, columns=["k", "v"])


def test_append_is_incremental_and_snapshotted(spark, workdir):
    io = TableIO(spark, workdir)
    io.overwrite_pdf("t", df([(1, "a")]), SCHEMA)
    s2 = io.append_pdf("t", df([(2, "b")]), SCHEMA)
    assert sorted(r.k for r in io.read("t").collect()) == [1, 2]
    # time travel to snapshot 1
    assert [r.k for r in io.read("t", snapshot=1).collect()] == [1]
    io.rollback("t", 1)
    assert [r.k for r in io.read("t").collect()] == [1]
    io.rollback("t", s2)
    assert sorted(r.k for r in io.read("t").collect()) == [1, 2]


def test_empty_table_roundtrip(spark, workdir):
    io = TableIO(spark, workdir)
    io.overwrite_pdf("t", df([]), SCHEMA)
    assert io.read("t").count() == 0
    io.append_pdf("t", df([(5, "x")]), SCHEMA)
    assert io.read("t").count() == 1


def test_checkpoint_restore(spark, workdir):
    io = TableIO(spark, workdir)
    io.overwrite_pdf("t", df([(1, "a")]), SCHEMA)
    io.set_state(iter=1)
    ck = io.checkpoint("one")
    io.append_pdf("t", df([(2, "b")]), SCHEMA)
    io.set_state(iter=2)
    io.checkpoint("two")
    # crash simulation: restore to the first checkpoint
    io2 = TableIO(spark, workdir)
    io2.restore(ck)
    assert [r.k for r in io2.read("t").collect()] == [1]
    assert io2.state["iter"] == 1


def _pdf(rows):
    return pd.DataFrame(rows, columns=["k", "v", "b"])


def _files(root, sub):
    import os

    out = {}
    base = os.path.join(root, sub)
    for dirpath, _, names in os.walk(base):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[os.path.relpath(p, base)] = (
                    os.path.getmtime(p), os.path.getsize(p)
                )
    return out


def test_overwrite_partitions_touches_only_touched(spark, workdir):
    """Partition-level overwrite: untouched partitions' files stay
    byte-identical (same path, same mtime/size) across a commit."""
    io = TableIO(spark, workdir)
    io.overwrite_partitions_pdf(
        "t", _pdf([(1, "a", 0), (2, "b", 1), (3, "c", 2)]), "b", PSCHEMA
    )
    before = _files(workdir, "t")
    io.overwrite_partitions_pdf("t", _pdf([(9, "z", 1)]), "b", PSCHEMA)
    after = _files(workdir, "t")
    # every file of the first commit still exists unmodified
    for rel, meta in before.items():
        assert after[rel] == meta
    rows = {r.b: (r.k, r.v) for r in io.read_partitions("t").collect()}
    assert rows == {0: (1, "a"), 1: (9, "z"), 2: (3, "c")}
    # pruned read touches only the requested partition
    only1 = io.read_partitions("t", [1]).collect()
    assert [(r.k, r.v, r.b) for r in only1] == [(9, "z", 1)]


def test_append_partitions_accumulates(spark, workdir):
    io = TableIO(spark, workdir)
    io.append_partitions_pdf("t", _pdf([(1, "a", 0), (2, "b", 1)]), "b",
                             PSCHEMA)
    io.append_partitions_pdf("t", _pdf([(3, "c", 1)]), "b", PSCHEMA)
    assert sorted(r.k for r in io.read_partitions("t").collect()) == [1, 2, 3]
    assert sorted(r.k for r in io.read_partitions("t", [1]).collect()) == [2, 3]
    # full read via read() delegates for partitioned tables
    assert io.read("t").count() == 3


def test_partitioned_checkpoint_rollback(spark, workdir):
    io = TableIO(spark, workdir)
    io.overwrite_partitions_pdf("t", _pdf([(1, "a", 0), (2, "b", 1)]), "b",
                                PSCHEMA)
    ck = io.checkpoint("p1")
    io.overwrite_partitions_pdf("t", _pdf([(9, "z", 1)]), "b", PSCHEMA)
    assert {r.k for r in io.read_partitions("t").collect()} == {1, 9}
    io.restore(ck)
    assert {r.k for r in io.read_partitions("t").collect()} == {1, 2}


def test_compact_partitions_bounds_files(spark, workdir):
    """100 appends → ≤K files per partition after compaction; reads return
    the identical rows (multiset AND per-partition order); prior
    checkpoints still resolve (old dirs are never deleted)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    io = TableIO(spark, workdir)
    schema = T.StructType.fromDDL("k long, v string, p int")
    arrow = io._arrow_schema(schema)
    import pandas as pd

    for i in range(100):
        pdf = pd.DataFrame(
            {"k": [i, i], "v": [f"a{i}", f"b{i}"], "p": [i % 2, i % 2]}
        )
        io.append_partitions_pdf("t", pdf, "p", schema)
    before = sorted(tuple(r) for r in io.read_partitions("t").collect())
    order_before = {
        p: list(io.read_partitions_local("t", [p])["k"]) for p in (0, 1)
    }
    ck = io.checkpoint("precompact")
    assert all(len(r) == 50 for r in io._parts("t").values())
    assert io.compact_partitions("t", max_files=8) is not None
    assert all(len(r) == 1 for r in io._parts("t").values())
    after = sorted(tuple(r) for r in io.read_partitions("t").collect())
    assert before == after
    for p in (0, 1):
        assert list(io.read_partitions_local("t", [p])["k"]) == order_before[p]
    # appends after compaction extend the compacted list
    io.append_partitions_pdf(
        "t", pd.DataFrame({"k": [999], "v": ["z"], "p": [0]}), "p", schema
    )
    assert len(io._parts("t")["0"]) == 2
    # nothing to do below threshold → no new snapshot
    assert io.compact_partitions("t", max_files=8) is None
    # the pre-compaction checkpoint still reads (old dirs kept)
    io2 = TableIO(spark, workdir)
    io2.restore(ck)
    assert sorted(tuple(r) for r in io2.read_partitions("t").collect()) == before


def test_compact_appends_preserves_last_dir(spark, workdir):
    io = TableIO(spark, workdir)
    for i in range(20):
        io.append_pdf("t", df([(i, f"v{i}")]), SCHEMA)
    last_before = [tuple(r) for r in io.read_last_append("t").collect()]
    before = sorted(tuple(r) for r in io.read("t").collect())
    assert io.compact_appends("t", max_dirs=8, keep_last=1) is not None
    t = io._tbl("t")
    dirs = t["snapshots"][str(t["current"])]
    assert len(dirs) == 2  # merged head + kept last
    assert sorted(tuple(r) for r in io.read("t").collect()) == before
    # read_last_append still returns exactly the newest append's rows
    assert [tuple(r) for r in io.read_last_append("t").collect()] == last_before
    assert io.compact_appends("t", max_dirs=8) is None


def test_expire_snapshots_bounds_manifest_and_gcs_dirs(spark, workdir):
    import os

    io = TableIO(spark, workdir)
    # the engine's per-iteration order: write → compact → expire →
    # checkpoint (so frozen manifests carry at most `keep` snapshots and
    # GC converges within the retention window)
    removed = 0
    for i in range(18):
        io.append_pdf("t", df([(i, f"v{i}")]), SCHEMA)
        if i == 11:
            io.compact_appends("t", max_dirs=4, keep_last=1)
        io.expire_checkpoints(3)
        removed += io.expire_snapshots(3)["_dirs_removed"]
        io.checkpoint(f"iter-{i:06d}")
    before = sorted(tuple(r) for r in io.read("t").collect())
    t = io._tbl("t")
    assert len(t["snapshots"]) <= 3
    assert len(io.list_checkpoints()) == 4  # 3 kept + this iteration's
    assert removed > 0
    # current data reads identically after GC
    assert sorted(tuple(r) for r in io.read("t").collect()) == before
    # orphan-GC correctness: every dir left on disk is referenced by the
    # live manifest or a surviving checkpoint — nothing unreferenced
    # survived, nothing referenced was deleted (ADVICE r3: the old
    # `or True` made this vacuous)
    import json

    disk = {d for d in os.listdir(os.path.join(workdir, "t"))
            if d.startswith("data-")}
    referenced = {
        rel.split("/", 1)[0]
        for snap in t["snapshots"].values()
        for rel in snap
    }
    for ck_path in io.list_checkpoints():
        with open(ck_path) as f:
            ck_tables = json.load(f)["manifest"]["tables"]
        for snap in ck_tables.get("t", {}).get("snapshots", {}).values():
            rels = (
                [r for rr in snap.values() for r in rr]
                if isinstance(snap, dict) else snap
            )
            referenced |= {rel.split("/", 1)[0] for rel in rels}
    assert disk <= referenced, f"orphan dirs survived GC: {disk - referenced}"
    # surviving checkpoints still restore and read (their dirs were kept)
    ck = io.list_checkpoints()[0]
    io2 = TableIO(spark, workdir)
    io2.restore(ck)
    assert io2.read("t").count() > 0


def test_expire_snapshots_partitioned(spark, workdir):
    io = TableIO(spark, workdir)
    io.overwrite_partitions_pdf(
        "t", _pdf([(i, f"v{i}", i % 2) for i in range(10)]), "b", PSCHEMA
    )
    for i in range(6):
        io.append_partitions_pdf("t", _pdf([(100 + i, "u", 0)]), "b", PSCHEMA)
    before = sorted(tuple(r) for r in io.read_partitions("t").collect())
    io.expire_checkpoints(2)
    io.expire_snapshots(2)
    assert len(io._tbl("t")["snapshots"]) <= 2
    assert sorted(tuple(r) for r in io.read_partitions("t").collect()) == before


def test_compact_appends_tiered_no_head_remerge(spark, workdir):
    """Generation-tiered compaction (ADVICE r3): a later trigger merges only
    the FRESH dirs — the earlier compaction output is kept verbatim, not
    rewritten every ~max_dirs iterations — until the compacted prefix itself
    exceeds the threshold, which forces one full merge."""
    io = TableIO(spark, workdir)
    n = 0

    def add(k):
        nonlocal n
        for _ in range(k):
            io.append_pdf("t", df([(n, f"v{n}")]), SCHEMA)
            n += 1

    add(10)
    assert io.compact_appends("t", max_dirs=4, keep_last=1) is not None
    t = io._tbl("t")
    head1 = t["snapshots"][str(t["current"])][0]
    add(8)
    assert io.compact_appends("t", max_dirs=4, keep_last=1) is not None
    t = io._tbl("t")
    dirs2 = t["snapshots"][str(t["current"])]
    assert dirs2[0] == head1  # prior output untouched
    assert len(dirs2) == 3  # old head + new merged fresh + kept last
    expected = sorted((i, f"v{i}") for i in range(n))
    assert sorted(tuple(r) for r in io.read("t").collect()) == expected
    # grow the compacted prefix past max_dirs → one full re-merge collapses it
    for _ in range(4):
        add(8)
        io.compact_appends("t", max_dirs=4, keep_last=1)
    t = io._tbl("t")
    dirs = t["snapshots"][str(t["current"])]
    prefix = [d for d in dirs if d in set(t.get("compacted", []))]
    assert len(prefix) <= 5  # bounded: full merge fired when prefix > max_dirs
    expected = sorted((i, f"v{i}") for i in range(n))
    assert sorted(tuple(r) for r in io.read("t").collect()) == expected


def test_compact_partitions_tiered(spark, workdir):
    """Partitioned twin: fresh appends past the threshold merge without
    rewriting the partition's earlier compaction output."""
    import pandas as pd
    from pyspark.sql import types as T

    io = TableIO(spark, workdir)
    schema = T.StructType.fromDDL("k long, v string, p int")
    n = 0

    def add(k):
        nonlocal n
        for _ in range(k):
            io.append_partitions_pdf(
                "t", pd.DataFrame({"k": [n], "v": [f"v{n}"], "p": [0]}),
                "p", schema,
            )
            n += 1

    add(10)
    assert io.compact_partitions("t", max_files=4) is not None
    head1 = io._parts("t")["0"][0]
    add(6)
    assert io.compact_partitions("t", max_files=4) is not None
    rels = io._parts("t")["0"]
    assert rels[0] == head1  # prior output untouched
    assert len(rels) == 2
    # per-partition read order preserved across tiers
    assert list(io.read_partitions_local("t", [0])["k"]) == list(range(n))


def test_manifest_bytes_do_not_depend_on_serializer(tmp_path):
    """Every manifest key is a str, partition values included, so orjson
    and the stdlib serializer write the same bytes; a non-str key is
    refused rather than coerced. No Spark session is needed."""
    import json

    import pytest

    from crusty_core_spark.sources import tables

    io = TableIO(None, str(tmp_path))
    # int partition values sort differently as ints (1, 2, 10, 100) and as
    # strings ("1", "10", "100", "2")
    io.append_partitions_pdf(
        "t", _pdf([(i, f"v{i}", i) for i in (1, 2, 10, 100)]), "b", PSCHEMA
    )
    io.overwrite_partitions_pdf("t", _pdf([(3, "w", 10)]), "b", PSCHEMA)
    io.append_pdf("u", df([(1, "a")]), SCHEMA)
    io.set_state(iter=3, pending_buckets=[10, 2, 1])
    manifest = io._manifest
    got = tables._json_dumps_sorted(manifest)
    assert got == json.dumps(manifest, sort_keys=True, separators=(",", ":"),
                             ensure_ascii=False).encode()
    with open(io._manifest_path, "rb") as f:
        assert f.read() == got
    with pytest.raises(TypeError):
        tables._json_dumps_sorted({"tables": {1: "x"}})
