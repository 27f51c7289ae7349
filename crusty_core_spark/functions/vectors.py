"""Embedding-vector operations: cosine similarity + brute-force ANN top-k.

The Spark-side scores are Spark-SQL text (``*_expr``) over JVM higher-order
functions (zip_with + aggregate) on ``array<float>`` cast to double — no
Python crossing, and one py4j round trip to parse where the Column API paid
one callback per lambda (building q33's tree that way cost ~1 s of driver
time). The oracle's DuckDB spelling (``entry_queries._cos_sql``) uses the
same double-precision elementwise computation. Column names passed to a
builder are backtick-quoted (``text.ident``), so ``a.embedding`` stays a
qualified reference.

Scale path: brute-force top-k is the correctness baseline (O(Q×N) with a
window rank). For corpus-scale ANN, ``ivf_assign`` buckets vectors by
nearest centroid so the probe join touches only matching buckets (an
IVF-flat layout expressed as a plain equi-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from crusty_core_spark.functions.text import ident


def _norm_expr(c: str) -> str:
    return (
        f"sqrt(aggregate(transform({ident(c)}, x -> CAST(x AS DOUBLE) * "
        f"CAST(x AS DOUBLE)), 0.0D, (acc, v) -> acc + v))"
    )


def _dot_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({ident(a)}, {ident(b)}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )


def cosine_expr(a: str, b: str) -> str:
    return f"{_dot_expr(a, b)} / ({_norm_expr(a)} * {_norm_expr(b)})"


def _cos_hoisted_expr(a: str, b: str, na: str, nb: str) -> str:
    """cosine rounded to 6 decimals, with the per-side norms ``na``/``nb``
    precomputed BEFORE the pair join — identical arithmetic (dot /
    (norm_a * norm_b), same double order), but each side's norm is
    evaluated once per row instead of once per PAIR. The higher-order
    norms evaluate interpreted, so hoisting them off the joined
    cardinality is ~3x the scoring stage."""
    return f"round({_dot_expr(a, b)} / ({ident(na)} * {ident(nb)}), 6)"


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    max_broadcast_queries: int | None = 100_000,
    broadcast_queries: bool | None = None,
) -> DataFrame:
    """Exact cosine top-k per query (rank ties broken by neighbor id).

    queries columns: (query_id, qvec). Plan: broadcast the query side,
    score every vector, window-rank per query. Cosine is rounded to 6
    decimals BEFORE ranking so ordering is stable across engines.

    Broadcast guard: a query side above ``max_broadcast_queries`` rows is
    NOT broadcast (it would pin Q×dim floats in every executor) — the join
    falls back to Spark's own strategy choice. A large query set should use
    ``ivf_probe_topk`` instead; brute force is the correctness baseline.

    The guard costs one extra count action; callers that already know the
    query side's size can skip it with ``broadcast_queries=True`` (always
    broadcast, no count) or ``False`` (never broadcast). With the default
    ``None``, the size check runs; ``max_broadcast_queries`` of 0/None
    means "never broadcast" (guard disabled entirely, no count either).
    """
    q = queries.withColumn("_nq", F.expr(_norm_expr("qvec")))
    if broadcast_queries is True:
        q = F.broadcast(q)
    elif broadcast_queries is None and max_broadcast_queries and (
        queries.limit(max_broadcast_queries + 1).count()
        <= max_broadcast_queries
    ):
        q = F.broadcast(q)
    scored = (
        vectors.withColumn("_nv", F.expr(_norm_expr(vec_col)))
        .join(q)
        .filter(F.col(id_col) != F.col("query_id"))
        .selectExpr(
            "query_id",
            f"{ident(id_col)} AS neighbor_id",
            f"{_cos_hoisted_expr(vec_col, 'qvec', '_nv', '_nq')} AS cos",
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    cent_col: str = "cvec",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF bucketing).

    Centroids are broadcast; assignment = argmax cosine via window rank
    partitioned on the row id (never on the vector array itself). The
    result's ``bucket`` column becomes the equi-join key for probes.
    Norms are hoisted to each side of the join (see _cos_hoisted_expr)."""
    scored = vectors.withColumn("_nv", F.expr(_norm_expr(vec_col))).join(
        F.broadcast(
            centroids.withColumn("_nc", F.expr(_norm_expr(cent_col)))
        )
    ).selectExpr(
        "*",
        f"{_cos_hoisted_expr(vec_col, cent_col, '_nv', '_nc')} AS _c",
    )
    w = W.partitionBy(id_col).orderBy(F.desc("_c"), F.asc("centroid_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_c", "_nv", "_nc", cent_col)
        .withColumnRenamed("centroid_id", "bucket")
    )


def ivf_probe_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """IVF-bucketed ANN probe: assign vectors AND queries to their nearest
    centroid, then score only within the shared bucket (equi-join on bucket
    instead of the brute-force cross join) and window-rank top-k per query.

    This is the scale path: at N vectors / C centroids the probe join
    touches ~N/C candidates per query instead of N. queries columns:
    (query_id, qvec)."""
    assigned = ivf_assign(vectors, centroids, vec_col, "cvec", id_col)
    q_assigned = ivf_probe_assign(queries, centroids).withColumn(
        "_nq", F.expr(_norm_expr("qvec"))
    )
    scored = (
        assigned.withColumn("_nv", F.expr(_norm_expr(vec_col)))
        .join(F.broadcast(q_assigned), on="bucket")
        .filter(F.col(id_col) != F.col("query_id"))
        .selectExpr(
            "query_id",
            f"{ident(id_col)} AS neighbor_id",
            f"{_cos_hoisted_expr(vec_col, 'qvec', '_nv', '_nq')} AS cos",
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def ivf_probe_assign(queries: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment for the (small) query side."""
    scored = queries.withColumn("_nq", F.expr(_norm_expr("qvec"))).join(
        F.broadcast(centroids.withColumn("_nc", F.expr(_norm_expr("cvec"))))
    ).selectExpr(
        "*",
        f"{_cos_hoisted_expr('qvec', 'cvec', '_nq', '_nc')} AS _c",
    )
    w = W.partitionBy("query_id").orderBy(F.desc("_c"), F.asc("centroid_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_c", "_nq", "_nc", "cvec")
        .withColumnRenamed("centroid_id", "bucket")
    )
