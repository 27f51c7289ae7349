"""Near-duplicate detection primitives for web-scale corpus curation.

The Spark-side builders return Spark-SQL text (``*_expr``) for
``selectExpr``/``F.expr``: array and lambda higher-order functions parsed
JVM-side in one py4j round trip, with no Python crossing. Building the same
trees through the Column API cost hundreds to thousands of py4j round trips
per call (each lambda is its own JVM callback; 2,534 for the 16 simhash
votes alone), 0.4-0.9 s of driver time on the q14/q16/q17 clock. The
``*_sql`` builders spell each computation for the DuckDB oracle.

- word shingles (k-grams)
- MinHash signatures over md5-hashed shingles (a lexicographic min over
  md5(seed:shingle) hex digests is a valid min-hash family — md5 is identical
  across engines, which makes the oracle byte-exact)
- LSH banding: band key = md5 over the band's minhash slice; candidate pairs
  = docs sharing a band key
- SimHash (16-bit variant): per hex position of md5(token), majority vote of
  high/low nibble → a 16-char bitstring
- n-gram Jaccard similarity verified over LSH candidate pairs

Scale notes: the LSH pipeline is shuffle-shaped as
  explode(bands) → groupBy(band_key) → pair-join within buckets,
which is the standard way to avoid the O(n²) cross join; bucket sizes are
bounded by the band width. SimHash/MinHash signatures are computed in a
single projection over the tokens array (one pass, no shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crusty_core_spark.functions.text import ident, tokens_expr


# ---------------------------------------------------------------- shingles

def word_shingles_expr(col: str, k: int = 2) -> str:
    """Distinct word k-grams, joined by a single space.

    Built by zipping k shifted slices of the token array — NOT by indexing
    the array inside a lambda: higher-order functions evaluate interpreted,
    and an ``element_at(tokens, i)`` in the lambda body re-runs the whole
    split() PER ELEMENT (measured ~10x the cost of the entire minhash
    stage). zip_with evaluates each operand once per row."""
    toks = tokens_expr(col)
    if k == 1:
        return f"array_distinct({toks})"
    m = f"greatest(size({toks}) - {k - 1}, 0)"
    grams = f"slice({toks}, 1, {m})"
    for j in range(1, k):
        grams = (
            f"zip_with({grams}, slice({toks}, {j + 1}, {m}), "
            f"(x, y) -> concat_ws(' ', x, y))"
        )
    return f"array_distinct({grams})"


def word_shingles_sql(col: str, k: int = 2) -> str:
    toks = f"string_split_regex(trim({col}), '\\s+')"
    parts = " || ' ' || ".join(f"toks[i+{j}]" for j in range(k))
    return (
        f"list_distinct([{parts} FOR i IN generate_series(1, greatest("
        f"len(toks)-{k - 1}, 0))]) "
    ).replace("toks", toks)


# ---------------------------------------------------------------- minhash

def minhash_signature_expr(shingles: str, num_hashes: int = 8) -> str:
    """Array of ``num_hashes`` lexicographic-min md5 digests over the
    ``shingles`` array EXPRESSION (e.g. a word_shingles_expr)."""
    mins = ", ".join(
        f"array_min(transform({shingles}, s -> md5(concat('{j}:', s))))"
        for j in range(num_hashes)
    )
    return f"array({mins})"


def minhash_signature_sql(shingles: str, num_hashes: int = 8) -> str:
    mins = ", ".join(
        f"list_aggregate([md5('{j}:' || s) FOR s IN {shingles}], 'min')"
        for j in range(num_hashes)
    )
    return f"[{mins}]"


def lsh_band_keys_expr(signature: str, bands: int, rows_per_band: int) -> str:
    """One md5 key per band: md5(band_index | minhash slice)."""
    sig = ident(signature)
    keys = ", ".join(
        "md5(concat_ws('|', '%d', %s))"
        % (
            b,
            ", ".join(
                f"element_at({sig}, {b * rows_per_band + r + 1})"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return f"array({keys})"


def lsh_band_keys_sql(signature: str, bands: int, rows_per_band: int) -> str:
    keys = ", ".join(
        "md5(concat_ws('|', '%d', %s))"
        % (b, ", ".join(f"{signature}[{b * rows_per_band + r + 1}]"
                        for r in range(rows_per_band)))
        for b in range(bands)
    )
    return f"[{keys}]"


def shingle_frame(
    df: DataFrame, id_col: str, text_col: str, k: int = 2
) -> DataFrame:
    """(doc, _sh) — per-doc distinct shingle arrays computed ABOVE a
    doc-hash exchange of the raw text. The repartition matters three ways:
    it stops CollapseProject from re-inlining the shingle subtree into
    every downstream consumer (a Catalyst expression-tree blowup, measured
    80x slower), it spreads the shingle/minhash/intersection work across
    the session's cores even when the input is a single unsplittable
    parquet row group (the sandbox layout — one scan task otherwise owns
    all expression work), and the exchange ships the raw text instead of
    the larger shingle arrays (isolated: signature materialization
    1.78 s → ~0.8 s cold with the shingling parallel)."""
    return df.selectExpr(
        f"{ident(id_col)} AS doc", f"{ident(text_col)} AS _t"
    ).repartition(F.col("doc")).selectExpr(
        "doc", f"{word_shingles_expr('_t', k)} AS _sh"
    )


def _lsh_pairs_from_shingles(
    sh_df: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Banded candidate pairs from a (doc, _sh) frame; persists the tiny
    doc→signature relation so the banded self-join computes signatures
    exactly once (~50 bytes/doc — MEMORY_AND_DISK is safe at corpus
    scale).

    The signature is computed by EXPLODING the shingles and taking 8
    ``min(md5(j || ':' || s))`` aggregates, not by the higher-order
    ``array_min(transform(...))`` form: lambda functions evaluate
    interpreted (no whole-stage codegen), and the 8-hash transform over
    every shingle was the measured dominant cost of the LSH stage; the
    exploded aggregate runs the same md5s codegen-compiled (~4x the whole
    stage). Identical results: min() and array_min() share Spark's binary
    string ordering, explode_outer keeps empty shingle arrays as a null
    row whose md5(null)=null mins reproduce the all-null signature, and
    the groupBy rides the existing doc-hash partitioning (no extra
    exchange)."""
    rows_per_band = num_hashes // bands
    ex = sh_df.selectExpr("doc", "explode_outer(_sh) AS _s")
    sig_df = (
        ex.groupBy("doc")
        .agg(
            *[
                F.expr(f"min(md5(concat('{j}:', _s)))").alias(f"_m{j}")
                for j in range(num_hashes)
            ]
        )
        .selectExpr(
            "doc",
            "array(%s) AS sig"
            % ", ".join(f"_m{j}" for j in range(num_hashes)),
        )
        .persist()
    )
    banded = sig_df.selectExpr(
        "doc",
        "explode(%s) AS band_key"
        % lsh_band_keys_expr("sig", bands, rows_per_band),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(right, on="band_key")
        .filter(F.col("l.doc") < F.col("r.doc"))
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: (id_a < id_b) sharing ≥1 band key.

    Plan shape: projection (shingles) → exchange → projection (signature,
    persisted) → explode (bands) → shuffle on band_key → in-bucket
    self-join → distinct. No cross join anywhere.
    """
    return _lsh_pairs_from_shingles(
        shingle_frame(df, id_col, text_col, k), num_hashes, bands
    )


# ---------------------------------------------------------------- simhash

def token_md5s_expr(col: str) -> str:
    """md5 per whitespace token — the shared input of the 16 simhash bit
    votes. Stage this behind an exchange boundary so each token is hashed
    ONCE instead of once per bit position (16x less md5 work), and the
    votes run on all cores instead of inside a single scan task."""
    return f"transform({tokens_expr(col)}, t -> md5(t))"


def simhash16_from_hashes_expr(h: str) -> str:
    """16-bit SimHash as a bitstring over a precomputed md5(token) array
    column (see token_md5s_expr): bit_p = sign of Σ_tokens (+1 if hex digit
    p of md5(token) ≥ '8' else −1)."""
    h = ident(h)
    bits = []
    for p in range(1, 17):
        vote = (
            f"aggregate({h}, 0, (acc, t) -> acc + (CASE WHEN "
            f"substring(t, {p}, 1) IN "
            f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END))"
        )
        bits.append(f"CASE WHEN {vote} > 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


def simhash16_sql(col: str = "text") -> str:
    toks = f"string_split_regex(trim({col}), '\\s+')"
    bits = []
    for p in range(1, 17):
        vote = (
            f"list_sum([CASE WHEN substr(md5(t), {p}, 1) IN "
            f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END "
            f"FOR t IN {toks}])"
        )
        bits.append(f"CASE WHEN {vote} > 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


# ---------------------------------------------------------------- jaccard

def jaccard_pairs_lsh(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard, computed ONLY for MinHash-LSH candidate pairs.

    The scale-correct composition: LSH banding bounds the pair space to
    near-duplicate candidates (sub-quadratic — no metadata-column blocking),
    then the exact Jaccard verifies each candidate via a per-pair
    ``array_intersect`` over the docs' distinct-shingle arrays.

    One (doc, _sh) relation is computed once and persisted, feeding BOTH the
    signature/banding stage and the pair verification — the old shape
    recomputed the shingles three times and verified pairs through an
    exploded (doc, shingle) self-join, which shuffled every pair × every
    shingle (candidate_pairs × ~shingles_per_doc rows through two exchanges,
    the dominant cost of the query at every scale). Now the shingle array
    crosses one hash join per pair side and the intersection is a local
    O(|A|+|B|) hash probe per pair; shuffle volume is O(pairs), not
    O(pairs × shingles)."""
    sh_df = shingle_frame(df, id_col, text_col, k).persist()
    cands = _lsh_pairs_from_shingles(sh_df, num_hashes, bands)
    a = sh_df.selectExpr(
        "doc AS doc_a", "_sh AS _sh_a", "size(_sh) AS n_a"
    )
    b = sh_df.selectExpr(
        "doc AS doc_b", "_sh AS _sh_b", "size(_sh) AS n_b"
    )
    inter = (
        cands.join(a, on="doc_a")
        .join(b, on="doc_b")
        .withColumn(
            "n_inter", F.expr("size(array_intersect(_sh_a, _sh_b))")
        )
        # pairs with an empty intersection never surfaced from the old
        # exploded inner join — preserve that pair-set for any threshold
        .filter(F.col("n_inter") > 0)
    )
    jac = F.expr("round(n_inter / (n_a + n_b - n_inter), 6)")
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
