"""Text-analysis expression builders for training-data pipelines.

Every Spark-side builder returns Spark-SQL text for ``selectExpr`` or
``F.expr``: the JVM parses the whole expression in one py4j round trip and
runs it whole-stage-codegen'd, with no Python crossing. ``*_expr`` builders
are Spark SQL; ``*_sql`` builders spell the same computation for the DuckDB
oracle. Column names passed to a builder are backtick-quoted (``ident``).

- tokens and token counting (whitespace split)
- language ID: marker-word counts via the replace trick, then an argmax
  CASE cascade
- quality features: mean word length and punctuation ratio
- document fingerprinting: md5 over alnum-normalized text

Reference counterpart: crusty-core has no text analytics (it stops at link
extraction); these are the training-data-pipeline extensions the engine is
expected to provide over the ``documents``/``pages.text`` columns.
"""

from __future__ import annotations

#: language → marker words (space-padded matching over ' '||text||' ').
#: Deterministic, tiny, SQL-expressible — not a real langid model, but the
#: exact same computation runs in Spark and the oracle.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "a"),
    "de": ("der", "und", "die", "das"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "que", "y"),
}


def ident(name: str) -> str:
    """Backtick-quote a column reference for SQL text, one quoted part per
    dot-separated part: ``a.embedding`` stays a qualified reference (as
    ``F.col`` reads it), and a name holding a space or a reserved word
    parses as one identifier."""
    return ".".join("`%s`" % p.replace("`", "``") for p in name.split("."))


def tokens_expr(col: str) -> str:
    """Whitespace tokens; empty or whitespace-only text → empty array."""
    c = ident(col)
    return (
        f"CASE WHEN length(trim({c})) = 0 "
        f"THEN cast(array() as array<string>) "
        f"ELSE split(trim({c}), '\\\\s+') END"
    )


def token_count_expr(col: str) -> str:
    return f"CAST(size({tokens_expr(col)}) AS INT)"


def lang_score_expr(col: str, lang: str) -> str:
    """Marker-word hits per language over space-padded lowercase text: each
    term's non-overlapping occurrences by the replace trick (identical
    semantics in Spark and DuckDB SQL)."""
    p = f"concat(' ', lower({ident(col)}), ' ')"
    parts = ["CAST(0 AS BIGINT)"]
    for w in LANG_MARKERS[lang]:
        term = f" {w} "
        parts.append(
            f"CAST((length({p}) - length(replace({p}, '{term}'))) "
            f"/ {len(term)} AS BIGINT)"
        )
    return " + ".join(parts)


def lang_id_from_scores_expr(scores: dict[str, str]) -> str:
    """argmax CASE cascade over precomputed per-language score COLUMNS;
    ties go to the lower language code, all-zero → 'und'. Staging the
    scores behind an exchange boundary computes each score ONCE (the
    inlined cascade re-evaluates every score up to ~5x) and shrinks the
    Catalyst expression tree accordingly."""
    s = {lang: ident(c) for lang, c in scores.items()}
    cases = []
    for lang in sorted(LANG_MARKERS):
        conds = ["true"]
        for other in sorted(LANG_MARKERS):
            if other < lang:
                conds.append(f"({s[lang]} > {s[other]})")
            elif other > lang:
                conds.append(f"({s[lang]} >= {s[other]})")
        conds.append(f"({s[lang]} > 0)")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(cases) + " ELSE 'und' END"


def lang_id_sql(col: str = "text") -> str:
    """The DuckDB spelling of lang_score_expr + lang_id_from_scores_expr
    (scores inlined); kept adjacent so they evolve together."""
    pad = f"(' ' || lower({col}) || ' ')"

    def occ(term: str) -> str:
        return (
            f"CAST((length({pad}) - length(replace({pad}, ' {term} ', '')))"
            f" / {len(term) + 2} AS BIGINT)"
        )

    score = {
        lang: "(" + " + ".join(occ(w) for w in ws) + ")"
        for lang, ws in LANG_MARKERS.items()
    }
    cases = []
    for lang in sorted(LANG_MARKERS):
        conds = []
        for other in sorted(LANG_MARKERS):
            if other < lang:
                conds.append(f"{score[lang]} > {score[other]}")
            elif other > lang:
                conds.append(f"{score[lang]} >= {score[other]}")
        conds.append(f"{score[lang]} > 0")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(cases) + " ELSE 'und' END"


def punct_ratio_expr(col: str) -> str:
    c = ident(col)
    return (
        f"CASE WHEN length({c}) > 0 THEN length(regexp_replace({c}, "
        f"'[a-zA-Z0-9\\\\s]', '')) / length({c}) ELSE 0.0D END"
    )


def avg_word_len_expr(col: str) -> str:
    n = token_count_expr(col)
    return (
        f"CASE WHEN {n} > 0 THEN length(regexp_replace(trim({ident(col)}), "
        f"'\\\\s+', '')) / {n} ELSE 0.0D END"
    )


def fingerprint_expr(col: str) -> str:
    """Stable content fingerprint: md5 of lowercased text with everything
    except [a-z0-9] removed (whitespace/punct-insensitive exact dedup key)."""
    return f"md5(regexp_replace(lower({ident(col)}), '[^a-z0-9]', ''))"
