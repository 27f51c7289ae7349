"""Golden values for the Spark-SQL expression builders (``*_expr``) of
functions/text.py, dedup_fns.py and vectors.py on the edge inputs the
DuckDB oracle's fixtures never hold: empty, whitespace-only, single-token
and repeated-token texts, a text whose tokens are split by a run of
spaces and a tab, a zero vector, a vector mixing 1e-7 and 1e7 (whose
small terms vanish in the double sums but not in a dot product with a
unit vector), and column names that need quoting.

The expected values are literals, not the DuckDB ``*_sql`` twins: the two
engines disagree on empty text (DuckDB's ``string_split_regex(trim(''),
'\\s+')`` is ``['']``, one token; Spark's ``tokens_expr`` gives ``[]``)."""

import hashlib

import pytest
from pyspark.sql import functions as F

import crusty_core_spark.functions.dedup_fns as D
import crusty_core_spark.functions.text as TX
import crusty_core_spark.functions.vectors as V

TEXTS = [
    "",
    "   ",
    "one",
    "a a a a a",
    "the cat and the dog",
    "Punct, and. tabs\tok!",
    "der und die das le la",
    "punct, and. spaces   collapse\tok",
    "the quick brown fox jumps over the lazy dog",
    "der und die das der und",
    "le la et les le",
]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )


def _col(df, expr, key="doc_id"):
    """The values of one SQL expression over ``df``, in ``key`` order."""
    return [r.v for r in df.selectExpr(key, f"{expr} AS v").orderBy(key)
            .collect()]


def test_tokens_expr_twin(spark, docs):
    assert _col(docs, TX.tokens_expr("text")) == [
        [], [], ["one"], ["a"] * 5, ["the", "cat", "and", "the", "dog"],
        ["Punct,", "and.", "tabs", "ok!"],
        ["der", "und", "die", "das", "le", "la"],
        ["punct,", "and.", "spaces", "collapse", "ok"],
        ["the", "quick", "brown", "fox", "jumps", "over", "the", "lazy",
         "dog"],
        ["der", "und", "die", "das", "der", "und"],
        ["le", "la", "et", "les", "le"],
    ]
    assert _col(docs, TX.token_count_expr("text")) == [
        0, 0, 1, 5, 5, 4, 6, 5, 9, 6, 5,
    ]


def test_quality_feature_exprs(spark, docs):
    assert _col(docs, f"round({TX.avg_word_len_expr('text')}, 6)") == [
        0.0, 0.0, 3.0, 1.0, 3.0, 4.25, 2.666667, 5.2, 3.888889, 3.0, 2.2,
    ]
    assert _col(docs, f"round({TX.punct_ratio_expr('text')}, 6)") == [
        0.0, 0.0, 0.0, 0.0, 0.0, 0.15, 0.0, 0.0625, 0.0, 0.0, 0.0,
    ]
    assert _col(docs, TX.fingerprint_expr("text")) == [
        _md5(""), _md5(""), _md5("one"), _md5("aaaaa"),
        _md5("thecatandthedog"), _md5("punctandtabsok"),
        _md5("derunddiedaslela"), _md5("punctandspacescollapseok"),
        _md5("thequickbrownfoxjumpsoverthelazydog"),
        _md5("derunddiedasderund"), _md5("lelaetlesle"),
    ]


@pytest.mark.parametrize("k", [1, 2, 3])
def test_word_shingles_expr_twin(spark, docs, k):
    expected = {
        1: [[], [], ["one"], ["a"], ["the", "cat", "and", "dog"],
            ["Punct,", "and.", "tabs", "ok!"],
            ["der", "und", "die", "das", "le", "la"],
            ["punct,", "and.", "spaces", "collapse", "ok"],
            ["the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog"],
            ["der", "und", "die", "das"], ["le", "la", "et", "les"]],
        2: [[], [], [], ["a a"], ["the cat", "cat and", "and the", "the dog"],
            ["Punct, and.", "and. tabs", "tabs ok!"],
            ["der und", "und die", "die das", "das le", "le la"],
            ["punct, and.", "and. spaces", "spaces collapse", "collapse ok"],
            ["the quick", "quick brown", "brown fox", "fox jumps",
             "jumps over", "over the", "the lazy", "lazy dog"],
            ["der und", "und die", "die das", "das der"],
            ["le la", "la et", "et les", "les le"]],
        3: [[], [], [], ["a a a"], ["the cat and", "cat and the",
                                    "and the dog"],
            ["Punct, and. tabs", "and. tabs ok!"],
            ["der und die", "und die das", "die das le", "das le la"],
            ["punct, and. spaces", "and. spaces collapse",
             "spaces collapse ok"],
            ["the quick brown", "quick brown fox", "brown fox jumps",
             "fox jumps over", "jumps over the", "over the lazy",
             "the lazy dog"],
            ["der und die", "und die das", "die das der", "das der und"],
            ["le la et", "la et les", "et les le"]],
    }
    assert _col(docs, D.word_shingles_expr("text", k)) == expected[k]


def test_token_md5s_and_simhash_expr_twins(spark, docs):
    h = docs.selectExpr("doc_id", f"{D.token_md5s_expr('text')} AS _h")
    assert _col(h, "_h")[:3] == [[], [], [_md5("one")]]
    assert _col(h, D.simhash16_from_hashes_expr("_h")) == [
        "0000000000000000", "0000000000000000", "1101010110011101",
        "0110001110101011", "1110010011110011", "0101000101000111",
        "0100000100100001", "0001110101101011", "0110011111110011",
        "0110000100100000", "1101001010011001",
    ]


def test_lsh_band_keys_expr_twin(spark, docs):
    """Empty shingle arrays give an all-null signature, whose band keys
    hash the band index alone (concat_ws skips nulls)."""
    sig = D.minhash_signature_expr(D.word_shingles_expr("text", 2), 8)
    s = docs.selectExpr("doc_id", f"{sig} AS sig")
    sigs = _col(s, "sig")
    assert sigs[:3] == [[None] * 8] * 3
    assert sigs[3] == [_md5(f"{j}:a a") for j in range(8)]
    keys = _col(s, D.lsh_band_keys_expr("sig", 4, 2))
    for row_sig, row_keys in zip(sigs, keys):
        assert row_keys == [
            _md5("|".join([str(b)] + [x for x in row_sig[2 * b:2 * b + 2]
                                      if x is not None]))
            for b in range(4)
        ]
    # k=1 over a single token: each hash's min is the one shingle's md5
    one = _col(docs, D.minhash_signature_expr(
        D.word_shingles_expr("text", 1), 8))[2]
    assert one == [_md5(f"{j}:one") for j in range(8)]


def test_lang_score_expr_twin(spark, docs):
    """Non-overlapping marker hits by the replace trick: ' a a a a a '
    holds three ' a ', not five."""
    expected = {
        "de": [0, 0, 0, 0, 0, 0, 4, 0, 0, 6, 0],
        "en": [0, 0, 0, 3, 3, 0, 0, 0, 2, 0, 0],
        "es": [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
        "fr": [0, 0, 0, 0, 0, 0, 2, 0, 0, 0, 5],
    }
    for lang, want in expected.items():
        assert _col(docs, TX.lang_score_expr("text", lang)) == want, lang


def test_lang_id_from_scores_expr_twin(spark, docs):
    langs = sorted(TX.LANG_MARKERS)
    scored = docs.selectExpr(
        "doc_id",
        *[f"{TX.lang_score_expr('text', lang)} AS `score {lang}`"
          for lang in langs],
    )
    pred = TX.lang_id_from_scores_expr(
        {lang: f"score {lang}" for lang in langs}
    )
    assert _col(scored, pred) == [
        "und", "und", "und", "en", "en", "und", "de", "und", "en", "de", "fr",
    ]


def test_builders_quote_column_names(spark):
    """A column name with a space parses as one identifier, and a dotted
    name stays a qualified reference into an aliased frame."""
    df = spark.createDataFrame([(1, "a b", [3.0, 4.0])],
                               "id long, `body text` string, `my vec` "
                               "array<float>")
    assert _col(df, TX.token_count_expr("body text"), "id") == [2]
    assert _col(df, V._norm_expr("my vec"), "id") == [5.0]
    joined = df.alias("a").join(df.alias("b"), "id")
    cos = joined.select(F.expr(V.cosine_expr("a.my vec", "b.my vec"))
                        .alias("c")).collect()
    assert [r.c for r in cos] == [1.0]
    assert TX.ident("a.my vec") == "`a`.`my vec`"
    assert TX.ident("odd`name") == "`odd``name`"


VECS = [
    [0.1, 0.2, 0.3, 0.4],
    [1.0, 0.0, 0.0, 0.0],
    [0.0, 0.0, 0.0, 0.0],
    [-1.5, 2.25, -3.125, 0.0625],
    [1e-7, 1e7, -1e-7, -1e7],
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(VECS)],
        "vec_id long, embedding array<float>",
    )


def test_vector_norm_dot_expr_twins(spark, vecs):
    """float elements widen to double before the multiply: 0.1f etc. carry
    their float error into the double sums; the 1e-7 terms vanish against
    1e14 in the left-to-right fold."""
    assert _col(vecs, V._norm_expr("embedding"), "vec_id") == [
        0.5477225697477194, 1.0, 0.0, 4.13304140434136, 14142135.62373095,
    ]
    assert _col(vecs, V._dot_expr("embedding", "embedding"), "vec_id") == [
        0.30000001341104526, 1.0, 0.0, 17.08203125, 200000000000000.0,
    ]


def test_cos_hoisted_expr_twin(spark, vecs):
    """The hoisted-norm cosine equals cosine_expr rounded to 6; a zero
    vector raises ANSI DIVIDE_BY_ZERO in both. Unrounded, [1, 0, 0, 0]
    against the 1e-7/1e7 vector keeps the float error of 1e-7f."""
    nz = vecs.where("vec_id != 2")
    two = nz.withColumnRenamed("embedding", "a").crossJoin(
        nz.selectExpr("vec_id AS vid2", "embedding AS b")
    ).where("vec_id < vid2")
    hoisted = two.withColumn("_na", F.expr(V._norm_expr("a"))).withColumn(
        "_nb", F.expr(V._norm_expr("b"))
    ).selectExpr("vec_id", "vid2",
                 f"{V._cos_hoisted_expr('a', 'b', '_na', '_nb')} AS c")
    plain = two.selectExpr("vec_id", "vid2",
                           f"round({V.cosine_expr('a', 'b')}, 6) AS c")
    expected = [(0, 1, 0.182574), (0, 3, -0.270568), (0, 4, -0.258199),
                (1, 3, -0.362929), (1, 4, 0.0), (3, 4, 0.374251)]
    assert sorted(map(tuple, hoisted.collect())) == expected
    assert sorted(map(tuple, plain.collect())) == expected
    raw = two.selectExpr("vec_id", "vid2", f"{V.cosine_expr('a', 'b')} AS c")
    assert sorted(map(tuple, raw.collect())) == [
        (0, 1, 0.1825741844747717), (0, 3, -0.27056755861245657),
        (0, 4, -0.2581988878234321), (1, 3, -0.3629288587393282),
        (1, 4, 7.071067894498663e-15), (3, 4, 0.37425129160836007),
    ]
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        vecs.selectExpr(
            f"{V.cosine_expr('embedding', 'embedding')} AS c"
        ).collect()
