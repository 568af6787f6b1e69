"""Names and literals pasted into Spark SQL text keep their meaning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions import cleaning as C
from be_analytic_etl_spark.functions.sqltext import quote_ident, sql_string
from be_analytic_etl_spark.operators import textstats as T
from be_analytic_etl_spark.operators.dedup import minhash_signature

NAMES = ["my col.x", "a`b", "2020-01", "GRUPO ECONÔMICO", "select"]


def test_quote_ident_round_trips_through_spark(spark):
    assert quote_ident("my col.x") == "`my col.x`"
    assert quote_ident("a`b") == "`a``b`"
    schema = ", ".join(f"{quote_ident(n)} int" for n in NAMES)
    df = spark.createDataFrame([tuple(range(len(NAMES)))], schema)
    assert df.columns == NAMES
    got = df.selectExpr(*[f"{quote_ident(n)} + 0 AS {quote_ident(n)}" for n in NAMES])
    assert got.columns == NAMES
    assert tuple(got.first()) == tuple(range(len(NAMES)))


def test_sql_string_round_trips_through_spark(spark):
    values = ["it's", "back\\slash", "a\\'b", "%_\\%\\_", "SERVIÇO:", "tab\there"]
    got = spark.range(1).selectExpr(
        *[f"{sql_string(v)} AS c{i}" for i, v in enumerate(values)]
    ).first()
    assert list(got) == values


#: Every builder that pastes a column NAME into SQL text, as a function
#: of that name.
NAME_BUILDERS = {
    "quality_score": lambda c: T.quality_score(c, round_to=None),
    "lang_id": T.lang_id,
    "minhash_portable": lambda c: minhash_signature(c, num_hashes=8, portable=True),
    "minhash_xxhash64": lambda c: minhash_signature(c, num_hashes=8),
    "tokenize": T.tokenize,
    "word_ngrams": T.word_ngrams,
    "br_number_to_double": C.br_number_to_double,
    "strip_trailing_zeros": C.strip_trailing_zeros,
    "classify_service": C.classify_service,
    "extract_year": C.extract_year,
    "empty_to_null": C.empty_to_null,
}

TEXTS = [
    "the cat and the dog is in the house of the king",
    "R$ 1.234,56",
    "15.50",
    "IDA SCM 2019",
    "  ",
    "",
    None,
]


def test_text_fast_paths_quote_the_column_name(spark):
    """``my col.x`` must read as one column: the same data under it and
    under the plain name ``text`` give the same values, builder by
    builder."""
    rows = [(t,) for t in TEXTS]
    odd = spark.createDataFrame(rows, "`my col.x` string")
    plain = spark.createDataFrame(rows, "text string")
    names = sorted(NAME_BUILDERS)
    got = {
        side: df.select(*[NAME_BUILDERS[n](col).alias(n) for n in names]).collect()
        for side, df, col in (("odd", odd, "my col.x"), ("plain", plain, "text"))
    }
    for n in names:
        assert [r[n] for r in got["odd"]] == [r[n] for r in got["plain"]], n


@pytest.mark.parametrize(
    "fn",
    [
        T.tokenize,
        T.token_count,
        T.word_ngrams,
        T.word_ngrams_all,
        T.punct_ratio,
        T.stopword_ratio,
        T.quality_score,
        T.lang_scores,
        T.lang_id,
        T.rolling_fingerprint,
        T.hashed_linear_score,
        minhash_signature,
        C.br_number_to_double,
        C.strip_trailing_zeros,
        C.classify_service,
        C.extract_year,
        C.empty_to_null,
    ],
    ids=lambda fn: fn.__name__,
)
def test_name_builders_reject_a_column(fn):
    """A Column is not a name: the builder says what it expected and
    what it got, instead of failing inside the name quoting."""
    with pytest.raises(TypeError, match="expected a column name \\(str\\), got Column"):
        fn(F.col("text"))
