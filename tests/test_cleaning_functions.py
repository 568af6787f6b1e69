"""Table-driven unit tests for the Brazilian-number normalizer and tidy ops.

Cases from FIXTURES.md §3 (reference branches at
/root/reference/main.py:531-582, 450-477).
"""

from __future__ import annotations

import pytest

from be_analytic_etl_spark.functions import (
    br_number_to_double,
    classify_service,
    empty_to_null,
    extract_year,
    normalize_identifier,
    strip_trailing_zeros,
)

BR_CASES = [
    ("1.234,56", 1234.56),
    ("1234,56", 1234.56),
    ("1.234.56", 123456.0),
    ("1234.56", 1234.56),
    ("1234", 1234.0),
    ("R$ 1.234,56", 1234.56),
    (" 15,5 ", 15.5),
    ("", None),
    ("nan", None),
    ("NaN", None),
    ("-", None),
    ("--", None),
    ("---", None),
    ("ND", None),
    ("N/D", None),
    ("abc", None),
    (None, None),
    ("1.234.567,89", 1234567.89),
    ("0,5", 0.5),
    ("100", 100.0),
    ("12,3%", 12.3),
]


def test_br_number(spark):
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(s,) for s, _ in BR_CASES], "s string")
    out = df.select(F.col("s"), br_number_to_double("s").alias("num")).collect()
    expected = dict(BR_CASES)
    for row in out:
        exp_num = expected[row["s"]]
        if exp_num is None:
            assert row["num"] is None
        else:
            assert row["num"] == pytest.approx(exp_num)


TIDY_CASES = [
    ("15.00", "15"),
    ("15.50", "15.5"),
    ("15.0", "15"),
    ("15.55", "15.55"),
    ("15", "15"),
    ("abc", "abc"),
    ("", ""),
    (None, None),
    ("0.10", "0.1"),
]


def test_strip_trailing_zeros(spark):
    df = spark.createDataFrame([(s,) for s, _ in TIDY_CASES], "s string")
    out = {r["s"]: r["t"] for r in df.select("s", strip_trailing_zeros("s").alias("t")).collect()}
    for s, exp in TIDY_CASES:
        assert out[s] == exp, f"{s!r}: {out[s]!r} != {exp!r}"


def test_classify_service_and_year(spark):
    rows = [
        ("IDA SCM 2019", "SCM", 2019),
        ("smp dataset 2021", "SMP", 2021),
        ("Dados STFC", "STFC", None),
        ("whatever", "OUTROS", None),
        (None, "OUTROS", None),
    ]
    df = spark.createDataFrame([(t,) for t, _, _ in rows], "titulo string")
    got = {
        r["titulo"]: (r["svc"], r["yr"])
        for r in df.select(
            "titulo",
            classify_service("titulo").alias("svc"),
            extract_year("titulo").alias("yr"),
        ).collect()
    }
    for t, svc, yr in rows:
        assert got[t] == (svc, yr)


def test_empty_to_null(spark):
    df = spark.createDataFrame([("",), ("  ",), ("x",), (None,)], "s string")
    got = [r["v"] for r in df.select(empty_to_null("s").alias("v")).collect()]
    assert got == [None, None, "x", None]


def test_normalize_identifier():
    assert normalize_identifier("Grupo Econômico") == "grupo_econômico"
    assert normalize_identifier("MES-REFERENCIA.X ") == "mes_referencia_x"


def test_stable_round_agrees_with_duckdb_on_half_ties(spark):
    """The engines' ROUND primitives disagree on shortest-repr half-ties
    (Spark F.round(0.285, 2)=0.29 via shortest-repr HALF_UP, DuckDB
    ROUND=0.28 via the binary value). stable_round's floor-formula must
    produce the identical double in both engines on exactly those
    inputs."""
    import duckdb
    from pyspark.sql import functions as F

    from be_analytic_etl_spark.functions.rounding import (
        stable_round,
        stable_round_sql,
    )

    cases = [(0.285, 2), (0.125, 2), (-9.1234565, 6), (38000.12345, 4),
             (2.675, 2), (911341401.42872107, 2)]
    con = duckdb.connect()
    for x, n in cases:
        sdf = spark.createDataFrame([(x,)], "x double").select(
            stable_round(F.col("x"), n).alias("r")
        )
        s_val = sdf.collect()[0]["r"]
        d_val = con.execute(
            f"SELECT {stable_round_sql(f'CAST({x!r} AS DOUBLE)', n)}"
        ).fetchone()[0]
        assert s_val == d_val, f"stable_round({x}, {n}): {s_val} vs {d_val}"
    # and document the primitive divergence this guards against
    spark_round = (
        spark.createDataFrame([(0.285,)], "x double")
        .select(F.round("x", 2).alias("r"))
        .collect()[0]["r"]
    )
    duck_round = con.execute("SELECT ROUND(CAST(0.285 AS DOUBLE), 2)").fetchone()[0]
    assert spark_round != duck_round, (
        "if the engines' ROUND primitives ever start agreeing, "
        "stable_round can be retired"
    )


def test_stable_round_guard_passes_through_nan_and_huge(spark):
    """NULL/NaN/|x| >= 2^53/10^n pass through unchanged on BOTH sides —
    Spark's BIGINT floor would otherwise fabricate 0 for NaN and
    saturate huge values while DuckDB's double floor propagates them."""
    import duckdb
    import math

    from pyspark.sql import functions as F

    from be_analytic_etl_spark.functions.rounding import (
        stable_round,
        stable_round_sql,
    )

    rows = [(float("nan"),), (float("inf",),), (2.0**60,), (None,), (1.5,)]
    out = (
        spark.createDataFrame(rows, "x double")
        .select("x", stable_round(F.col("x"), 2).alias("r"))
        .collect()
    )
    by_x = {repr(r["x"]): r["r"] for r in out}
    assert math.isnan(by_x[repr(float("nan"))])
    assert by_x[repr(float("inf"))] == float("inf")
    assert by_x[repr(2.0**60)] == 2.0**60
    assert by_x["None"] is None
    assert by_x["1.5"] == 1.5
    con = duckdb.connect()
    for lit, want in [("'nan'::DOUBLE", "nan"), ("'inf'::DOUBLE", "inf"),
                      ("CAST(1152921504606846976 AS DOUBLE)", 2.0**60)]:
        got = con.execute(f"SELECT {stable_round_sql(lit, 2)}").fetchone()[0]
        if want == "nan":
            assert math.isnan(got)
        elif want == "inf":
            assert got == float("inf")
        else:
            assert got == want


def test_exact_dec_double_sql_correctly_rounds_hugeint_band():
    """DuckDB's direct DECIMAL->DOUBLE cast double-rounds through the
    HUGEINT 64-bit halves for values just past BIGINT range (~9% of
    random 66-bit integers land an ulp off); the VARCHAR route must
    match Python/Java's correctly rounded conversion at every
    magnitude (the ext_corr_matrix sf0.1 red, round 6)."""
    import duckdb

    from be_analytic_etl_spark.functions.rounding import exact_dec_double_sql

    # the live mis-rounding example plus deterministic pseudo-randoms
    # concentrated in the broken 2^64..2^75 double-rounding band
    vals = [22240711483861231690]
    x = 1234567891234567
    for bits in (66, 68, 70, 72):
        for _ in range(60):
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 128)
            vals.append((x % (1 << bits)) | (1 << (bits - 1)) | 1)
    con = duckdb.connect()
    n_direct_wrong = 0
    for v in vals:
        dec = "CAST('%d' AS DECIMAL(38,0))" % v
        got = con.sql("SELECT " + exact_dec_double_sql(dec)).fetchone()[0]
        assert got == float(v), (v, got)
        if con.sql(f"SELECT CAST({dec} AS DOUBLE)").fetchone()[0] != float(v):
            n_direct_wrong += 1
    con.close()
    # the helper exists because the direct cast is broken in this band;
    # if DuckDB ever fixes it, this trips and the helper can be retired
    assert n_direct_wrong > 0


def test_middle_ranks_floor_division(spark):
    """middle_ranks must floor (Spark / is double division): at even n
    the lower middle is rank n/2, at odd n both ranks coincide."""
    from be_analytic_etl_spark.functions.ranks import middle_ranks
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(n,) for n in range(1, 12)], "n long")
    lo, hi = middle_ranks(F.col("n"))
    rows = {r["n"]: (r["lo"], r["hi"]) for r in df.select("n", lo.alias("lo"), hi.alias("hi")).collect()}
    for n, (lo_v, hi_v) in rows.items():
        assert lo_v == (n + 1) // 2 and hi_v == n // 2 + 1
        if n % 2 == 1:
            assert lo_v == hi_v
        else:
            assert hi_v == lo_v + 1
