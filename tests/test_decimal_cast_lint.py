"""Divergence-class-6 source lint (SCALE.md): no decimal cast of a raw
libm/sqrt output may be committed without stable_round protection.

The six cross-engine float-divergence classes were each discovered LIVE
at a new scale factor (class 6 mis-hashed ext_class_separation at
sf0.01, round 8, commit 45684fe); this test turns the greppable rule
into CI so the seventh cannot land. The five sites fixed in the round-8
audit (embedding-stats mean-norm, BM25 term scores, DSIR llr, PMI,
label-balance entropy / temperature-weights pow) are the regression
fixtures: each must remain protected in the current tree.
"""

from __future__ import annotations

import os

from be_analytic_etl_spark.plans.lint import lint_decimal_casts

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "be_analytic_etl_spark")


def test_no_raw_irrational_decimal_casts():
    findings = lint_decimal_casts(PKG)
    assert findings == [], "\n".join(str(f) for f in findings)


def test_lint_flags_naked_site(tmp_path):
    # A synthetic naked site — the exact shape of the pre-45684fe bug
    # (sqrt output cast straight to DECIMAL) — must be flagged.
    bad = tmp_path / "bad.py"
    bad.write_text(
        'dist = F.sqrt(s2)\n'
        'out = df.select(dist.cast("decimal(18,6)").alias("d"))\n'
    )
    findings = lint_decimal_casts(str(tmp_path))
    assert len(findings) == 1
    assert findings[0].code == "raw-irrational-decimal-cast"
    assert "bad.py:2" in findings[0].detail


def test_lint_accepts_protected_and_exempt_sites(tmp_path):
    ok = tmp_path / "ok.py"
    ok.write_text(
        # helper-protected
        'a = stable_round(F.sqrt(s2), 9).cast("decimal(28,9)")\n'
        "\n" * 10
        # expanded stable_round_sql fingerprint
        + 'sql1 = """CAST((CASE WHEN (sqrt(x)) IS NULL OR isnan(sqrt(x))\n'
        '  THEN sqrt(x) ELSE floor(sqrt(x) * 1e6 + 0.5) / 1e6 END)\n'
        '  AS DECIMAL(18,6))"""\n'
        "\n" * 10
        # documented exemption marker
        + '# decimal-exempt: operand is an exact 2dp cents value\n'
        + 'b = F.log(n)  # used elsewhere\n'
        + 'c = cents.cast("decimal(18,2)")\n'
        "\n" * 10
        # exact operand, no risk token -> never flagged
        + 'd = F.count(F.lit(1)).cast("decimal(38,0)")\n'
    )
    assert lint_decimal_casts(str(tmp_path)) == []


def test_round8_fixed_sites_still_protected():
    """The five class-6 audit sites (commit 45684fe) stay stable_round-
    protected: find each file's risky cast neighborhoods and require
    zero findings file-by-file (a regression would reintroduce the
    exact bug class the audit cleared)."""
    fixed_files = [
        "queries/dedup.py",        # embedding_stats mean_norm
        "queries/text.py",         # BM25 / DSIR llr / PMI / label balance
        "queries/statistics.py",   # class-separation distance sums
        "operators/normalize.py",  # temperature_weights pow
    ]
    findings = lint_decimal_casts(PKG)
    flagged = {f.detail.split(":")[0] for f in findings}
    for rel in fixed_files:
        # a renamed file would leave ``rel not in flagged`` true vacuously
        assert os.path.isfile(os.path.join(PKG, rel)), rel
        assert rel not in flagged


# ---------------------------------------------------------------------------
# Divergence class 7 (round 10): a product cast to a SCALED decimal —
# Spark narrows the product's scale under precision-overflow adjustment
# BEFORE the outer cast, while DuckDB's DECIMAL products stay exact
# (advisor r9: ext_brier_decomp's (diff*diff).cast("decimal(38,12)")
# evaluated at decimal(38,11)). The fix idiom is operand narrowing.

from be_analytic_etl_spark.plans.lint import lint_product_decimal_casts


def test_no_product_scaled_decimal_casts():
    findings = lint_product_decimal_casts(PKG)
    assert findings == [], "\n".join(str(f) for f in findings)


def test_product_lint_flags_the_r9_advisor_shapes(tmp_path):
    # single-line: the exact pre-fix ext_brier_decomp accumulator
    (tmp_path / "bad1.py").write_text(
        'sq = F.sum((diff * diff).cast("decimal(38,12)")).alias("__sq")\n'
    )
    # multi-line: the exact pre-fix ext_levene accumulator
    (tmp_path / "bad2.py").write_text(
        "s2 = F.sum(\n"
        '    (F.col("__d") * F.col("__d")).cast("decimal(38,12)") * F.col("__c")\n'
        ').alias("__s2")\n'
    )
    findings = lint_product_decimal_casts(str(tmp_path))
    assert len(findings) == 2
    assert all(f.code == "product-scaled-decimal-cast" for f in findings)


def test_product_lint_accepts_safe_shapes(tmp_path):
    (tmp_path / "ok.py").write_text(
        # narrowed operands (the fix idiom): cast BEFORE the multiply
        'a = F.sum(d.cast("decimal(8,6)") * d.cast("decimal(8,6)"))\n'
        # scale-0 target: integer products carry no hidden scale rounding
        + 'b = F.sum((F.col("__t") * F.col("__t")).cast("decimal(38,0)"))\n'
        # stable_round-quantized double: exact at 6dp by construction,
        # even across a multi-line wrapped call
        + "t = stable_round(\n"
        + "    -p * F.log2(p),\n"
        + "    6,\n"
        + ').cast("decimal(18,6)")\n'
        # documented exemption marker
        + "# product-exempt: operands are exact powers of two\n"
        + 'e = (x * y).cast("decimal(20,4)")\n'
    )
    assert lint_product_decimal_casts(str(tmp_path)) == []
