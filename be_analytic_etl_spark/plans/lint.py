"""Physical-plan linter: the pre-flight check a 100 TB run starts with.

``.explain("formatted")`` tells an expert what a plan will do; this
module turns the same text into machine-checkable findings so a CI gate
(or the ``lint`` CLI subcommand) can refuse plans that would melt a
cluster. The checks encode the engine's own scale rules (SCALE.md):

- **error** ``cartesian-join``: a ``CartesianProduct`` scales O(|L|x|R|)
  — at any real size this is the single worst plan shape. (The exact
  brute-force ANN baseline crossJoins a BROADCAST side deliberately;
  broadcast nested loop is reported as a warning instead.)
- **error** ``row-python-udf``: ``BatchEvalPython`` is a per-row
  Python round trip — 10-100x slower than Arrow batching; the engine's
  rule is zero row UDFs (VERDICT r2 audited this).
- **warn** ``bnl-join``: ``BroadcastNestedLoopJoin`` is fine for a tiny
  broadcast side (exact-baseline crossJoins, non-equi range joins) but
  is quadratic in the probe side — flagged so the author confirms the
  broadcast side is genuinely bounded.
- **warn** ``exchange-count``: more shuffles than the caller's budget.
- **info** ``python-boundary``: Arrow-batched pandas boundaries
  (``ArrowEvalPython``/``FlatMapGroupsInPandas``/``MapInPandas``/
  UDTFs) — legitimate, but each one caps whole-stage codegen, so they
  are surfaced for review.
- **info** ``scan``: every file scan with its ReadSchema width and
  whether any filter was pushed — the reader checks nothing scans 40
  columns to serve a 2-column projection.

Driver-side cost: one ``explainString`` round trip; nothing is executed.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class Finding:
    severity: str  # "error" | "warn" | "info"
    code: str
    detail: str

    def __str__(self) -> str:  # CLI-friendly
        return f"[{self.severity}] {self.code}: {self.detail}"


def _plan_text(df: DataFrame) -> str:
    # JVM explainString directly (ExplainMode object, not a string):
    # the old df.explain() + redirect_stdout capture was process-global
    # state — concurrent lint_plan calls (threaded test fixtures, guide
    # §2.6 job overlap) stole each other's output and returned empty or
    # partial plans. This form is thread-safe and skips the print hop.
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def top_level_fields(struct_body: str) -> int:
    """Count ReadSchema struct fields at nesting depth 0: a nested field
    like ``a:struct<b:int,c:int>`` is ONE column read, not three (a plain
    comma split overcounts nested schemas)."""
    depth, fields = 0, 0
    for ch in struct_body:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            fields += 1
    return fields + 1 if struct_body.strip() else 0


def lint_plan(df: DataFrame, *, max_exchanges: int | None = None) -> list[Finding]:
    """Lint a DataFrame's physical plan; returns findings, worst first."""
    text = _plan_text(df)
    findings: list[Finding] = []

    if re.search(r"CartesianProduct", text):
        findings.append(
            Finding("error", "cartesian-join",
                    "CartesianProduct: O(|L|x|R|) pair materialization")
        )
    # \b after "Python" keeps BatchEvalPythonUDTF (a lateral-join UDTF,
    # reported as python-boundary below) from matching the row-UDF check.
    if re.search(r"\bBatchEvalPython\b", text):
        findings.append(
            Finding("error", "row-python-udf",
                    "BatchEvalPython: per-row Python UDF in the plan")
        )
    if re.search(r"BroadcastNestedLoopJoin", text):
        findings.append(
            Finding("warn", "bnl-join",
                    "BroadcastNestedLoopJoin: confirm the broadcast side is "
                    "bounded (exact baselines / non-equi joins only)")
        )

    # Count detail headers only ("(N) Exchange"): formatted explain prints
    # every node twice (tree line + detail block), so a bare \bExchange\b
    # count would double the real shuffle count.
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", text, re.MULTILINE))
    if max_exchanges is not None and n_exchanges > max_exchanges:
        findings.append(
            Finding("warn", "exchange-count",
                    f"{n_exchanges} shuffle exchanges (budget {max_exchanges})")
        )

    for op in ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas",
               "FlatMapGroupsInPandasWithState", "BatchEvalPythonUDTF"):
        if re.search(rf"\b{op}\b", text):
            findings.append(
                Finding("info", "python-boundary",
                        f"{op}: Arrow-batched Python stage (caps codegen)")
            )

    # Scan census: detail-header anchored ("(N) Scan parquet ...") so each
    # scan counts once. The ReadSchema/PushedFilters search is bounded to
    # THIS scan's detail block — i.e. the text before the next "(N) "
    # header — not a fixed window, which could leak the NEXT scan's
    # schema/filters into a long or ReadSchema-less block.
    for m in re.finditer(r"^\(\d+\) Scan (\w+) ([^\n]*)", text, re.MULTILINE):
        fmt = m.group(1)
        tail = text[m.end():]
        next_hdr = re.search(r"^\(\d+\) ", tail, re.MULTILINE)
        block = tail[: next_hdr.start()] if next_hdr else tail
        # ReadSchema prints on one (possibly truncated) line; capture to
        # end-of-line and count depth-0 commas only.
        schema_m = re.search(r"ReadSchema: struct<([^\n]*)", block)
        pushed_m = re.search(r"PushedFilters: \[([^\]]*)\]", block)
        width = top_level_fields(schema_m.group(1)) if schema_m else 0
        pushed = bool(pushed_m and pushed_m.group(1).strip())
        findings.append(
            Finding("info", "scan",
                    f"{fmt} scan: {width} columns read, "
                    f"pushed filters: {'yes' if pushed else 'none'}")
        )

    order = {"error": 0, "warn": 1, "info": 2}
    findings.sort(key=lambda f: order[f.severity])
    return findings


_CAST_DEC = re.compile(r'cast\("decimal|AS DECIMAL\(\d', re.I)
# Non-exact-double producers: one libm/sqrt output inside a decimal
# cast's neighborhood means the cast is rounding an irrational value
# under the engine's own rule (divergence class 6, SCALE.md).
_RISK = re.compile(
    r"\bsqrt\b|\bln\(|\blog\b|\blog2\b|\blog10\b|\bexp\(|\bpow\b"
    r"|F\.pow|\bF\.exp\b|\bcbrt\b|\batan2?\b|\basin\b|\bacos\b",
    re.I,
)
# stable_round_sql's expansion fingerprint (some oracles interpolate the
# helper, whose output text carries the guard + floor formula instead
# of the helper's name). Matched on the CAST LINE ITSELF, not the
# neighborhood: the expansion always wraps the casted expression, so it
# shares the line; a window match would let a genuinely naked cast
# adjacent to a protected site share its window and slip through
# (advisor r9 false-negative finding). ±2 lines, not the cast line
# alone: the expansion is one very long line (or a short wrapped SQL
# literal) and the closing ``AS DECIMAL(p,s))`` lands a line or two
# below the guard. The contiguous guard text is used rather than three
# loose substrings for the same reason.
_EXPANDED_GUARD = "IS NULL OR isnan("


def lint_decimal_casts(
    package_root: str, *, window: int = 4
) -> list[Finding]:
    """Source-level lint for divergence class 6 (SCALE.md): every
    ``cast("decimal`` / ``AS DECIMAL(`` site whose ±``window``-line
    neighborhood contains a non-exact-double producer (sqrt / ln / log /
    exp / pow / ...) must also contain ``stable_round`` (the helper
    name, its ``_sql`` twin, or the expanded guard+floor fingerprint)
    or an explicit ``decimal-exempt:`` marker comment. Exact operands
    (integer counts, 2dp cents cast with scale margin, already-decimal
    values) carry no risk token and are not flagged.

    Six cross-engine float-divergence classes were each found LIVE at a
    new scale factor; this makes the raw-irrational-cast class (the
    sixth — five latent sites fixed in one audit) impossible to commit
    unnoticed. Regression fixtures: tests/test_decimal_cast_lint.py.
    """
    import glob as _glob
    import os as _os

    findings: list[Finding] = []
    for path in sorted(
        _glob.glob(_os.path.join(package_root, "**", "*.py"), recursive=True)
    ):
        lines = open(path).read().splitlines()
        for i, ln in enumerate(lines):
            if not _CAST_DEC.search(ln):
                continue
            neigh = "\n".join(lines[max(0, i - window) : i + window + 1])
            if "stable_round" in neigh or "decimal-exempt:" in neigh:
                continue
            if _EXPANDED_GUARD in "\n".join(lines[max(0, i - 2) : i + 3]):
                continue
            if _RISK.search(neigh):
                findings.append(
                    Finding(
                        "error",
                        "raw-irrational-decimal-cast",
                        f"{_os.path.relpath(path, package_root)}:{i + 1}: "
                        f"decimal cast near a libm/sqrt producer without "
                        f"stable_round (class 6): {ln.strip()[:80]}",
                    )
                )
    return findings


# A parenthesized expression cast to a SCALED decimal. Scale >= 1 is the
# hazard: Spark computes the inner product at the operands' natural
# widths first, and a decimal(p1,s1)*decimal(p2,s2) whose result
# precision exceeds 38 gets its SCALE silently narrowed
# (precision-loss rounding) BEFORE the outer cast can ask for more —
# e.g. decimal(19,6) squared lands at decimal(38,11), so a
# .cast("decimal(38,12)") of it re-widens an already-rounded value.
# DuckDB's DECIMAL products are exact, so the two engines diverge on
# exactly the values whose 12th decimal digit is nonzero (advisor r9,
# ext_brier_decomp / ext_levene). Scale-0 targets are exempt: integer
# products either fit precision 38 exactly or keep scale 0 under
# adjustment — no hidden rounding.
_CAST_SCALED_DEC = re.compile(r'\)\s*\.cast\(\s*["\']decimal\(\d+,\s*[1-9]')


def lint_product_decimal_casts(
    package_root: str, *, join_lines: int = 12
) -> list[Finding]:
    """Source-level lint for the product-then-cast decimal hazard
    (divergence class 7, SCALE.md round 10): flag every Spark-side
    ``(<expr with *>).cast("decimal(p, s>=1)")`` site. The fix is to
    narrow the OPERANDS before multiplying (so the product type is
    exact), never to cast the product — e.g. ``diff.cast("decimal(8,6)")
    * diff.cast("decimal(8,6)")`` is decimal(17,12), exact. Groups
    containing ``stable_round`` are exempt: those are DOUBLE
    expressions quantized to n dp first, so the decimal cast of the
    quantized value is exact regardless of what the double math did.
    Other deliberate sites carry a ``product-exempt:`` marker comment
    within ±2 lines.
    Oracle-side SQL is not linted: DuckDB decimal products are exact
    (it errors on width overflow rather than narrowing), so the class
    is one-sided. Regression fixtures: tests/test_decimal_cast_lint.py.
    """
    import glob as _glob
    import os as _os

    findings: list[Finding] = []
    for path in sorted(
        _glob.glob(_os.path.join(package_root, "**", "*.py"), recursive=True)
    ):
        lines = open(path).read().splitlines()
        for i, ln in enumerate(lines):
            m = _CAST_SCALED_DEC.search(ln)
            if m is None:
                continue
            if "product-exempt:" in "\n".join(
                lines[max(0, i - 2) : i + 3]
            ):
                continue
            # Walk back from the ')' preceding .cast to its matching
            # '(' — joining up to `join_lines` preceding lines for
            # multi-line expressions — and test the group for '*'.
            text = "\n".join(lines[max(0, i - join_lines) : i]) + (
                "\n" if i else ""
            ) + ln
            close = len(text) - (len(ln) - m.start())
            depth, j = 0, close
            while j >= 0:
                if text[j] == ")":
                    depth += 1
                elif text[j] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            group = text[j + 1 : close] if j >= 0 else text[:close]
            # The group is exempt when it IS stable_round's argument
            # list (identifier directly before the open paren) or when
            # the quantizer is applied somewhere inside it.
            quantized = "stable_round" in group or (
                j >= 0 and text[:j].rstrip().endswith("stable_round")
            )
            if "*" in group and not quantized:
                findings.append(
                    Finding(
                        "error",
                        "product-scaled-decimal-cast",
                        f"{_os.path.relpath(path, package_root)}:{i + 1}: "
                        f"product cast to scaled decimal — Spark narrows "
                        f"the product scale BEFORE the cast (class 7); "
                        f"narrow the operands instead: {ln.strip()[:80]}",
                    )
                )
    return findings


def assert_clean(df: DataFrame, *, max_exchanges: int | None = None) -> list[Finding]:
    """Raise if the plan has any error-severity finding; returns all
    findings otherwise (the CI-gate form of ``lint_plan``)."""
    findings = lint_plan(df, max_exchanges=max_exchanges)
    errors = [f for f in findings if f.severity == "error"]
    if errors:
        raise AssertionError(
            "plan lint failed: " + "; ".join(str(e) for e in errors)
        )
    return findings


# ---------------------------------------------------------------------------
# BroadcastNestedLoopJoin adjudication (round 10; VERDICT r9 ask #4).
# ``lint_plan`` warns on every bnl-join because the shape is quadratic
# in the probe side when the broadcast side grows with the corpus; a
# warning is only acceptable when the broadcast side is PROVABLY
# bounded. Through round 9 each round's warnings were adjudicated by
# hand in SCALE.md — this dict makes the adjudication machine-checked:
# tests/test_plan_lint.py::test_registry_bnl_joins_are_adjudicated
# fails when any registered query's plan contains a bnl-join that is
# not listed here (a NEW unadjudicated bnl-join cannot ship), and when
# a listed query no longer produces one (stale entries cannot
# accumulate). Every value states WHY the broadcast side is bounded —
# the four recurring shapes:
#   scalar-fold   crossJoin(broadcast(<single-row aggregate>)) — totals,
#                 medians, grand means folded onto a bounded frame.
#   grid          a value-domain- or calendar-bounded frame (quantized
#                 score histogram, daily calendar, <= K bins/cells)
#                 joined non-equi; size is corpus-INDEPENDENT.
#   probe-capped  the deliberately-exact ANN/eval baseline: probe set
#                 capped at PROBE_CAP_ID/PROBE_MODULUS = 1000 rows
#                 (operators/similarity.py), so the nested loop is
#                 O(1000 x N) — linear total work.
#   scalar-subq   relational scalar-subquery shape (TPC-H Q17/Q22
#                 style): Spark plans the single-row subquery result as
#                 a bnl broadcast.
BNL_ALLOWLIST: dict[str, str] = {
    # -- relational scalar-subquery shapes
    "idle_rich_customers": "scalar-subq: single-row AVG(acctbal) broadcast",
    "important_parts": "scalar-subq: single-row avg-quantity broadcast",
    # -- probe-capped exact-eval baselines (ANN / retrieval eval)
    "ext_cosine_topk": "probe-capped: exact brute-force baseline",
    "ext_pq_ann": "probe-capped: exact re-rank over capped probes",
    "ext_hard_negatives": "probe-capped: exact neighbor baseline",
    "ext_matryoshka_recall": "probe-capped: exact baseline per dim prefix",
    "ext_ndcg": "probe-capped: exact baseline inside label join",
    "ext_knn_label_agreement": "probe-capped: exact kNN baseline",
    # -- single-row scalar folds onto bounded frames
    "ext_skew_profile": "scalar-fold: single-row moment totals",
    "ext_lm_score": "scalar-fold: single-row vocab/corpus totals",
    "ext_label_balance": "scalar-fold: single-row corpus total",
    "ext_heavy_hitters": "scalar-fold: single-row total onto <= k sketch rows",
    "ext_welch_ttest": "scalar-fold: two single-row group moments",
    "ext_kmins_distinct": "scalar-fold: single-row k-th-min fold",
    "ext_benford_digits": "scalar-fold: single-row total onto 9 digit rows",
    "ext_acf": "scalar-fold: mean/variance onto calendar-bounded lags",
    "ext_burstiness": "scalar-fold: single-row moments",
    "ext_cliffs_delta": "scalar-fold: totals onto |groups|-row frame (r9 audit)",
    "ext_mann_whitney": "scalar-fold: tie terms onto |groups|-row frame (r9 audit)",
    "ext_brier_decomp": "scalar-fold: totals onto <= 10-bin frame (r9 audit)",
    "ext_runs_test": "scalar-fold: median onto calendar-bounded days (r9 audit)",
    "ext_hill_tail": "scalar-fold: single-row k/threshold fold",
    "ext_gpd_tail": "scalar-fold: single-row threshold moments",
    "ext_cohens_kappa": "scalar-fold: single-row marginals",
    "ext_chi2_independence": "scalar-fold: totals onto <= |cells| contingency",
    "ext_mutual_information": "scalar-fold: totals onto <= |cells| contingency",
    "ext_jensen_shannon": "scalar-fold: totals onto bounded score grid",
    "ext_mixture_kl": "scalar-fold: totals onto bounded score grid",
    "ext_psi_drift": "grid: |sources| x 10 PSI bin grid (r8 audit)",
    "ext_tdigest_panel": "grid: delta/|qs|-row rank lookups onto bounded centroid rows (r8 audit shapes, merged r11)",
    "ext_kendall_tau": "grid: <= 300-cell contingency pair join (r9 audit)",
    "ext_theil_sen": "grid: calendar-bounded daily pair join (r9 audit)",
    "ext_mann_kendall": "grid: calendar-bounded daily pair frame (r8 audit)",
    "ext_seasonal_decompose": "grid: 7-row DOW means + totals (r9 audit)",
    "ext_token_lorenz": "grid: 10 x |values| decile-to-block join (r9 audit)",
    "ext_class_separation": "scalar-fold: broadcast centroids (bounded classes)",
    # -- round-10 k-sample / distribution-distance panel (r10 audit)
    "ext_kruskal_wallis": "scalar-fold: total + tie term onto |sources|-row frame",
    "ext_mood_median": "scalar-fold: grand median + totals onto |sources|-row frame",
    "ext_cramers_v": "scalar-fold: totals onto <= 200-cell contingency",
    "ext_hellinger": "scalar-fold: corpus total onto |langs| x 10 bin grid",
    "ext_jonckheere": "grid: |values| x <= 6 ordered-bucket dense frame + moment folds",
    "ext_wasserstein": "grid: |langs| x |values| dense CDF grid + totals fold",
    "ext_hodges_lehmann": "grid: calendar-bounded weekend x weekday pair frame",
    "ext_siegel_slopes": "grid: calendar-bounded daily pair join (Theil-Sen shape)",
    "ext_friedman": "scalar-fold: |types| count + moment folds onto calendar frame",
    # -- round-10 batch 2: event-sequence analytics (r10 audit)
    "ext_funnel": "scalar-fold: three single-row step counts crossJoined",
    "ext_attribution": "scalar-fold: single-row revenue total onto |types| rows",
    "ext_rfm_segments": "scalar-fold: 1-row max-date + 1-row quartile frames onto per-customer frame",
    "ext_cuped": "scalar-fold: 1-row date-range frame onto the orders scan",
    "ext_permutation_test": "scalar-fold: 1-row observed-stat frame onto the 64-row permutation fold",
    # -- round-11 batch 1: event-history / time-series panel (r11 audit)
    "ext_survival_curve": "scalar-fold: 1-row corpus-horizon frame onto the per-user lifetime frame",
    "ext_inter_arrival": "scalar-fold: 1-row totals onto the <= 64-bucket gap histogram",
    "ext_binseg_changepoint": "scalar-fold: 1-row moment totals onto the calendar-bounded daily frame",
    "ext_ljung_box": "scalar-fold: 1-row denominator onto the <= 7-lag frame",
    "ext_session_paths": "scalar-fold: 1-row session total onto the bounded path frame",
    # -- round-11 batch 3: curation / concentration panel (r11 audit)
    "ext_negative_sampling": "scalar-fold: 1-row weight total onto the vocab frame",
    # -- sampling / weighting: single-row or |sources|-row weight folds
    "ext_mixture_sample": "scalar-fold: |sources|-row weight frame",
    "ext_curriculum_sample": "scalar-fold: stage thresholds (single row)",
    "ext_doremi_weights": "scalar-fold: |sources|-row reference/weight frame",
    "ext_dsir_sample": "scalar-fold: single-row totals onto hashed-ngram LLR",
    # -- text/retrieval statistics on bounded substrates
    "ext_bigram_lm": "scalar-fold: single-row vocab totals",
    "ext_lsh_tuning": "grid: (band, row) parameter grid (bounded)",
    "ext_lsh_recall": "scalar-fold: single-row truth-set total",
    "ext_bm25_topk": "scalar-fold: single-row corpus stats (N, avgdl)",
    "ext_rrf_fusion": "scalar-fold: single-row corpus stats into BM25 leg",
    "ext_frequent_pairs": "scalar-fold: single-row basket total",
    "ext_pmi_collocations": "scalar-fold: single-row token total",
    # -- round-12 additions (r12 audit)
    "ext_pacf": "scalar-fold: ext_acf's den fold + the ONE-row pivoted "
    "rho frame the Durbin-Levinson recursion runs on",
    "ext_anova_two_way": "scalar-fold: three single-row moment frames "
    "(grand, lang-marginal, source-marginal) crossJoined",
    # -- round-13 queries
    "binseg2_changepoint": "grid: calendar-bounded (t1 < t2) prefix-pair "
    "frame (D^2/2 control-plane pairs, the Mann-Kendall bounded-BNL "
    "shape) + a single-row total fold",
    "fdr_bh_panel": "scalar-fold: single-row corpus moments onto the "
    "|sources|-row z frame",
}
