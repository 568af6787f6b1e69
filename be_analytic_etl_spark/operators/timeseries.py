"""Time-series regularization: gap-filling a sparse series onto a dense
per-key spine with forward-fill.

Training pipelines and metric stores both need "one row per (key, period)
even when nothing happened" — e.g. daily activity series per user where
silent days carry the last observation forward. Spark has no built-in
gap-fill; the idiomatic shape is:

1. per-key bounds (one groupBy -> one tiny row per key),
2. dense spine via ``sequence(min, max, interval)`` + ``explode`` —
   generated distributed, linear in output size, never materialized on
   the driver,
3. left join of actuals onto the spine on (key, period),
4. forward fill with ``last(col, ignorenulls=True)`` over the key's
   time order.

Scale: the spine join and the fill window shuffle on the key — same
partitioning, and AQE coalesces the two exchanges; per-key state in the
window is one row. Nothing here is proportional to the gap count on the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gapfill(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_cols: list[str],
    step: str = "1 day",
    mark_observed: str | None = "is_observed",
    clamp_bounds: tuple | None = None,
) -> DataFrame:
    """Densify ``df`` (one row per (keys, ts_col) — pre-aggregate upstream)
    onto a regular spine from each key's min to max ``ts_col`` with
    ``step`` spacing, forward-filling ``value_cols``.

    ``mark_observed`` names a boolean column flagging real vs synthesized
    rows (None to omit).

    ``clamp_bounds=(lo, hi)`` is the timestamp-pathology guard: the spine is
    ``sequence(min, max)`` PER KEY, so a single parser-drifted row — an
    epoch-zero default or a far-future overflow — stretches that key's
    spine by decades (~20k synthesized rows per poisoned key for an
    epoch-zero date, ~2.9M for a year-9999 one; at 10^8 keys with drift
    that is a corpus-dwarfing explosion). With clamp set, rows outside
    [lo, hi) are DROPPED before bounds and spine — drifted timestamps
    are upstream poison, not data — so every key's spine stays inside
    the declared calendar window. Opt-in and default-off: the registered
    ext_gapfill query keeps the unclamped oracle-paired semantics;
    pinned equal to the clean-corpus result on a poisoned corpus by
    tests/test_timeseries.py::
    test_gapfill_clamp_bounds_neutralizes_drifted_timestamps.
    """
    from pyspark.sql import Window

    if clamp_bounds is not None:
        lo, hi = clamp_bounds
        df = df.filter(
            (F.col(ts_col) >= F.lit(lo)) & (F.col(ts_col) < F.lit(hi))
        )
    bounds = df.groupBy(*keys).agg(
        F.min(ts_col).alias("__mn"), F.max(ts_col).alias("__mx")
    )
    spine = bounds.select(
        *keys,
        F.explode(
            F.sequence("__mn", "__mx", F.expr(f"INTERVAL {step}"))
        ).alias(ts_col),
    )
    actual = df.withColumn("__obs", F.lit(True))
    joined = spine.join(actual, [*keys, ts_col], "left")

    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = joined.select(
        *keys,
        ts_col,
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols],
        F.coalesce("__obs", F.lit(False)).alias(mark_observed or "__obs"),
    )
    if mark_observed is None:
        out = out.drop("__obs")
    return out


def ewma_last(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Final exponentially-weighted moving average per key:
    ``s_1 = x_1;  s_t = alpha * x_t + (1 - alpha) * s_{t-1}``, folded in
    event order.

    EWMA's recurrence cannot be expressed as a window aggregate (each
    step rescales all previous history), so the idiomatic Spark shape is
    an ordered sequence fold per key: collect the key's ordered values
    (``array_sort`` over (order_cols..., value) structs — total order ⇒
    deterministic), then ``aggregate`` folds them JVM-side. The closed
    form ``α·Σ(1-α)^(t-i)·x_i`` would avoid the fold but overflows
    ``(1-α)^-t`` for long histories — the fold is numerically the right
    shape. The identical left-fold IEEE sequence is replayed by DuckDB's
    ``list_reduce`` (which also seeds with the first element), so results
    are bit-identical cross-engine.

    Scale: ONE shuffle on the key; per-key state is that key's value
    array (events-per-key bounded — same envelope as any per-key
    sessionization). For unbounded histories, pre-aggregate per coarse
    time bucket first.

    Returns ``(key_col, n_events, ewma)``.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    order_struct = F.struct(
        *[F.col(c) for c in order_cols], F.col(value_col).alias("__v")
    )
    per_key = df.groupBy(key_col).agg(
        F.array_sort(F.collect_list(order_struct)).alias("__evs")
    )
    vals = F.transform(F.col("__evs"), lambda s: s["__v"].cast("double"))
    fold = F.aggregate(
        F.expr("slice(__vals, 2, greatest(size(__vals) - 1, 0))"),
        F.element_at(F.col("__vals"), 1),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    return (
        per_key.withColumn("__vals", vals)
        .select(
            key_col,
            F.size("__vals").alias("n_events"),
            fold.alias("ewma"),
        )
    )


def ewma_sql_twin(
    table: str,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.3,
) -> str:
    """DuckDB twin of :func:`ewma_last` — generated beside the operator so
    the fold expressions cannot drift. ``list_reduce`` seeds with the
    first list element, matching the ``s_1 = x_1`` initialization."""
    # bare float literals parse as DECIMAL in DuckDB; force doubles so the
    # fold multiplies double*double exactly like Spark's codegen
    a = f"CAST({alpha!r} AS DOUBLE)"
    b = f"CAST({1.0 - alpha!r} AS DOUBLE)"
    order = ", ".join(order_cols)
    return f"""
    SELECT {key_col},
           CAST(len(list({value_col})) AS INT) AS n_events,
           list_reduce(list(CAST({value_col} AS DOUBLE) ORDER BY {order}),
                       (acc, x) -> {a} * x + {b} * acc) AS ewma
    FROM {table}
    GROUP BY {key_col}
    """


# ---------------------------------------------------------------------------
# CUSUM changepoint detection (Page, "Continuous inspection schemes",
# Biometrika 1954; the offline max-|CUSUM| single-changepoint locator).


def cusum_changepoint(
    df: DataFrame, ts_col: str, cents_col: str
) -> DataFrame:
    """Single-changepoint scan over the daily series of an exact-cents
    column: one row (cp_day, n_days, t_at_peak, cusum_peak, mean_before,
    mean_after, mean_shift).

    CUSUM S_t = sum_{i<=t} (x_i - mean) peaks where the series' level
    shifts; argmax_t |S_t| is the classic single-changepoint estimate.
    The mean makes S_t inexact, so the scan maximizes the SCALED form
    S'_t = n * cumsum_t - t * total (= n * S_t) instead — pure BIGINT
    arithmetic over exact cents, so the argmax (ties -> earliest day)
    is integer-exact on any engine. Only the emitted diagnostics divide:
    cusum_peak = S'/(n*100) (the plain CUSUM in currency units) and the
    before/after means — each a single IEEE division of exact integers.

    Scale: the corpus collapses to per-day cents in ONE
    partial-aggregated groupBy; the cumulative window and the argmax run
    on the bounded calendar frame (<= days in the time domain,
    independent of row count — the roc_auc bounded-frame discipline).
    Magnitude guard: n_days * total_cents must stay < 2^63 — at
    10^4 days x 10^14 daily cents that bound is respected with margin.
    """
    from pyspark.sql import Window

    daily = (
        df.filter(F.col(ts_col).isNotNull() & F.col(cents_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.sum(cents_col).cast("long").alias("__c"))
    )
    w_ord = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = daily.select(
        "day",
        F.sum("__c").over(w_ord).cast("long").alias("__cum"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("__t"),
        F.sum("__c").over(w_all).cast("long").alias("__tot"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("__n"),
    )
    s = F.col("__n") * F.col("__cum") - F.col("__t") * F.col("__tot")
    peak = (
        cum.select("day", "__cum", "__t", "__tot", "__n", s.alias("__s"))
        .orderBy(F.abs(F.col("__s")).desc(), F.col("day").asc())
        .limit(1)
    )
    before = F.col("__cum").cast("double") / (F.col("__t") * 100).cast("double")
    after = (F.col("__tot") - F.col("__cum")).cast("double") / (
        (F.col("__n") - F.col("__t")) * 100
    ).cast("double")
    return peak.select(
        F.col("day").alias("cp_day"),
        F.col("__n").alias("n_days"),
        F.col("__t").alias("t_at_peak"),
        (
            F.col("__s").cast("double") / (F.col("__n") * 100).cast("double")
        ).alias("cusum_peak"),
        before.alias("mean_before"),
        F.when(F.col("__t") < F.col("__n"), after).alias("mean_after"),
        F.when(F.col("__t") < F.col("__n"), after - before).alias(
            "mean_shift"
        ),
    )


def cusum_changepoint_sql(day_cents_rows: str) -> str:
    """DuckDB twin of ``cusum_changepoint``: ``day_cents_rows`` yields
    (day, cents) rows (pre-cast: day DATE, cents BIGINT)."""
    return f"""
    cu_d AS (
        SELECT day, CAST(SUM(cents) AS BIGINT) AS __c
        FROM ({day_cents_rows})
        WHERE day IS NOT NULL AND cents IS NOT NULL GROUP BY 1
    ), cu_c AS (
        SELECT day,
               CAST(SUM(__c) OVER (ORDER BY day) AS BIGINT) AS __cum,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS __t,
               CAST(SUM(__c) OVER () AS BIGINT) AS __tot,
               CAST(COUNT(*) OVER () AS BIGINT) AS __n
        FROM cu_d
    ), cu_p AS (
        SELECT *, __n * __cum - __t * __tot AS __s
        FROM cu_c
        ORDER BY ABS(__n * __cum - __t * __tot) DESC, day ASC LIMIT 1
    )
    SELECT day AS cp_day, __n AS n_days, __t AS t_at_peak,
           CAST(__s AS DOUBLE) / CAST(__n * 100 AS DOUBLE) AS cusum_peak,
           CAST(__cum AS DOUBLE) / CAST(__t * 100 AS DOUBLE) AS mean_before,
           CASE WHEN __t < __n
                THEN CAST(__tot - __cum AS DOUBLE)
                     / CAST((__n - __t) * 100 AS DOUBLE) END AS mean_after,
           CASE WHEN __t < __n
                THEN CAST(__tot - __cum AS DOUBLE)
                     / CAST((__n - __t) * 100 AS DOUBLE)
                     - CAST(__cum AS DOUBLE) / CAST(__t * 100 AS DOUBLE)
                END AS mean_shift
    FROM cu_p
    """
