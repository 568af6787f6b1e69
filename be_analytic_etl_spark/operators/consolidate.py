"""Consolidation: union-by-name, distinct, final schema, dense ids.

Reference behavior being matched (file:line):
- union of per-file frames with name alignment + null fill:
  ``pd.concat(ignore_index=True)`` — ``/root/reference/main.py:627-644``;
- exact-duplicate removal: ``drop_duplicates`` — ``main.py:646-647``;
- final snake_case schema (note the rename trap: VARIAVEL -> servico,
  SERVICO -> tipo_servico) — ``main.py:672-692``;
- dense sequential id 1..N as first column — ``main.py:694-696``;
- canonical column order — ``main.py:698-704``.

Scale design — dense ids (SURVEY §7.4.2): ``row_number`` over a global
window is exact but single-partition. ``add_dense_id`` instead computes
per-partition counts (one tiny job), cumulative offsets on the driver
(|partitions| integers), and a map-only id projection from the
monotonic-id local counter — fully parallel, genuinely shuffle-free, with
the input persisted so both passes see one partitioning. With
``order_cols`` it first ``repartitionByRange + sortWithinPartitions`` so
the dense id follows the global sort order (range partitioning gives
globally ordered partitions).

Small-input path: when Spark estimates the union within
``spark.sql.autoBroadcastJoinThreshold`` (``session.fits_one_task``),
``consolidate`` coalesces it to one partition before ``dropDuplicates`` and
``finalize`` sorts that partition and numbers it with
``monotonically_increasing_id() + 1``: no exchange, no range sample, no
persist and no count job, so consolidate+finalize builds with zero Spark
jobs. Setting the threshold to ``-1`` restores the distributed plan above.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from be_analytic_etl_spark.session import fits_one_task, single_task_if_small

#: Final rename map (main.py:673-692). VARIAVEL becomes *servico* (the
#: indicator name) and the file-level SERVICO tag becomes *tipo_servico*.
FINAL_RENAMES = {
    "GRUPO_ECONOMICO": "grupo_economico",
    "VARIAVEL": "servico",
    "REFERENCIA_MES": "mes_referencia",
    "VALOR": "valor",
    "SERVICO": "tipo_servico",
}

PREFERRED_ORDER = ["id", "grupo_economico", "servico", "mes_referencia", "valor", "tipo_servico"]


def union_by_name(dfs: list[DataFrame]) -> DataFrame:
    """R5: pandas-concat twin — align on names, null-fill missing columns."""
    if not dfs:
        raise ValueError("union_by_name: empty input list")
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def consolidate(dfs: list[DataFrame]) -> DataFrame:
    """R5+R6: union then exact-duplicate removal (one shuffle on all cols,
    none when the union is small enough for one task)."""
    return single_task_if_small(union_by_name(dfs)).dropDuplicates()


def add_dense_id(
    df: DataFrame, order_cols: list[str] | None = None, id_col: str = "id"
) -> DataFrame:
    """Dense 1..N id without a single-partition bottleneck or a data shuffle.

    The id pass is MAP-ONLY: ``monotonically_increasing_id`` is
    ``(partition_id << 33) + local_row_number`` with a consecutive 0-based
    local counter, so ``id = mid + adjust[pid]`` where
    ``adjust[pid] = global_offset[pid] - (pid << 33) + 1`` folds the bit
    layout and the cumulative offset into one broadcast-literal map lookup.
    No window, no Exchange — the earlier design's
    ``Window.partitionBy(__pid)`` was itself a full hash shuffle of the
    data.

    Two jobs run: (1) per-partition counts (shuffles only |partitions|
    partial-count rows), (2) the map-only id projection. The input is
    persisted (MEMORY_AND_DISK) so both jobs observe the SAME partitioning —
    ``repartitionByRange`` samples its range boundaries, and an unpersisted
    recomputation (shuffle fetch order, speculative tasks) could repartition
    rows between the passes. The cached blocks are released automatically on
    GC; call ``df.sparkSession.catalog.clearCache()`` for eager cleanup.

    With ``order_cols``, rows are range-partitioned and sorted first, so
    ids follow the global sort order (range partitions are non-overlapping
    and ordered). Per-partition row counts are bounded by 2^33 (the
    monotonic-id local counter width).
    """
    if order_cols:
        df = df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)

    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    stamped = df.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    counts = {
        r["__pid"]: r["cnt"]
        for r in stamped.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    adjust, acc = {}, 0
    for pid in sorted(counts):
        adjust[pid] = acc - (pid << 33) + 1
        acc += counts[pid]

    if not adjust:
        # EMPTY input: no partitions reported counts, and `map()[pid]`
        # would not even type-check (NULL-typed empty map). The id
        # projection runs over zero rows anyway — a NULL literal keeps
        # the schema (long) and the plan valid.
        adjust_map = F.create_map().cast("map<int,long>")
    else:
        adjust_map = F.create_map(
            *[x for pid, a in adjust.items() for x in (F.lit(pid), F.lit(a).cast("long"))]
        )
    return (
        stamped.withColumn(
            id_col, (adjust_map[F.col("__pid")] + F.col("__mid")).cast("long")
        )
        .drop("__pid", "__mid")
    )


def finalize(df: DataFrame) -> DataFrame:
    """P13-P15: final snake_case schema, id column, canonical order.

    Renames happen in ONE positional select — sequential renaming would
    collide case-insensitively (VARIAVEL->servico then SERVICO->tipo_servico
    would see two 'servico' columns).

    A dense id over an input that fits one task is the sorted partition's
    row number (``monotonically_increasing_id`` counts from 0 in partition
    0); a larger input takes ``add_dense_id``.
    """
    out = df.select(*[F.col(c).alias(FINAL_RENAMES.get(c, c)) for c in df.columns])
    order_cols = [c for c in ("tipo_servico", "grupo_economico", "servico", "mes_referencia") if c in out.columns]
    if fits_one_task(out):
        out = out.coalesce(1)
        if order_cols:
            out = out.sortWithinPartitions(*order_cols)
        out = out.withColumn("id", F.monotonically_increasing_id() + 1)
    else:
        out = add_dense_id(out, order_cols=order_cols or None)
    ordered = [c for c in PREFERRED_ORDER if c in out.columns]
    extras = [c for c in out.columns if c not in ordered]
    return out.select(*ordered, *extras)
