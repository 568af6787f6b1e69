"""SparkSession factory with scale-oriented defaults.

The reference runs single-process/single-thread pandas
(``/root/reference/main.py:630-637``); this engine instead assumes a real
cluster. Defaults below are chosen so the same code runs unchanged on
``local[*]`` for tests and on a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting);
- auto broadcast threshold left at Spark's default so small dims
  (region/nation at any SF) broadcast instead of shuffling;
- UTC session timezone so date semantics match the DuckDB oracle;
- ANSI off: casts/parses return NULL on malformed input, matching the
  reference's ``errors='coerce'`` semantics
  (``/root/reference/main.py:521-525``);
- driver heap sized from the memory the process can use (``driver_memory``),
  not a fixed figure larger than small hosts;
- small inputs run in one task (``single_task_if_small``): an input Spark
  estimates within the broadcast threshold is coalesced to one partition,
  so its aggregates, windows and sorts plan no exchange.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# Shuffle partitions: with AQE coalescing enabled this is an upper bound,
# not a fixed cost — safe to set high for cluster runs. Tests override to
# the local core count via SPARK_GRAFT_CPUS.
_DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Ceiling of the derived driver heap, in MiB.
_MAX_DRIVER_MEM_MB = 24 * 1024


def driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM`` when set, else
    half the memory this process can use, capped at 24g.

    In local mode the driver JVM also hosts the executors, and the
    Python driver and workers need the rest. The usable memory is the
    cgroup limit (v2 ``memory.max``, v1 ``memory.limit_in_bytes``) when
    one is set, else ``MemAvailable``; when neither can be read, the cap.
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    usable = _usable_memory_bytes()
    if usable is None:
        return f"{_MAX_DRIVER_MEM_MB}m"
    return f"{max(512, min(_MAX_DRIVER_MEM_MB, usable // 2 // 2**20))}m"


def _usable_memory_bytes() -> int | None:
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        # "max" (v2) or a near-2^63 page-rounded value (v1) means no limit
        if raw.isdigit() and int(raw) < 2**60:
            return int(raw)
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def get_spark(app_name: str = "be-analytic-etl-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    master is configured — production deployments pass their own master or
    rely on spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Python workers (pandas UDFs / mapInPandas) import this package by
    # reference; they inherit PYTHONPATH, not the driver's sys.path — make
    # sure the package root is importable no matter where the driver runs.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE partition-coalescing knobs at Spark's own defaults. MEASURED
        # in the r13 optimization round
        # (OPTIMIZATION_r13.md): parallelismFirst=false + 64m advisory —
        # the guide-§2.2 "fewer, larger reduce partitions" move — was
        # tried and REJECTED on this workload: full-suite bench went
        # 274.0 s -> 344.3 s (194 of 279 queries slower, median +0.14 s)
        # because the corpus operators are compute-dense per byte
        # (md5 shingles, exploded pair joins) — a KB-sized shuffle still
        # carries a core's worth of downstream CPU, and byte-based
        # coalescing serialized it onto one task. On a real cluster with
        # TB-sized shuffles the byte heuristic is the right one; both are
        # runtime SQL confs, so ``spark.conf.set`` flips them there —
        # locally parallelism-first stays correct because every stage's
        # bytes are far below one advisory chunk.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(_DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        # Arrow for the few pandas-interop paths (ODS bridge, pandas UDFs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        # Long-lived sessions run many queries back-to-back (bench, driver
        # rounds): the UI status store retains per-execution metrics and the
        # heap fills over a suite, degrading the tail. Headless engine — no
        # UI — and a periodic context GC to release py4j-held references.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ui.retainedExecutions", "4")
        .config("spark.cleaner.periodicGC.interval", "1min")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_MASTER"])
    else:
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def fits_one_task(df: DataFrame) -> bool:
    """Whether Spark's size estimate of ``df`` is within
    ``spark.sql.autoBroadcastJoinThreshold``.

    The estimate is the optimized plan's ``sizeInBytes``, the figure the
    planner itself compares with the threshold before it broadcasts a join
    side: what Spark would ship whole to every task is small enough to
    process in one. A non-positive threshold (``-1``) answers False for
    every input, so the distributed plans come back everywhere."""
    threshold = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return threshold > 0 and df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() <= threshold


def single_task_if_small(df: DataFrame) -> DataFrame:
    """``df.coalesce(1)`` when ``fits_one_task(df)``, else ``df``.

    One partition satisfies every clustered or ordered distribution, so
    the aggregates, windows and sorts above it plan no exchange, no range
    sample and no extra job: for a small input the driver's per-job cost
    outweighs whatever the spread would save."""
    return df.coalesce(1) if fits_one_task(df) else df


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of RDDs currently holding cached blocks (includes DataFrame
    persists and localCheckpoint storage)."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@contextmanager
def cached_scope(spark: SparkSession):
    """Eagerly release every persist created inside the block.

    Several operators persist intermediates that a single consumption
    can't avoid recomputing (LSH banded tables, shingle sets, dense-id
    inputs, CC frontiers). Per-query that's fine — blocks release on plan
    GC — but a long-lived session (bench loop, notebook, driver round)
    accumulates them. Wrap the *produce-and-consume* of one query:

        with cached_scope(spark):
            pairs = minhash_lsh_pairs(docs, "text", "doc_id")
            pairs.write.parquet(out)          # consume INSIDE the block

    On exit, any RDD persisted during the block (and not persisted before
    it) is unpersisted — pre-existing caches are untouched. This INCLUDES
    ``localCheckpoint`` storage created inside the block (the eager
    checkpoints in the t-digest/DSIR/heavy-hitter builders are otherwise
    exempt from every cleanup path, so a long-lived session — a bench
    loop, a notebook — accumulates unreleasable blocks run over run).

    A checkpointed plan's lineage is truncated, so its frame is NOT
    recomputable after release: any action after the scope on a frame
    that was ``localCheckpoint``-ed inside it raises
    ``[CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND] Checkpoint block ... not found``
    (Spark 4.1). Hence the contract: produce AND consume the result
    inside the block.
    """
    before = persistent_rdd_ids(spark)
    try:
        yield
    finally:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for k in list(jmap.keySet()):
            if int(k) in before:
                continue
            jmap.get(k).unpersist(False)
