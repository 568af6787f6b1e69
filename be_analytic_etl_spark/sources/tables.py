"""Parquet table loader for the star-schema test tables.

Handles one physical-format quirk: ``events.parquet`` stores ``ts`` as
INT64 TIMESTAMP(NANOS), which Spark 4 rejects by default
(PARQUET_TYPE_ILLEGAL). We read nanos as long via the legacy conf and
convert to a microsecond TimestampType with integer division (truncation —
the same conversion DuckDB applies when casting TIMESTAMP_NS to
TIMESTAMP, so both engines see identical microsecond values).
"""

from __future__ import annotations

import math
import os
import re
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: Lazy-plan memo: (applicationId, sf_dir, name, spread, files) -> DataFrame.
#: A DataFrame is an analyzed LOGICAL PLAN, not data — reusing it skips
#: the per-call file listing + parquet footer/schema read + plan
#: (re)analysis that every ``spark.read.parquet`` pays on the driver
#: (optimization guide §7.3: driver metadata work). No results or blocks
#: are cached; every action on the memoized frame still recomputes from
#: the parquet files. Keyed by applicationId so a restarted session
#: never sees another JVM's plan objects, and by ``_table_files`` so a
#: rewritten file invalidates the entry.
_TABLE_MEMO: dict[tuple, DataFrame] = {}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, spread: bool = False
) -> DataFrame:
    """Load a test table. ``spread=True`` repartitions an under-partitioned
    scan up to the session's default parallelism — for per-row compute-heavy
    consumers (shingling, hashing, embedding math) a single-row-group file
    otherwise serializes the whole pipeline onto one core. At real scale
    inputs arrive pre-split (many files / row groups) and the repartition is
    a no-op; the shuffle it costs here is proportional to the small input,
    while the compute it parallelizes is the dominant term.
    """
    path = f"{sf_dir}/{name}.parquet"
    # The memoized plan snapshots the parquet file index, so serving it
    # over a file rewritten at the same path would read stale/deleted
    # data: the key carries every data file's (mtime_ns, size).
    files = _table_files(path)
    key = (spark.sparkContext.applicationId, sf_dir, name, spread, files)
    hit = _TABLE_MEMO.get(key)
    if hit is not None:
        return hit
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(path)
    if spread:
        target = spark.sparkContext.defaultParallelism
        if _scan_partition_estimate(spark, files) < target:
            df = df.repartition(target)
    if len(_TABLE_MEMO) > 256:  # tests churn tmp dirs; don't grow unbounded
        _TABLE_MEMO.clear()
    _TABLE_MEMO[key] = df
    return df


def _table_files(path: str) -> tuple[tuple[str, int, int], ...] | None:
    """``(relative name, mtime_ns, size)`` of each data file of a table:
    one ``stat`` for a single-file table; for a directory table a
    recursive walk over its part files, skipping ``.``/``_`` entries
    (``_SUCCESS``, ``.crc``) as Spark does, so a nested/hive-partitioned
    layout counts too. ``None`` if the path is not a local file or
    directory (a pre-split cluster input)."""
    try:
        st = os.stat(path)
        if stat.S_ISREG(st.st_mode):
            return (("", st.st_mtime_ns, st.st_size),)
        if not stat.S_ISDIR(st.st_mode):
            return None
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
            for f in sorted(names):
                if not f.startswith((".", "_")):
                    full = os.path.join(root, f)
                    st = os.stat(full)
                    files.append(
                        (os.path.relpath(full, path), st.st_mtime_ns, st.st_size)
                    )
        return tuple(files)
    except OSError:
        return None


def _scan_partition_estimate(spark: SparkSession, files: tuple | None) -> int:
    """Estimate the scan's task count with Spark's own maxSplitBytes
    arithmetic: ``bytes / min(maxPartitionBytes, max(openCostInBytes,
    bytes / defaultParallelism))`` (FilePartition packing, SPARK-24914) —
    so the estimate tracks actual scan parallelism instead of the
    conservative bytes/maxPartitionBytes floor, which under-counted
    splittable mid-size files and triggered repartitions the real scan
    does not need. Reads the sizes from ``_table_files`` instead of
    converting the plan to an RDD on the driver (~0.1 s of py4j per
    call). Returns a huge count (no repartition) when the table has no
    local files — pre-split cluster inputs need no spreading."""
    if files is None:
        return 1 << 30
    bytes_ = sum(size for _, _, size in files)

    def _size_conf(key: str, default: int) -> int:
        raw = spark.conf.get(key, f"{default}b")
        m = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", raw.strip().lower())
        if not m:
            return default
        return int(m.group(1)) * 1024 ** ("", "k", "m", "g", "t").index(m.group(2))

    max_pb = _size_conf("spark.sql.files.maxPartitionBytes", 134217728)
    open_cost = _size_conf("spark.sql.files.openCostInBytes", 4194304)
    par = max(1, spark.sparkContext.defaultParallelism)
    split = min(max_pb, max(open_cost, bytes_ // par or 1))
    return max(1, math.ceil(bytes_ / split))


#: The full star-schema + corpus catalog (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def install_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register every table as a temp view so the engine is usable from
    plain ``spark.sql`` — the reference's pgAdmin workflow
    (/root/reference/README.md:119-219 runs SQL against Postgres views)
    mapped onto the Spark catalog. Views are lazy: nothing is scanned
    until a query runs, and Catalyst prunes/pushes down through them.
    """
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
