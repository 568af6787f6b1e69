"""Sinks: CSV and JDBC (warehouse load).

Reference behavior (file:line):
- CSV sink: ``df.to_csv(index=False, utf-8)`` — ``/root/reference/main.py:738-744``;
- Postgres load: DROP/CREATE with mapped column types + batched INSERT —
  ``/root/reference/connect_postgre.py:209-321``. Spark replaces the
  single-connection ``executemany`` with per-partition parallel JDBC
  writers (`batchsize` per round trip), and the DDL with
  ``createTableColumnTypes`` on ``mode='overwrite'``.
- Database bootstrap (CREATE DATABASE IF NOT EXISTS,
  ``connect_postgre.py:68-119``) is out-of-band DDL Spark's JDBC writer
  cannot express; ``bootstrap_database`` gates on psycopg2 availability.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Effective warehouse schema of the reference table
#: (connect_postgre.py:162-169).
IDA_COLUMN_TYPES = (
    "id BIGINT, grupo_economico TEXT, servico TEXT, "
    "mes_referencia DATE, valor DOUBLE PRECISION, tipo_servico TEXT"
)


#: File ``write_csv`` leaves beside the CSV parts: the written frame's
#: schema as JSON. Spark's file index skips names that start with ``_``.
SCHEMA_SIDECAR = "_schema.json"


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S7: header CSV. ``single_file=True`` mirrors the reference's one-file
    output (coalesce(1) — driver-side funnel, only for small exports);
    default keeps partitioned output for scale.

    After the commit, ``df.schema`` goes to ``<path>/_schema.json``
    (``SCHEMA_SIDECAR``) through the path's Hadoop ``FileSystem``, so that
    ``ingest.read_typed_csv`` reloads with the written types instead of
    inferring them (Dremel, VLDB 2020: the schema is kept beside the data
    it describes)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)
    target, fs = _hadoop_path(df.sparkSession, f"{path}/{SCHEMA_SIDECAR}")
    stream = fs.create(target, True)
    try:
        stream.write(df.schema.json().encode())
    finally:
        stream.close()


def written_schema(spark, path: str) -> StructType | None:
    """The schema ``write_csv`` left in ``path`` (``SCHEMA_SIDECAR``), or
    None when there is none, e.g. for a single CSV file or a directory
    another writer made. A sidecar changed after ``write_csv`` wrote it
    fails the checksum file the local ``FileSystem`` keeps beside it,
    and raises ``ValueError`` naming the file and the fix."""
    from py4j.protocol import Py4JJavaError

    sidecar = f"{path}/{SCHEMA_SIDECAR}"
    target, fs = _hadoop_path(spark, sidecar)
    if not fs.exists(target):
        return None
    stream = fs.open(target)
    try:
        text = stream.readAllBytes().decode()
    except Py4JJavaError as e:
        if not e.java_exception.getClass().getName().endswith(".ChecksumException"):
            raise
        raise ValueError(
            f"{sidecar} fails its checksum: it changed after write_csv wrote it. "
            f"Rewrite the CSV with write_csv, or remove {path}/.{SCHEMA_SIDECAR}.crc "
            "to keep the edited schema"
        ) from e
    finally:
        stream.close()
    return StructType.fromJson(json.loads(text))


def _hadoop_path(spark, path: str):
    """(Hadoop ``Path``, its ``FileSystem``) for ``path``."""
    target = spark._jvm.org.apache.hadoop.fs.Path(path)
    return target, target.getFileSystem(spark._jsc.hadoopConfiguration())


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    user: str,
    password: str,
    *,
    column_types: str | None = None,
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    mode: str = "overwrite",
    primary_key: str | list[str] | None = None,
) -> None:
    """S11-S13: parallel JDBC load. N partitions -> N concurrent writers.

    ``primary_key`` replicates the reference's ``id INTEGER PRIMARY KEY``
    DDL (``/root/reference/connect_postgre.py:244-252``): Spark's JDBC
    writer cannot declare constraints, so after the load the key columns
    are made NOT NULL and a PK constraint is added via one driver-side
    JDBC statement (control-plane DDL, not a data funnel).
    """
    out = df.repartition(num_partitions) if num_partitions else df
    writer = (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    if column_types:
        writer = writer.option("createTableColumnTypes", column_types)
    writer.save()
    if primary_key:
        cols = [primary_key] if isinstance(primary_key, str) else list(primary_key)
        add_primary_key(df.sparkSession, url, table, cols, user, password)


def _jdbc_execute(spark, url: str, user: str, password: str, statements: list[str]) -> None:
    """Run DDL over JDBC through the JVM's DriverManager (Spark's JDBC
    writer only emits CREATE/INSERT; constraints need raw statements)."""
    jvm = spark._sc._jvm
    props = jvm.java.util.Properties()
    if user:
        props.setProperty("user", user)
    if password:
        props.setProperty("password", password)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        stmt = conn.createStatement()
        for sql in statements:
            stmt.execute(sql)
        stmt.close()
    finally:
        conn.close()


def add_primary_key(
    spark, url: str, table: str, columns: list[str], user: str = "", password: str = ""
) -> None:
    """Post-load ``ALTER TABLE … ADD PRIMARY KEY`` (reference parity:
    ``connect_postgre.py:244-252`` declares the id column as PRIMARY KEY).

    JDBC-created columns are nullable by default and every SQL engine
    requires PK columns NOT NULL, so each key column is tightened first.
    Dialect split: Derby spells it ``ALTER COLUMN c NOT NULL``, Postgres
    (the reference's warehouse) ``ALTER COLUMN c SET NOT NULL``.
    """
    set_kw = "" if url.startswith("jdbc:derby") else "SET "
    # Spark's JDBC writer creates COLUMNS quoted (case-preserved) but passes
    # the table name through unquoted — mirror that here or case-folding
    # databases (Derby, Postgres) won't resolve the identifiers.
    quoted = [f'"{c}"' for c in columns]
    # Constraint names cannot be schema-qualified — strip any schema
    # prefix from the table when deriving it.
    pk_name = f"{table.rsplit('.', 1)[-1]}_pk"
    ddl = [
        f"ALTER TABLE {table} ALTER COLUMN {c} {set_kw}NOT NULL" for c in quoted
    ]
    ddl.append(
        f"ALTER TABLE {table} ADD CONSTRAINT {pk_name} "
        f"PRIMARY KEY ({', '.join(quoted)})"
    )
    _jdbc_execute(spark, url, user, password, ddl)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    *,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed parquet table: pay the shuffle ONCE at write time;
    every later join/aggregate on the bucket columns reads co-located
    buckets and plans with NO Exchange (asserted in tests/test_plans.py).
    The at-scale pattern for fact tables that are repeatedly joined on the
    same key (e.g. orders ⋈ lineitem on the order key).

    ``path`` makes the table external (data at an explicit location
    instead of the session warehouse directory) — bucketing metadata
    lives in the catalog either way."""
    w = df.write.format("parquet").mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_cols: list[str],
    zorder_cols: tuple[str, str] | None = None,
    mode: str = "overwrite",
    max_partition_value_bytes: int | None = None,
) -> None:
    """Hive-partitioned parquet layout: one directory per partition value,
    so any filter on ``partition_cols`` prunes whole directories at
    planning time (PartitionFilters — asserted in tests/test_plans.py)
    before a single row group is opened. The first lever of 100 TB scan
    economics; partition by low-cardinality columns only (dates, regions)
    — high-cardinality partitioning produces the small-files problem.

    ``zorder_cols`` additionally range-partitions and sorts each write
    task by the Morton key of two columns (operators/profiling.py), so
    within every partition directory the row-group min/max statistics are
    tight on BOTH columns — predicate pushdown then skips row groups for
    non-partition filters too.
    """
    if zorder_cols:
        from be_analytic_etl_spark.operators.profiling import zorder_key

        zk = zorder_key(*zorder_cols).alias("__zk")
        df = (
            df.select("*", zk)
            .repartitionByRange(F.col("__zk"))
            .sortWithinPartitions("__zk")
            .drop("__zk")
        )
    # Partition VALUES become directory names: control characters make
    # mkdir fail outright (a NUL-bearing value killed the whole write in
    # the string-poisoned gate) and long values exceed NAME_MAX, which is
    # 255 BYTES. The guard is PER-VALUE (ADVICE r11 #3 — the old version
    # truncated every value to 40 chars, silently mutating legitimate
    # long values and merging distinct values sharing a prefix):
    #   * control chars always map to '_' (identity on clean values);
    #   * a value is shortened ONLY when its byte budget would actually
    #     overflow the directory-name limit — budget = (254 - len("c="))
    #     / 3, the worst case where Hive %-escapes every byte to 3;
    #   * shortened values keep a suffix of md5(full value), so distinct
    #     oversized values stay distinct partitions instead of merging.
    # At 100 TB one drifted upstream row must not abort the backfill;
    # clean low-cardinality values pass through byte-identical.
    types = dict(df.dtypes)

    def _safe(c: str) -> F.Column:
        # `is not None`, not `or`: an explicit 0 is a caller error, not
        # "unset". And the truncated form needs at least 13 raw bytes
        # (1 head char at 4-byte worst case + "-" + 8 hash chars), so
        # smaller budgets are floored there rather than silently
        # producing names that overflow the requested cap (ADVICE r12
        # #2).
        if max_partition_value_bytes is not None:
            limit_b = max(13, max_partition_value_bytes)
        else:
            limit_b = max(24, (254 - len(c) - 1) // 3)
        # truncated form: head chars (4-byte worst case) + "-" + 8 hash
        # chars, raw bytes <= limit_b so the escaped name fits NAME_MAX
        n_chars = max(1, (limit_b - 9) // 4)
        clean = F.regexp_replace(F.col(c), r"[\x00-\x1F\x7F]", "_")
        return F.when(
            F.octet_length(clean) > F.lit(limit_b),
            F.concat(
                F.substring(clean, 1, n_chars),
                F.lit("-"),
                F.substring(F.md5(clean), 1, 8),
            ),
        ).otherwise(clean).alias(c)

    df = df.select(
        [
            _safe(c)
            if c in partition_cols and types.get(c) == "string"
            else F.col(c)
            for c in df.columns
        ]
    )
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def table_name_from_path(path: str) -> str:
    """S13: derive a snake_case table name from a file basename
    (connect_postgre.py:323-370 semantics)."""
    base = path.rstrip("/").rsplit("/", 1)[-1]
    base = base.rsplit(".", 1)[0]
    return re.sub(r"[^0-9a-zA-Z]+", "_", base).strip("_").lower()


def import_csv_automatic(
    spark,
    csv_path: str,
    *,
    table: str | None = None,
    url: str | None = None,
    user: str = "",
    password: str = "",
    column_types: str | None = None,
    bootstrap: dict | None = None,
    target: str = "jdbc",
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    primary_key: str | list[str] | None = None,
) -> str:
    """EP2 orchestration parity: ONE call takes a consolidated CSV to a
    warehouse table (``/root/reference/connect_postgre.py:323-370``) —
    derive the table name from the file name (S13), typed re-read (S8),
    optional CREATE DATABASE bootstrap (S10), DROP/CREATE with mapped types
    + batched parallel load (S11-S12).

    ``target='jdbc'`` loads a JDBC warehouse (``url`` required; exercised
    live against embedded Derby in tests); ``target='table'`` loads a
    managed parquet table in the session catalog — same orchestration,
    filesystem-backed. Returns the table name.
    """
    from be_analytic_etl_spark.sources.ingest import read_typed_csv

    table = table or table_name_from_path(csv_path)
    df = read_typed_csv(spark, csv_path)
    if target == "jdbc":
        if url is None:
            raise ValueError("target='jdbc' requires url")
        if bootstrap:
            bootstrap_database(**bootstrap)
        write_jdbc(
            df,
            url,
            table,
            user,
            password,
            column_types=column_types,
            batchsize=batchsize,
            num_partitions=num_partitions,
            primary_key=primary_key,
        )
    elif target == "table":
        df.write.mode("overwrite").format("parquet").saveAsTable(table)
    else:
        raise ValueError(f"unknown target {target!r}")
    return table


def bootstrap_database(host: str, port: int, user: str, password: str, db_name: str) -> bool:
    """S10: CREATE DATABASE IF NOT EXISTS via psycopg2 (optional dep)."""
    try:
        import psycopg2  # type: ignore
    except ImportError:
        return False
    conn = psycopg2.connect(
        host=host, port=port, user=user, password=password, dbname="postgres"
    )
    try:
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("SELECT 1 FROM pg_database WHERE datname = %s", (db_name,))
            if cur.fetchone() is None:
                cur.execute(f'CREATE DATABASE "{db_name}"')
        return True
    finally:
        conn.close()


def write_jsonl(df: DataFrame, path: str, single_file: bool = False) -> None:
    """JSON-lines sink — the interchange format of LLM-corpus tooling
    (one JSON object per line, newline-delimited). Spark's json source
    writes exactly this shape per partition; ``single_file=True`` funnels
    through one task for small exports, default stays partitioned for
    scale. Doubles serialize shortest-round-trip, so a re-read parses
    back bit-identical values."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def read_jsonl(spark, path: str, schema=None) -> DataFrame:
    """JSON-lines reader. Pass an explicit schema for production loads
    (schema inference costs one extra pass and can widen types on dirty
    data); None infers — fine for re-reading our own exports."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def list_parquet_files(spark, path: str) -> list[tuple[str, int]]:
    """(path, bytes) for every data file under ``path`` — a pure
    filesystem-metadata listing (no data read)."""
    root, fs = _hadoop_path(spark, path)
    out: list[tuple[str, int]] = []
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out.append((st.getPath().toString(), int(st.getLen())))
    return out


def compact_parquet(
    spark,
    src_path: str,
    dest_path: str,
    target_file_bytes: int = 128 * 2**20,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` right-sized files.

    The small-files problem is the quiet killer of 100 TB scan economics:
    a directory of 10^6 tiny files costs a task (and a NameNode/listing
    round trip) per file, and row-group statistics degenerate. Sizing
    comes from the file listing (metadata only — no data pass); the
    rewrite itself is one read + one round-robin repartition + one write,
    fully distributed. Returns the target file count.

    Hourly ingest partitions are the usual callers — run compaction on
    closed partitions, then swap directories atomically at the
    metastore/manifest layer (out of scope here).
    """
    files = list_parquet_files(spark, src_path)
    total = sum(b for _, b in files)
    n = max(1, (total + target_file_bytes - 1) // target_file_bytes)
    df = spark.read.parquet(src_path)
    df.repartition(n).write.mode("overwrite").parquet(dest_path)
    return n
