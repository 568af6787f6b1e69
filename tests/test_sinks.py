"""Sink tests: CSV round-trip, EP2 orchestration, and a LIVE JDBC load
against embedded Derby (ships in the Spark distro) — the same
write_jdbc/read path a Postgres warehouse uses, minus the network.
Reference behavior: /root/reference/connect_postgre.py:209-370.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from be_analytic_etl_spark.sources.ingest import read_typed_csv
from be_analytic_etl_spark.sources.sinks import (
    SCHEMA_SIDECAR,
    import_csv_automatic,
    table_name_from_path,
    write_csv,
    write_jdbc,
)
from tests.conftest import jobs_of


def _derby_available() -> bool:
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    return bool(glob.glob(os.path.join(jars, "derby-*.jar")))


def _export(spark):
    return spark.range(10).select(
        F.col("id"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
        (F.col("id") / 3.0).alias("ratio"),
    )


def test_csv_roundtrip_types_and_values(spark, tmp_path):
    df = _export(spark)
    path = str(tmp_path / "export.csv")
    write_csv(df, path, single_file=True)
    back = read_typed_csv(spark, path)
    # S8: the written types come back (id is range()'s bigint), values
    # bit-exact (shortest-round-trip doubles)
    assert dict(back.dtypes) == {"id": "bigint", "name": "string", "ratio": "double"}
    got = sorted((r["id"], r["name"], r["ratio"]) for r in back.collect())
    want = sorted((r["id"], r["name"], r["ratio"]) for r in df.collect())
    assert got == want


def test_written_csv_reloads_with_its_schema_and_no_job(spark, tmp_path):
    """write_csv leaves the frame's schema beside the parts, and the reload
    takes it: no inference job, and a date stays a date."""
    df = _export(spark).withColumn("day", F.date_add(F.lit("2020-01-31").cast("date"), F.col("id").cast("int")))
    path = str(tmp_path / "export.csv")
    write_csv(df, path)
    assert os.path.exists(os.path.join(path, SCHEMA_SIDECAR))
    assert jobs_of(spark, lambda: read_typed_csv(spark, path)) == 0
    back = read_typed_csv(spark, path)
    assert back.dtypes == df.dtypes
    assert sorted(back.collect()) == sorted(df.collect())


def test_foreign_csv_is_inferred(spark, tmp_path):
    """A CSV that write_csv did not write has no schema beside it, so the
    reload infers, as the reference's pd.read_csv does: small integers
    come back as int."""
    import csv

    path = tmp_path / "foreign.csv"
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "name", "ratio"])
        w.writerows((i, f"name_{i}", i / 3.0) for i in range(10))
    back = read_typed_csv(spark, str(path))
    assert dict(back.dtypes) == {"id": "int", "name": "string", "ratio": "double"}
    assert sorted(r["id"] for r in back.collect()) == list(range(10))


def test_stale_schema_fails_loudly(spark, tmp_path):
    """A part appended by another writer under other column names
    disagrees with the written schema: the read raises instead of loading
    its columns under the wrong names."""
    df = _export(spark)
    path = str(tmp_path / "export.csv")
    write_csv(df, path)
    df.withColumnRenamed("name", "nome").write.mode("append").option("header", True).csv(path)
    with pytest.raises(Exception, match="does not conform to the schema"):
        read_typed_csv(spark, path).collect()


def test_schema_edited_in_place_names_the_sidecar_and_the_fix(spark, tmp_path):
    """A sidecar rewritten without its checksum file fails the local
    FileSystem's checksum: the reload names the file and how to fix it."""
    import json

    path = str(tmp_path / "export.csv")
    write_csv(_export(spark), path)
    sidecar = os.path.join(path, SCHEMA_SIDECAR)
    with open(sidecar) as f:
        schema = json.load(f)
    schema["fields"][1]["name"] = "nome"
    with open(sidecar, "w") as f:
        json.dump(schema, f)
    with pytest.raises(ValueError, match=f"{SCHEMA_SIDECAR} fails its checksum") as err:
        read_typed_csv(spark, path)
    assert sidecar in str(err.value)
    assert "write_csv" in str(err.value) and f".{SCHEMA_SIDECAR}.crc" in str(err.value)


def test_import_csv_automatic_table_target(spark, tmp_path):
    import shutil

    df = spark.range(5).select(
        F.col("id"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    csv_dir = str(tmp_path / "My Export-2024 File.csv")
    write_csv(df, csv_dir, single_file=True)
    # a previous JVM may have left the managed-table location behind without
    # a catalog entry; saveAsTable refuses to adopt an existing location
    spark.sql("DROP TABLE IF EXISTS my_export_2024_file")
    leftover = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
        "my_export_2024_file",
    )
    shutil.rmtree(leftover, ignore_errors=True)
    table = import_csv_automatic(spark, csv_dir, target="table")
    assert table == table_name_from_path(csv_dir) == "my_export_2024_file"
    got = sorted((r["id"], r["name"]) for r in spark.table(table).collect())
    assert got == [(i, f"n{i}") for i in range(5)]


@pytest.mark.skipif(not _derby_available(), reason="no embedded Derby jar")
def test_write_jdbc_live_derby(spark):
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.25), (3, "gamma", 0.0)],
        "id long, name string, score double",
    )
    url = "jdbc:derby:memory:graft_test;create=true"
    # S11 (DROP/CREATE w/ mapped types) + S12 (batched insert, 2 writers)
    write_jdbc(
        df,
        url,
        "t_scores",
        user="",
        password="",
        column_types="id BIGINT, name VARCHAR(20), score DOUBLE",
        num_partitions=2,
        batchsize=2,
    )
    back = (
        spark.read.format("jdbc").option("url", url).option("dbtable", "t_scores").load()
    )
    assert dict(back.dtypes) == {"id": "bigint", "name": "string", "score": "double"}
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )
    # overwrite mode really replaces (S11 drop/create path)
    write_jdbc(
        df.limit(1),
        url,
        "t_scores",
        user="",
        password="",
        column_types="id BIGINT, name VARCHAR(20), score DOUBLE",
    )
    assert (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "t_scores")
        .load()
        .count()
        == 1
    )


@pytest.mark.skipif(not _derby_available(), reason="no embedded Derby jar")
def test_import_csv_automatic_jdbc_target(spark, tmp_path):
    df = spark.range(4).select(
        F.col("id"), (F.col("id") * 1.25).alias("val")
    )
    csv_dir = str(tmp_path / "ida_consolidado.csv")
    write_csv(df, csv_dir, single_file=True)
    url = "jdbc:derby:memory:graft_ep2;create=true"
    table = import_csv_automatic(
        spark,
        csv_dir,
        url=url,
        column_types="id BIGINT, val DOUBLE",
        target="jdbc",
    )
    assert table == "ida_consolidado"
    back = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table).load()
    )
    got = sorted((r["id"], r["val"]) for r in back.collect())
    assert got == [(i, i * 1.25) for i in range(4)]


@pytest.mark.skipif(not _derby_available(), reason="no embedded Derby jar")
def test_write_jdbc_primary_key(spark):
    """primary_key= issues post-load NOT NULL + ADD PRIMARY KEY DDL
    (reference parity: connect_postgre.py declares id INTEGER PRIMARY KEY)
    and the constraint is live — a duplicate key insert must fail."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, name string"
    )
    url = "jdbc:derby:memory:graft_pk;create=true"
    write_jdbc(
        df,
        url,
        "t_pk",
        user="",
        password="",
        column_types="id BIGINT, name VARCHAR(20)",
        primary_key="id",
    )
    # the constraint exists in Derby's catalog...
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.createStatement().executeQuery(
            "SELECT c.CONSTRAINTNAME, c.TYPE FROM SYS.SYSCONSTRAINTS c "
            "JOIN SYS.SYSTABLES t ON c.TABLEID = t.TABLEID "
            "WHERE t.TABLENAME = 'T_PK'"
        )
        constraints = []
        while rs.next():
            constraints.append((rs.getString(1), rs.getString(2)))
        assert ("T_PK_PK", "P") in constraints, constraints
        # ...and actually enforces: duplicate id must raise
        import py4j.protocol

        stmt = conn.createStatement()
        try:
            stmt.execute("INSERT INTO t_pk VALUES (1, 'dup')")
            raise AssertionError("duplicate PK insert should have failed")
        except py4j.protocol.Py4JJavaError as e:
            assert "duplicate key" in str(e).lower() or "23505" in str(e)
    finally:
        conn.close()


def test_compact_parquet_merges_small_files(spark, tmp_path):
    src = str(tmp_path / "fragmented")
    dest = str(tmp_path / "compacted")
    # 40 tiny files (one per partition)
    spark.range(4000).repartition(40).write.parquet(src)

    from be_analytic_etl_spark.sources.sinks import (
        compact_parquet,
        list_parquet_files,
    )

    n_before = len(list_parquet_files(spark, src))
    assert n_before >= 40
    n_target = compact_parquet(spark, src, dest, target_file_bytes=64 * 2**20)
    assert n_target == 1  # 4000 longs ≪ 64 MB
    n_after = len(list_parquet_files(spark, dest))
    assert n_after <= 2  # 1 data file (+ tolerance for an empty split)
    back = spark.read.parquet(dest)
    assert back.count() == 4000
    assert back.agg({"id": "sum"}).first()[0] == sum(range(4000))


def test_write_partitioned_sanitizes_partition_values(spark, tmp_path):
    """Partition values are directory names: control characters are
    replaced, and a value is shortened ONLY when its worst-case-escaped
    byte budget would overflow NAME_MAX (ADVICE r11 #3 — the old
    blanket 40-char cap silently mutated legitimate long values and
    merged distinct values sharing a prefix; shortened values now keep
    an md5 suffix so distinct oversized values stay distinct)."""
    import hashlib

    from be_analytic_etl_spark.sources.sinks import write_partitioned

    long_clean = "category-" + "x" * 51          # 60 ASCII chars, within budget
    over_a = "é" * 300 + "a"
    over_b = "é" * 300 + "b"
    rows = [
        (1, "1-URGENT", "keep\x00me"),
        (2, "bad\x00\nvalue", "payload"),
        (3, over_a, "x"),
        (4, long_clean, "y"),
        (5, over_b, "z"),
    ]
    df = spark.createDataFrame(rows, "id long, p string, payload string")
    path = str(tmp_path / "part_sanitize")
    write_partitioned(df, path, partition_cols=["p"])
    back = {r["id"]: r for r in spark.read.parquet(path).collect()}
    assert back[1]["p"] == "1-URGENT"            # clean value untouched
    assert back[1]["payload"] == "keep\x00me"    # non-partition col raw
    assert back[2]["p"] == "bad__value"          # control chars -> '_'
    # 60 clean ASCII chars fit the byte budget -> byte-identical
    # (the old 40-char cap would have mangled this)
    assert back[4]["p"] == long_clean
    # oversized values shorten to head + md5 suffix, under the budget
    limit_b = (254 - len("p") - 1) // 3
    n_chars = (limit_b - 9) // 4
    for rid, v in ((3, over_a), (5, over_b)):
        expect = v[:n_chars] + "-" + hashlib.md5(v.encode()).hexdigest()[:8]
        assert back[rid]["p"] == expect
        assert len(back[rid]["p"].encode()) <= limit_b
    # distinct oversized values must NOT merge into one partition
    assert back[3]["p"] != back[5]["p"]


def test_write_partitioned_small_byte_budget_floors_at_13(spark, tmp_path):
    """ADVICE r12 #2: an explicit max_partition_value_bytes below the
    13-byte minimum truncated form (1 head char at 4-byte worst case +
    '-' + 8 hash chars) is floored at 13 instead of silently producing
    names over the requested budget; an explicit 0 is treated as a
    too-small budget (floored), never as "unset"."""
    import hashlib

    from be_analytic_etl_spark.sources.sinks import write_partitioned

    over = "é" * 40  # 80 bytes, overflows any small budget
    df = spark.createDataFrame(
        [(1, over, "x"), (2, "ok", "y")], "id long, p string, payload string"
    )
    for budget in (0, 5, 13):
        path = str(tmp_path / f"budget_{budget}")
        write_partitioned(
            df, path, partition_cols=["p"], max_partition_value_bytes=budget
        )
        back = {r["id"]: r for r in spark.read.parquet(path).collect()}
        # short clean value unaffected by the cap
        assert back[2]["p"] == "ok"
        # floored limit: n_chars = (13 - 9) // 4 = 1 head char + '-' + 8
        expect = over[:1] + "-" + hashlib.md5(over.encode()).hexdigest()[:8]
        assert back[1]["p"] == expect
        assert len(back[1]["p"].encode()) <= 13
