"""End-to-end ingest tests on synthetic ANATEL-layout wide files
(FIXTURES.md §2): header discovery, metadata removal, unpivot, BR-number
parse, consolidation, final schema, and the flagship view on the result.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import broadcast_threshold, executed_plan, jobs_of

from be_analytic_etl_spark.operators.consolidate import (
    FINAL_RENAMES,
    add_dense_id,
    consolidate,
    finalize,
)
from be_analytic_etl_spark.plans.flagship import create_consolidacao_view
from be_analytic_etl_spark.session import fits_one_task
from be_analytic_etl_spark.sources.ingest import (
    HEADER_MARKERS,
    HEADER_ROW,
    _find_header,
    filter_manifest,
    ingest_wide_file,
    probe_encoding,
    read_headerless_csv,
    read_typed_csv,
    transform_wide,
)
from be_analytic_etl_spark.sources.sinks import write_csv

FILE_A = """ÍNDICE DE DESEMPENHO NO ATENDIMENTO\t\t\t
SERVIÇO: SMP\t\t\t
PERÍODO: 2020\t\t\t
GRUPO ECONÔMICO\tVARIAVEL\t2020-01\t2020-02-01 00:00:00
CLARO\tIDA\t85,5\t90,00
VIVO\tIDA\t1.234,56\t2.000
TIM\tIDA\tND\t15.50
\t\t\t
FONTE: ANATEL\t\t\t
"""

# Written in latin-1 with non-ASCII text (the preamble and the header
# marker), so the probe picks latin-1 and the read must name it to Spark
# as ISO-8859-1.
FILE_B = """ANATEL - dados\t\t\t
SERVIÇO: SCM\t\t\t
GRUPO ECONÔMICO\tVARIAVEL\t2020-02\t2020-03
CLARO\tIDA\t91\t92,5
VIVO\tIDA\t2.000\t1.999,9
CLARO\tIDA\t91\t92,5
"""


@pytest.fixture(scope="module")
def wide_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("wide")
    a = d / "ida_smp_2020.csv"
    a.write_text(FILE_A, encoding="utf-8")
    b = d / "ida_scm_2020.csv"
    b.write_text(FILE_B, encoding="latin-1")
    return str(a), str(b)


def test_ingest_single_file(spark, wide_files):
    path_a, _ = wide_files
    df = ingest_wide_file(spark, path_a, service="SMP")
    rows = {(r["GRUPO_ECONOMICO"], str(r["REFERENCIA_MES"])): r["VALOR"] for r in df.collect()}
    assert rows[("CLARO", "2020-01-01")] == 85.5
    assert rows[("CLARO", "2020-02-01")] == 90.0  # date-colname normalization
    assert rows[("VIVO", "2020-01-01")] == 1234.56  # BR locale parse
    # single-dot rule: '2.000' is a plain decimal point (reference branch
    # main.py:570-572), NOT a thousands separator -> 2.0
    assert rows[("VIVO", "2020-02-01")] == 2.0
    assert rows[("TIM", "2020-01-01")] is None  # 'ND' invalid token
    assert rows[("TIM", "2020-02-01")] == 15.5
    # metadata + empty rows removed: 3 groups x 2 months only
    assert df.count() == 6
    svc = {r["SERVICO"] for r in df.collect()}
    assert svc == {"SMP"}


def test_ingest_latin1_file(spark, wide_files):
    """A non-UTF-8 file: the probe picks latin-1 (the reference's order),
    Spark 4.1 accepts it only as ISO-8859-1, and the accented header
    marker is found after decoding."""
    _, path_b = wide_files
    assert probe_encoding(path_b) == "latin-1"
    assert read_headerless_csv(spark, path_b).collect()[1][0] == "SERVIÇO: SCM"
    rows = sorted(
        (r["GRUPO_ECONOMICO"], str(r["REFERENCIA_MES"]), r["VALOR"])
        for r in ingest_wide_file(spark, path_b, service="SCM").collect()
    )
    assert rows == [
        ("CLARO", "2020-02-01", 91.0),
        ("CLARO", "2020-02-01", 91.0),
        ("CLARO", "2020-03-01", 92.5),
        ("CLARO", "2020-03-01", 92.5),
        ("VIVO", "2020-02-01", 2.0),
        ("VIVO", "2020-03-01", 1999.9),
    ]


def _long_rows(spark, path, service="SMP"):
    return sorted(tuple(r) for r in ingest_wide_file(spark, str(path), service).collect())


def test_narrow_first_line_keeps_every_column(spark, tmp_path):
    """A one-cell title line must not set the table's width: the schema
    is as wide as the widest line up to the header row."""
    body = (
        "GRUPO_ECON\tVARIAVEL\t2020-01\t2020-02\n"
        "CLARO\tIDA\t1,5\t2,5\n"
        "VIVO\tIDA\t3\t4\n"
    )
    narrow = tmp_path / "narrow.csv"
    narrow.write_text("ÍNDICE DE DESEMPENHO NO ATENDIMENTO\n" + body, encoding="utf-8")
    padded = tmp_path / "padded.csv"
    padded.write_text("ÍNDICE DE DESEMPENHO NO ATENDIMENTO\t\t\t\n" + body, encoding="utf-8")
    got = _long_rows(spark, narrow)
    assert got == _long_rows(spark, padded)
    assert [(g, str(m), v) for g, _, m, v, _ in got] == [
        ("CLARO", "2020-01-01", 1.5),
        ("CLARO", "2020-02-01", 2.5),
        ("VIVO", "2020-01-01", 3.0),
        ("VIVO", "2020-02-01", 4.0),
    ]


def _wide_file(tmp_path, n_months: int, n_groups: int = 1) -> str:
    months = [f"{2010 + i // 12}-{i % 12 + 1:02d}" for i in range(n_months)]
    lines = [
        "SERVIÇO: SMP" + "\t" * (n_months + 1),
        "GRUPO ECONÔMICO\tVARIAVEL\t" + "\t".join(months),
        *(
            ("CLARO" if g == 0 else f"GRUPO {g}")
            + "\tIDA\t"
            + "\t".join(f"{i},5" for i in range(n_months))
            for g in range(n_groups)
        ),
        "FONTE: ANATEL" + "\t" * (n_months + 1),
    ]
    p = tmp_path / f"wide_{n_months}x{n_groups}.csv"
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return str(p)


def test_120_column_file(spark, tmp_path):
    """The row filters are one flat expression, not an OR chain that grows
    with the column count (which overflowed the analyzer's stack)."""
    rows = ingest_wide_file(spark, _wide_file(tmp_path, 118), service="SMP").collect()
    assert len(rows) == 118
    assert sorted(r["VALOR"] for r in rows) == [i + 0.5 for i in range(118)]


def test_ingest_builds_with_no_spark_job(spark, wide_files, tmp_path):
    """The readers find the header row on the driver, so building a file's
    plan runs no Spark job: UTF-8 and latin-1 CSV, the same CSV read and
    transformed in two calls, and ODS. The reader's field metadata does
    not reach the long frame."""
    path_a, path_b = wide_files
    ods = tmp_path / "ida.ods"
    ods.write_bytes(_make_ods([["SERVIÇO: SMP"], ["GRUPO ECONÔMICO", "VARIAVEL", "2021-03"], ["CLARO", "IDA", "7,5"]]))
    builds = {
        "utf-8": lambda: ingest_wide_file(spark, path_a, service="SMP"),
        "latin-1": lambda: ingest_wide_file(spark, path_b, service="SCM"),
        "two calls": lambda: transform_wide(
            read_headerless_csv(spark, path_b, encoding="ISO-8859-1"), "SCM"
        ),
        "ods": lambda: ingest_wide_file(spark, str(ods), service="SMP", fmt="ods"),
    }
    assert {k: jobs_of(spark, build) for k, build in builds.items()} == dict.fromkeys(builds, 0)
    long = ingest_wide_file(spark, path_a, service="SMP")
    assert all(not f.metadata for f in long.schema.fields), long.schema


def _strip_metadata(df):
    return df.select([F.col(c).alias(c, metadata={}) for c in df.columns])


#: Blank lines Spark's CSV reader drops (tab-only, space-only, empty,
#: mixed with CRLF) around one-cell and metadata preamble lines; the
#: first line is blank, so a byte-order mark before it must not count.
PREAMBLE = (
    "\t\t\t\n"
    "ÍNDICE DE DESEMPENHO NO ATENDIMENTO\n"
    "   \n"
    "\n"
    " \t \r\n"
    "SERVIÇO: SMP\t\t\t\n"
    "ANATEL\n"
    "\t\n"
    "GRUPO ECONÔMICO\tVARIAVEL\t2020-01\t2020-02\n"
    "CLARO\tIDA\t1,5\t2,5\n"
    "\t\t\t\n"
    "VIVO\tIDA\t3\t\n"
)


@pytest.mark.parametrize("encoding", ["utf-8", "utf-8-sig", "latin-1"])
def test_driver_header_matches_the_job_lookup(spark, tmp_path, encoding):
    """The row index the reader counts on the driver is Spark's: the
    header and the rows below it are exactly those of the one-job lookup
    over the same frame with its metadata stripped. ``utf-8-sig`` writes
    a byte-order mark, which Spark's line reader drops."""
    p = tmp_path / "preamble.csv"
    p.write_text(PREAMBLE, encoding=encoding)
    raw = read_headerless_csv(spark, str(p))
    assert HEADER_ROW in raw.schema.fields[0].metadata
    stripped = _strip_metadata(raw)
    assert jobs_of(spark, lambda: _find_header(raw, HEADER_MARKERS)) == 0
    driver, job = _find_header(raw, HEADER_MARKERS), _find_header(stripped, HEADER_MARKERS)
    assert driver[1] == job[1] == ["GRUPO ECONÔMICO", "VARIAVEL", "2020-01", "2020-02"]
    assert driver[0].collect() == job[0].collect() == [
        ("CLARO", "IDA", "1,5", "2,5"),
        ("VIVO", "IDA", "3", None),
    ]
    assert sorted(transform_wide(raw, "SMP").collect()) == sorted(transform_wide(stripped, "SMP").collect())


def test_header_beyond_the_first_split_falls_back_to_the_job(spark, tmp_path):
    """A header that starts past the smallest split Spark makes may not be
    in partition 0, so the reader attaches nothing and the one-job lookup
    runs: same rows, over a read of many partitions."""
    p = tmp_path / "preamble.csv"
    p.write_text(PREAMBLE, encoding="utf-8")
    want = sorted(ingest_wide_file(spark, str(p), "SMP").collect())
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "16b")
    try:
        raw = read_headerless_csv(spark, str(p))
        assert raw.rdd.getNumPartitions() > 1
        assert HEADER_ROW not in raw.schema.fields[0].metadata
        # the ordered lookup is one TakeOrderedAndProject over all splits
        assert jobs_of(spark, lambda: transform_wide(raw, "SMP")) == 1
        assert sorted(transform_wide(raw, "SMP").collect()) == want
    finally:
        spark.conf.set(key, prev)
    assert len(want) == 4


def test_ingest_build_calls_do_not_grow_with_width(spark, tmp_path):
    """The plan is built from SQL text, so a 118-month file costs the
    driver the same number of py4j calls as a 4-month one."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):  # object releases follow GC, not the build
            calls.append(command)
        return send(command, *args, **kwargs)

    paths = {n: _wide_file(tmp_path, n) for n in (4, 118)}
    ingest_wide_file(spark, paths[4], service="SMP")  # warm lazily resolved classes
    counts = {}
    client.send_command = counting
    try:
        for n, path in paths.items():
            calls.clear()
            ingest_wide_file(spark, path, service="SMP")
            counts[n] = len(calls)
    finally:
        del client.send_command
    assert counts[4] == counts[118], counts


def _fleet_fact(spark, wide_files):
    path_a, path_b = wide_files
    return finalize(
        consolidate(
            [
                ingest_wide_file(spark, path_a, service="SMP"),
                ingest_wide_file(spark, path_b, service="SCM"),
            ]
        )
    )


def test_consolidate_and_finalize(spark, wide_files):
    fact = _fleet_fact(spark, wide_files)
    assert fact.columns[:6] == ["id", "grupo_economico", "servico", "mes_referencia", "valor", "tipo_servico"]
    n = fact.count()
    # file A: 6 rows; file B: 6 rows - 2 duplicate rows (CLARO repeated) = 4
    assert n == 10
    ids = sorted(r["id"] for r in fact.select("id").collect())
    assert ids == list(range(1, n + 1))  # dense 1..N
    # rename trap: VARIAVEL -> servico, file tag -> tipo_servico
    assert {r["servico"] for r in fact.collect()} == {"IDA"}
    assert {r["tipo_servico"] for r in fact.collect()} == {"SMP", "SCM"}


def test_small_fact_runs_in_one_task(spark, wide_files):
    """A fact Spark estimates within the broadcast threshold is deduplicated,
    numbered and pivoted in one partition: no Exchange in either plan, and
    the ids are still dense 1..N in the canonical sort order."""
    fact = _fleet_fact(spark, wide_files)
    view = create_consolidacao_view(spark, fact)
    for plan in (executed_plan(fact), executed_plan(view)):
        assert "Exchange" not in plan, plan
    order = ["tipo_servico", "grupo_economico", "servico", "mes_referencia"]
    rows = sorted(fact.collect(), key=lambda r: r["id"])
    assert [r["id"] for r in rows] == list(range(1, len(rows) + 1))
    keys = [tuple(r[c] for c in order) for r in rows]
    assert keys == sorted(keys)


def test_broadcast_threshold_off_restores_distributed_plans(spark, wide_files):
    """Threshold -1 switches the gate off: consolidate+finalize and the view
    plan their exchanges again, with the same rows and ids."""
    single = sorted(map(tuple, _fleet_fact(spark, wide_files).collect()))
    with broadcast_threshold(spark, "-1"):
        fact = _fleet_fact(spark, wide_files)
        view = create_consolidacao_view(spark, fact)
        fact_plan, view_plan = executed_plan(fact), executed_plan(view)
        distributed = sorted(map(tuple, fact.collect()))
    assert "Exchange hashpartitioning" in fact_plan, fact_plan
    assert "Exchange rangepartitioning" in fact_plan, fact_plan
    assert "Exchange hashpartitioning" in view_plan, view_plan
    assert distributed == single


def test_size_gate_sees_the_unpivot_fan_out(spark, tmp_path):
    """The gate reads the long table's estimate, not the raw file's: a file
    under the threshold whose unpivot is over it keeps the distributed plan
    (a ``stack`` unpivot would estimate at the raw file's bytes)."""
    path = _wide_file(tmp_path, 118, n_groups=40)
    assert os.path.getsize(path) < 64 * 1024
    with broadcast_threshold(spark, "64k"):
        assert fits_one_task(read_headerless_csv(spark, path))
        long = ingest_wide_file(spark, path, service="SMP")
        assert not fits_one_task(long)
        fact = finalize(consolidate([long]))
        plan = executed_plan(fact)
    assert "Exchange" in plan, plan
    assert fact.count() == 40 * 118


def test_etl_job_runs_two_spark_jobs(spark, wide_files, tmp_path):
    """ingest -> consolidate+finalize -> CSV sink -> typed reload -> view
    runs the CSV write and the view's collect, nothing else: the headers
    are found on the driver, consolidate+finalize add no job and the
    reload takes the schema the sink wrote."""
    out = str(tmp_path / "fact_csv")

    def etl():
        write_csv(_fleet_fact(spark, wide_files), out)
        reloaded = read_typed_csv(spark, out)
        create_consolidacao_view(spark, reloaded).collect()

    assert jobs_of(spark, etl) <= 2
    assert read_typed_csv(spark, out).count() == 10


def test_add_dense_id_parallel(spark):
    df = spark.range(0, 10_000).repartition(16)
    out = add_dense_id(df.withColumnRenamed("id", "x"), order_cols=["x"])
    rows = out.orderBy("x").collect()
    assert [r["id"] for r in rows] == list(range(1, 10_001))
    # ordered path: id follows the global order of x
    assert all(r["id"] == r["x"] + 1 for r in rows)


def test_add_dense_id_is_map_only(spark):
    """The id pass must not shuffle the data: without order_cols the plan
    has NO Exchange and NO Window — it is a projection over the cached
    input (the point of the zip-with-index design)."""
    df = spark.range(0, 5_000).repartition(8).withColumnRenamed("id", "x")
    out = add_dense_id(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # the only allowed exchange is the pre-existing repartition, which sits
    # below the InMemoryRelation; nothing above the cache may shuffle
    above_cache = plan.split("InMemoryTableScan", 1)[0]
    assert "Exchange" not in above_cache, above_cache
    ids = sorted(r["id"] for r in out.collect())
    assert ids == list(range(1, 5_001))


def test_to_long_keeps_operadora(spark, tmp_path):
    """main.py:499 keeps OPERADORA through the melt: rows that differ only
    by operator must survive consolidate().dropDuplicates()."""
    content = (
        "SERVIÇO: SMP\t\t\t\n"
        "GRUPO ECONÔMICO\tVARIAVEL\tOPERADORA\t2020-01\n"
        "CLARO\tIDA\tCLARO SA\t10,5\n"
        "CLARO\tIDA\tCLARO NXT\t10,5\n"
    )
    p = tmp_path / "ida_operadora.csv"
    p.write_text(content, encoding="utf-8")
    df = ingest_wide_file(spark, str(p), service="SMP")
    assert "OPERADORA" in df.columns
    rows = df.collect()
    assert len(rows) == 2
    assert {r["OPERADORA"] for r in rows} == {"CLARO SA", "CLARO NXT"}
    # without OPERADORA these two rows are identical — dropDuplicates must
    # NOT merge them now that the column survives
    assert consolidate([df]).count() == 2


def _make_ods(rows: list[list[str | None]]) -> bytes:
    """Minimal valid ODS: zip with mimetype + content.xml (first sheet),
    exercising number-columns-repeated RLE and empty cells."""
    import io
    import zipfile
    from xml.sax.saxutils import escape

    body = []
    for r in rows:
        cells = []
        for v in r:
            if v is None:
                cells.append("<table:table-cell/>")
            else:
                cells.append(
                    '<table:table-cell office:value-type="string">'
                    f"<text:p>{escape(v)}</text:p></table:table-cell>"
                )
        # RLE-pad to the grid edge like real writers do (must be clamped)
        cells.append('<table:table-cell table:number-columns-repeated="16384"/>')
        body.append("<table:table-row>" + "".join(cells) + "</table:table-row>")
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        "<office:document-content "
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        "<office:body><office:spreadsheet>"
        '<table:table table:name="Sheet1">'
        + "".join(body)
        + '</table:table><table:table table:name="Sheet2">'
        "<table:table-row><table:table-cell office:value-type=\"string\">"
        "<text:p>second sheet must be ignored</text:p>"
        "</table:table-cell></table:table-row>"
        "</table:table></office:spreadsheet></office:body>"
        "</office:document-content>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("mimetype", "application/vnd.oasis.opendocument.spreadsheet")
        z.writestr("content.xml", content)
    return buf.getvalue()


def test_ingest_ods_end_to_end(spark, tmp_path):
    """S4+S6: the ODS reader (dependency-free zip+XML path) through the full
    wide->long chain."""
    from be_analytic_etl_spark.sources.ingest import read_ods

    ods = _make_ods(
        [
            ["SERVIÇO: SMP", None, None],
            ["GRUPO ECONÔMICO", "VARIAVEL", "2021-03-01 00:00:00"],
            ["CLARO", "IDA", "7,5"],
            ["VIVO", "IDA", "1.250,25"],
        ]
    )
    p = tmp_path / "ida_2021.ods"
    p.write_bytes(ods)

    raw = read_ods(spark, str(p))
    assert raw.columns == ["_c0", "_c1", "_c2"]  # RLE padding clamped
    assert raw.count() == 4

    out = ingest_wide_file(spark, str(p), service="SMP", fmt="ods")
    rows = {r["GRUPO_ECONOMICO"]: r for r in out.collect()}
    assert rows["CLARO"]["VALOR"] == 7.5
    assert rows["VIVO"]["VALOR"] == 1250.25
    assert str(rows["CLARO"]["REFERENCIA_MES"]) == "2021-03-01"
    assert {r["SERVICO"] for r in rows.values()} == {"SMP"}
    # bytes input path (the S3 download handoff shape)
    assert read_ods(spark, ods).count() == 4


def test_filter_manifest(spark):
    res = spark.createDataFrame(
        [
            ("IDA SMP 2020", "http://x\\y\\a.ods", "ODS"),
            ("IDA STFC 2019", "http://x/b.csv", "CSV"),
            ("IDA SMP 2020", "http://x/b.pdf", "PDF"),
            ("Outra coisa", "http://x/c.csv", "CSV"),
        ],
        "titulo string, url string, formato string",
    )
    out = filter_manifest(res).collect()
    assert len(out) == 2
    by_title = {r["titulo"]: r for r in out}
    assert by_title["IDA SMP 2020"]["url"] == "http://x/y/a.ods"
    assert by_title["IDA SMP 2020"]["servico"] == "SMP"
    assert by_title["IDA SMP 2020"]["ano"] == 2020
    assert by_title["IDA STFC 2019"]["servico"] == "STFC"


def test_flagship_view_on_ingested_fact(spark, wide_files):
    """The full reference pipeline: ingest -> consolidate -> finalize ->
    consolidacao_de_metricas (with the fact's 'servico' being the indicator
    filtered on)."""
    from be_analytic_etl_spark.plans.flagship import mom_variation_pivot

    fact = _fleet_fact(spark, wide_files)
    out = mom_variation_pivot(
        fact.filter(F.col("servico") == "IDA"),
        time_col="mes_referencia",
        group_col="grupo_economico",
        value_col="valor",
        pivot={"CLARO": "claro", "VIVO": "vivo", "TIM": "tim"},
    )
    rows = {r["mes"]: r for r in out.collect()}
    assert set(rows) <= {"2020-02", "2020-03"}
    # 2020-02: CLARO avg (90+91)/2=90.5 vs prev 85.5 -> +5.8%
    assert rows["2020-02"]["claro"] == pytest.approx(5.8)
    # VIVO: 2.0 vs prev 1234.56 -> -99.8%
    assert rows["2020-02"]["vivo"] == pytest.approx(-99.8)
