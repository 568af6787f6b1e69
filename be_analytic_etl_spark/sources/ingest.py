"""Messy-spreadsheet ingest: headerless wide files -> typed long fact table.

Re-expresses the reference's extract/transform chain
(``/root/reference/main.py:202-590``) as lazy DataFrame transforms:

    read headerless all-string                    (main.py:273,320)
    -> header-row discovery by marker             (main.py:202-218)  P5
    -> header promotion + slice                   (main.py:226-237)  P6
    -> metadata-row removal (pattern list)        (main.py:239-251)  P7
    -> drop all-null rows                         (main.py:254)      P8
    -> first-two-column rename                    (main.py:286-291)  P9
    -> date-column-name normalization             (main.py:398-428)  P10
    -> unpivot wide->long                         (main.py:482-518)  R1
    -> month parse, value parse (BR locale), service tag
                                                  (main.py:520-582)  R2-R4

The decimal-string tidy (main.py:431-479, P11) runs only on the
pass-through branch, where cells stay strings: stripping trailing zeros
from a digit string never changes the double it parses to.

Scale notes:
- Each raw file is small (a spreadsheet). Building a file's plan runs NO
  Spark job and a fixed number of py4j calls, however many columns the
  file has. Plans are analyzed as they are built (Spark SQL, SIGMOD 2015),
  so that build cost is paid on the driver per file and again by every
  consumer of the plan:
  * the CSV read takes an explicit all-string schema as wide as the
    widest line up to the header row, measured on the driver from the
    bytes the charset probe reads; there is no inference pass, and a
    narrow first line cannot cut the table to its width;
  * the same driver pass finds the header row and hands it to the
    transform as field metadata of the raw frame (``HEADER_ROW``), so the
    header lookup is a filter on the row number, not an action; frames of
    unknown origin keep the one-job ordered lookup;
  * the metadata-row and blank-row filters are one SQL expression over
    ``concat_ws`` of the row: no per-column OR chain (whose depth grew
    with the column count until the analyzer overflowed its stack);
  * rename, month-label normalization, the unpivot and the BR-number
    parse are one SQL statement (``UNPIVOT INCLUDE NULLS``, planned as an
    Expand whose size estimate carries the month fan-out), and the parse
    applies once, to the unpivoted value column.
- The *fleet* of files is processed as independent lazy plans unioned on
  the fixed long schema (SURVEY §7.4.4: unpivot FIRST, then union —
  per-file month columns differ, the long schema doesn't).
- All value cleaning is native SQL expressions (codegen); the only pandas
  bridge is ODS parsing, which has no Spark source (SURVEY §7.3).
"""

from __future__ import annotations

import csv
import datetime as _dt
import io
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from be_analytic_etl_spark.functions import strip_trailing_zeros
from be_analytic_etl_spark.functions.sqltext import quote_ident, sql_string
from be_analytic_etl_spark.functions.cleaning import br_number_to_double_sql
from be_analytic_etl_spark.sources.sinks import written_schema

#: Metadata phrases marking preamble rows to drop (main.py:240-243).
METADATA_PATTERNS = [
    "SERVIÇO:",
    "PERÍODO:",
    "FONTE:",
    "PARA MAIORES INFORMAÇÕES",
    "ÍNDICE DE DESEMPENHO NO ATENDIMENTO",
    "ANATEL",
]

#: Header-row discovery markers (main.py:215).
HEADER_MARKERS = ["GRUPO ECONÔMICO", "GRUPO_ECON"]
_UPPER_MARKERS = [m.upper() for m in HEADER_MARKERS]

#: Encodings tried for CSV ingest, in order (main.py:315).
CSV_ENCODINGS = ["utf-8", "latin-1", "iso-8859-1", "cp1252"]

#: Probed encoding -> the charset name Spark's CSV reader accepts (Spark
#: 4.1 takes only iso-8859-1, us-ascii, utf-8, utf-16* and utf-32). cp1252
#: reads as ISO-8859-1, as in the reference, whose probe tries latin-1
#: (which never fails) first.
SPARK_CHARSETS = {
    "utf-8": "UTF-8",
    "latin-1": "ISO-8859-1",
    "iso-8859-1": "ISO-8859-1",
    "cp1252": "ISO-8859-1",
}

_PROBE_BYTES = 4096
_ROWNUM = "__rownum"
#: Hadoop's line reader drops this UTF-8 byte-order mark from a file's
#: first line, whatever the charset.
_BOM = b"\xef\xbb\xbf"

#: Field-metadata key on ``_c0`` of a raw frame whose reader found the
#: header row on the driver: ``{"record": i, "cells": [...]}``, where ``i``
#: is the header's row index and equals its ``monotonically_increasing_id``
#: (the reader guarantees that the row is in partition 0).
HEADER_ROW = "header_row"


def read_headerless_csv(
    spark: SparkSession, path: str, sep: str = "\t", encoding: str | None = None
) -> DataFrame:
    """All-string headerless CSV read with encoding fallback.

    Spark reads one charset per load, so the encoding is probed with a
    cheap driver-side read of the file head (SURVEY §7.4.6), mapped to
    Spark's name for it, and a single correctly-configured distributed
    read is issued. The schema is explicit: ``_c0 .. _c{w-1}`` strings,
    ``w`` the widest line up to and including the header row, measured in
    the same driver-side pass. Shorter rows are null-padded. ``encoding``
    takes a Python codec or a Spark charset name.

    The pass also attaches the header row (``HEADER_ROW``) when the line
    starts inside the first file split, which is partition 0 of the read:
    before ``min(spark.sql.files.maxPartitionBytes,
    spark.sql.files.openCostInBytes)``, the smallest split Spark makes.
    A header further in, or a charset other than the byte-line ones the
    probe yields, leaves the lookup to ``transform_wide``'s Spark job.
    """
    with open(path, "rb") as f:
        head = f.read(_PROBE_BYTES)
        enc = encoding or _probe(head, CSV_ENCODINGS)
        start = len(_BOM) if head.startswith(_BOM) else 0
        f.seek(start)
        lines = io.TextIOWrapper(f, encoding=enc, errors="replace", newline="")
        width, found = _scan_to_header(lines, sep, enc, start)
    charset = SPARK_CHARSETS.get(enc.lower(), enc)
    header = None
    if found is not None and charset in SPARK_CHARSETS.values():
        cells, record, offset = found
        conf = spark._jsparkSession.sessionState().conf()
        if offset < min(conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes()):
            header = (cells + [None] * (width - len(cells)), record)
    return spark.read.schema(_string_schema(width, header)).csv(
        path, sep=sep, header=False, encoding=charset
    )


def _scan_to_header(lines, sep: str, enc: str, offset: int) -> tuple[int, tuple | None]:
    """(width, found) over ``lines``, raw lines that start at byte ``offset``.

    ``width`` is the field count of the widest line up to and including
    the first line with a cell holding a header marker (every line when
    none does). ``found`` is that line's (cells, record, byte offset), or
    None. ``record`` counts the rows Spark's CSV reader makes before it:
    the reader drops every line whose Java ``trim()`` is empty, i.e. that
    holds no character above U+0020. The offset re-encodes each decoded
    line, which over-counts a replaced byte and never under-counts. Each
    line splits on its own, as Spark's line-by-line CSV parse does."""
    width, record = 1, 0
    for raw in lines:
        line = raw.rstrip("\r\n")
        cells = next(csv.reader([line], delimiter=sep), []) if len(sep) == 1 else line.split(sep)
        width = max(width, len(cells))
        if _has_marker(cells):
            return width, ([c or None for c in cells], record, offset)
        record += any(ch > " " for ch in line)
        offset += len(raw.encode(enc, "replace"))
    return width, None


def _has_marker(cells: list) -> bool:
    """Some cell holds a header marker (case-insensitive)."""
    return any(m in c.upper() for c in cells if c for m in _UPPER_MARKERS)


def _string_schema(width: int, header: tuple[list, int] | None = None) -> StructType:
    """``_c0 .. _c{width-1}`` nullable strings; ``header`` (cells, record)
    rides on ``_c0`` as ``HEADER_ROW`` metadata."""
    meta = {} if header is None else {HEADER_ROW: {"cells": header[0], "record": header[1]}}
    return StructType(
        [StructField(f"_c{i}", StringType(), True, meta if i == 0 else None) for i in range(width)]
    )


def read_typed_csv(
    spark: SparkSession, path: str, sep: str = ",", encoding: str = "utf-8"
) -> DataFrame:
    """S8: header CSV re-read with types — the consolidated-CSV reload
    step (the reference's ``connect_postgre.py:224-226``, ``pd.read_csv``
    with default dtype inference).

    A directory written by ``sinks.write_csv`` carries the schema of the
    frame it came from (``sinks.written_schema``). The read takes that
    schema with ``enforceSchema=False``, so Spark checks each file's
    header against the field names and a stale schema fails loudly. The
    types are then the written ones (``id`` stays ``bigint``), and the
    read runs no Spark job. Any other CSV is inferred, like the
    reference's reload; that costs two jobs, one for the header and one
    for the types.
    """
    schema = written_schema(spark, path)
    if schema is None:
        return spark.read.csv(path, sep=sep, header=True, inferSchema=True, encoding=encoding)
    return spark.read.schema(schema).csv(
        path, sep=sep, header=True, enforceSchema=False, encoding=encoding
    )


def probe_encoding(path: str, candidates: list[str] | None = None) -> str:
    """Pick the first encoding that decodes the file head cleanly (the
    reference's probe order, ``CSV_ENCODINGS``). ``SPARK_CHARSETS`` maps
    the result to the name Spark's reader takes."""
    with open(path, "rb") as f:
        return _probe(f.read(_PROBE_BYTES), candidates or CSV_ENCODINGS)


def _probe(head: bytes, candidates: list[str]) -> str:
    """First of ``candidates`` that decodes ``head`` cleanly.

    A multi-byte sequence cut by the probe window is not evidence against
    the encoding (UTF-8 code points span up to 4 bytes): a decode error
    confined to the last 3 bytes of a full window is treated as a clean
    decode, so a valid UTF-8 file can't fall through to latin-1 (which
    never fails) and come back mojibake'd.
    """
    for enc in candidates:
        try:
            head.decode(enc)
            return enc
        except UnicodeDecodeError as e:
            if len(head) == _PROBE_BYTES and e.start >= len(head) - 3:
                return enc
    return "utf-8"


_ODS_TABLE = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"
_ODS_OFFICE = "{urn:oasis:names:tc:opendocument:xmlns:office:1.0}"
_ODS_TEXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"


def _parse_ods(data: bytes) -> list[list[str | None]]:
    """Dependency-free ODS parse: an .ods is a zip whose ``content.xml``
    holds the sheet; cells are ``table:table-cell`` elements with
    ``table:number-columns-repeated`` run-length encoding and values as
    ``text:p`` children (or an ``office:value`` attribute). First sheet
    only, like the reference's ``pd.read_excel`` default (main.py:283).

    Spreadsheet writers RLE-pad rows/columns to the 16k grid edge; repeats
    of EMPTY cells/rows above 256 are clamped and trailing empties trimmed,
    so the grid stays data-sized."""
    import zipfile
    from xml.etree import ElementTree as ET

    with zipfile.ZipFile(io.BytesIO(data)) as z:
        root = ET.fromstring(z.read("content.xml"))
    table = root.find(f".//{_ODS_TABLE}table")
    if table is None:
        return []
    rows: list[list[str | None]] = []
    for tr in table.findall(f"{_ODS_TABLE}table-row"):
        row_rep = int(tr.get(f"{_ODS_TABLE}number-rows-repeated", "1"))
        cells: list[str | None] = []
        for tc in tr.findall(f"{_ODS_TABLE}table-cell"):
            rep = int(tc.get(f"{_ODS_TABLE}number-columns-repeated", "1"))
            ps = tc.findall(f"{_ODS_TEXT}p")
            if ps:
                val: str | None = "\n".join("".join(p.itertext()) for p in ps)
            else:
                val = tc.get(f"{_ODS_OFFICE}value")
            if val is None and rep > 256:
                rep = 1
            cells.extend([val] * rep)
        while cells and cells[-1] is None:
            cells.pop()
        if not cells and row_rep > 256:
            row_rep = 1
        rows.extend(list(cells) for _ in range(row_rep))
    while rows and not rows[-1]:
        rows.pop()
    return rows


def read_ods(spark: SparkSession, path_or_bytes) -> DataFrame:
    """S4: ODS reader. No native Spark source exists, so the (spreadsheet-
    sized) file parses on the driver and lifts to an all-string DataFrame
    (main.py:259-305 semantics: ``header=None, dtype=str``).

    Primary path is the dependency-free zip+XML parser (``_parse_ods``);
    pandas/odfpy, when installed, is used instead for full-fidelity edge
    cases (formulas, covered cells).

    The rows are on the driver, so the header row is found here and
    attached as ``HEADER_ROW`` metadata, as ``read_headerless_csv`` does.
    The frame is one partition, in which a row's index is its
    ``monotonically_increasing_id``."""
    if isinstance(path_or_bytes, bytes):
        data = path_or_bytes
    else:
        with open(path_or_bytes, "rb") as f:
            data = f.read()

    try:
        import odf  # type: ignore  # noqa: F401
        import pandas as pd

        pdf = pd.read_excel(io.BytesIO(data), engine="odf", header=None, dtype=str)
        rows = pdf.astype("object").where(pd.notna(pdf), None).values.tolist()
    except ImportError:
        rows = _parse_ods(data)
    width = max((len(r) for r in rows), default=0)
    padded = [r + [None] * (width - len(r)) for r in rows]
    header = next(((r, i) for i, r in enumerate(padded) if _has_marker(r)), None)
    return spark.createDataFrame(padded, schema=_string_schema(width, header)).coalesce(1)


def _row_text_sql(cols: list[str], sep_sql: str) -> str:
    """SQL text: the row's non-null cells joined by ``sep_sql``."""
    return f"concat_ws({sep_sql}, {', '.join(quote_ident(c) for c in cols)})"


def _has_any_sql(cols: list[str], needles: list[str]) -> str:
    """SQL predicate: some cell contains one of ``needles``
    (case-insensitive, null-safe). One RLIKE of the escaped needles over
    the upper-cased row joined by char(1), which no needle contains, so a
    match never spans two cells."""
    alternation = "|".join(re.escape(n.upper()) for n in needles)
    return f"upper({_row_text_sql(cols, 'char(1)')}) RLIKE {sql_string(alternation)}"


def _not_blank_sql(cols: list[str]) -> str:
    """SQL predicate: some cell holds more than spaces."""
    return "trim(" + _row_text_sql(cols, "''") + ") <> ''"


def _find_header(df: DataFrame, markers: list[str]) -> tuple[DataFrame, list]:
    """(rows below the header row, the header row's cells). A reader that
    found the header on the driver left it in ``_c0``'s ``HEADER_ROW``
    metadata, and the rows below it are a filter on the row number: no
    Spark job. Any other frame costs ONE Spark job: the first marker row
    by row number, which Spark plans as one ``TakeOrderedAndProject``
    over all partitions (a plain ``first()`` scans partition 0 and widens
    its scan job by job). No marker: every row, and a header of nulls."""
    cols = df.columns
    dfn = df.selectExpr("*", f"monotonically_increasing_id() AS {_ROWNUM}")
    found = df.schema.fields[0].metadata.get(HEADER_ROW) if cols else None
    if found is None:
        hdr = dfn.filter(_has_any_sql(cols, markers)).orderBy(_ROWNUM).first()
        if hdr is None:
            return df, [None] * len(cols)
        found = {"cells": list(hdr)[: len(cols)], "record": hdr[_ROWNUM]}
    return dfn.filter(f"{_ROWNUM} > {found['record']}").drop(_ROWNUM), found["cells"]


def _header_names(header_vals: list) -> list[str]:
    """Promoted column names: stripped cell text, ``col_{i}`` for blank
    cells, ``_2``/``_3``... suffixes for repeats."""
    names, seen = [], set()
    for i, v in enumerate(header_vals):
        name = str(v).strip() if v is not None and str(v).strip() else f"col_{i}"
        base = name
        k = 1
        while name in seen:
            k += 1
            name = f"{base}_{k}"
        seen.add(name)
        names.append(name)
    return names


_DATE_COL_FULL = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$")
_DATE_COL_YM = re.compile(r"^\d{4}-\d{2}$")


def _month_label(name: str) -> str:
    """'YYYY-MM-DD HH:MM:SS' -> 'YYYY-MM'; any other label unchanged."""
    cs = name.strip()
    if _DATE_COL_FULL.match(cs):
        return _dt.datetime.strptime(cs, "%Y-%m-%d %H:%M:%S").strftime("%Y-%m")
    return name


_ID_COLUMNS = {"GRUPO_ECONOMICO", "VARIAVEL", "OPERADORA"}


def _is_id(name: str) -> bool:
    return name.upper() in _ID_COLUMNS


def _is_month(name: str) -> bool:
    return _DATE_COL_YM.match(name.strip()) is not None


def classify_columns(columns: list[str]) -> tuple[list[str], list[str]]:
    """R1 column classification: id columns vs month ('YYYY-MM') columns."""
    return [c for c in columns if _is_id(c)], [c for c in columns if _is_month(c)]


def tidy_decimal_strings(df: DataFrame, skip_cols: list[str]) -> DataFrame:
    """P11: trailing-zero strip on every non-id column (string cosmetics)."""
    return df.select(
        *[
            F.col(c) if c in skip_cols else strip_trailing_zeros(c).alias(c)
            for c in df.columns
        ]
    )


def _to_long_sql(
    df: DataFrame, cols: list[str], names: list[str], service: str
) -> DataFrame | None:
    """The R1-R4 step over ``df``, whose columns ``cols`` have the logical
    names ``names`` (position by position), as one SQL statement; None
    when there is no id or no month column.

    ``UNPIVOT INCLUDE NULLS`` turns the raw month cells into one string
    column (NULL cells kept), and the month label and the BR-number parse
    apply once, to that column. Spark plans the unpivot as an Expand,
    whose size estimate is the input's times the month count, so a size
    gate downstream (``session.fits_one_task``) sees the long table's
    fan-out. The statement is one string, so building it costs the same
    py4j calls for 4 months as for 100. Every cell is cast to the string
    it already is, which leaves the reader's field metadata
    (``HEADER_ROW``) behind: it describes the raw file, not the fact."""
    ids = [(c, n) for c, n in zip(cols, names) if _is_id(n)]
    months = [(c, n) for c, n in zip(cols, names) if _is_month(n)]
    if not ids or not months:
        return None
    inner = ", ".join(
        [f"CAST({quote_ident(c)} AS STRING) AS {quote_ident(n)}" for c, n in ids]
        + [f"CAST({quote_ident(c)} AS STRING) AS {quote_ident(c)}" for c, _ in months]
    )
    arms = ", ".join(f"{quote_ident(c)} AS {quote_ident(n)}" for c, n in months)
    head = (
        f"SELECT {', '.join(quote_ident(n) for _, n in ids)}, "
        "to_date(__mes, 'yyyy-MM') AS REFERENCIA_MES, "
        f"{br_number_to_double_sql('__raw')} AS VALOR, "
        f"{sql_string(service)} AS SERVICO "
        f"FROM (SELECT {inner} FROM "
    )
    tail = f") UNPIVOT INCLUDE NULLS (__raw FOR __mes IN ({arms}))"
    # spark.sql str.formats the text to fill {t}: escape every other brace
    text = _format_escape(head) + "{t}" + _format_escape(tail)
    return df.sparkSession.sql(text, t=df)


def _format_escape(text: str) -> str:
    return text.replace("{", "{{").replace("}", "}}")


def to_long(df: DataFrame, service: str) -> DataFrame:
    """R1-R4: unpivot month columns into (REFERENCIA_MES, VALOR), parse the
    month to DateType and the value through the Brazilian-number normalizer,
    and tag the source service. Falls back to pass-through + SERVICO when no
    id/date columns exist (main.py:505-508).

    ALL id columns survive the unpivot (main.py:499 keeps OPERADORA through
    the melt): files keyed by operator would otherwise lose that column and
    consolidate().dropDuplicates() could merge rows from different operators
    that agree on the remaining columns. Files without OPERADORA null-fill
    it at union time (``unionByName(allowMissingColumns=True)``).

    The raw cells are unpivoted first and parsed after, so the plan holds
    one copy of the BR-number expression, not one per month."""
    cols = df.columns
    long = _to_long_sql(df, cols, cols, service)
    if long is None:
        return df.withColumn("SERVICO", F.lit(service))
    return long


def transform_wide(raw: DataFrame, service: str) -> DataFrame:
    """The full P5-P10 + R1-R4 transform chain over an already-read raw
    frame: discover header -> drop metadata/blank rows -> positional
    rename -> date-label normalize -> unpivot long. Shared by
    ``ingest_wide_file`` (production) and the ``ingest_e2e`` registered
    oracle query (synthetic fixture) so the oracle checks EXACTLY the
    production chain.

    No Spark job when the reader attached the header row (``HEADER_ROW``),
    else exactly one (the ordered header lookup, however many partitions
    the raw frame has), and a fixed number of py4j calls:
    the row filter is one expression, and the rename (P9) and label
    normalization (P10) are name edits on the driver that land in the
    one unpivot statement. Only the pass-through branch (no id or month
    column) renames the frame and tidies decimal strings (P11)."""
    data, header = _find_header(raw, HEADER_MARKERS)
    cols = raw.columns
    names = _header_names(header)
    data = data.filter(f"{_not_blank_sql(cols)} AND NOT {_has_any_sql(cols, METADATA_PATTERNS)}")
    # P9: first two columns are (group, variable)
    if len(names) >= 2:
        names[:2] = ["GRUPO_ECONOMICO", "VARIAVEL"]
    names = [_month_label(n) for n in names]
    long = _to_long_sql(data, cols, names, service)
    if long is not None:
        return long
    id_cols, _ = classify_columns(names)
    return to_long(tidy_decimal_strings(data.toDF(*names), skip_cols=id_cols), service)


def ingest_wide_file(
    spark: SparkSession,
    path: str,
    service: str,
    fmt: str = "csv",
    sep: str = "\t",
) -> DataFrame:
    """Full per-file pipeline: read -> discover header -> clean -> long."""
    if fmt.lower() == "ods":
        raw = read_ods(spark, path)
    else:
        raw = read_headerless_csv(spark, path, sep=sep)
    return transform_wide(raw, service)


# --- manifest filtering (P1-P4, main.py:138-199) --------------------------


def filter_manifest(resources: DataFrame) -> DataFrame:
    """P1-P4 over a resource-manifest DataFrame with columns
    (titulo, url, formato): keep SCM/SMP/STFC ODS/CSV resources, fix
    backslash URLs, classify service, extract year."""
    from be_analytic_etl_spark.functions import classify_service, extract_year

    t = F.upper(F.coalesce(F.col("titulo"), F.lit("")))
    u = F.upper(F.coalesce(F.col("url"), F.lit("")))
    fmt = F.upper(F.coalesce(F.col("formato"), F.lit("")))
    keep = (t.contains("SCM") | t.contains("SMP") | t.contains("STFC")) & (
        fmt.contains("ODS") | u.contains(".ODS") | u.contains(".CSV")
    )
    return (
        resources.filter(keep)
        .withColumn("url", F.regexp_replace("url", r"\\", "/"))
        .withColumn("servico", classify_service("titulo"))
        .withColumn("ano", extract_year("titulo"))
    )
