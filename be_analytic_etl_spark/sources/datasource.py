"""Spark 4 Python DataSource for the reference's REST/TSV extract chain.

The reference downloads every resource in a driver-side loop
(/root/reference/main.py:347-369) and probes 4 encodings per file
(main.py:371-389). This re-expresses that ingest as a first-class Spark
source: ``spark.read.format("rest_tsv").option("urls", ...)`` where each
URL becomes one InputPartition, so a 1000-resource manifest downloads and
decodes on 1000 executor cores instead of serially on the driver — the
data-plane half of the manifest control plane in ``sources.manifest``.

Design:

- one InputPartition per URL -> fetch + decode + line-split runs
  executor-side, embarrassingly parallel, restartable per task;
- ``file://`` URLs go through the same code path as ``http(s)://`` (the
  offline/test path — no socket needed to exercise the source);
- the reference's 4-encoding fallback probe is applied per resource
  (utf-8 -> latin-1 -> cp1252 -> utf-16, overridable via the
  ``encodings`` option);
- output schema is raw transport rows ``(url, line_no, line)`` — parsing
  into typed frames is downstream's job (sources.ingest.transform_wide),
  mirroring how spark.read.text feeds a parser.

Python DataSources run the read loop in Python workers (Arrow-batched);
that is the right trade here because the per-row work is network/IO
bound, not CPU-bound — the one place a Python boundary costs nothing.
"""

from __future__ import annotations

import re
import urllib.request
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

#: The reference's encoding probe order (main.py:371-389).
DEFAULT_ENCODINGS = ("utf-8", "latin-1", "cp1252", "utf-16")


def _split_records(text: str) -> list[str]:
    """Split a resource into records on REAL newlines only
    (``\\r\\n`` / ``\\r`` / ``\\n``) — the universal-newline semantics
    of the reference's pandas reader. NOT ``str.splitlines()``: that
    also splits on ``\\x0b \\x0c \\x1c-\\x1e \\x85 \\u2028 \\u2029``,
    so a vertical-tab inside a FIELD would silently fracture the record
    (caught by the string-poisoned gate when \\x0b joined the
    adversarial set). A trailing newline yields no empty final record,
    matching splitlines' framing."""
    recs = re.split(r"\r\n|\r|\n", text)
    if recs and recs[-1] == "":
        recs.pop()
    return recs


def _decode_with_fallback(raw: bytes, encodings: tuple[str, ...]) -> str:
    last_err: Exception | None = None
    for enc in encodings:
        try:
            return raw.decode(enc)
        except (UnicodeDecodeError, LookupError) as e:  # try the next probe
            last_err = e
    raise ValueError(f"no encoding in {encodings} decodes resource") from last_err


class RestTsvDataSource(DataSource):
    """``format("rest_tsv")``: line-oriented resources by URL list.

    Options:
    - ``urls``: comma-separated resource URLs (http/https/file). Required.
    - ``encodings``: comma-separated decode-probe order (default the
      reference's utf-8,latin-1,cp1252,utf-16).
    """

    @classmethod
    def name(cls) -> str:
        return "rest_tsv"

    def schema(self) -> str:
        return "url string, line_no bigint, line string"

    def reader(self, schema) -> "RestTsvReader":
        return RestTsvReader(self.options)


class RestTsvReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        urls = (options.get("urls") or "").strip()
        if not urls:
            raise ValueError("rest_tsv requires option 'urls'")
        self._urls = [u.strip() for u in urls.split(",") if u.strip()]
        encs = options.get("encodings")
        self._encodings = (
            tuple(e.strip() for e in encs.split(",") if e.strip())
            if encs
            else DEFAULT_ENCODINGS
        )

    def partitions(self) -> list[InputPartition]:
        return [InputPartition(u) for u in self._urls]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        url = partition.value
        with urllib.request.urlopen(url, timeout=60) as resp:
            raw = resp.read()
        text = _decode_with_fallback(raw, self._encodings)
        # record split on \r\n|\r|\n only (so \r\n resources don't leak
        # \r into the last column AND an in-field \x0b/\x0c survives —
        # see _split_records)
        for i, line in enumerate(_split_records(text)):
            yield (url, i, line)


def register_rest_tsv(spark) -> None:
    """Idempotently register the source with a session."""
    spark.dataSource.register(RestTsvDataSource)
