"""Custom Python DataSource (rest_tsv): partitioning, encoding fallback,
newline handling — the executor-side rewrite of the reference's
driver-side download loop (main.py:347-389)."""

from __future__ import annotations

import pytest

from be_analytic_etl_spark.sources.datasource import (
    DEFAULT_ENCODINGS,
    _decode_with_fallback,
    register_rest_tsv,
)


def test_decode_fallback_order():
    # latin-1 bytes that are invalid utf-8: 'ç' = 0xE7
    raw = "A\tREGIÃO ç".encode("latin-1")
    assert _decode_with_fallback(raw, DEFAULT_ENCODINGS) == "A\tREGIÃO ç"
    # clean ascii decodes on the first probe
    assert _decode_with_fallback(b"plain", DEFAULT_ENCODINGS) == "plain"


def test_decode_fallback_exhausted():
    with pytest.raises(ValueError):
        _decode_with_fallback(b"\xff\xfe\x00\xd8", ("utf-8", "ascii"))


def test_rest_tsv_reads_files_one_partition_per_url(spark, tmp_path):
    enc_file = tmp_path / "latin.tsv"
    enc_file.write_bytes("SÃO PAULO\t7\nREGIÃO\t9".encode("latin-1"))
    crlf_file = tmp_path / "crlf.tsv"
    crlf_file.write_bytes(b"a\t1\r\nb\t2\r\n")
    register_rest_tsv(spark)
    df = (
        spark.read.format("rest_tsv")
        .option("urls", f"file://{enc_file},file://{crlf_file}")
        .load()
    )
    rows = {(r.url.rsplit("/", 1)[-1], r.line_no): r.line for r in df.collect()}
    assert rows[("latin.tsv", 0)] == "SÃO PAULO\t7"
    assert rows[("latin.tsv", 1)] == "REGIÃO\t9"
    # \r\n never leaks into the line content
    assert rows[("crlf.tsv", 0)] == "a\t1" and rows[("crlf.tsv", 1)] == "b\t2"
    assert df.rdd.getNumPartitions() == 2


def test_rest_tsv_requires_urls(spark):
    register_rest_tsv(spark)
    with pytest.raises(Exception):
        spark.read.format("rest_tsv").load().collect()

