"""load_table's plan memo: a hit serves the same frame, a rewritten data
file is a miss."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from be_analytic_etl_spark.sources import load_table
from tests.conftest import SF_DIR


def test_memo_serves_the_same_plan_for_an_unchanged_file(spark):
    assert load_table(spark, SF_DIR, "nation") is load_table(spark, SF_DIR, "nation")


def test_memo_sees_a_part_file_rewritten_in_place(spark, tmp_path):
    table = tmp_path / "orders.parquet"
    table.mkdir()
    part = table / "part-0.parquet"
    pq.write_table(pa.table({"x": [1, 2]}), part)
    assert load_table(spark, str(tmp_path), "orders").columns == ["x"]

    pq.write_table(pa.table({"x": [1, 2], "y": [3, 4]}), part)
    df = load_table(spark, str(tmp_path), "orders")
    assert df.columns == ["x", "y"]
    assert sorted(df.collect()) == [(1, 3), (2, 4)]
