"""Declarative pipeline composer + CLI: stage semantics, spec validation,
and equivalence of the spec-driven chain with hand-composed operators."""

from __future__ import annotations

import json

import pytest

from be_analytic_etl_spark.pipeline import STAGES, run_pipeline

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from be_analytic_etl_spark.sources import load_table

    return load_table(spark, SF_DIR, "documents").cache()


def test_unknown_op_fails_at_plan_time(docs):
    with pytest.raises(ValueError, match="unknown pipeline ops"):
        run_pipeline(docs, [{"op": "nope"}])


def test_gate_stages_compose_lazily(docs):
    out = run_pipeline(
        docs,
        [
            {"op": "quality_gate", "min_chars": 30, "min_tokens": 5},
            {"op": "normalize"},
            {"op": "classifier_gate", "threshold": 0.2},
            {"op": "split"},
        ],
    )
    assert "split" in out.columns
    n = out.count()
    assert 0 < n <= docs.count()
    # split covers only the declared labels
    labels = {r.split for r in out.select("split").distinct().collect()}
    assert labels <= {"train", "val", "test"}


def test_exact_dedup_stage_matches_operator(docs, spark):
    from be_analytic_etl_spark.operators.dedup import exact_dedup_keep_min

    got = run_pipeline(docs, [{"op": "exact_dedup"}]).count()
    want = exact_dedup_keep_min(docs).count()
    assert got == want


def test_full_spec_runs_end_to_end(docs):
    spec = [
        {"op": "quality_gate", "min_chars": 20},
        {"op": "line_dedup"},
        {"op": "exact_dedup"},
        {"op": "near_dedup", "jaccard_threshold": 0.8, "max_bucket": 64},
        {"op": "shuffle", "n_shards": 4, "seed": 1},
        {"op": "split", "weights": [["train", 0.8], ["test", 0.2]]},
    ]
    out = run_pipeline(docs, spec)
    rows = out.count()
    assert 0 < rows <= docs.count()
    assert {"shard", "pos", "split"} <= set(out.columns)


def test_every_registered_stage_has_docstring():
    for name, fn in STAGES.items():
        assert fn.__doc__, name


def test_cli_examples_name_registered_queries():
    """Every query the CLI docstring's examples run, explain or lint is
    registered — a stale example exits 2 with "unknown query"."""
    import re

    from be_analytic_etl_spark import __main__ as cli
    from be_analytic_etl_spark.registry import QUERIES

    named = re.findall(
        r"python -m be_analytic_etl_spark (?:run|explain|lint) (\w+)", cli.__doc__
    )
    assert named
    assert [n for n in named if n not in QUERIES] == []


def test_cli_list_and_run(tmp_path, capsys):
    from be_analytic_etl_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "flagship_mom_pivot" in out and "oracle" in out


def test_cli_pipeline_spec(tmp_path, spark):
    from be_analytic_etl_spark.__main__ import main

    spec = [{"op": "quality_gate", "min_chars": 10}, {"op": "split"}]
    p = tmp_path / "spec.json"
    p.write_text(json.dumps(spec))
    # NOTE: main() stops the session; run last in the module.
    assert main(["pipeline", "--spec", str(p), "--sf-dir", SF_DIR, "--show", "3"]) == 0
