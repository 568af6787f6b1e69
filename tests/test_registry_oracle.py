"""Run every registered query against its DuckDB oracle.

The same compare as ``tools/verify_driver.py``, at a small scale factor.
"""

from __future__ import annotations

from tests.conftest import SF_DIR, assert_matches_oracle


def _pairs():
    from be_analytic_etl_spark.registry import ORACLE_SQL, QUERIES

    return sorted((name, QUERIES[name], ORACLE_SQL[name]) for name in QUERIES)


def test_every_query_matches_oracle(spark, duck):
    """Whole-registry oracle gate, threaded: the per-query Spark-vs-
    DuckDB comparisons are independent, so a small pool overlaps them
    (optimization guide §2.6 — the serial parametrized form cost 431 s
    of the 2665 s quiet suite wall; the census form reports EVERY
    mismatching query in one failure instead of -x stopping at the
    first). Each worker compares through its own DuckDB cursor
    (connections are not safe for concurrent execute)."""
    from concurrent.futures import ThreadPoolExecutor

    def check(pair):
        name, fn, sql = pair
        try:
            df = fn(spark, SF_DIR)
            cur = duck.cursor()
            try:
                assert_matches_oracle(df, cur, sql)
            finally:
                cur.close()
        except Exception as e:  # noqa: BLE001 - census, not first-failure
            return (name, f"{type(e).__name__}: {str(e)[:200]}")
        return None

    with ThreadPoolExecutor(max_workers=8) as pool:
        failures = [f for f in pool.map(check, _pairs()) if f]
    assert not failures, _census_message(failures)


def _census_message(failures):
    """The census failure text, ending with the command that reruns just
    the failing queries."""
    names = " ".join(name for name, _ in failures)
    return (
        f"{len(failures)} queries mismatch their oracle: {failures}\n"
        f"rerun them one at a time: "
        f"python tools/verify_driver.py {SF_DIR} {names}"
    )


def test_census_message_ends_with_rerun_command():
    msg = _census_message([("q_a", "AssertionError: x"), ("q_b", "KeyError: y")])
    assert msg.endswith(f"python tools/verify_driver.py {SF_DIR} q_a q_b")


def test_registry_has_no_rows_only_queries():
    """EVERY registered query is value-checked: each name has non-empty
    oracle SQL text. A registration that passes ``None`` or an empty
    string as its oracle fails here, by name, rather than as an opaque
    error inside the census."""
    from be_analytic_etl_spark.registry import ORACLE_SQL, QUERIES

    rows_only = [
        n for n in QUERIES
        if not isinstance(ORACLE_SQL.get(n), str) or not ORACLE_SQL[n].strip()
    ]
    assert rows_only == [], rows_only
