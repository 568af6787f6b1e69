"""The driver heap default follows the memory the process can use."""

from __future__ import annotations

from be_analytic_etl_spark import session
from be_analytic_etl_spark.session import driver_memory


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


def test_driver_memory_is_half_the_usable_memory_capped_at_24g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    for usable, want in [
        (15 * 2**30, "7680m"),  # a 15 GiB host
        (256 * 2**30, "24576m"),
        (2**29, "512m"),  # floor
        (None, "24576m"),  # nothing readable: the cap
    ]:
        monkeypatch.setattr(session, "_usable_memory_bytes", lambda u=usable: u)
        assert driver_memory() == want


def test_usable_memory_is_read_on_this_host():
    usable = session._usable_memory_bytes()
    assert usable is None or usable > 0
