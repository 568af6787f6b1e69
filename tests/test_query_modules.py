"""The query package's layout: seven domain modules over one shared helper
module. Each module imports first in a fresh interpreter and still
leaves the whole registry loaded, and no domain module reaches into
another."""

from __future__ import annotations

import ast
import os
import pkgutil
import subprocess
import sys

import pytest

import be_analytic_etl_spark.queries as Q

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULES = sorted(m.name for m in pkgutil.iter_modules(Q.__path__, Q.__name__ + "."))
DOMAINS = ["dedup", "events", "graph", "joins", "reference", "statistics", "text"]


def test_package_holds_the_domains_and_shared():
    assert MODULES == [f"{Q.__name__}.{m}" for m in ["_shared"] + DOMAINS]


@pytest.mark.parametrize("module", MODULES)
def test_module_imports_first(module):
    code = (
        f"import {module}; "
        "from be_analytic_etl_spark.registry import QUERIES; "
        "assert len(QUERIES) == 279, len(QUERIES)"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert r.returncode == 0, r.stderr[-3000:]


def _imported_modules(path: str) -> set[str]:
    out = set()
    for n in ast.walk(ast.parse(open(path).read())):
        if isinstance(n, ast.ImportFrom) and n.module:
            out.add(n.module)
            out.update(f"{n.module}.{a.name}" for a in n.names)
        elif isinstance(n, ast.Import):
            out.update(a.name for a in n.names)
    return out


@pytest.mark.parametrize("module", MODULES)
def test_module_imports_no_other_domain(module):
    name = module.rsplit(".", 1)[1]
    imported = _imported_modules(os.path.join(Q.__path__[0], f"{name}.py"))
    pkg = {m for m in imported if m.startswith(Q.__name__ + ".")}
    if name == "_shared":
        assert pkg == set()
        assert "be_analytic_etl_spark.registry" not in imported
    else:
        assert {m.split(".")[2] for m in pkg} <= {"_shared"}
