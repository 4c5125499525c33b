"""Differential tests: every registered query vs its DuckDB oracle at
sf0.001 (fast loop; the driver repeats this at sf0.01), plus a check
that every registry module is actually imported."""

from __future__ import annotations

import json
import os
import pkgutil
import subprocess
import sys

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_compare import compare, duck_connect
import yougile_etl_pipeline_spark
from yougile_etl_pipeline_spark.registry import ORACLES, QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_REGISTERED = 444


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    df = QUERIES[name](spark, SF_SMOKE)
    issues = compare(df, duck, ORACLES[name])
    assert not issues, f"{name}: " + "; ".join(issues)


def test_all_oracle_keys_have_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_registry_contents_complete():
    """A registry module whose import fell out would silently drop its
    queries from the parity sweep above. Each registry_rNN module's
    RNN_ENTRIES manifest (read by bench.py) must list exactly the
    queries it registers."""
    assert len(QUERIES) == len(ORACLES) == N_REGISTERED
    mods = [m.name for m in pkgutil.iter_modules(
        yougile_etl_pipeline_spark.__path__)
        if m.name.startswith("registry")]
    for mod in mods:
        qual = f"yougile_etl_pipeline_spark.{mod}"
        assert qual in sys.modules, f"{mod} is never imported"
        manifest = getattr(sys.modules[qual],
                           f"{mod.removeprefix('registry_').upper()}_ENTRIES",
                           None)
        if manifest is None:
            continue
        registered = [n for n, f in QUERIES.items() if f.__module__ == qual]
        assert sorted(manifest) == sorted(registered), mod
        missing = [n for n in manifest if n not in ORACLES]
        assert not missing, f"{mod}: entries without oracles: {missing}"


def test_registry_contents_independent_of_entry_module():
    """Entering the engine through registry_ext (the circular tail-import
    path) must register the same queries and oracles as the canonical
    `import ...registry`."""
    code = (
        "import json, sys; sys.path.insert(0, %r)\n"
        "from yougile_etl_pipeline_spark.registry_ext import _shingles_sql\n"
        "from yougile_etl_pipeline_spark.registry import ORACLES, QUERIES\n"
        "print(json.dumps({n: [f.__module__, f.__qualname__, ORACLES.get(n)]\n"
        "                  for n, f in QUERIES.items()}))\n" % REPO)
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    via_ext = json.loads(out.stdout)
    canonical = {n: [f.__module__, f.__qualname__, ORACLES.get(n)]
                 for n, f in QUERIES.items()}
    assert via_ext == canonical
