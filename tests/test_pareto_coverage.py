"""Pareto coverage at top-k ranks (`mart_pareto_coverage`) — proven
through the registry copy directly (the engine side is a composition
of abc_analysis + one broadcast total)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from tests.oracle_compare import compare, duck_connect
from yougile_etl_pipeline_spark.registry import ORACLES, QUERIES


def test_pareto_coverage_duckdb_parity(spark):
    con = duck_connect(SF_SMOKE)
    df = QUERIES["mart_pareto_coverage"](spark, SF_SMOKE)
    issues = compare(df, con, ORACLES["mart_pareto_coverage"])
    con.close()
    assert not issues, issues
    assert df.count() in (2, 3)  # k=1000 cut needs >=1000 parts (sf0.01+)
