"""Round-8 query registrations (none so far).

Imported at the bottom of registry_ext.py with the other
registry_rNN modules (the circular-import note there explains why);
R08_ENTRIES below lists the module's registrations, and
tests/test_oracle_parity.py checks every one against its DuckDB
oracle.
"""

from __future__ import annotations

from yougile_etl_pipeline_spark.registry import register  # noqa: F401
from yougile_etl_pipeline_spark.sources.tables import load_table  # noqa: F401


# Manifest of this module's registrations (tests/test_oracle_parity.py
# keeps it in step with the registry; bench.py's r08 block times
# every entry).
R08_ENTRIES: list[str] = []
