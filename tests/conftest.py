from __future__ import annotations

import tempfile

import pytest

from yougile_etl_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", master="local[4]", extra_conf={
        # isolate saveAsTable targets (bucketed-join tests) from the repo
        "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="wh_"),
        "spark.ui.showConsoleProgress": "false",
    })
    yield s
