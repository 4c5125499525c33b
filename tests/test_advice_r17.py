"""Regression tests for two ADVICE-r17 findings.

1. PlanKeyedLRU is process-global (dedup._SHINGLE_LRU / _SIG_LRU,
   registry_r15._SWEEP_CACHE, registry_r16._R16_CACHE), so a slot may
   only hit within the Spark application that persisted it: a new
   session must never receive a DataFrame bound to a stopped one.
2. lsh_bucket_topk_np packs each table's sign bits into one int64
   code, so planes_per_table outside [1, 63] is rejected with a
   ValueError before any Spark job runs.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from tests.conftest import SF_SMOKE
from yougile_etl_pipeline_spark.sources.tables import load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_plan_keyed_lru_never_hits_across_sessions():
    """Persist through an LRU, stop the session, start a new one and
    persist the same plan again: the result must belong to the new
    session and run. Own process, because it stops its session."""
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pyspark.sql import SparkSession\n"
        "from yougile_etl_pipeline_spark.operators.caching import (\n"
        "    PlanKeyedLRU)\n"
        "def session():\n"
        "    return (SparkSession.builder.master('local[1]')\n"
        "            .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "lru = PlanKeyedLRU(slots=2)\n"
        "old = session()\n"
        "first = lru.persist(old.range(100).selectExpr('id * 2 AS v'))\n"
        "assert first.count() == 100\n"
        "old.stop()\n"
        "new = session()\n"
        "again = lru.persist(new.range(100).selectExpr('id * 2 AS v'))\n"
        "assert again is not first\n"
        "assert (again.sparkSession.sparkContext.applicationId\n"
        "        == new.sparkContext.applicationId)\n"
        "assert again.count() == 100\n"
        "assert len(lru) == 1\n"
        "print('LRU-SESSION-OK')\n" % REPO)
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "LRU-SESSION-OK" in out.stdout


def test_lsh_planes_per_table_over_63_rejected_before_any_job(spark):
    from yougile_etl_pipeline_spark.operators.similarity import (
        lsh_bucket_topk_np,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    sc = spark.sparkContext
    group = "lsh-planes-guard"
    sc.setJobGroup(group, "planes_per_table validation")
    try:
        with pytest.raises(ValueError, match="planes_per_table=64"):
            lsh_bucket_topk_np(emb, emb, k=5, planes_per_table=64)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
