"""Regression tests for the ADVICE-r15 findings that still apply.

1. The positional 2-slot FIFO persist caches (registry_r15._SWEEP_CACHE,
   registry_r16._R16_CACHE) are now plan-keyed sameSemantics LRUs
   (operators/caching.py::PlanKeyedLRU — the text.py gram-cache
   pattern): an entry that persists two relations can no longer be
   silently unpersisted by the next entry's single persist.
2. minhash_decontam's broadcast of the benchmark band-bucket relation
   gained an optional max_bench_docs guard that raises a clear
   ValueError instead of OOMing on a corpus-sized bench side.
"""

from __future__ import annotations

import pytest


# ---------------------------------------------------------------------------
# 1: plan-keyed LRU semantics
# ---------------------------------------------------------------------------

def test_plan_keyed_lru_hit_returns_cached_instance(spark):
    from yougile_etl_pipeline_spark.operators.caching import PlanKeyedLRU

    lru = PlanKeyedLRU(slots=2)
    a = spark.range(100).selectExpr("id", "id * 2 AS v")
    first = lru.persist(a)
    # a semantically-identical rebuild HITS and returns the SAME
    # persisted object — no second persist is stacked
    again = lru.persist(spark.range(100).selectExpr("id", "id * 2 AS v"))
    assert again is first
    assert len(lru) == 1


def test_plan_keyed_lru_two_relation_entry_survives_interleaving(spark):
    """The ADVICE r15 #3 scenario: an entry persists TWO relations
    (sig + truth); another entry's single persist must NOT evict
    either while slots remain, and a rebuild of the pair must hit."""
    from yougile_etl_pipeline_spark.operators.caching import PlanKeyedLRU

    # NOTE: sameSemantics canonicalizes aliases away, so the three
    # relations must differ STRUCTURALLY (as the registry's sig /
    # truth / pairs relations do), not just in column names.
    lru = PlanKeyedLRU(slots=3)
    sig = lru.persist(spark.range(50).selectExpr("id", "id * 3 AS s"))
    truth = lru.persist(spark.range(50).filter("id % 2 = 0"))
    other = lru.persist(spark.range(10).selectExpr("id + 7 AS o"))
    assert len(lru) == 3
    # both shared relations still cached — rebuilds hit
    assert lru.persist(
        spark.range(50).selectExpr("id", "id * 3 AS s")) is sig
    assert lru.persist(spark.range(50).filter("id % 2 = 0")) is truth
    assert lru.persist(spark.range(10).selectExpr("id + 7 AS o")) is other


def test_plan_keyed_lru_evicts_oldest_past_bound(spark):
    from yougile_etl_pipeline_spark.operators.caching import PlanKeyedLRU

    lru = PlanKeyedLRU(slots=2)
    a = lru.persist(spark.range(10).selectExpr("id * 2 AS a"))
    b = lru.persist(spark.range(10).filter("id > 3"))
    # touch a → b becomes oldest
    assert lru.persist(spark.range(10).selectExpr("id * 2 AS a")) is a
    c = lru.persist(spark.range(10).selectExpr("id + 5 AS c"))
    assert len(lru) == 2
    assert spark.range(10).selectExpr("id * 2 AS a") in lru
    assert spark.range(10).selectExpr("id + 5 AS c") in lru
    assert spark.range(10).filter("id > 3") not in lru
    for df in (a, b, c):
        df.unpersist(blocking=False)


def test_registry_caches_are_plan_keyed():
    import yougile_etl_pipeline_spark.registry_r15 as r15
    import yougile_etl_pipeline_spark.registry_r16 as r16
    from yougile_etl_pipeline_spark.operators.caching import PlanKeyedLRU

    assert isinstance(r15._SWEEP_CACHE, PlanKeyedLRU)
    assert isinstance(r16._R16_CACHE, PlanKeyedLRU)


# ---------------------------------------------------------------------------
# 2: minhash_decontam bench-size guard
# ---------------------------------------------------------------------------

def test_minhash_decontam_bench_cap_raises_clearly(spark):
    from yougile_etl_pipeline_spark.operators.dedup import minhash_decontam

    train = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(5)],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100 + i, f"alpha beta gamma delta {i}") for i in range(4)],
        "doc_id long, text string")
    with pytest.raises(ValueError, match="max_bench_docs=2"):
        minhash_decontam(train, bench, "doc_id", "text",
                         max_bench_docs=2)


def test_minhash_decontam_bench_cap_allows_small_bench(spark):
    from yougile_etl_pipeline_spark.operators.dedup import minhash_decontam

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "totally different words here entirely now")],
        "doc_id long, text string")
    # bench is an exact copy of train doc 1 (plus a duplicate text
    # that must collapse before the cap check counts it)
    bench = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"),
         (11, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    out = minhash_decontam(train, bench, "doc_id", "text",
                           max_bench_docs=1).collect()
    assert [r["doc_id"] for r in out] == [1]
    assert out[0]["n_bench_docs"] == 1
