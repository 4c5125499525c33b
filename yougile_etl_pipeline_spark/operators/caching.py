"""Bounded, plan-keyed persist slots for shared intermediate relations.

Several registry entries persist a relation that feeds two or more
downstream aggregations inside one query build (a scored pair relation,
a bucketed signature, a truth set). A naive positional FIFO of persist
slots has a composition hazard (ADVICE r14 on operators/text.py, ADVICE
r15 #3 on registry_r15._SWEEP_CACHE / registry_r16._r16_persist): one
entry that legitimately persists TWO relations fills every slot, so
building any other persisting entry before the first one's DataFrame
executes silently unpersists a still-needed relation and reintroduces
the duplicate-lineage recomputation the persist existed to prevent.

`PlanKeyedLRU` is the fix pattern proven in
operators/text.py::_cache_gram_stream (round 15, certified under the
five dup-span entries): slots are keyed by LOGICAL-PLAN SEMANTICS — a
``sameSemantics`` hit returns the ALREADY-PERSISTED DataFrame instead
of stacking a second identical persist, and misses evict beyond the
slot bound, oldest first (in-flight consumers of an evicted result just
recompute — correctness never depends on the cache). Single-threaded
query construction is assumed, as everywhere in this engine: the
registry builds plans sequentially; the cache is not guarded against
concurrent construction.

The cache is process-global, so every slot remembers the Spark
application it was persisted under. Only a slot from the incoming
frame's application can hit; slots left by a stopped application are
dropped without ``unpersist`` (their blocks died with it), so a new
session never receives a DataFrame bound to a dead one.

At cluster scale the same reuse is a staging table or shuffle reuse;
the local-mode persist (MEMORY_AND_DISK default) is the single-JVM
equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["PlanKeyedLRU"]


def _app_id(df: DataFrame) -> str:
    return df.sparkSession.sparkContext.applicationId


class PlanKeyedLRU:
    """A small LRU of persisted DataFrames keyed by plan semantics."""

    def __init__(self, slots: int = 3) -> None:
        assert slots >= 1
        self._slots = slots
        self._cache: list[tuple[str, DataFrame]] = []

    def persist(self, df: DataFrame) -> DataFrame:
        """Return a persisted DataFrame semantically equal to ``df``.

        On a ``sameSemantics`` hit the cached (already-persisted)
        DataFrame is returned and refreshed to most-recently-used; on
        a miss ``df`` is persisted, cached, and the oldest entry beyond
        the slot bound is unpersisted (non-blocking). Slots from
        another Spark application are dropped first."""
        app = _app_id(df)
        self._cache = [slot for slot in self._cache if slot[0] == app]
        for i, (_, cached) in enumerate(self._cache):
            if cached.sameSemantics(df):
                self._cache.append(self._cache.pop(i))  # refresh LRU position
                return cached
        df = df.persist()
        self._cache.append((app, df))
        while len(self._cache) > self._slots:
            self._cache.pop(0)[1].unpersist(blocking=False)
        return df

    def __len__(self) -> int:
        return len(self._cache)

    def __iter__(self):
        # oldest → newest, same as the list-based slots this class
        # replaced (tests/test_plan_audits.py's cache-draining fixture
        # iterates slots to unpersist, then calls clear()).
        return iter([c for _, c in self._cache])

    def __contains__(self, df: DataFrame) -> bool:
        app = _app_id(df)
        return any(a == app and c.sameSemantics(df) for a, c in self._cache)

    def clear(self) -> None:
        """Drop every slot WITHOUT unpersisting (callers that want the
        blocks released iterate + unpersist first, like Spark's own
        catalog.clearCache contract in the plan-audit fixture)."""
        self._cache.clear()
