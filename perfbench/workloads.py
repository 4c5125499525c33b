"""The benchmark's workloads. Each is a closed loop with one client.

A workload exposes ``prepare`` (untimed inputs) and ``warm_up`` (the
cold first operations with the once-per-run oracle checks, and any
untimed repeats that warm the JVM up), then, from operation 1 on, per
operation ``before_op`` (untimed input preparation), ``op`` (the timed
call into the engine, returning the operation's kind and the input rows
it processed) and ``check_op`` (untimed result check returning a list
of problems). ``kind_weights`` is each kind's share of the workload's
schedule and ``min_samples`` the timed operations of each kind a run
needs; ``layer_metrics`` gives per-layer counters after the loop.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import shutil
import time

import pandas as pd

import datagen
import oracle

MART_TABLES = ("orders", "lineitem", "customer", "nation", "region",
               "supplier", "part")
MART_KEYS = ["task_id", "subtask_line", "loaded_ts"]
_STATUS_FLIP = {"O": "F", "F": "P", "P": "O"}

# analyst_mix: certified registry entries with DuckDB oracles, one per
# kind of query, tagged with the layer they exercise. No streaming
# entries, none whose plan build alone takes seconds and none with a
# large result to check, so the cold pass stays short and a run covers
# the list about twice.
ANALYST_QUERIES: dict[str, list[str]] = {
    "relational": ["sql_q3_shipping_priority"],
    "aggregate": ["agg_pricing_summary"],
    "window": ["win_rank_topn"],
    "events": ["events_sessionize"],
    "graph": ["graph_triangle_count"],
    "quality": ["quality_profile"],
    "dedup": ["dedup_minhash_lsh"],
    "text": ["text_dup_span_removal"],
    "similarity": ["sim_ivf_topk"],
}
QUERY_LAYER = {q: layer for layer, qs in ANALYST_QUERIES.items() for q in qs}
# exec spans of these categories are reported as their operator layer
OPERATOR_LAYERS = ("dedup", "text", "similarity")

_SCAN_LOCATION = re.compile(r"Location: \w+ \[[^\]]*?(\w+)\.parquet\]")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, n))
               for root, _dirs, names in os.walk(path) for n in names)


def _parquet_files(path: str) -> dict[str, tuple[int, float]]:
    """parquet file path -> (bytes, mtime) under ``path``."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(root, n))
                out[os.path.join(root, n)] = (st.st_size, st.st_mtime)
    return out


def _new_writes(before: dict, after: dict) -> list[dict[str, int]]:
    """Files in ``after`` but not ``before``, grouped by the Spark write
    that made them (its job id is part of every file name) and ordered
    by time; each group maps path -> bytes."""
    groups: dict[str, dict[str, tuple[int, float]]] = {}
    for p, meta in after.items():
        if p not in before:
            # part-<task>-<job uuid>-c<file>.<codec>.parquet
            job = os.path.basename(p).split("-", 2)[-1].rsplit("-c", 1)[0]
            groups.setdefault(job, {})[p] = meta
    ordered = sorted(groups.values(),
                     key=lambda g: max(m[1] for m in g.values()))
    return [{p: m[0] for p, m in g.items()} for g in ordered]


class Workload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.sf_dir = ctx.sf_dir
        self.tr = ctx.tracer
        self.plan_counts: dict[str, float] = {}
        self.recall = 1.0

    def before_op(self, i: int) -> None:
        pass


class MartHourly(Workload):
    """One operation = one hourly load cycle of the reference DAG: build
    the mart stamped with the cycle's ``loaded_ts``, append it as a
    snapshot, read the latest snapshot back with one BI aggregate, and
    in one cycle of every ``CORRECTION_EVERY`` merge a seeded 1% sample
    of corrected task rows into it."""

    name = "mart_hourly"

    def prepare(self) -> None:
        from yougile_etl_pipeline_spark.plans import incremental, mart
        from yougile_etl_pipeline_spark.sources import tables

        self.mart, self.inc, self.tables = mart, incremental, tables
        self.snap = os.path.join(self.ctx.run_dir, "snapshots")
        shutil.rmtree(self.snap, ignore_errors=True)
        self.con = oracle.connect(self.sf_dir)
        self.schedule = datagen.load_schedule(self.ctx.seed, 10_000)
        base = self.con.execute(self._oracle_sql(mart.LOADED_TS)).df()
        self.expected_rows = len(base)
        # correction candidates: task rows with a child line, in key order
        self.candidates = (base[base["subtask_line"].notna()]
                           .sort_values(["task_id", "subtask_line"])
                           .reset_index(drop=True))
        self.updates = None
        self.update_rows = 0
        self.merges = 0
        self.rewritten_bytes = 0
        self.files_appended = 0
        self.appends = 0

    def _oracle_sql(self, ts: dt.datetime) -> str:
        default = "TIMESTAMP '2026-01-01 00:00:00'"
        sql = self.mart.MART_ORACLE_SQL
        if default not in sql:
            raise RuntimeError("MART_ORACLE_SQL no longer stamps "
                               f"{default}; update the benchmark's oracle")
        return sql.replace(default, f"TIMESTAMP '{ts:%Y-%m-%d %H:%M:%S}'")

    def warm_up(self) -> list[list[str]]:
        """Cycle 0, cold, checked once against ``MART_ORACLE_SQL``."""
        self.before_op(0)
        t0 = time.perf_counter()
        self.op(0)
        self.cold_times = [time.perf_counter() - t0]
        problems = [self.check_op(0) + self._check_oracle()]
        self.plan_counts = self.ctx.plan_profile(
            self.mart.build_mart(self.spark, self.sf_dir, self.schedule[0]))
        return problems

    def _check_oracle(self) -> list[str]:
        """The snapshot of cycle 0 against DuckDB's ``MART_ORACLE_SQL``
        for its ``loaded_ts``: same columns, and no row in one multiset
        that the other lacks (``EXCEPT ALL`` both ways; doubles compare
        exactly)."""
        self.con.execute(
            "CREATE OR REPLACE TEMP VIEW snap AS SELECT * EXCLUDE (load_date) "
            f"FROM read_parquet('{self.snap}/*/*.parquet', "
            "hive_partitioning = true)")
        self.con.execute("CREATE OR REPLACE TEMP VIEW want AS "
                         + self._oracle_sql(self.schedule[0]))
        self.con.execute(
            "CREATE OR REPLACE TEMP VIEW got AS "
            + ("SELECT * REPLACE (CASE WHEN task_id = (SELECT min(task_id) "
               "FROM want) THEN 'X' ELSE task_status END AS task_status) "
               "FROM snap" if self.ctx.corrupt else "SELECT * FROM snap"))
        cols = sorted(c[0] for c in
                      self.con.execute("DESCRIBE want").fetchall())
        got_cols = sorted(c[0] for c in
                          self.con.execute("DESCRIBE got").fetchall())
        if cols != got_cols:
            self.recall = 0.0
            return [f"snapshot columns {got_cols} != oracle {cols}"]
        sel = ", ".join(f'"{c}"' for c in cols)
        n_want, n_got = (self.con.execute(f"SELECT count(*) FROM {t}")
                         .fetchone()[0] for t in ("want", "got"))
        missing, extra = (self.con.execute(
            f"SELECT count(*) FROM (SELECT {sel} FROM {a} "
            f"EXCEPT ALL SELECT {sel} FROM {b})").fetchone()[0]
            for a, b in (("want", "got"), ("got", "want")))
        self.recall = (n_want - missing) / n_want
        if missing or extra or n_got != n_want:
            return [f"snapshot vs MART_ORACLE_SQL: {n_got} rows, oracle "
                    f"{n_want}; {missing} oracle rows missing, {extra} "
                    "extra"]
        return []

    def _is_correction(self, i: int) -> bool:
        return i % datagen.CORRECTION_EVERY == datagen.CORRECTION_OFFSET

    def before_op(self, i: int) -> None:
        self.files_before = _parquet_files(self.snap)
        self.updates = None
        if not self._is_correction(i):
            return
        ts = self.schedule[i]
        pos = datagen.correction_rows(self.ctx.seed, i, len(self.candidates))
        upd = self.candidates.iloc[pos].copy()
        upd["task_status"] = upd["task_status"].map(_STATUS_FLIP)
        upd["loaded_ts"] = pd.Timestamp(ts)
        upd["load_date"] = ts.date()
        self.updates = self.spark.createDataFrame(upd, schema=self.schema)
        self.update_rows += len(upd)

    def op(self, i: int) -> tuple[str, int]:
        tr, spark, ts = self.tr, self.spark, self.schedule[i]
        from pyspark.sql import functions as F

        with tr.span("sources.load_tables", i):
            self.tables.load_tables(spark, self.sf_dir, MART_TABLES)
        with tr.span("mart.build_mart", i):
            mart = self.mart.build_mart(spark, self.sf_dir, ts)
        with tr.span("incremental.append_snapshot", i):
            self.inc.append_snapshot(mart, self.snap)
        with tr.span("incremental.read_latest_snapshot", i):
            latest = self.inc.read_latest_snapshot(spark, self.snap)
        with tr.span("bi.aggregate", i):
            self.last = (latest.groupBy("region_name", "task_status")
                         .agg(F.count(F.lit(1)).alias("n"),
                              F.sum(F.col("total_price")
                                    .cast("decimal(20,2)")).alias("rev"))
                         .collect())
        if self.updates is None:
            return "load", self.expected_rows
        with tr.span("incremental.merge_upsert", i):
            self.inc.merge_upsert(spark, self.snap, self.updates,
                                  MART_KEYS, partition_col="load_date")
        return "load+correction", self.expected_rows

    @property
    def kind_weights(self) -> dict[str, float]:
        share = 1 / datagen.CORRECTION_EVERY
        return {"load": 1 - share, "load+correction": share}

    # three plain cycles give the median a middle sample
    min_samples = {"load": 3, "load+correction": 1}

    def check_op(self, i: int) -> list[str]:
        writes = _new_writes(self.files_before, _parquet_files(self.snap))
        if self.updates is None:
            self.appends += 1
            self.files_appended += len(writes[0])
        else:
            # the merge rewrote the day's partition, this cycle's append
            # included: its write is the newest
            self.merges += 1
            self.rewritten_bytes += sum(writes[-1].values())
        if i == 0:
            # corrections are built with the snapshot's own schema
            self.schema = self.spark.read.parquet(self.snap).schema
            self.bytes_per_row = (sum(writes[0].values())
                                  / self.expected_rows)
        problems = []
        got = sum(r["n"] for r in self.last)
        if got != self.expected_rows:
            problems.append(f"cycle {i}: latest snapshot has {got} rows, "
                            f"mart has {self.expected_rows}")
        if self.updates is not None:
            problems += self._check_merge(i)
        return problems

    def _check_merge(self, i: int) -> list[str]:
        """After a correction: the snapshot keeps its row count, business
        keys stay unique and every corrected row carries its new status."""
        from pyspark.sql import functions as F

        latest = self.inc.read_latest_snapshot(self.spark, self.snap)
        key = F.concat_ws("|", *[F.coalesce(F.col(k).cast("string"),
                                            F.lit("-")) for k in MART_KEYS])
        stats = latest.agg(F.count(F.lit(1)).alias("n"),
                           F.count_distinct(key).alias("keys")).first()
        corrected = latest.join(
            self.updates.select(*MART_KEYS, "task_status"),
            [*MART_KEYS, "task_status"], "left_semi").count()
        want = self.updates.count()
        if (stats["n"] != self.expected_rows or stats["keys"] != stats["n"]
                or corrected != want):
            return [f"cycle {i}: after merge_upsert {stats['n']} rows, "
                    f"{stats['keys']} distinct business keys, {corrected} "
                    f"of {want} corrections; mart has {self.expected_rows}"]
        return []

    def layer_metrics(self) -> dict[str, float]:
        size = _dir_bytes(self.snap)
        cycles = self.appends + self.merges
        return {
            "mart.rows": float(self.expected_rows),
            "sink.files_per_append": (self.files_appended / self.appends
                                      if self.appends else 0.0),
            "sink.bytes_rewritten_per_update_byte": (
                self.rewritten_bytes / (self.update_rows * self.bytes_per_row)
                if self.update_rows else 0.0),
            "sink.stored_bytes_per_row": size / (cycles * self.expected_rows),
        }


class AnalystMix(Workload):
    """One operation = one certified registry query, built through
    ``registry.QUERIES`` and executed through the ``noop`` sink, in a
    seeded order over ``ANALYST_QUERIES``."""

    name = "analyst_mix"

    def prepare(self) -> None:
        from yougile_etl_pipeline_spark import registry

        self.queries, self.oracles = registry.QUERIES, registry.ORACLES
        self.names = [q for qs in ANALYST_QUERIES.values() for q in qs]
        missing = [q for q in self.names
                   if q not in self.queries or q not in self.oracles]
        if missing:
            raise RuntimeError(f"registry lacks query or oracle: {missing}")
        self.con = oracle.connect(self.sf_dir)
        self.order = datagen.query_order(self.ctx.seed, self.names, 1000)
        self.input_rows: dict[str, int] = {}
        self.planted = self.ctx.manifest["planted"]
        self.layer_recall: dict[str, float] = {}
        self.candidate_pairs = 0
        self.precision = 0.0

    def _input_rows(self, df) -> int:
        from yougile_etl_pipeline_spark.operators.diagnostics import (
            formatted_plan)

        rows = self.ctx.manifest["rows"]
        return sum(rows.get(t, 0)
                   for t in _SCAN_LOCATION.findall(formatted_plan(df)))

    def warm_up(self) -> list[list[str]]:
        """Each query once cold, its first result checked against its
        DuckDB oracle; then each once more, untimed."""
        problems: list[list[str]] = []
        plan: dict[str, float] = {}
        self.cold_times = []
        for name in self.names:
            t0 = time.perf_counter()
            with self.tr.span("registry.build", 0):
                df = self.queries[name](self.spark, self.sf_dir)
            got = df.toPandas()
            self.cold_times.append(time.perf_counter() - t0)
            self.input_rows[name] = self._input_rows(df)
            for k, v in self.ctx.plan_profile(df).items():
                plan[k] = plan.get(k, 0) + v
            want = self.con.execute(self.oracles[name]).df()
            if self.ctx.corrupt and name == self.names[0]:
                got = got.iloc[1:]
            issues = oracle.compare_frames(got, want)
            problems.append([f"{name} vs oracle: {x}" for x in issues]
                            + self._check_planted(name, got))
        self.plan_counts = plan
        # the product, so a drop in either recall moves result_recall
        self.recall = (self.layer_recall.get("dedup", 0.0)
                       * self.layer_recall.get("similarity", 0.0))
        for name in self.names:
            self._run(name, 0)
            problems.append([])
        return problems

    def _check_planted(self, name: str, got: pd.DataFrame) -> list[str]:
        """Recall of the approximate operators against the planted
        duplicates and exact neighbours; exact re-posts must be found."""
        if name == "dedup_minhash_lsh":
            pairs = set(zip(got["doc_a"], got["doc_b"]))
            exact = {tuple(sorted(p)) for p in self.planted["exact_pairs"]}
            near = {tuple(sorted(p)) for p in self.planted["near_pairs"]}
            self.layer_recall["dedup"] = len(near & pairs) / len(near)
            # truth: any two docs planted from the same original
            cluster = {}
            for a, b in self.planted["exact_pairs"] + self.planted["near_pairs"]:
                cluster[a] = a
                cluster[b] = a
            true = sum(1 for a, b in pairs
                       if a in cluster and cluster.get(b) == cluster[a])
            self.candidate_pairs = len(pairs)
            self.precision = true / len(pairs) if pairs else 0.0
            missed = exact - pairs
            if missed:
                return [f"{name}: planted exact duplicates not flagged: "
                        f"{sorted(missed)[:3]}"]
        elif name == "sim_ivf_topk":
            ann = set(zip(got["query_id"], got["match_id"]))
            exact = self._exact_topk(set(got["query_id"]), 5)
            self.layer_recall["similarity"] = len(exact & ann) / len(exact)
        return []

    def _exact_topk(self, queries: set, k: int) -> set:
        """Exact cosine top-``k`` (query_id, match_id) pairs, self
        excluded, ties broken by match_id — the contract of
        ``operators.similarity.brute_force_topk_np``, in numpy."""
        import numpy as np
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.sf_dir, "embeddings.parquet"),
                          columns=["vec_id", "embedding"])
        ids = t["vec_id"].to_numpy()
        V = np.stack(t["embedding"].to_numpy(zero_copy_only=False)) \
            .astype(np.float64)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        out = set()
        for q in sorted(queries):
            sim = V @ V[int(np.flatnonzero(ids == q)[0])]
            order = [j for j in np.lexsort((ids, -sim)) if ids[j] != q]
            out |= {(q, int(ids[j])) for j in order[:k]}
        return out

    def _run(self, name: str, i: int) -> None:
        layer = QUERY_LAYER[name]
        with self.tr.span("registry.build", i):
            df = self.queries[name](self.spark, self.sf_dir)
        exec_span = (f"{layer}.exec" if layer in OPERATOR_LAYERS
                     else "query.exec")
        with self.tr.span(exec_span, i):
            df.write.format("noop").mode("overwrite").save()

    def op(self, i: int) -> tuple[str, int]:
        name = self.order[(i - 1) % len(self.order)]
        self._run(name, i)
        return name, self.input_rows[name]

    @property
    def kind_weights(self) -> dict[str, float]:
        return dict.fromkeys(self.names, 1 / len(self.names))

    @property
    def min_samples(self) -> dict[str, int]:
        return dict.fromkeys(self.names, 2)

    def check_op(self, i: int) -> list[str]:
        return []

    def layer_metrics(self) -> dict[str, float]:
        return {
            "dedup.candidate_pairs": float(self.candidate_pairs),
            "dedup.precision": self.precision,
            "dedup.recall": self.layer_recall.get("dedup", 0.0),
            "similarity.recall_at_5": self.layer_recall.get("similarity",
                                                            0.0),
        }


WORKLOADS = {w.name: w for w in (MartHourly, AnalystMix)}
