"""Full-registry oracle sweep → one committed JSON artifact.

Every registered query runs against its DuckDB oracle at sf0.01
(unless SPARK_GRAFT_SF_DIR overrides) and the per-query result (ok /
issues, wall seconds, spark row count) lands in SWEEP_r{N}.json at
the repo root.

Usage: python scripts/full_sweep.py <round>   (e.g. 14 → SWEEP_r14.json)
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from tests.oracle_compare import compare, duck_connect  # noqa: E402
from yougile_etl_pipeline_spark.registry import ORACLES, QUERIES  # noqa: E402
from yougile_etl_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    out_path = os.path.join(REPO, f"SWEEP_r{rnd:02d}.json")
    spark = get_spark(app_name="full-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(SF)
    results: dict[str, dict] = {}
    failed = 0
    t_start = time.perf_counter()
    for i, name in enumerate(QUERIES):
        t0 = time.perf_counter()
        try:
            df = QUERIES[name](spark, SF)
            if name in ORACLES:
                issues = compare(df, con, ORACLES[name])
                rec = {"ok": not issues, "mode": "oracle",
                       "issues": issues or None}
            else:
                # ADVICE r14: a completed count() is always >= 0, so
                # "ok: true" here would dilute the sweep's n_ok claim
                # into "didn't crash". Record oracle-less entries as
                # ok: None (a distinct third state the summary counts
                # separately) — as of r14 the registry has ZERO such
                # entries, so any appearance of n_rows_only > 0 in a
                # SWEEP artifact is itself a regression signal.
                n = df.count()
                rec = {"ok": None, "mode": "rows_only", "rows": n}
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            rec = {"ok": False, "mode": "error", "issues": str(e)[:500]}
        rec["wall_s"] = round(time.perf_counter() - t0, 2)
        results[name] = rec
        if rec["ok"] is False:
            failed += 1
            print(f"FAIL {name}: {rec.get('issues')}", flush=True)
        if (i + 1) % 25 == 0:
            print(f"... {i + 1}/{len(QUERIES)} "
                  f"({time.perf_counter() - t_start:.0f}s, "
                  f"{failed} failed)", flush=True)
    summary = {
        "round": rnd,
        "sf_dir": SF,
        "n_queries": len(results),
        "n_ok": sum(1 for r in results.values() if r["ok"] is True),
        "n_rows_only": sum(1 for r in results.values()
                           if r["ok"] is None),
        "n_failed": failed,
        "total_wall_s": round(time.perf_counter() - t_start, 1),
        "results": results,
    }
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(f"wrote {out_path}: {summary['n_ok']}/{summary['n_queries']} ok "
          f"in {summary['total_wall_s']}s")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
