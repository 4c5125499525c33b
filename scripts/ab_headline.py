"""Cold A/B harness for session-conf decisions (r17, VERDICT r16 #3).

Runs the headline queries (or a named subset) once-warmed median-of-3
in THIS process and prints one JSON line — the caller launches one
fresh process per (config, repetition) so every sample is a cold JVM,
matching the driver's methodology (the r16 win_rank_topn regression
was invisible in warm same-session A/Bs).

Usage:
  SPARK_GRAFT_OPEN_COST=4194304 python scripts/ab_headline.py [q1 q2 ..]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402


def main() -> None:
    names = sys.argv[1:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from yougile_etl_pipeline_spark.registry import QUERIES
    from yougile_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="ab-headline")
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["a2_counts"](spark, sf_dir).write.format("noop") \
        .mode("overwrite").save()

    out: dict[str, float] = {}
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warmup
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        out[name] = round(sorted(ts)[1], 3)
    print(json.dumps({
        "open_cost": spark.conf.get("spark.sql.files.openCostInBytes"),
        "queries": out,
        "total": round(sum(out.values()), 3),
    }))


if __name__ == "__main__":
    main()
