"""Per-query cost breakdown for the optimization round: separates
DataFrame CONSTRUCTION time (Python + analysis + any build-time probes)
from EXECUTION time (noop write), and dumps the post-execution final
adaptive plan so runtime stage reuse (ReusedQueryStage / AQEShuffleRead
coalescing) is visible — the static EXPLAIN can overstate work.

Usage: python scripts/profile_queries.py <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from yougile_etl_pipeline_spark.registry import QUERIES
    from yougile_etl_pipeline_spark.session import get_spark

    names = sys.argv[1:]
    spark = get_spark(app_name="profile-queries")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")

    # one warmup of the whole set (codegen/JIT), as bench.py does
    for name in names:
        QUERIES[name](spark, SF).write.format("noop") \
            .mode("overwrite").save()

    for name in names:
        spark.sparkContext.setJobDescription(f"profile: {name}")
        builds, execs = [], []
        df = None
        for _ in range(3):
            t0 = time.perf_counter()
            df = QUERIES[name](spark, SF)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
        bm = sorted(builds)[1]
        em = sorted(execs)[1]
        print(f"{name}: build={bm:.3f}s exec={em:.3f}s "
              f"(builds={['%.3f' % b for b in builds]}, "
              f"execs={['%.3f' % e for e in execs]})")
        final = df._jdf.queryExecution().explainString(mode)
        out = f"/tmp/final_plan_{name}.txt"
        with open(out, "w") as fh:
            fh.write(final)
        print(f"  final plan -> {out}")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
