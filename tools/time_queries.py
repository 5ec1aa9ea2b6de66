"""Time named registered queries in isolation with the bench's
methodology (noop sink, min-of-N) at $SPARK_GRAFT_SF_DIR /
local[$SPARK_GRAFT_CPUS]. Usage:

    python tools/time_queries.py minhash_signature lsh_candidate_pairs
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from collective_als_spark.registry import spark_queries
from collective_als_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("TIME_REPS", "2"))
    spark = get_spark("time_queries")
    qs = spark_queries()
    # same JVM/codegen warmup as bench.py
    qs["pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    for name in sys.argv[1:]:
        runs = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"time:{name}")
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        print(f"{name}: min={min(runs)} runs={runs}", flush=True)


if __name__ == "__main__":
    main()
