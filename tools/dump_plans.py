"""Dump .explain('formatted') for named registered queries to
plans/r16/<query>_<tag>.txt. Usage:

    python tools/dump_plans.py after minhash_signature lsh_candidate_pairs
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from collective_als_spark.registry import spark_queries
from collective_als_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    tag = sys.argv[1]
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r16")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    qs = spark_queries()
    for name in sys.argv[2:]:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {name}_{tag}.txt", flush=True)


if __name__ == "__main__":
    main()
