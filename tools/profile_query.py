"""Per-query profiling harness for the optimization rounds.

Times one or more catalog queries with the same methodology as bench.py
(count() action, best-of-N, catalog cache cleared between runs) and dumps
each query's ``explain("formatted")`` to plans/<round>/<name>_<tag>.txt so
plan claims are reviewable offline.

Usage:
  python tools/profile_query.py --round ROUND [--runs N] \
      [--tag before|after] [--sf-dir DIR] [--noop] query [query ...]

``--noop`` times ``df.write.format("noop")`` instead of ``count()``
(guide §1.4) — used for isolating computation cost; the bench's own
methodology stays count() for cross-round comparability.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from redpanda_spark.plans.queries import QUERIES
from redpanda_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--tag", default=None, help="write plans/<round>/<q>_<tag>.txt")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--round", dest="round_dir", required=True)
    args = ap.parse_args()

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup as bench.py
    QUERIES["log_list_offsets"](spark, args.sf_dir).count()
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plan_dir = os.path.join(here, "plans", args.round_dir)
    os.makedirs(plan_dir, exist_ok=True)

    for name in args.queries:
        times = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}#{i}")
            t0 = time.time()
            df = QUERIES[name](spark, args.sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
                n = "-"
            else:
                n = df.count()
            times.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
        if args.tag:
            df = QUERIES[name](spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plan_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
            spark.catalog.clearCache()
        print(
            f"{name}: best={min(times)} runs={times} rows={n}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
