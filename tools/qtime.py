#!/usr/bin/env python
"""Standalone per-query timing + plan-dump helper for optimization work.

NOT part of the driver contract (bench.py is) — this is the workbench:

    python tools/qtime.py q72c_minhash_portable qp5_dedup_funnel \
        --repeat 3 --sf /root/testdata/sf0.1 --plan plans/r11/x_before.txt

Times each named query standalone with bench.py's `measure` (streams
stopped, caches dropped and a full GC before each query, then best-of-N
collect), optionally writing .explain('formatted') output per query.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import measure  # noqa: E402
from spark_ml_optimization_spark import registry  # noqa: E402
from spark_ml_optimization_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plan-dir", default=None, help="write <name>_<suffix>.txt plan dumps here")
    ap.add_argument("--plan-suffix", default="before")
    args = ap.parse_args()

    spark = get_spark("qtime")
    qs = registry.all_queries()
    # Warm scans once (bench.py does the same) so best-of-N measures
    # the computation, not the cold footer read.
    from spark_ml_optimization_spark.sources import TABLES, load_table

    for t in TABLES:
        load_table(spark, args.sf, t).count()

    out = {}
    for name in args.queries:
        q = qs[name]
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            df = q.fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plan_dir, f"{name}_{args.plan_suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)
        runs = measure(spark, name, q.fn, args.sf, args.repeat, gc=True)
        out[name] = {"best": round(min(runs), 3), "runs": [round(dt, 3) for dt in runs]}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
