"""Per-query profiling harness for optimization rounds: time individual
registry queries through the noop sink (min-of-N, same methodology as
bench.py) and/or dump their ``explain("formatted")`` plans.

Usage:
    python tools/perf_profile.py [--sf DIR] [--reps N] [--explain-dir DIR]
                                 [--no-time] [names...|--all]

Timing protocol mirrors bench.py: one untimed warm-up pass of each query at
the smallest SF (JIT, datasource init), shingle/persist caches cleared before
each timed pass so every pass re-does all data work at the SF under test.

The JSON line's ``compiles`` map holds, per query, the number of classes
Spark's code generator compiled during the last timed pass (cache misses of
its generated-class cache). A warm-up does not make it 0: a plan whose
generated code differs between runs compiles again on every pass, and a
pass whose working set exceeds ``spark.sql.codegen.cache.maxEntries`` evicts
what the next pass needs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from songs_etl_spark.plans import REGISTRY
from songs_etl_spark.plans._util import clear_tracked_persists
from songs_etl_spark.plans.dedup import clear_shingle_cache
from songs_etl_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--all", action="store_true", help="profile every registry query")
    ap.add_argument("--bench", action="store_true", help="profile the bench headline set")
    ap.add_argument("--explain-dir", default=None, help="write <name>.txt formatted plans here")
    ap.add_argument("--no-time", action="store_true", help="skip timing (explain only)")
    args = ap.parse_args()

    if args.all:
        names = list(REGISTRY)
    elif args.bench:
        names = [n for n, s in REGISTRY.items() if s.bench]
    else:
        names = args.names
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("perf-profile")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        for name in names:
            clear_shingle_cache()
            clear_tracked_persists()
            df = REGISTRY[name].fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
            print(f"explain written: {name}", file=sys.stderr)

    if not args.no_time:
        # Warm-up at the smallest SF, as in bench.py. It compiles only the
        # generated classes whose source is the same at both SFs; plans AQE
        # shapes differently at the SF under test still compile in the timed
        # passes, and the last pass's compiles are reported per query.
        warm_dir = "/root/testdata/sf0.001"
        if os.path.isdir(warm_dir) and os.path.abspath(warm_dir) != os.path.abspath(args.sf):
            for name in names:
                clear_shingle_cache()
                clear_tracked_persists()
                try:
                    REGISTRY[name].fn(spark, warm_dir).write.mode("overwrite").format(
                        "noop"
                    ).save()
                except Exception as exc:
                    print(f"warm-up failed for {name}: {exc!r}", file=sys.stderr)
        codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        passes: list[dict[str, float]] = []
        for _ in range(args.reps):
            clear_shingle_cache()
            clear_tracked_persists()
            per: dict[str, float] = {}
            compiles: dict[str, int] = {}
            for name in names:
                spark.sparkContext.setJobDescription(f"profile:{name}")
                before = codegen.METRIC_COMPILATION_TIME().getCount()
                start = time.perf_counter()
                try:
                    df = REGISTRY[name].fn(spark, args.sf)
                    df.write.mode("overwrite").format("noop").save()
                    per[name] = round(time.perf_counter() - start, 3)
                except Exception as exc:
                    per[name] = -1.0
                    print(f"FAILED {name}: {exc!r}", file=sys.stderr)
                compiles[name] = codegen.METRIC_COMPILATION_TIME().getCount() - before
                spark.sparkContext.setJobDescription(None)
            passes.append(per)
        timings = {n: min(p[n] for p in passes) for n in names}
        print(json.dumps({"sf": args.sf, "reps": args.reps, "queries": timings,
                          "compiles": compiles, "passes": passes}))
    spark.stop()


if __name__ == "__main__":
    main()
