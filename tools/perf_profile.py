"""Per-query profiling harness: time registry queries through the noop sink
(min-of-N, same methodology as bench.py) and/or dump their
``explain("formatted")`` plans. ``time_queries`` is the one timing loop of
the tools; scale_stress.py runs it per corpus multiplier, and the scan leg
is this tool on a tools/corpus.py corpus (usage in its docstring).

Usage:
    python tools/perf_profile.py [--sf DIR] [--reps N] [--explain-dir DIR]
                                 [--no-time] [names...|--all|--bench]

Timing protocol mirrors bench.py: one untimed warm-up pass of each query at
the smallest SF (JIT, datasource init), persisted relations released before
each timed pass so every pass re-does all data work at the SF under test.
Times come from perfbench's steal-corrected clock and are split into
``build_s`` (inside the query function: plan construction plus the eager
checkpoints and collects it triggers) and ``exec_s`` (the noop save); the
two phases run under the Spark job groups ``q:<name>:build`` and
``q:<name>:exec``, as in perfbench.

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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.clock import now
from songs_etl_spark.plans import REGISTRY
from songs_etl_spark.plans._util import clear_tracked_persists
from songs_etl_spark.session import get_spark
from tools.oracle_check import NESTED_LOOP_NODES, untagged_nested_loop


def registry_rule(name: str, plan: str) -> bool:
    """The nested-loop tag rule for a registry query's executed plan."""
    return untagged_nested_loop(any(n in plan for n in NESTED_LOOP_NODES), REGISTRY[name].tags)


def warm_up(spark, fns: dict, sf_dir: str) -> None:
    """One untimed noop pass of each query (codegen, datasource init)."""
    for name, fn in fns.items():
        clear_tracked_persists()
        try:
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        except Exception as exc:
            print(f"warm-up failed for {name}: {exc!r}", file=sys.stderr)
    clear_tracked_persists()


def time_queries(spark, fns: dict, sf_dir: str, reps: int, rule=registry_rule) -> dict:
    """Time each query of ``fns`` ({name: fn(spark, sf_dir)}) over ``reps``
    passes, releasing persisted relations before each pass and after the
    last; per query keep the pass with the least total. A query that raises is reported and
    timed -1. ``rule(name, plan)`` is checked on each query's executed plan
    in the first pass; True raises AssertionError."""
    sc = spark.sparkContext
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    passes: list[dict[str, tuple[float, float, float]]] = []
    compiles: dict[str, int] = {}
    for rep in range(reps):
        clear_tracked_persists()
        per = {}
        for name, fn in fns.items():
            before = codegen.METRIC_COMPILATION_TIME().getCount()
            sc.setJobGroup(f"q:{name}:build", name)
            t0 = now()
            try:
                df = fn(spark, sf_dir)
                t1 = now()
                sc.setJobGroup(f"q:{name}:exec", name)
                df.write.mode("overwrite").format("noop").save()
                t2 = now()
                per[name] = (round(t2 - t0, 3), round(t1 - t0, 3), round(t2 - t1, 3))
            except Exception as exc:
                df, per[name] = None, (-1.0, -1.0, -1.0)
                print(f"FAILED {name}: {exc!r}", file=sys.stderr)
            compiles[name] = codegen.METRIC_COMPILATION_TIME().getCount() - before
            if rep == 0 and df is not None:
                plan = df._jdf.queryExecution().executedPlan().toString()
                if rule(name, plan):
                    raise AssertionError(f"{name}: untagged nested-loop join in physical plan")
        passes.append(per)
    clear_tracked_persists()
    sc._jsc.clearJobGroup()
    best = {n: min(p[n] for p in passes) for n in fns}
    return {
        "sf": sf_dir,
        "reps": reps,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "queries": {n: b[0] for n, b in best.items()},
        "build_s": {n: b[1] for n, b in best.items()},
        "exec_s": {n: b[2] for n, b in best.items()},
        "total": round(sum(b[0] for b in best.values()), 3),
        "compiles": compiles,
        "passes": [{n: t[0] for n, t in p.items()} for p in passes],
    }


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
    fns = {n: REGISTRY[n].fn for n in names}

    spark = get_spark("perf-profile")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        for name, fn in fns.items():
            clear_tracked_persists()
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
            print(f"explain written: {name}", file=sys.stderr)

    if not args.no_time:
        # The warm-up compiles only the generated classes whose source is the
        # same at both SFs; plans AQE shapes differently at the SF under test
        # still compile in the timed passes (see ``compiles``).
        warm_dir = "/root/testdata/sf0.001"
        if os.path.isdir(warm_dir) and os.path.abspath(warm_dir) != os.path.abspath(args.sf):
            warm_up(spark, fns, warm_dir)
        print(json.dumps(time_queries(spark, fns, args.sf, args.reps)))
    spark.stop()


if __name__ == "__main__":
    main()
