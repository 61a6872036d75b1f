"""Local mirror of the verify driver's correctness gate: run every registered
query on Spark AND its DuckDB oracle on the same Parquet, compare row count +
column names + order-insensitive values with EXACT equality (full-precision
floats). If a query passes here it will pass the driver's value-hash.

Usage:
    python tools/oracle_check.py [--sf /root/testdata/sf0.001] [names...]
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import math
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from songs_etl_spark.sources.catalog import TESTDATA_TABLES as TABLES

#: Physical join nodes that pair every row of one side with every row of the other.
NESTED_LOOP_NODES = ("BroadcastNestedLoopJoin", "CartesianProduct")


def untagged_nested_loop(nested_loop: bool, tags) -> bool:
    """The scale-quarantine rule, shared by this gate (and so the full-gate
    pytest), tools/plan_audit.py and the timing loop in tools/perf_profile.py:
    a plan with a nested-loop join is allowed only when the query's registry
    tags say why — ``baseline`` (a deliberate O(n²) exactness anchor, never
    run at scale) or ``bcast-const`` (a constant-size broadcast side: 1-row
    aggregate or ≤10-row query set, so the loop is a map-side pass, not a
    pair scan). True means the plan breaks the rule."""
    return bool(nested_loop) and not {"baseline", "bcast-const"} & set(tags)


def duckdb_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def norm_cell(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(float(v))
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, bool):
        return str(v)
    # numpy scalars
    item = getattr(v, "item", None)
    if item is not None and not isinstance(v, (str, int)):
        return norm_cell(item())
    return str(v)


def frame_to_rows(pdf) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = sorted(tuple(norm_cell(v) for v in row) for row in pdf.itertuples(index=False))
    return cols, rows


def compare(name: str, spark, con, sf_dir: str) -> dict:
    from songs_etl_spark.plans import REGISTRY

    spec = REGISTRY[name]
    out: dict = {"name": name, "ok": False}
    try:
        df = spec.fn(spark, sf_dir)
        sdf = df.toPandas()
    except Exception:
        out["error"] = "spark: " + traceback.format_exc(limit=3)
        return out
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        plan = ""
    if untagged_nested_loop(any(node in plan for node in NESTED_LOOP_NODES), spec.tags):
        out["error"] = (
            "untagged nested-loop join in executed plan — tag the query "
            "'baseline' or 'bcast-const' in the registry, or fix the plan"
        )
        return out
    if spec.oracle is None:
        out.update(ok=True, mode="rows-only", n=len(sdf))
        return out
    try:
        res = con.execute(spec.oracle)
        ddf = res.fetchdf()
    except Exception:
        out["error"] = "duckdb: " + traceback.format_exc(limit=3)
        return out
    # DuckDB's pandas bridge turns a NULL BOOLEAN into NaN, Spark's into
    # None: only in a BOOLEAN column does NaN mean NULL.
    for col, type_code, *_ in res.description:
        if type_code == "bool":
            ddf[col] = [None if isinstance(v, float) and math.isnan(v) else v for v in ddf[col]]
    s_cols, s_rows = frame_to_rows(sdf)
    d_cols, d_rows = frame_to_rows(ddf)
    out.update(n_spark=len(s_rows), n_duck=len(d_rows))
    if s_cols != d_cols:
        out["error"] = f"columns differ: spark={s_cols} duck={d_cols}"
        return out
    if len(s_rows) != len(d_rows):
        out["error"] = f"row count differs: spark={len(s_rows)} duck={len(d_rows)}"
        return out
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    if mismatches:
        i, a, b = mismatches[0]
        out["error"] = (
            f"{len(mismatches)}/{len(s_rows)} rows differ; first at sorted idx {i}:\n"
            f"  cols : {s_cols}\n  spark: {a}\n  duck : {b}"
        )
        return out
    out["ok"] = True
    out["mode"] = "oracle"
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from songs_etl_spark.plans import REGISTRY
    from songs_etl_spark.session import get_spark

    names = args.names or list(REGISTRY)
    spark = get_spark("oracle-check", cpus=min(8, os.cpu_count() or 8))
    con = duckdb_connection(args.sf)
    failures = 0
    for name in names:
        res = compare(name, spark, con, args.sf)
        status = "OK  " if res["ok"] else "FAIL"
        extra = res.get("mode", "")
        print(f"{status} {name:32s} {extra} n={res.get('n_spark', res.get('n', '?'))}")
        if not res["ok"]:
            failures += 1
            print("     " + res.get("error", "").replace("\n", "\n     "))
    print(f"\n{len(names) - failures}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
