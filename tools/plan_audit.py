"""Physical-plan audit: for each registry query, count the plan features that
decide 100 TB behavior — shuffles (Exchange), broadcasts, whole-stage-codegen
spans, scan-level filter pushdown and column pruning — and write PLANS.md.

Usage: python tools/plan_audit.py [names...]   (default: every registry query
that produces a batch plan; streaming queries are skipped — their plans only
exist per-microbatch).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
SKIP = {"streaming_hourly_events", "streaming_sessionize_stateful"}


def audit(name: str, spark, sf_dir: str) -> dict | None:
    from songs_etl_spark.plans import REGISTRY

    df = REGISTRY[name].fn(spark, sf_dir)
    # Execute through the DataFrame's OWN QueryExecution (collect, not a
    # write, which would plan a separate command) so AQE finalizes it:
    # codegen spans and runtime-chosen join strategies only exist in the
    # final plan.
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    tags = REGISTRY[name].tags
    scan_lines = sorted(set(re.findall(r"FileScan parquet[^\n]*", plan)))
    scans = [re.search(r"ReadSchema: struct<([^>]*)>", s) for s in scan_lines]
    pushed = [re.search(r"PushedFilters: \[([^\]]*)\]", s) for s in scan_lines]
    counts, shuffle_bytes, metric_found = _walk_counts(df)
    n_shuffles = counts["shuffles"]
    if n_shuffles > 0 and not metric_found:
        # A Spark metrics-API rename would otherwise print a confident 0.0
        # for a column labeled 'measured' — surface it as n/a instead.
        print(
            f"plan_audit: {name}: {n_shuffles} shuffles but no "
            "shuffleBytesWritten metric found (metrics API change?)",
            file=sys.stderr,
        )
    return {
        "name": name,
        "shuffle_mb": round(shuffle_bytes / 1e6, 2) if (metric_found or n_shuffles == 0) else "n/a",
        "shuffles": n_shuffles,
        "broadcasts": counts["broadcasts"],
        "codegen": counts["codegen"],
        "python": counts["python"],
        "scan_cols": [len([c for c in m.group(1).split(",") if c]) for m in scans if m],
        "pushed": sum(1 for m in pushed if m and m.group(1).strip()),
        "sorts": counts["sorts"],
        "nested_loop": counts["nested_loop"],
        "cartesian": counts["cartesian"],
        "tags": tags,
    }


def nested_loop_violations(rows: list[dict]) -> list[str]:
    """Every audited plan whose nested-loop join breaks the quarantine rule
    (``oracle_check.untagged_nested_loop``) FAILS the audit."""
    from tools.oracle_check import untagged_nested_loop

    return [
        f"{r['name']}: nested_loop={r['nested_loop']} "
        f"cartesian={r['cartesian']} tags={r['tags']} — tag it "
        "'baseline' (quarantined O(n^2)) or 'bcast-const' "
        "(constant broadcast side), or fix the plan"
        for r in rows
        if untagged_nested_loop(r["nested_loop"] or r["cartesian"], r["tags"])
    ]


_PY_NODES = (
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
)


def _walk_counts(df) -> tuple[dict, int, bool]:
    """Walk the final adaptive physical plan ONCE per distinct node, counting
    the plan features and summing the 'shuffle bytes written' SQLMetric of
    every executed Exchange (the MEASURED network cost — node counts say how
    many shuffles, this says how heavy they were).

    Why a JVM-tree walk and not regex over the printed plan: a cached
    (persisted) relation's child plan is PRINTED once per InMemoryTableScan
    use, so string counts multiply a shared subtree into every consumer —
    a K-step iterative query (MMR, k-means) would report hundreds of
    phantom sorts. The tree walk descends into each distinct cached
    relation exactly once (the work its one materialization did) and
    dedupes AQE-reused stages by node id. Returns (counts, total_bytes,
    metric_found) — found=False means no Exchange yielded the metric, so a
    0 total is 'could not measure', not 'measured zero'."""
    total = 0
    found = False
    seen: set[int] = set()
    seen_relations: set[int] = set()
    counts = {
        "shuffles": 0,
        "broadcasts": 0,
        "codegen": 0,
        "python": 0,
        "sorts": 0,
        "nested_loop": 0,
        "cartesian": 0,
    }

    def walk(node) -> None:
        nonlocal total, found
        try:
            nid = node.id()
        except Exception:
            nid = id(node)
        if nid in seen:
            return
        seen.add(nid)
        # descend into AQE stage wrappers (ShuffleQueryStage -> .shuffle(),
        # BroadcastQueryStage -> .broadcast(), AdaptiveSparkPlan -> final)
        for sub in ("executedPlan", "finalPhysicalPlan", "shuffle", "plan"):
            try:
                child = getattr(node, sub)()
                if child is not None and hasattr(child, "nodeName"):
                    walk(child)
            except Exception:
                pass
        # descend into expression-embedded subquery plans (scalar subqueries,
        # NOT IN / EXISTS rewrites): their entire workload — including any
        # nested-loop join the quarantine gate must catch — executes inside
        # node.subqueries(), invisible to children().
        try:
            subs = node.subqueries()
            for i in range(subs.size()):
                walk(subs.apply(i))
        except Exception:
            pass
        name = node.nodeName()
        if "ReusedExchange" in name:
            # A reused exchange re-consumes an exchange counted at its
            # original site — counting it again would inflate shuffles (the
            # node name contains 'Exchange') and double its byte metrics.
            name = ""
        if "InMemoryTableScan" in name:
            # Each distinct cached relation's build plan executed once (at
            # first materialization) — count it once, however many scans
            # consume it.
            try:
                rel = node.relation()
                rid = rel.hashCode()
                if rid not in seen_relations:
                    seen_relations.add(rid)
                    walk(rel.cachedPlan())
            except Exception:
                pass
        if "BroadcastExchange" in name:
            counts["broadcasts"] += 1
        elif "Exchange" in name:
            counts["shuffles"] += 1
            try:
                it = node.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() in ("shuffleBytesWritten", "shuffle bytes written"):
                        total += kv._2().value()
                        found = True
            except Exception:
                pass
        if name.startswith("WholeStageCodegen"):
            counts["codegen"] += 1
        if name == "Sort":
            counts["sorts"] += 1
        if any(p in name for p in _PY_NODES):
            counts["python"] += 1
        if "BroadcastNestedLoopJoin" in name:
            counts["nested_loop"] += 1
        if "CartesianProduct" in name:
            counts["cartesian"] += 1
        try:
            kids = node.children()
            for i in range(kids.size()):
                walk(kids.apply(i))
        except Exception:
            pass

    walk(df._jdf.queryExecution().executedPlan())
    return counts, total, found


def main() -> int:
    from songs_etl_spark.plans import REGISTRY
    from songs_etl_spark.session import get_spark

    names = sys.argv[1:] or [n for n in REGISTRY if n not in SKIP]
    spark = get_spark("plan-audit", cpus=8)
    # Untruncated scan metadata so ReadSchema/PushedFilters parse reliably.
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    rows = []
    for name in names:
        try:
            rows.append(audit(name, spark, SF_DIR))
        except Exception as exc:  # pragma: no cover
            print(f"SKIP {name}: {exc}", file=sys.stderr)
    lines = [
        "# PLANS — physical-plan audit of every registry query",
        "",
        f"Generated by `python tools/plan_audit.py` at {os.path.basename(SF_DIR)}. Columns:",
        "shuffles = Exchange (hash/range/round-robin) nodes — each is a full network",
        "repartition of its input and the unit of cost that matters at 100 TB;",
        "broadcasts = BroadcastExchange (small side shipped to every executor, no",
        "repartition of the big side); codegen = distinct WholeStageCodegen spans",
        "(JVM-compiled pipelines; Python rows = Arrow-batched Python stages, the",
        "deliberate exceptions); scan cols = columns actually read per parquet scan",
        "(column pruning at work); pushed = scans with data filters pushed into the",
        "reader; shuffle MB = measured 'shuffle bytes written' summed over every",
        "executed Exchange at this SF — the actual network cost, not just the",
        "node count.",
        "",
        "tags = registry quarantine labels: `baseline` = deliberate O(n²) exactness",
        "anchor, never run at scale; `bcast-const` = the plan's nested-loop join has a",
        "constant-size broadcast side (1-row aggregate / ≤10-row query set) — a",
        "map-side pass, not a pair scan. Any OTHER plan containing a nested-loop",
        "join fails this audit (nested_loop_violations).",
        "",
        "| query | shuffle MB | shuffles | broadcasts | codegen spans | python stages | scan cols | pushed scans | sorts | tags |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        scan_cols = ",".join(str(c) for c in r["scan_cols"]) or "-"
        tags = ",".join(r["tags"]) or "-"
        lines.append(
            f"| {r['name']} | {r['shuffle_mb']} | {r['shuffles']} | {r['broadcasts']} | {r['codegen']} "
            f"| {r['python']} | {scan_cols} | {r['pushed']} | {r['sorts']} | {tags} |"
        )
    violations = nested_loop_violations(rows)
    for v in violations:
        print(f"AUDIT VIOLATION: {v}", file=sys.stderr)
    lines += [
        "",
        "Reading guide (the properties the numbers prove):",
        "",
        "- **Star joins carry 1 data shuffle or none.** `star_revenue_by_nation`,",
        "  `fact_build_star`: every dimension side is a BroadcastExchange; the only",
        "  hash Exchange is the explicit narrow-tuple dedup / final aggregation.",
        "- **Scans are pruned and filtered.** Scan-col counts match the query's",
        "  projection, not the table width (lineitem is 11 columns; its scans read",
        "  2-4); every selective query shows pushed scans ≥ 1.",
        "- **Near-dup never cross-joins.** The dedup family's shuffles are all",
        "  key-partitioned Exchanges on content keys (shingle/band/bucket) plus the",
        "  final aggregation — per-key work is DF_CAP²-bounded, so the same plan",
        "  shape holds at any corpus size. Measured 1x/3x/10x scaling curves for",
        "  the whole family are in BASELINE.md (tools/scale_stress.py).",
        "- **`embedding_neardup_pairs` is BASELINE-ONLY** (tagged `baseline` in the",
        "  registry): a deliberate O(n²) nested-loop exactness anchor that the LSH",
        "  twin's oracle is proven against. Do not run it at scale — the scale path",
        "  for the same output is `embedding_neardup_lsh` /",
        "  `rh_neardup_pairs` (plans/similarity.py).",
        "- **Python appears only where it is the point.** The multimodal queries",
        "  (Arrow mapInPandas real WAV/BMP decode + digest surface) and the RH-LSH",
        "  signature matmul (pandas UDF: the interpreted HOF fold was 100x slower,",
        "  functions/vectors.py) — everything else is pure JVM codegen.",
        "",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out} ({len(rows)} queries, {len(violations)} violations)")
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
