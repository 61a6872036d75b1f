"""The iteration primitive and the lineage cut (plans/_util.py): every round
loop in plans/ and operators/ runs through ``iterate``, and ``cut`` is the
only local checkpoint there."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from songs_etl_spark.plans._util import clear_tracked_persists, cut, iterate


def _bump(df):
    return df.select((F.col("x") + 1).alias("x"))


def _leaves(df) -> list[str]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def test_iterate_cuts_every_round(spark):
    out, fixed = iterate(spark.range(10).select(F.col("id").alias("x")), _bump, 5)
    assert not fixed
    assert _leaves(out) == ["LogicalRDD"]
    assert sorted(r.x for r in out.collect()) == list(range(5, 15))
    clear_tracked_persists()


def test_iterate_stops_at_fixed_point(spark):
    calls = []

    def step(state):
        calls.append(1)
        df, tag = state
        return None if len(calls) == 3 else (_bump(df), tag)

    (out, tag), fixed = iterate((spark.range(1).select(F.col("id").alias("x")), "t"), step, 10)
    assert fixed and len(calls) == 3 and tag == "t"
    assert _leaves(out) == ["LogicalRDD"]
    assert out.first().x == 2
    clear_tracked_persists()


def test_cut_is_idempotent_and_released(spark):
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    df = cut(spark.range(5).select(F.col("id").alias("x")))
    assert cut(df) is df
    rdd = df._jdf.queryExecution().analyzed().rdd().id()
    assert df.count() == 5
    assert persistent().containsKey(rdd)
    clear_tracked_persists()
    assert not persistent().containsKey(rdd)


def test_local_checkpoint_only_in_cut():
    root = Path(__file__).resolve().parents[1] / "songs_etl_spark"
    offenders = [
        str(p.relative_to(root))
        for d in ("plans", "operators")
        for p in sorted((root / d).glob("*.py"))
        if p.name != "_util.py" and ".localCheckpoint(" in p.read_text()
    ]
    assert not offenders
