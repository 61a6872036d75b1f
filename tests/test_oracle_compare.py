"""``tools/oracle_check.compare`` renders NULL the same on both engines: a
NULL BOOLEAN, which DuckDB's pandas bridge turns into NaN, equals Spark's
None, while True vs NULL and 1.0 vs NaN still differ."""

from __future__ import annotations

import duckdb
import pytest
from conftest import SF_DIR

from songs_etl_spark.plans import REGISTRY
from songs_etl_spark.plans.registry import QuerySpec
from tools import oracle_check

NULL_B = "SELECT CAST(NULL AS BOOLEAN) AS b"
MIXED_B = "SELECT * FROM (VALUES (true), (CAST(NULL AS BOOLEAN))) AS t(b)"


@pytest.mark.parametrize(
    "spark_sql, duck_sql, ok",
    [
        (NULL_B, NULL_B, True),
        (MIXED_B, MIXED_B, True),
        ("SELECT true AS b", NULL_B, False),
        (NULL_B, "SELECT true AS b", False),
        ("SELECT CAST(1.0 AS DOUBLE) AS d", "SELECT CAST('NaN' AS DOUBLE) AS d", False),
        ("SELECT CAST('NaN' AS DOUBLE) AS d", "SELECT CAST(1.0 AS DOUBLE) AS d", False),
    ],
)
def test_compare_null_rendering(spark, monkeypatch, spark_sql, duck_sql, ok):
    spec = QuerySpec("null_probe", lambda s, _: s.sql(spark_sql), duck_sql)
    monkeypatch.setitem(REGISTRY, spec.name, spec)
    con = duckdb.connect()
    try:
        res = oracle_check.compare(spec.name, spark, con, SF_DIR)
    finally:
        con.close()
    assert res["ok"] is ok, res.get("error")
