"""The tri-SF oracle gate's fast leg IN pytest: every registry query vs its
DuckDB oracle at sf0.001, one parametrized test per query — so a
value-hash regression in ANY of the ~195 queries fails plain ``pytest
tests/`` instead of waiting for a manual ``tools/oracle_check.py`` run.
(The driver samples only ~50 queries per round; this is the full set.)

Heavier legs stay in the tool: run ``python tools/oracle_check.py --sf
/root/testdata/sf0.01`` (and sf0.1) before round-close commits.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

from songs_etl_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"

_spec = importlib.util.spec_from_file_location(
    "oracle_check",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "oracle_check.py"),
)
oracle_check = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("oracle_check", oracle_check)
_spec.loader.exec_module(oracle_check)


@pytest.fixture(scope="module")
def duck():
    con = oracle_check.duckdb_connection(SF)
    yield con
    con.close()


@pytest.fixture(scope="module", autouse=True)
def _fresh_caches():
    # Full-registry runs accumulate tracked persists; start and end clean
    # so this module neither inherits nor leaks state.
    from songs_etl_spark.plans._util import clear_tracked_persists

    clear_tracked_persists()
    yield
    clear_tracked_persists()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    res = oracle_check.compare(name, spark, duck, SF)
    assert res["ok"], res.get("error", "")
