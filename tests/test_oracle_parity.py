"""Mirror of the driver's correctness gate: every registered query with an
oracle must match DuckDB on the sf0.001 tables (fast); the driver runs the
same comparison at sf0.01. Run with SPARK_GRAFT_PARITY_SF=/root/testdata/sf0.01
for the full-size check."""

from __future__ import annotations

import os

import pytest

from wfc3_cte_monitor_spark.plans.registry import load_all
from wfc3_cte_monitor_spark.testing.oracle import compare_query

PARITY_SF = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")

ALL_QUERIES = sorted(load_all().keys())


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_query_matches_oracle(spark, name):
    res = compare_query(spark, name, PARITY_SF)
    assert res.ok, str(res)
    assert res.spark_rows > 0, f"{name} returned no rows"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    # wide Results layout: pair identity + 3 measures x 8 bins + aperture
    cols = set(df.columns)
    assert {"targname", "imagename_1", "imagename_2", "aperture"} <= cols
    from wfc3_cte_monitor_spark.schemas import FLUXBIN_LABELS

    for b in FLUXBIN_LABELS:
        assert {f"slope_{b}", f"slopestdev_{b}", f"numpoints_{b}"} <= cols


def test_driver_contract_shapes():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert qs, "queries() must not be empty"
    assert set(os_) <= set(qs)


def test_registry_respects_driver_query_cap():
    # The driver's correctness gate checks AT MOST 50 registered
    # queries (the r5 consolidation rule; re-hit in r11 when a
    # standalone 51st query would have silently dropped one from the
    # gate). New gated capability must ride an existing query as
    # tagged arms — this pin turns that rule into CI.
    assert len(ALL_QUERIES) == 50, (
        f"{len(ALL_QUERIES)} registered queries; the driver gates at "
        "most 50 — fold new capability into an existing query's arms"
    )

