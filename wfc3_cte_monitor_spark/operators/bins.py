"""Overlapping flux-bin fan-out.

Reference semantics: 8 flux bins from config.py:14-16 that OVERLAP
(500-1000 is inside 500-2000; 2000-4000 inside 2000-8000) — a source
belongs to every bin containing it, and for the pair analysis a source
must satisfy the bin predicate on BOTH chips' background-subtracted fluxes
(wfc3_cte_monitor/uvis_external_cte_plots.py:160-169).

Because the bins overlap this is NOT a groupBy-on-bucket: it's a fan-out
join against a tiny bin-spec dimension (8 rows → always broadcast) with a
``between`` predicate per value column. Each source row is duplicated once
per containing bin — bounded 8x amplification, map-side only, no shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import literal_table

# Reference bin edges: wfc3_cte_monitor/config.py:14-16.
FLUX_BINS: list[tuple[int, int]] = [
    (250, 500),
    (500, 1000),
    (500, 2000),
    (1000, 2000),
    (2000, 4000),
    (2000, 8000),
    (4000, 8000),
    (8000, 32000),
]


def binspec_df(spark: SparkSession, bins: Sequence[tuple[float, float]] = FLUX_BINS) -> DataFrame:
    return literal_table(
        spark,
        [(float(lo), float(hi), f"{int(lo)}_{int(hi)}") for lo, hi in bins],
        "bin_lo double, bin_hi double, fluxbin string",
    )


def bin_fanout(
    df: DataFrame,
    binspec: DataFrame,
    value_cols: Sequence[str],
    strict: bool = True,
) -> DataFrame:
    """Broadcast cross-join ``df`` against the bin spec, keeping rows where
    EVERY column in ``value_cols`` falls inside the bin (the reference's
    both-chips-in-bin rule). Reference bins with STRICT inequalities —
    ``x > fluxbins_lo[k] and x < fluxbins_hi[k]``
    (uvis_external_cte_plots.py:162-165) — so a flux exactly on a shared
    edge (500/1000/2000/4000/8000) belongs to NO bin; ``strict=False``
    gives the inclusive variant."""
    cond = F.lit(True)
    for c in value_cols:
        lo_ok = (F.col(c) > F.col("bin_lo")) if strict else (F.col(c) >= F.col("bin_lo"))
        hi_ok = (F.col(c) < F.col("bin_hi")) if strict else (F.col(c) <= F.col("bin_hi"))
        cond = cond & lo_ok & hi_ok
    return df.join(F.broadcast(binspec), on=cond, how="inner")


def bin_pred_sql(col: str, strict: bool = True) -> str:
    """SQL twin of one column's bin-membership predicate."""
    return (
        f"{col} > b.bin_lo AND {col} < b.bin_hi"
        if strict
        else f"{col} >= b.bin_lo AND {col} <= b.bin_hi"
    )


def binspec_sql(bins: Sequence[tuple[float, float]] = FLUX_BINS) -> str:
    """DuckDB VALUES-list twin of :func:`binspec_df`."""
    rows = ", ".join(f"({float(lo)}, {float(hi)}, '{int(lo)}_{int(hi)}')" for lo, hi in bins)
    return f"(SELECT * FROM (VALUES {rows}) AS b(bin_lo, bin_hi, fluxbin))"
