"""File discovery with skip-lists (S5).

Reference: per-proposal directory globs of ``*flc.fits``/``*flt.fits``
with hardcoded bad-visit drops (14012 visit 05, 12379 visits 07/13) and
visit substring filters (wfc3_cte_monitor/run_image_extraction.py:984-1025;
the 12379 filter at :1006 is an always-`'07'`-only bug — intended
semantics here).

Spark-first: discovery is a file-source listing (``input_file_name`` over
a glob scan) and exclusions are an ANTI-JOIN against a small exclusion
DataFrame — never an if-chain over filenames. At 100 TB the listing comes
from the table metadata / manifest, and the anti-join broadcast is free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import literal_table

# (proposid, visit) pairs to drop — run_image_extraction.py:999-1008.
DEFAULT_SKIP_VISITS = [("14012", "05"), ("12379", "07"), ("12379", "13")]


def discover_images(spark: SparkSession, root: str, pattern: str = "*_fl[ct].txt") -> DataFrame:
    """Glob scan → one row per discovered file with parsed name parts.
    (Test fixtures use .txt stand-ins; the parse is suffix-agnostic.)"""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .option("recursiveFileLookup", "true")
        .load(root)
        .select(F.col("path"))
    )
    base = F.element_at(F.split(F.col("path"), "/"), -1)
    return files.select(
        F.col("path"),
        base.alias("imagename"),
        # ipppssoot prefix: chars 1-4 encode the proposal (database_reset.py:89-104)
        F.substring(base, 1, 4).alias("prefix"),
        # visit: chars 5-6 (README.md:599-609)
        F.substring(base, 5, 2).alias("visit"),
        F.when(base.contains("_flc"), 1).otherwise(0).alias("ctecorr"),
    )


def apply_skip_lists(images: DataFrame, proposid_col: str = "proposid",
                     visit_col: str = "visit",
                     skip_visits: list[tuple[str, str]] | None = None) -> DataFrame:
    """Drop excluded (proposid, visit) pairs via a broadcast anti-join."""
    skips = literal_table(
        images.sparkSession,
        skip_visits or DEFAULT_SKIP_VISITS,
        f"{proposid_col} string, {visit_col} string",
    )
    return images.join(F.broadcast(skips), [proposid_col, visit_col], "left_anti")
