"""Driver-facing query registry.

Every operator from SURVEY.md §2 (and the additive LLM-data-pipeline
surface) registers a named query here: a Spark callable ``(spark, sf_dir)
-> DataFrame`` plus, where the semantics are ANSI-SQL-expressible, a DuckDB
oracle SQL string over the same parquet tables. The driver's correctness
gate runs both at sf=0.01 and compares row count + schema + order-
insensitive value hash.

Determinism rules every registered query follows (so value hashes match
across engines):

- alias every computed column identically in Spark and SQL;
- money sums go through ``DECIMAL(18,2)`` so both engines sum exactly,
  then cast back to DOUBLE;
- derived floating stats (avg/slope/stderr/similarity) are wrapped in
  ``round(x, N)`` on BOTH sides, with N chosen so cross-engine fp noise
  sits far below the rounding quantum;
- counts cast to BIGINT; no unordered LIMIT without a total tiebreak.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL twin; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):  # decorator
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip(), tags=tags)
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every plan module so the registry is fully populated."""
    from . import parity_queries  # noqa: F401

    for mod in (
        "parity_queries2",
        "domain_queries",
        "multimodal_queries",
        "dedup_queries",
        "similarity_queries",
        "text_queries",
        "window_queries",
    ):
        try:
            __import__(f"{__package__}.{mod}")
        except ModuleNotFoundError as e:
            # tolerate only a module that doesn't exist yet (incremental
            # rounds) — a broken existing module must fail loudly, not
            # silently shrink the registry
            if e.name != f"{__package__}.{mod}":
                raise
    return QUERIES
