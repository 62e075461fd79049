"""Integer-arithmetic PageRank over a weighted edge list.

The domain-level link-quality signal of a web-corpus pipeline (the
Common-Crawl-style "rank domains, threshold the tail" filter). Spark has
no built-in; GraphX is RDD-land — this is the DataFrame formulation:
each power iteration is one edges⋈mass equi-join plus a map-side-
combined sum by destination, so the plan is k joins over a NODE-sized
relation regardless of corpus size (the corpus only appears once,
upstream, in deriving the edge list).

All arithmetic is INTEGER (the cross-engine determinism policy): masses
start at ``scale DIV N`` micro-units, each iteration retains
``mass·damp DIV 100``, distributes ``retained·w DIV W(src)`` along each
out-edge (floor per edge — the standard integer-PageRank trick; the
flooring leak is deterministic and identical on both engines), and adds
the uniform base ``scale·(100−damp) DIV (100·N)``. Dangling nodes' mass
evaporates (also deterministic). No floats anywhere, so a DuckDB
generated-CTE chain reproduces the exact masses and the driver's value
hash can gate them.

Overflow bound: ``mass·damp ≤ scale·damp < 2^50``; ``retained·w`` needs
``w < 2^63 / scale`` ≈ 9·10⁶. Since r9 this is ENFORCED, not just
documented (ADVICE r8: past the bound Spark's non-ANSI bigint wraps
silently while DuckDB errors — divergent failure modes): every twin
clamps ``w`` to :data:`PR_W_CAP` (= 10⁶, comfortably inside the bound)
at ingestion. At that multiplicity the weight is already a saturated
count — rank mass distribution is insensitive to the tail, the clamp
is the standard log/cap normalization — and because ALL THREE twins
(Spark, DuckDB CTE, pure python) clamp identically, the gate still
hashes bit-equal.

Iteration hygiene: the mass relation is materialized per round
(lineage truncation, same rule as connected_components / the BPE
trainer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import materialize

PR_SCALE = 10**12  # rank mass in micro-units: Σ mass_0 ≈ PR_SCALE
PR_DAMP = 85       # damping factor, percent
# Edge-weight clamp: retained·w with retained ≤ scale·damp/100 ≈ 8.5e11
# needs w ≲ 1.08e7 to stay inside int64; 1e6 leaves a 10× margin.
PR_W_CAP = 10**6


def integer_pagerank(
    edges: DataFrame,
    k: int = 5,
    node_col: str = "node",
    scale: int = PR_SCALE,
    damp: int = PR_DAMP,
) -> DataFrame:
    """``edges``: (src, dst, w) weighted directed edges (bigint w ≥ 1)
    → (node_col, mass, prev_mass): integer rank mass after ``k`` and
    ``k−1`` iterations (the penultimate mass lets callers gate the
    convergence trajectory, not just the fixpoint-ish endpoint).

    Node set = every id appearing as src or dst; N and the uniform base
    term ride a broadcast 1-row count relation (no driver collect — the
    loop stays lazy)."""
    if k < 1:
        raise ValueError(f"integer_pagerank needs k >= 1 iterations, got {k}")
    # overflow-bound enforcement (see module docstring): clamp w BEFORE
    # anything reads it, so outw and every contribution see the same
    # saturated weights — one row-local projection, no shuffle. least()
    # ignores NULLs in Spark, which would silently saturate a NULL
    # weight to the cap (r9 ADVICE) — a NULL w is a caller bug (the
    # contract is bigint w ≥ 1), so fail fast at execution instead.
    edges = edges.select(
        "src",
        "dst",
        F.when(
            F.col("w").isNull(),
            F.expr(
                "CAST(raise_error('integer_pagerank: edge weight w must"
                " be non-null') AS BIGINT)"
            ),
        )
        .otherwise(F.least(F.col("w"), F.lit(PR_W_CAP)))
        .cast("bigint")
        .alias("w"),
    )
    nodes = (
        edges.select(F.col("src").alias(node_col))
        .union(edges.select(F.col("dst").alias(node_col)))
        .distinct()
        .transform(materialize)
    )
    n_rel = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    # consumed once per iteration — truncate so round i doesn't re-run
    # the out-weight agg over the edge lineage i times
    outw = edges.groupBy("src").agg(
        F.sum("w").cast("bigint").alias("_W")
    ).transform(materialize)
    base = F.expr(f"({scale} * {100 - damp}) DIV (100 * _n)")
    mass = nodes.join(F.broadcast(n_rel)).select(
        node_col, F.expr(f"{scale} DIV _n").alias("mass")
    ).transform(materialize)
    prev = mass
    for _ in range(k):
        contrib = (
            edges.join(mass.withColumnRenamed(node_col, "src"), "src")
            .join(outw, "src")
            .groupBy("dst")
            .agg(
                F.sum(F.expr(f"((mass * {damp}) DIV 100) * w DIV _W"))
                .cast("bigint")
                .alias("_m")
            )
        )
        prev = mass
        mass = materialize(
            nodes.join(F.broadcast(n_rel))
            .join(contrib.withColumnRenamed("dst", node_col), node_col, "left")
            .select(
                node_col,
                (base + F.coalesce("_m", F.lit(0))).cast("bigint").alias("mass"),
            )
        )
    return mass.join(
        prev.withColumnRenamed("mass", "prev_mass"), node_col
    ).select(node_col, "mass", "prev_mass")


def integer_pagerank_ctes_sql(
    edges_rel: str,
    k: int = 5,
    scale: int = PR_SCALE,
    damp: int = PR_DAMP,
) -> str:
    """DuckDB twin as a generated CTE chain (same shape as the BPE
    trainer's): ``edges_rel`` must be a CTE/relation named with columns
    (src, dst, w). Emits CTEs predges/prnodes/prn/prout/pr0..pr{k};
    read the final masses from ``pr{k}`` joined with ``pr{k-1}``."""
    if k < 1:
        raise ValueError(f"integer_pagerank needs k >= 1 iterations, got {k}")
    parts = [
        # the same PR_W_CAP clamp as the Spark twin, applied once here so
        # every downstream read (prout + the per-iteration contributions)
        # sees saturated weights
        f"""predges AS (
        SELECT src, dst, CAST(least(w, {PR_W_CAP}) AS BIGINT) AS w
        FROM {edges_rel}
    )""",
        """prnodes AS (
        SELECT src AS node FROM predges
        UNION
        SELECT dst FROM predges
    )""",
        "prn AS (SELECT CAST(count(*) AS BIGINT) AS _n FROM prnodes)",
        "prout AS (SELECT src, CAST(sum(w) AS BIGINT) AS _W FROM predges GROUP BY src)",
        f"pr0 AS (SELECT node, {scale} // _n AS mass FROM prnodes, prn)",
    ]
    for i in range(1, k + 1):
        parts.append(f"""pr{i} AS (
        SELECT p.node,
               CAST(({scale} * {100 - damp}) // (100 * p._n)
                    + coalesce(s._m, 0) AS BIGINT) AS mass
        FROM (SELECT node, _n FROM prnodes, prn) p
        LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(sum(((m.mass * {damp}) // 100) * e.w // o._W) AS BIGINT) AS _m
            FROM predges e
            JOIN pr{i - 1} m ON e.src = m.node
            JOIN prout o ON e.src = o.src
            GROUP BY e.dst
        ) s ON p.node = s.node
    )""")
    return ",\n    ".join(parts)


def integer_pagerank_py(
    edges: list[tuple], k: int = 5, scale: int = PR_SCALE, damp: int = PR_DAMP
) -> dict:
    """Pure-python reference of the SAME integer recurrence (tests'
    third witness). ``edges``: [(src, dst, w), ...] → {node: (mass_k,
    mass_{k-1})}."""
    edges = [(s, d, min(w, PR_W_CAP)) for s, d, w in edges]
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    n = len(nodes)
    outw: dict = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    base = (scale * (100 - damp)) // (100 * n)
    mass = {v: scale // n for v in nodes}
    prev = dict(mass)
    for _ in range(k):
        contrib = {v: 0 for v in nodes}
        for s, d, w in edges:
            contrib[d] += ((mass[s] * damp) // 100) * w // outw[s]
        prev = dict(mass)
        mass = {v: base + contrib[v] for v in nodes}
    return {v: (mass[v], prev[v]) for v in nodes}
