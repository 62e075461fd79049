"""Key salting for skewed joins (SURVEY §7.4 100 TB posture).

The reference's clusters differ in density by 10-100× (NGC104 dense vs
NGC6791 sparse, README.md:81-83), so the phot↔master join on
``master_id`` is skewed: a dense target's images each carry thousands of
matched stars. AQE's skew-join split handles moderate skew; for a
pathologically hot key the classic remedy is salting — replicate the
small side N ways, scatter the big side across the N replicas, join on
(key, salt). This operator packages that rewrite.

The salt on the big side is a deterministic hash of stable columns (NOT
rand(): a nondeterministic salt breaks retries/speculative execution —
a retried task would re-scatter rows differently).
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Measured break-even for plain-window vs salted_rank (SCALING.md
# §"salted_rank wall-clock A/B"): plain wall ≈ max(hot_rows,
# rows/cores) × sort cost — one task sorts the whole hot key — while
# salted wall ≈ 3 full map passes (bounds agg + counts agg + bucketed
# window) × rows/cores. The passes cross when the hottest key exceeds
# ~3× rows/cores; measured 8M/50% plain wins (+15%), 8M/94% salted
# 1.6×, 32M/94% salted 2.4× and widening.
SALT_BREAK_EVEN_MULTIPLIER = 3.0


class SaltDecision(NamedTuple):
    """Outcome of :func:`should_salt` — truthy iff salting wins.

    Carries the measured figures so callers can log the decision the
    way a pipeline operator should (hot key population, the threshold
    it was judged against, and its share of the relation).
    """

    salt: bool
    hot_rows: int
    total_rows: int
    threshold_rows: float
    hot_share: float

    def __bool__(self) -> bool:  # `if should_salt(...):` reads naturally
        return self.salt


def should_salt(
    populations: DataFrame,
    cores: int,
    count_col: str = "count",
    multiplier: float = SALT_BREAK_EVEN_MULTIPLIER,
) -> SaltDecision:
    """Decide plain-window vs :func:`salted_rank` from per-key
    populations, per the measured ~3×-rows/cores break-even
    (SCALING.md §"salted_rank wall-clock A/B").

    ``populations`` is a per-key population relation — typically
    ``df.groupBy(key).count()`` (default ``count_col``), or an already
    maintained monitoring relation such as t01's 'url' arm ``n_pop``
    column (pass ``count_col="n_pop"``). ``cores`` is the parallelism
    the window would otherwise spread across (executor cores on a
    cluster, ``local[N]``'s N in tests).

    Decision: salt iff ``max(key_rows) > multiplier * total_rows /
    cores``. Below the threshold the hot key's straggler task is
    cheaper than salted_rank's three map passes; above it the straggler
    dominates and grows linearly while salted stays parallel — and past
    task-memory bounds the plain window OOMs rather than straggles, so
    at 1000-executor scale any key above ~0.3% of the relation belongs
    on the salted path (a true mega-domain is deep inside it).

    Cost: ONE bounded 1-row aggregate over the (|keys|-sized)
    population relation — this helper is driver-side by design; call it
    on the monitoring relation, not the corpus.
    """
    if cores <= 0:
        raise ValueError(f"cores must be positive, got {cores}")
    if count_col not in populations.columns:
        raise ValueError(
            f"count column {count_col!r} not in population relation "
            f"columns {populations.columns}; pass count_col= explicitly "
            "(e.g. 'n_pop' for the url-arm monitoring relation)"
        )
    row = populations.agg(
        F.max(F.col(count_col).cast("long")).alias("hot"),
        F.sum(F.col(count_col).cast("long")).alias("total"),
    ).collect()[0]
    hot = int(row["hot"] or 0)
    total = int(row["total"] or 0)
    threshold = multiplier * total / cores
    return SaltDecision(
        salt=hot > threshold,
        hot_rows=hot,
        total_rows=total,
        threshold_rows=threshold,
        hot_share=(hot / total) if total else 0.0,
    )


def salted_rank(
    df: DataFrame,
    part_col: str,
    order_col: str,
    n_buckets: int = 32,
    out: str = "rnk",
) -> DataFrame:
    """Exact per-``part_col`` ``row_number() ORDER BY order_col`` that
    scatters a mega-hot partition key instead of funnelling it through
    one task.

    A window's exchange hashes on the partition key alone, so a 50%-hot
    key puts 50% of ALL rows in one task — and AQE's skew handling never
    fires there (OptimizeSkewedJoin rewrites sort-merge/shuffled-hash
    JOINS only; there is no skew rule for Window exchanges — pinned by
    tests/test_scale_ops.py::test_mega_domain_window_skew_drill). The
    remedy is an ORDER-CORRELATED salt: bucket each row by where its
    order key falls inside its group's [min, max] range, rank locally
    within (key, bucket), then add per-bucket offsets. Because every
    row in bucket b orders before every row in bucket b+1, local rank +
    offset IS the exact global rank.

    Cost: one extra pre-pass (per-key min/max aggregate, map-side
    combinable, |keys| output rows → broadcast) and the offsets relation
    (|keys| × n_buckets rows → broadcast). All full-data exchanges hash
    on (key, bucket): the hot key spreads across n_buckets tasks.

    The offsets relation is a predecessor-count SELF-JOIN of the
    per-(key, bucket) counts, not a running sum: it produces
    O(n_buckets²) rows per group (at most (n_buckets + 1)² with the NULL
    bucket), and the whole counts relation is broadcast. A caller with
    many groups or a large ``n_buckets`` pays that quadratic,
    broadcast-sized work — size ``n_buckets`` with it in mind.

    Ties in ``order_col`` within one group are assigned ranks in an
    arbitrary (but bucket-stable) order — the same contract as plain
    ``row_number``. Equal values always land in the same bucket, so the
    rank set {1..n} per group is exact regardless. NULL order keys get
    a dedicated first bucket, matching ``row_number``'s NULLS FIRST.

    ``order_col`` must be numeric: bucketing maps it through a cast to
    double, and for strings (or other non-numeric types) that mapping
    is not order-preserving ('15' < '2' lexically but 15.0 > 2.0), so
    the bucket-monotonicity invariant the exact-rank proof relies on
    would silently break — rejected up front instead.

    Cost note: the input's lineage is evaluated three times (bounds
    aggregate, the bucketed rank pass, the bucket-counts aggregate) —
    callers whose input is an expensive pipeline should materialize it
    first (as dense_token_ids in operators/bpe_batch.py does).
    """
    from pyspark.sql.types import (
        ByteType, DateType, DecimalType, DoubleType, FloatType,
        IntegerType, LongType, ShortType, TimestampType,
    )

    ot = df.schema[order_col].dataType
    _OK = (ByteType, ShortType, IntegerType, LongType, FloatType,
           DoubleType, DecimalType, DateType, TimestampType)
    if not isinstance(ot, _OK):
        raise TypeError(
            f"salted_rank order_col {order_col!r} has type {ot.simpleString()}; "
            "bucketing is only order-preserving for numeric/date/timestamp "
            "types (a lexical order key would silently mis-rank)"
        )
    lo, hi = f"_{out}_lo", f"_{out}_hi"
    bkt, lrnk, off = f"_{out}_bkt", f"_{out}_lrnk", f"_{out}_off"
    yp, yb, yc = f"_{out}_yp", f"_{out}_yb", f"_{out}_yc"
    # r10 ADVICE: withColumn would silently OVERWRITE an input column
    # named `out`, and an input carrying one of the internal temporaries
    # (or the counts alias "_c") would corrupt the rank arithmetic —
    # reject up front instead of silently replacing.
    clash = {out, lo, hi, bkt, lrnk, off, yp, yb, yc, "_c"} & set(df.columns)
    if clash:
        raise ValueError(
            f"salted_rank output/temp column(s) {sorted(clash)} already "
            f"exist in the input; pass a different `out` or rename the "
            "colliding input columns"
        )
    oc = (
        F.col(order_col).cast("timestamp").cast("double")
        if isinstance(ot, DateType)
        else F.col(order_col).cast("double")
    )
    bounds = df.groupBy(part_col).agg(F.min(oc).alias(lo), F.max(oc).alias(hi))
    d = df.join(F.broadcast(bounds), part_col)
    span = F.col(hi) - F.col(lo) + F.lit(1.0)
    bucket = (
        F.when(oc.isNull(), F.lit(-1))  # NULLS FIRST, own bucket
        .when(F.col(hi) <= F.col(lo), F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_buckets - 1),
                F.floor((oc - F.col(lo)) * n_buckets / span).cast("int"),
            )
        )
    )
    d = d.withColumn(bkt, bucket).drop(lo, hi)
    from pyspark.sql import Window

    local = d.withColumn(
        lrnk, F.row_number().over(Window.partitionBy(part_col, bkt).orderBy(order_col))
    )
    counts = d.groupBy(part_col, bkt).agg(F.count(F.lit(1)).alias("_c"))
    # Per-bucket offsets = Σ counts of strictly-lower buckets in the
    # same group — computed as a broadcast predecessor-count equi-join
    # (hash on part_col, residual bkt inequality) instead of a
    # cumulative window. Why not the window: when the caller's
    # part_col is a CONSTANT (dense_token_ids' single-group rank),
    # Catalyst folds the foldable key out of the window spec and plans
    # an unpartitioned WindowExec — the "No Partition Defined" warning
    # the bench log carried 12× per t01 build (r13 verdict ask #5),
    # undermining the repo invariant that the warning always marks a
    # real defect. The join form is bounded by construction: offsets
    # is broadcast downstream, so counts is broadcast-sized, and the
    # per-key pair work is ≤ (n_buckets+1)² rows per group, map-side.
    offsets = (
        counts.join(
            F.broadcast(
                counts.select(
                    F.col(part_col).alias(yp), F.col(bkt).alias(yb),
                    F.col("_c").alias(yc),
                )
            ),
            (F.col(part_col) == F.col(yp)) & (F.col(yb) < F.col(bkt)),
            "left",
        )
        .groupBy(part_col, bkt)
        .agg(F.coalesce(F.sum(yc), F.lit(0)).alias(off))
        .select(part_col, bkt, off)
    )
    return (
        local.join(F.broadcast(offsets), [part_col, bkt])
        .withColumn(out, (F.col(lrnk) + F.col(off)).cast("int"))
        .drop(bkt, lrnk, off)
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: Sequence[str],
    n_salts: int = 8,
    scatter_cols: Sequence[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big ⋈ small`` on ``keys`` with ``small`` replicated
    ``n_salts`` ways and ``big`` scattered by a deterministic hash of
    ``scatter_cols`` (default: all of big's non-key columns)."""
    scatter = list(scatter_cols) if scatter_cols else [c for c in big.columns if c not in keys]
    big_salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in scatter]), F.lit(n_salts)).cast("int")
    )
    small_salted = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return big_salted.join(small_salted, [*keys, "_salt"], how).drop("_salt")
