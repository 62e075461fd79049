"""Reference-parity queries, batch 2 (SURVEY.md §2 coverage widening):
dynamic projections and point lookups (Q4-Q8), the full join family
(J3-J9), remaining aggregations (A9, A11-A13), window/sort/set operators
(W3, O1, U1-U3), the scalar-function suite (F1-F14), model fit/eval
(N1/N2) and the natural-key upsert (S7)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.model import poly2_eval, poly2_eval_sql, quadfit_agg, quadfit_sql
from ..functions.scalars import davg, davg_sql, dsum, dsum_sql, round_stable, round_stable_sql
from ..operators.polyfit import polyfit2d
from ..operators.pairs import matching_lookup, rank_pairing
from ..operators.sigma_clip import SIGMA13_ITERS, sigma_clip, sigma_clip_sql
from ..operators.spatial import point_in_quad, point_in_quad_sql
from ..operators.upsert import scd2, upsert
from ..sources.catalog import literal_table, load_table
from .ascii_roundtrip import ASCII_ARMS_SQL, ascii_roundtrip_arms
from .registry import register


# ---------------------------------------------------------------------------
# Q4 — dynamic column selection by parameter (database_queries.py:189-249:
# flux/bkgrd column picked from a dict keyed by aperture). The engine form
# is a parametrized projection; the registered entry pins one parameter.
MEASURE_COLS = {
    "qty": "l_quantity",
    "price": "l_extendedprice",
    "disc": "l_discount",
}


def flux_by_measure(spark, sf_dir, measure: str = "price", orderkey: int = 100):
    li = load_table(spark, sf_dir, "lineitem")
    col = MEASURE_COLS[measure]
    return li.where(F.col("l_orderkey") == orderkey).select(
        "l_orderkey", "l_linenumber", F.col(col).alias("measure_value")
    )


register(
    "q04_dynamic_column",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice AS measure_value
    FROM lineitem WHERE l_orderkey = 100
    """,
    tags=("Q4",),
)(lambda spark, sf_dir: flux_by_measure(spark, sf_dir, "price", 100))


# Q5 — point lookup by natural key (database_queries.py:496-522).
@register(
    "q05_point_lookup",
    oracle="SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey = 100",
    tags=("Q5",),
)
def q05_point_lookup(spark, sf_dir):
    """Single-key lookup of a global scalar (mnclip_bkgrd analog)."""
    o = load_table(spark, sf_dir, "orders")
    return o.where(F.col("o_orderkey") == 100).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )


# Q6 — dynamic 3-column projection by fluxbin + 3 equality filters
# (database_queries.py:745-819).
@register(
    "q06_slopes_lookup",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_linestatus = 'F' AND l_linenumber = 1
    """,
    tags=("Q6",),
)
def q06_slopes_lookup(spark, sf_dir):
    """3 equality filters + parameterized multi-column projection."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]  # dict-selected triple
    return li.where(
        (F.col("l_returnflag") == "R")
        & (F.col("l_linestatus") == "F")
        & (F.col("l_linenumber") == 1)
    ).select("l_orderkey", "l_linenumber", *cols)


# Q7 + Q8 — range predicates as one tagged union (50-query driver cap):
#   'flux_range'     — BETWEEN lo AND hi (database_queries.py:415-417)
#   'ypos_threshold' — >= threshold (:481-482, ypix >= 1750 analog)
@register(
    "q07_range_predicates",
    oracle="""
    SELECT 'flux_range' AS pred, l_orderkey, l_linenumber,
           CAST(l_extendedprice AS DOUBLE) AS value
    FROM lineitem WHERE l_extendedprice BETWEEN 1000 AND 2000
    UNION ALL
    SELECT 'ypos_threshold', l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE)
    FROM lineitem WHERE l_quantity >= 35
    """,
    tags=("Q7", "Q8"),
)
def q07_range_predicates(spark, sf_dir):
    """Range-predicate surface: BETWEEN on the flux column and a >=
    threshold on the position column, tagged per predicate."""
    li = load_table(spark, sf_dir, "lineitem")
    flux_range = li.where(F.col("l_extendedprice").between(1000, 2000)).select(
        F.lit("flux_range").alias("pred"),
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("double").alias("value"),
    )
    ypos = li.where(F.col("l_quantity") >= 35).select(
        F.lit("ypos_threshold").alias("pred"),
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("value"),
    )
    return flux_range.unionAll(ypos)


# J3 — matching-image lookup: one identified row → opposite-side partner
# (database_queries.py:527-584; intended symmetric semantics, the
# reference's chip2→chip1 path is broken by a `==`-for-`=` bug at :564).
@register(
    "j03_matching_lookup",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice
    FROM lineitem l
    JOIN (SELECT l_orderkey, l_linenumber FROM lineitem
          WHERE l_orderkey = 206 AND l_linenumber = 1) p
      ON l.l_orderkey = p.l_orderkey
    WHERE l.l_linenumber <> p.l_linenumber AND l.l_linenumber = 2
    """,
    tags=("J3",),
)
def j03_matching_lookup(spark, sf_dir):
    """Probe one row's keys, find the opposite-side row with the same keys."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_linenumber").isin(1, 2))
    probe_side = li.withColumn("_ident", F.col("l_orderkey") * 10 + F.col("l_linenumber"))
    out = matching_lookup(
        probe_side, keys=["l_orderkey"], side_col="l_linenumber",
        ident_col="_ident", ident_value=2061,  # orderkey=206, side=1
    )
    return out.select("l_orderkey", "l_linenumber", "l_extendedprice")


# J4/W2/O1 — rank pairing: sort within group, split by a predicate on the
# name, zip positionally (database_queries.py:683-740).
@register(
    "j04_rank_pairing",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag, l_linestatus,
               (l_linenumber <= 3) AS _side,
               l_orderkey * 10 + l_linenumber AS uid,
               row_number() OVER (PARTITION BY l_returnflag, l_linestatus, (l_linenumber <= 3)
                                  ORDER BY l_orderkey * 10 + l_linenumber) AS pair_rank
        FROM lineitem
    )
    SELECT a.l_returnflag, a.l_linestatus, a.pair_rank::INT AS pair_rank,
           a.uid AS uid_1, b.uid AS uid_2
    FROM ranked a JOIN ranked b
      ON a.l_returnflag = b.l_returnflag AND a.l_linestatus = b.l_linestatus
     AND a.pair_rank = b.pair_rank AND a._side AND NOT b._side
    """,
    tags=("J4", "W2", "O1"),
)
def j04_rank_pairing(spark, sf_dir):
    """180°-visit positional pairing: row_number per (group, side) + equi-join."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "uid", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    paired = rank_pairing(
        li,
        group_cols=["l_returnflag", "l_linestatus"],
        side_col=F.col("l_linenumber") <= 3,
        order_col="uid",
        payload=["uid"],
    )
    return paired.select("l_returnflag", "l_linestatus", "pair_rank", "uid_1", "uid_2")


# J5/U1/U2/U3 — the set-operation family as one tagged union (50-query
# driver cap):
#   'join_intersect' — master-id intersection via inner join + distinct
#                      (uvis_external_cte_plots.py:2025-2057, J5)
#   'intersect'      — INTERSECT proper (U1)
#   'except'         — set difference (database_update.py:519, U2)
#   'union'          — union of file lists (U3)
@register(
    "u01_set_ops",
    oracle="""
    SELECT 'join_intersect' AS set_op, CAST(master_id AS BIGINT) AS key FROM (
        SELECT DISTINCT a.l_partkey AS master_id
        FROM (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A') a
        JOIN (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R') b
          ON a.l_partkey = b.l_partkey
    )
    UNION ALL
    SELECT 'intersect', CAST(l_partkey AS BIGINT) FROM (
        SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
        INTERSECT
        SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
    )
    UNION ALL
    SELECT 'except', CAST(o_orderkey AS BIGINT) FROM (
        SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT l_orderkey AS o_orderkey FROM lineitem WHERE l_returnflag = 'R'
    )
    UNION ALL
    SELECT 'union', CAST(o_orderkey AS BIGINT) FROM (
        SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
        UNION
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    """,
    tags=("J5", "U1", "U2", "U3"),
)
def u01_set_ops(spark, sf_dir):
    """Set-operation surface: join-intersection on master ids, INTERSECT,
    EXCEPT (set semantics, not exceptAll), UNION-distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    def arm(tag, df, col):
        return df.select(
            F.lit(tag).alias("set_op"), F.col(col).cast("bigint").alias("key")
        )

    a_parts = li.where(F.col("l_returnflag") == "A").select("l_partkey")
    r_parts = li.where(F.col("l_returnflag") == "R").select("l_partkey")
    n_parts = li.where(F.col("l_returnflag") == "N").select("l_partkey")
    join_intersect = (
        a_parts.join(r_parts, "l_partkey")
        .select(F.col("l_partkey").alias("master_id"))
        .distinct()
    )
    f_orders = o.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    r_lines = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return (
        arm("join_intersect", join_intersect, "master_id")
        .unionAll(arm("intersect", a_parts.intersect(n_parts), "l_partkey"))
        .unionAll(arm("except", f_orders.subtract(r_lines), "o_orderkey"))
        .unionAll(arm("union", f_orders.union(urgent).distinct(), "o_orderkey"))
    )


# J6 — point-in-polygon spatial predicate (run_image_extraction.py:584-689).
FOOTPRINT = [(1000.0, 200.0), (8000.0, 100.0), (9000.0, 1500.0), (1500.0, 1900.0)]


@register(
    "j06_point_in_polygon",
    oracle=f"""
    SELECT c_custkey, round(c_acctbal, 2) AS xpix, CAST(c_custkey % 2051 AS DOUBLE) AS ypix
    FROM customer
    WHERE {point_in_quad_sql('c_acctbal', 'CAST(c_custkey % 2051 AS DOUBLE)', FOOTPRINT)}
    """,
    tags=("J6",),
)
def j06_point_in_polygon(spark, sf_dir):
    """Convex-quad half-plane containment as pure column math (no UDF)."""
    c = load_table(spark, sf_dir, "customer").withColumn(
        "ypix", (F.col("c_custkey") % 2051).cast("double")
    )
    return c.where(point_in_quad("c_acctbal", "ypix", FOOTPRINT)).select(
        "c_custkey", F.round("c_acctbal", 2).alias("xpix"), "ypix"
    )


# J7 — epoch band-join: observations matched to epochs within ±30 days
# (database_queries.py:176-180, :369-371). Epoch dimension derived from the
# fact table itself (month starts), broadcast to the fact side.
@register(
    "j07_epoch_band_join",
    oracle=f"""
    SELECT CAST(e.epoch AS DATE) AS epoch,
           count(*)::BIGINT AS n_obs,
           {dsum_sql('o.o_totalprice')} AS sum_price
    FROM (SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS epoch FROM orders) e
    JOIN orders o
      ON o.o_orderdate >= e.epoch - INTERVAL 30 DAY
     AND o.o_orderdate <= e.epoch + INTERVAL 30 DAY
    GROUP BY e.epoch
    """,
    tags=("J7",),
)
def j07_epoch_band_join(spark, sf_dir):
    """Range join: facts to epoch dimension via |date - epoch| <= 30 days.
    Uses the banded equi-join rewrite (operators/band_join.py) — a naive
    range condition plans as a BroadcastNestedLoopJoin, O(|facts|·|epochs|)."""
    from ..operators.band_join import band_join

    o = load_table(spark, sf_dir, "orders")
    epochs = o.select(F.date_trunc("month", "o_orderdate").alias("epoch")).distinct()
    zero = F.lit("1970-01-01").cast("date")
    joined = band_join(
        o,
        F.broadcast(epochs),
        left_val=F.datediff(F.to_date("o_orderdate"), zero).cast("double"),
        right_val=F.datediff(F.to_date("epoch"), zero).cast("double"),
        band=30.0,
        fan_side="right",
    )
    return (
        joined.groupBy("epoch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .select(F.to_date("epoch").alias("epoch"), "n_obs", "sum_price")
    )


# J8 — prefix→proposal broadcast lookup (database_reset.py:73-106 if-chain).
@register(
    "j08_prefix_lookup",
    oracle="""
    SELECT o.o_orderkey, m.label AS priority_class
    FROM orders o
    JOIN (VALUES ('1', 'urgent'), ('2', 'high'), ('3', 'medium'),
                 ('4', 'unspecified'), ('5', 'low')) m(prefix, label)
      ON substr(o.o_orderpriority, 1, 1) = m.prefix
    """,
    tags=("J8",),
)
def j08_prefix_lookup(spark, sf_dir):
    """8-row mapping-table broadcast join replacing an if-chain."""
    o = load_table(spark, sf_dir, "orders")
    mapping = literal_table(
        spark,
        [("1", "urgent"), ("2", "high"), ("3", "medium"), ("4", "unspecified"), ("5", "low")],
        "prefix string, label string",
    )
    return (
        o.withColumn("prefix", F.substring("o_orderpriority", 1, 1))
        .join(F.broadcast(mapping), "prefix")
        .select("o_orderkey", F.col("label").alias("priority_class"))
    )


# J9/J1 — star-schema FK joins (phot↔fileinfo↔master analog):
# lineitem↔orders↔customer↔nation↔region, revenue per region.
@register(
    "j09_star_join",
    oracle=f"""
    SELECT r.r_name AS region_name,
           {dsum_sql('l.l_extendedprice')} AS revenue,
           count(*)::BIGINT AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY r.r_name
    """,
    tags=("J9", "J1", "J8"),
)
def j09_star_join(spark, sf_dir):
    """Star join with broadcast dimensions (FK chain of the data model)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            dsum("l_extendedprice").alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


# A9 — background-bin profile: integer bucket + σ-clip + mean & σ/10
# (uvis_external_cte_plots.py:829-853; 1.3σ variant :713-716).
@register(
    "a09_bkgrd_profile",
    oracle=f"""
    SELECT CAST(bkgrd_bin AS BIGINT) AS bkgrd_bin,
           {davg_sql('l_extendedprice')} AS mean_flux,
           round(stddev_pop(l_extendedprice) / 10, 6) AS sigma_tenth,
           count(*)::BIGINT AS n_in_bin
    FROM ({sigma_clip_sql(
        "(SELECT floor(l_quantity / 10) AS bkgrd_bin, l_extendedprice FROM lineitem)",
        "l_extendedprice", ["bkgrd_bin"], sigma=1.3, iterations=SIGMA13_ITERS)})
    GROUP BY CAST(bkgrd_bin AS BIGINT)
    """,
    tags=("A9", "A3", "A4"),
)
def a09_bkgrd_profile(spark, sf_dir):
    """Bucket by integer background level, 1.3σ-clip per bucket, report
    mean and σ/10 (the reference's error-bar convention).

    The reference's 1.3σ clip is scipy's run-to-fixpoint
    (uvis_external_cte_plots.py:713-716), and at 1.3σ even Gaussian
    groups keep removing tail mass for dozens of passes (measured on
    this data: fixpoint after 23/33/38 passes at sf0.001/0.01/0.1) —
    the old bounded 3-pass clip silently stopped far short of scipy's
    answer. The engine now runs ``sigma_clip_fixpoint`` (one shuffle,
    per-group numpy iteration — 48+ declarative window passes over 6
    partitions cost ~4.6s where the local iteration is O(n) per pass
    in-core); the oracle unrolls the same SIGMA13_ITERS bound the
    engine iterates to, so the two sides agree BY CONSTRUCTION at any
    group size, and the bound itself reaches scipy's fixpoint on any
    data converging within it (every extra pass past fixpoint is an
    identity filter; convergence audit: tests/test_properties.py).
    The 4σ clips keep the declarative iterations=3 form — at 4σ the
    fixpoint lands in ≤3 passes on realistic (near-Gaussian) data,
    pinned by the iterations-3-vs-4 equality test in
    test_domain_pipeline.py."""
    from ..operators.sigma_clip import sigma_clip_fixpoint

    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity") / 10).alias("bkgrd_bin"), "l_extendedprice"
    )
    clipped = sigma_clip_fixpoint(li, "l_extendedprice", ["bkgrd_bin"], sigma=1.3,
                                  max_iters=SIGMA13_ITERS)
    return clipped.groupBy("bkgrd_bin").agg(
        davg("l_extendedprice").alias("mean_flux"),
        F.round(F.stddev_pop("l_extendedprice") / 10, 6).alias("sigma_tenth"),
        F.count(F.lit(1)).cast("bigint").alias("n_in_bin"),
    )


# A12 — fraction-recovered metric comparing two pipeline variants
# (compare_idl_python.py:384: 100*(1-(n_ctecorr-n)/n_ctecorr)).
@register(
    "a12_fraction_recovered",
    oracle="""
    SELECT f.l_linenumber,
           round(100.0 * (1.0 - (f.n_f - o.n_o) / f.n_f), 6) AS pct_recovered,
           f.n_f AS n_flt, o.n_o AS n_flc
    FROM (SELECT l_linenumber, count(*)::BIGINT AS n_f FROM lineitem
          WHERE l_linestatus = 'F' GROUP BY l_linenumber) f
    JOIN (SELECT l_linenumber, count(*)::BIGINT AS n_o FROM lineitem
          WHERE l_linestatus = 'O' GROUP BY l_linenumber) o
      ON f.l_linenumber = o.l_linenumber
    """,
    tags=("A12",),
)
def a12_fraction_recovered(spark, sf_dir):
    """Join two variant counts per bin and compute percent recovered."""
    li = load_table(spark, sf_dir, "lineitem")
    f = (
        li.where(F.col("l_linestatus") == "F")
        .groupBy("l_linenumber")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_flt"))
    )
    o = (
        li.where(F.col("l_linestatus") == "O")
        .groupBy("l_linenumber")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_flc"))
    )
    return f.join(o, "l_linenumber").select(
        "l_linenumber",
        F.round(
            100.0 * (1.0 - (F.col("n_flt") - F.col("n_flc")) / F.col("n_flt")), 6
        ).alias("pct_recovered"),
        "n_flt",
        "n_flc",
    )


# A13/U2 — stars absent from an image: anti-join (database_update.py:514-519).
@register(
    "a13_absent_antijoin",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
    tags=("A13", "U2"),
)
def a13_absent_antijoin(spark, sf_dir):
    """Left-anti join finding master rows with no observation."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


# W3 + A11 — latest-epoch value per group (plot_model_on_reality.py:282-294)
# joined with the last/max selection (`program_list[-1]`,
# run_image_extraction.py:967-968) — both "latest per group" shapes in one
# 5-row result (50-query driver cap).
@register(
    "w03_latest_value",
    oracle="""
    SELECT lv.o_orderpriority, lv.latest_price, lm.last_orderkey, lm.last_date
    FROM (
        SELECT DISTINCT o_orderpriority,
               last_value(o_totalprice) OVER (
                   PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS latest_price
        FROM orders
    ) lv
    JOIN (
        SELECT o_orderpriority, max(o_orderkey) AS last_orderkey,
               max(o_orderdate) AS last_date
        FROM orders GROUP BY o_orderpriority
    ) lm ON lv.o_orderpriority = lm.o_orderpriority
    """,
    tags=("W3", "A11"),
)
def w03_latest_value(spark, sf_dir):
    """last value over an unbounded window (coeff_dict_values[-1] analog)
    plus max-per-group (`program_list[-1]` analog), joined on the group."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    latest = o.select(
        "o_orderpriority", F.last("o_totalprice").over(w).alias("latest_price")
    ).distinct()
    last_max = o.groupBy("o_orderpriority").agg(
        F.max("o_orderkey").alias("last_orderkey"),
        F.max("o_orderdate").alias("last_date"),
    )
    return latest.join(last_max, "o_orderpriority")


# O1 — deterministic top-k (sorted()[...] idiom).
@register(
    "o01_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    tags=("O1", "O3"),
)
def o01_topk(spark, sf_dir):
    """Top-k with a total tiebreak (deterministic limit)."""
    o = load_table(spark, sf_dir, "orders")
    return o.orderBy(F.col("o_totalprice").desc(), "o_orderkey").limit(10).select(
        "o_orderkey", "o_totalprice"
    )


# F1-F14 — scalar-function suite in one projection (SURVEY §2.8).
@register(
    "f01_scalar_suite",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           concat(l_returnflag, '_', l_linestatus, '_', lpad(CAST(l_linenumber AS VARCHAR), 3, '0')) AS parsed_name,
           lower(l_returnflag) AS flag_lower,
           upper(l_linestatus) AS status_upper,
           CASE WHEN l_quantity <= 25 THEN 's' ELSE 'l' END AS exp_length,
           round(log10(l_extendedprice), 6) AS log_flux,
           abs(l_discount - 0.05) <= 0.02 AS near_nominal,
           CAST(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS INT) AS mjd_day,
           l_extendedprice - l_quantity * 10 AS net_flux,
           round((l_extendedprice / l_quantity) * 0.5 * 2048, 6) AS rescaled_ratio,
           regexp_extract(concat('/data/', l_returnflag, '/', CAST(l_orderkey AS VARCHAR), '_flc.fits'), '[^/]+$') AS basename,
           contains(concat(CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR)), '10') AS visit_flag
    FROM lineitem
    WHERE l_orderkey < 200
    """,
    tags=("F1", "F2", "F3", "F4", "F5", "F6", "F8", "F9", "F10", "F11", "F12"),
)
def f01_scalar_suite(spark, sf_dir):
    """String/date/math/conditional scalar surface in one projection —
    each column cites its SURVEY §2.8 row."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    path = F.concat(
        F.lit("/data/"), F.col("l_returnflag"), F.lit("/"),
        F.col("l_orderkey").cast("string"), F.lit("_flc.fits"),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat_ws(
            "_", "l_returnflag", "l_linestatus",
            F.lpad(F.col("l_linenumber").cast("string"), 3, "0"),
        ).alias("parsed_name"),  # F3/F5 format+zero-pad
        F.lower("l_returnflag").alias("flag_lower"),  # F4
        F.upper("l_linestatus").alias("status_upper"),  # F4
        F.when(F.col("l_quantity") <= 25, "s").otherwise("l").alias("exp_length"),  # F8
        F.round(F.log10("l_extendedprice"), 6).alias("log_flux"),  # F9
        (F.abs(F.col("l_discount") - 0.05) <= 0.02).alias("near_nominal"),  # F12
        F.datediff(F.to_date("l_shipdate"), F.lit("1995-01-01").cast("date")).alias("mjd_day"),  # F6
        (F.col("l_extendedprice") - F.col("l_quantity") * 10).alias("net_flux"),  # F11
        F.round((F.col("l_extendedprice") / F.col("l_quantity")) * 0.5 * 2048, 6).alias("rescaled_ratio"),  # F10
        F.regexp_extract(path, r"[^/]+$", 0).alias("basename"),  # F2
        F.concat(F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string"))
        .contains("10")
        .alias("visit_flag"),  # F1
    )


# N1 — per-group polynomial fit, two arms (uvis_external_cte_plots.py
# :2216-2249, wrapper fit_empirical_model :596-778):
#
# - 'quad1d': the closed-form 1-D quadratic via Cramer's rule on the
#   normal equations (no UDF, map-side combinable). x centered/scaled so
#   the moments stay O(1).
# - 'poly2d': the FULL 9-coefficient 2-D surface S(d,f) = Σ c_ij·f^j·d^i
#   through the applyInPandas np.linalg.lstsq operator
#   (operators/polyfit.py) — the reference's flagship fit. The fit runs
#   on a 3×3 tensor grid of data-derived cell means at nodes {-1,0,1},
#   so the system is exactly determined and the oracle can state the
#   identical solution in closed form: the interpolant's power-basis
#   coefficients are c_ij = Σ_kl W[i,k]·W[j,l]·z[k,l], where W holds the
#   Lagrange basis polynomials' coefficients for nodes (-1, 0, 1). Cell
#   means use the decimal-exact davg policy and are rounded BEFORE the
#   fit, so both engines fit the same doubles; lstsq on the
#   well-conditioned 9×9 Vandermonde then agrees with the closed form to
#   ~1e-13, far under the round_stable(8) quantum.
#
# W[p][k] = coefficient of x^p in the Lagrange polynomial of node k
# (node values: k=0 → -1, k=1 → 0, k=2 → +1):
#   L_{-1}(x) = x(x-1)/2,  L_0(x) = 1-x²,  L_{+1}(x) = x(x+1)/2
_LAGRANGE_W = [
    (0, 0, 0.0), (0, 1, 1.0), (0, 2, 0.0),
    (1, 0, -0.5), (1, 1, 0.0), (1, 2, 0.5),
    (2, 0, 0.5), (2, 1, -1.0), (2, 2, 0.5),
]
_LAGRANGE_W_SQL = "(VALUES " + ", ".join(f"({p}, {k}, {wt!r})" for p, k, wt in _LAGRANGE_W) + ") w(p, k, wt)"

_N01_CELLS_SQL = f"""
    SELECT o_orderpriority AS grp,
           (o_orderkey % 3) AS k,
           ((o_orderkey // 3) % 3) AS l,
           {round_stable_sql(
               "(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) / 100000.0", 6)} AS z
    FROM orders
    GROUP BY 1, 2, 3
"""


@register(
    "n01_quadratic_fit",
    oracle=f"""
    WITH quad AS ({quadfit_sql(
        '''SELECT o_orderpriority,
                  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) / 1000.0 - 1.2 AS x,
                  o_totalprice / 100000.0 AS y
           FROM orders''',
        x="x", y="y", group_cols=["o_orderpriority"],
    )}),
    cells AS ({_N01_CELLS_SQL}),
    w AS (SELECT * FROM {_LAGRANGE_W_SQL})
    SELECT 'quad1d' AS which, o_orderpriority AS grp, 0 AS i, 0 AS j, c0 AS coeff, num_points FROM quad
    UNION ALL
    SELECT 'quad1d', o_orderpriority, 1, 0, c1, num_points FROM quad
    UNION ALL
    SELECT 'quad1d', o_orderpriority, 2, 0, c2, num_points FROM quad
    UNION ALL
    SELECT 'poly2d' AS which, c.grp, wi.p AS i, wj.p AS j,
           {round_stable_sql("sum(wi.wt * wj.wt * c.z)", 8)} AS coeff,
           CAST(count(*) AS BIGINT) AS num_points
    FROM cells c
    JOIN w wi ON wi.k = c.k
    JOIN w wj ON wj.k = c.l
    GROUP BY c.grp, wi.p, wj.p
    """,
    tags=("N1",),
)
def n01_quadratic_fit(spark, sf_dir):
    """Polynomial fits per group: 1-D quadratic via Cramer closed form
    (no UDF) + the full 2-D 9-coefficient lstsq surface via applyInPandas
    on an exactly-determined 3×3 node grid."""
    o = load_table(spark, sf_dir, "orders")

    quad_in = o.select(
        "o_orderpriority",
        (
            F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")) / 1000.0
            - 1.2
        ).alias("x"),
        (F.col("o_totalprice") / 100000.0).alias("y"),
    )
    quad = quadfit_agg(quad_in, x="x", y="y", group_cols=["o_orderpriority"]).select(
        F.lit("quad1d").alias("which"),
        F.col("o_orderpriority").alias("grp"),
        F.expr("stack(3, 0, c0, 1, c1, 2, c2) AS (i, coeff)"),
        "num_points",
    ).select("which", "grp", "i", F.lit(0).alias("j"), "coeff", "num_points")

    cells = (
        o.groupBy(
            F.col("o_orderpriority").alias("grp"),
            F.expr("o_orderkey % 3").alias("k"),
            F.expr("(o_orderkey div 3) % 3").alias("l"),
        )
        .agg(round_stable(davg("o_totalprice") / 100000.0, 6).alias("z"))
        .select(
            "grp",
            (F.col("k") - 1).cast("double").alias("d"),
            (F.col("l") - 1).cast("double").alias("f"),
            "z",
        )
    )
    # strict: the 3x3 (k, l) grid is exactly determined by construction;
    # a missing cell at some scale factor should fail loudly, not produce
    # a NaN-vs-partial-sum oracle mismatch
    poly = polyfit2d(cells, d="d", f="f", s="z", group_cols=["grp"], strict=True).select(
        F.lit("poly2d").alias("which"),
        "grp", "i", "j",
        round_stable("coeff", 8).alias("coeff"),
        "num_points",
    )
    return quad.unionByName(poly)


# N2 — 9-coefficient model evaluation as a pure column expression
# (plot_model_on_reality.py:48-113).
MODEL_COEFFS = [
    [1.2e-2, -3.4e-3, 5.6e-4],
    [7.8e-5, -9.1e-6, 2.3e-6],
    [-4.5e-8, 6.7e-9, -8.9e-10],
]


@register(
    "n02_model_eval",
    oracle=f"""
    SELECT o_orderkey,
           round({poly2_eval_sql(
               "date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) / 100.0",
               "log10(o_totalprice)", MODEL_COEFFS)}, 6) AS model_slope
    FROM orders WHERE o_orderkey < 1000
    """,
    tags=("N2",),
)
def n02_model_eval(spark, sf_dir):
    """Evaluate the 2-D polynomial CTE model slope(d, f) per row."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 1000)
    d = F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")) / 100.0
    f = F.log10("o_totalprice")
    return o.select(
        "o_orderkey", F.round(poly2_eval(d, f, MODEL_COEFFS), 6).alias("model_slope")
    )


# A14 — grouping-sets aggregation (free-from-Spark surface noted in
# SURVEY §2.4: the reference has no grouping sets; Catalyst provides
# them). Both shapes in one tagged union: ROLLUP (the hierarchy) and
# CUBE (all subset combinations — adds the (ALL, status) slices rollup
# lacks).
@register(
    "a14_rollup",
    oracle=f"""
    SELECT 'rollup' AS gset,
           coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           count(*)::BIGINT AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube',
           coalesce(l_returnflag, 'ALL'),
           coalesce(l_linestatus, 'ALL'),
           {dsum_sql('l_quantity')},
           count(*)::BIGINT
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("A14", "rollup", "cube"),
)
def a14_rollup(spark, sf_dir):
    """Hierarchical totals via rollup (flag → flag+status → grand total)
    plus the full cube (every grouping-set combination)."""
    li = load_table(spark, sf_dir, "lineitem")

    def _agg(grouped, gset):
        return grouped.agg(
            dsum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        ).select(
            F.lit(gset).alias("gset"),
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )

    return _agg(li.rollup("l_returnflag", "l_linestatus"), "rollup").unionAll(
        _agg(li.cube("l_returnflag", "l_linestatus"), "cube")
    )


# W4 — running cumulative total per group (window frame surface).
@register(
    "w04_running_total",
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_revenue
    FROM orders WHERE o_orderkey < 2000
    """,
    tags=("W4",),
)
def w04_running_total(spark, sf_dir):
    """Cumulative revenue per priority (exact decimal running sum)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
    return o.select("o_orderpriority", "o_orderkey", running.alias("running_revenue"))


# O2 — exact interpolated percentiles per group (additive; both engines
# implement the same linear-interpolation definition), PLUS the
# histogram-sketch estimates a 100 TB run would use instead: exact
# percentile needs every group value under one reducer, while the
# fixed-resolution histogram (bin = floor(value·2^QSK_LOG2S), a pure
# exponent-shift multiply — bit-exact cross-engine, no libm) carries
# bounded mergeable state (range × resolution rows, independent of
# corpus size) that merges by ADDING bin counts under any partitioning.
# The estimate is the midpoint of the bin holding the lower
# interpolation anchor (rank floor(q·(n-1))+1); sk_* columns are gated
# alongside the exact values, so the audit bounds the sketch error
# per-round. Midpoints divide by a power of two ⇒ exact doubles.
QSK_LOG2S = 3  # bin width 1/8
_QSK_S = 1 << QSK_LOG2S


@register(
    "o02_percentiles",
    oracle=f"""
    WITH h AS (
        SELECT event_type, CAST(floor(value * {_QSK_S}) AS BIGINT) AS bin,
               count(*)::BIGINT AS c
        FROM events GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, bin,
               sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
               sum(c) OVER (PARTITION BY event_type) AS n
        FROM h
    ),
    sk AS (
        SELECT event_type,
               min(CASE WHEN cum >= CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
                        THEN bin END) AS b50,
               min(CASE WHEN cum >= CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1
                        THEN bin END) AS b90
        FROM cum GROUP BY event_type
    )
    , dec AS (
        SELECT event_type,
               sum(CASE WHEN nt = 1 THEN 1 ELSE 0 END)::BIGINT AS d1_n,
               sum(CASE WHEN nt = 10 THEN 1 ELSE 0 END)::BIGINT AS d10_n,
               round(max(CASE WHEN nt = 1 THEN value END), 6) AS d1_max,
               round(min(CASE WHEN nt = 10 THEN value END), 6) AS d10_min
        FROM (
            SELECT event_type, value,
                   ntile(10) OVER (PARTITION BY event_type
                                   ORDER BY value, event_id) AS nt
            FROM events
        ) GROUP BY event_type
    )
    SELECT e.event_type,
           round(quantile_cont(e.value, 0.5), 6) AS p50,
           round(quantile_cont(e.value, 0.9), 6) AS p90,
           round(min(e.value), 6) AS v_min,
           round(max(e.value), 6) AS v_max,
           round((min(sk.b50) + 0.5) / {_QSK_S}, 6) AS sk_p50,
           round((min(sk.b90) + 0.5) / {_QSK_S}, 6) AS sk_p90,
           min(d.d1_n) AS d1_n, min(d.d10_n) AS d10_n,
           min(d.d1_max) AS d1_max, min(d.d10_min) AS d10_min
    FROM events e
    JOIN sk ON sk.event_type = e.event_type
    JOIN dec d ON d.event_type = e.event_type
    GROUP BY e.event_type
    """,
    tags=("O2", "percentile", "sketch"),
)
def o02_percentiles(spark, sf_dir):
    """Exact (interpolated) p50/p90 per event type, plus the mergeable
    fixed-resolution histogram-sketch estimates (see header comment)."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.floor(F.col("value") * _QSK_S).cast("bigint").alias("bin"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = h.select(
        "event_type",
        "bin",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )

    def _rank(q: float):
        return F.floor(F.lit(q) * (F.col("n") - 1)).cast("bigint") + 1

    sk = cum.groupBy("event_type").agg(
        F.min(F.when(F.col("cum") >= _rank(0.5), F.col("bin"))).alias("b50"),
        F.min(F.when(F.col("cum") >= _rank(0.9), F.col("bin"))).alias("b90"),
    )
    base = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.min("value"), 6).alias("v_min"),
        F.round(F.max("value"), 6).alias("v_max"),
    )
    # decile (ntile) discretization — the rank-based bucketing an ML
    # featurizer applies; both engines implement the SQL-standard ntile
    # (first n mod k buckets one larger) and the ORDER BY carries a
    # total tiebreak so bucket membership is deterministic. Gated via
    # the edge-bucket counts and the d1/d10 boundary values.
    wnt = Window.partitionBy("event_type").orderBy("value", "event_id")
    dec = (
        ev.select("event_type", "value", F.ntile(10).over(wnt).alias("nt"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("nt") == 1, 1).otherwise(0)).cast("bigint").alias("d1_n"),
            F.sum(F.when(F.col("nt") == 10, 1).otherwise(0)).cast("bigint").alias("d10_n"),
            F.round(F.max(F.when(F.col("nt") == 1, F.col("value"))), 6).alias("d1_max"),
            F.round(F.min(F.when(F.col("nt") == 10, F.col("value"))), 6).alias("d10_min"),
        )
    )
    return (
        base.join(F.broadcast(sk), "event_type")
        .join(F.broadcast(dec), "event_type")
        .select(
            "event_type", "p50", "p90", "v_min", "v_max",
            F.round((F.col("b50") + 0.5) / _QSK_S, 6).alias("sk_p50"),
            F.round((F.col("b90") + 0.5) / _QSK_S, 6).alias("sk_p90"),
            "d1_n", "d10_n", "d1_max", "d10_min",
        )
    )


# F-json — JSON scalar surface (additive; the reference has no JSON, but
# the events.props column exercises Spark's JSON path expressions) + the
# MALFORMED-INPUT QUARANTINE arm: real pipelines meet broken JSON, and
# the correct behavior is classify-and-route, not fail-the-job. Every
# 13th row's props is corrupted deterministically (both engines PREPEND
# '{' — prepend, not append: Spark's get_json_object tolerates trailing
# garbage after a complete document while DuckDB's json_valid does not,
# so only a corruption that breaks the FIRST token classifies
# identically cross-engine); validity is probed WITHOUT erroring (Spark: get_json_object of
# the root returns NULL on malformed input; DuckDB: json_valid guards
# the extraction), bad rows land with NULL payload and a 'q_bad' tag —
# the quarantine relation a production job writes to a dead-letter sink.
@register(
    "f02_json_extract",
    oracle="""
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT) AS k_value,
           event_type,
           CAST(props->>'$.k' AS BIGINT) % 10 AS k_bucket
    FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT event_id,
           CASE WHEN json_valid(cp) THEN CAST(cp->>'$.k' AS BIGINT) END,
           CASE WHEN json_valid(cp) THEN 'q_ok' ELSE 'q_bad' END,
           CASE WHEN json_valid(cp) THEN CAST(cp->>'$.k' AS BIGINT) % 10 END
    FROM (
        SELECT event_id,
               CASE WHEN event_id % 13 = 0 THEN '{' || props ELSE props END AS cp
        FROM events WHERE event_type = 'purchase'
    )
    """,
    tags=("F-json", "quarantine"),
)
def f02_json_extract(spark, sf_dir):
    """JSON field extraction from the props column (get_json_object) +
    the malformed-input quarantine arm (see the comment above)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    k = F.get_json_object("props", "$.k").cast("bigint")
    extract = ev.select(
        "event_id", k.alias("k_value"), "event_type", (k % 10).alias("k_bucket")
    )
    cp = F.when(
        F.col("event_id") % 13 == 0, F.concat(F.lit("{"), "props")
    ).otherwise(F.col("props"))
    corrupted = ev.select("event_id", cp.alias("cp"))
    valid = F.get_json_object("cp", "$").isNotNull()
    kq = F.get_json_object("cp", "$.k").cast("bigint")
    quarantine = corrupted.select(
        "event_id",
        F.when(valid, kq).alias("k_value"),
        F.when(valid, F.lit("q_ok")).otherwise(F.lit("q_bad")).alias("event_type"),
        F.when(valid, kq % 10).alias("k_bucket"),
    )
    return extract.unionByName(quarantine)


# S7 — insert-or-update by natural key (database_update.py:214-255):
# latest-wins merge, idempotent on re-run — plus the S3/S4/S5/S6 ASCII
# sidecar round-trip arms (plans/ascii_roundtrip.py): write the
# reference's .cat/.coo/.mag/slope formats and a discovery fixture,
# read them back through sources/ascii_io.py + sources/discovery.py,
# fingerprint; the oracle recomputes the fingerprints from parquet.
# (The Structured-Streaming incremental Results maintenance — the
# reference's --pr 'last' re-run model — is gated as q01's 'incr_maint'
# arm, plans/incremental_gate.py: its ~3 full pipeline executions per
# run carry a fixed multi-second cost that would dominate this BENCHED
# query; q01 is correctness-only.)
@register(
    "s07_upsert_merge",
    oracle="""
    SELECT 'upsert' AS which, o_orderkey AS k, o_totalprice AS v, version AS ver FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                     ORDER BY version DESC, _src DESC) AS _rn
        FROM (
            SELECT o_orderkey, o_totalprice, 1 AS version, 0 AS _src FROM orders
            UNION ALL
            SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice, 2 AS version, 1 AS _src
            FROM orders WHERE o_orderkey % 100 = 0
        )
    ) WHERE _rn = 1
    UNION ALL
    SELECT 'scd2' AS which, o_orderkey AS k, o_totalprice AS v,
           CAST(version * 100
                + coalesce(lead(version) OVER (PARTITION BY o_orderkey
                                               ORDER BY version), 0) AS INT) AS ver
    FROM (
        SELECT o_orderkey, o_totalprice, 1 AS version FROM orders
        WHERE o_orderkey % 20 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice + 1000, 2 FROM orders WHERE o_orderkey % 100 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice + 3000, 3 FROM orders WHERE o_orderkey % 200 = 0
    )
    UNION ALL
    SELECT 'diff' AS which, coalesce(v2.k, v1.k) AS k, coalesce(v2.p, v1.p) AS v,
           CAST(CASE WHEN v1.k IS NULL THEN 2 WHEN v2.k IS NULL THEN 3
                     WHEN v1.p <> v2.p THEN 1 ELSE 0 END AS INT) AS ver
    FROM (SELECT o_orderkey AS k, o_totalprice AS p FROM orders) v1
    FULL OUTER JOIN (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1000
                    ELSE o_totalprice END AS p
        FROM orders WHERE o_orderkey % 501 <> 0
        UNION ALL
        SELECT -o_orderkey, o_totalprice + 5000 FROM orders WHERE o_orderkey % 250 = 0
    ) v2 ON v1.k = v2.k
    WHERE CASE WHEN v1.k IS NULL THEN 2 WHEN v2.k IS NULL THEN 3
               WHEN v1.p <> v2.p THEN 1 ELSE 0 END <> 0
    UNION ALL
    """ + ASCII_ARMS_SQL,
    tags=("S7", "S3", "S4", "S5", "S6", "scd2", "diff"),
)
def s07_upsert_merge(spark, sf_dir):
    """MERGE-without-Delta (union + row_number latest-wins on the natural
    key) + SCD2 history tracking (operators/upsert.scd2 — same natural-key
    shuffle, but every version kept with lead()-closed validity) + the
    ASCII sidecar write→read→fingerprint round-trip arms.

    The 'scd2' arm packs (version, valid_to) into ver = version*100 +
    coalesce(valid_to, 0) so the interval-close logic — the part of SCD2
    that isn't just an append — is what the value hash gates.

    The 'diff' arm is the SNAPSHOT DIFF between two corpus releases
    (dataset-versioning: what changed between v1 and v2?): one FULL
    OUTER JOIN on the natural key — the only place the engine's
    full-outer path is gated — classifying each key as changed (ver=1,
    every 100th key's price bumped), added (2, synthetic negative keys),
    or removed (3, every 501st key dropped); unchanged rows are filtered
    so the hash pins exactly the disagreement set."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = o.withColumn("version", F.lit(1))
    updates = (
        o.where(F.col("o_orderkey") % 100 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
        .withColumn("version", F.lit(2))
    )
    merged = upsert(base, updates, keys=["o_orderkey"], version_col="version").select(
        F.lit("upsert").alias("which"),
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.col("o_totalprice").cast("double").alias("v"),
        F.col("version").cast("int").alias("ver"),
    )
    snapshots = (
        base.where(F.col("o_orderkey") % 20 == 0)
        .unionByName(updates)
        .unionByName(
            o.where(F.col("o_orderkey") % 200 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + 3000)
            .withColumn("version", F.lit(3))
        )
    )
    hist = scd2(snapshots, keys=["o_orderkey"], version_col="version").select(
        F.lit("scd2").alias("which"),
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.col("o_totalprice").cast("double").alias("v"),
        (F.col("version") * 100 + F.coalesce(F.col("valid_to"), F.lit(0)))
        .cast("int")
        .alias("ver"),
    )
    v1 = o.select(F.col("o_orderkey").alias("k1"), F.col("o_totalprice").alias("p1"))
    v2 = (
        o.where(F.col("o_orderkey") % 501 != 0)
        .select(
            F.col("o_orderkey").alias("k2"),
            F.when(
                F.col("o_orderkey") % 100 == 0, F.col("o_totalprice") + 1000
            ).otherwise(F.col("o_totalprice")).alias("p2"),
        )
        .unionByName(
            o.where(F.col("o_orderkey") % 250 == 0).select(
                (-F.col("o_orderkey")).alias("k2"),
                (F.col("o_totalprice") + 5000).alias("p2"),
            )
        )
    )
    verdict = (
        F.when(F.col("k1").isNull(), 2)
        .when(F.col("k2").isNull(), 3)
        .when(F.col("p1") != F.col("p2"), 1)
        .otherwise(0)
    )
    diff_arm = (
        v1.join(v2, F.col("k1") == F.col("k2"), "full_outer")
        .select(
            F.lit("diff").alias("which"),
            F.coalesce("k2", "k1").cast("bigint").alias("k"),
            F.coalesce("p2", "p1").cast("double").alias("v"),
            verdict.cast("int").alias("ver"),
        )
        .where(F.col("ver") != 0)
    )
    return (
        merged.unionByName(hist)
        .unionByName(diff_arm)
        .unionByName(ascii_roundtrip_arms(spark, sf_dir))
    )
