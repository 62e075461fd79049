"""Reference-parity queries (SURVEY.md §2) over the synthetic tables.

Each entry pairs a Spark DataFrame plan with a DuckDB oracle SQL twin,
following the FIXTURES.md §6 role analogies (orders/lineitem stand in for
fileinfo/phot; events for the observation-date stream). Query IDs cite the
SURVEY §2 operator they cover.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.scalars import davg, davg_sql, disc_price_sum, disc_price_sum_sql, dsum, dsum_sql
from ..operators.bins import FLUX_BINS, bin_fanout, binspec_df, binspec_sql
from ..operators.pairs import pair_self_join
from ..operators.regression import linregress_agg, linregress_sql
from ..operators.sessionize import sessionize
from ..operators.sigma_clip import sigma_clip, sigma_clip_sql
from ..sources.catalog import literal_table, load_table
from .cte_slopes import cte_slope_pairs, cte_slope_pairs_oracle
from .registry import register

# ---------------------------------------------------------------------------
# Flagship (§3.2 DAG): pair self-join → bin fan-out → σ-clip → regression.
register(
    "cs01_cte_slope_pairs",
    oracle=cte_slope_pairs_oracle(),
    tags=("flagship", "J2", "J5", "A4", "A5", "A6"),
)(cte_slope_pairs)

from .cte_slopes_180 import cte_slope_180pairs, cte_slope_180pairs_oracle  # noqa: E402

register(
    "cs02_cte_slope_180pairs",
    oracle=cte_slope_180pairs_oracle(),
    tags=("flagship", "J4", "W2", "A4", "A5", "A6"),
)(cte_slope_180pairs)


# ---------------------------------------------------------------------------
# Q1/A1 + Q2 + Q3/J7/F6 — the projection/filter family as one tagged
# union (the driver gate caps the registry at 50 queries, so single-op
# filter queries are value-checked as arms of one result):
#   'all_dates'   — project + distinct dates (database_queries.py:87-107)
#   'mode_filter' — conjunctive equality filters (:112-139)
#   'epoch_band'  — dateobs BETWEEN d-30 AND d+30 (:176-180)
#   'incr_maint'  — the Structured-Streaming incremental Results
#                   maintenance gate (plans/incremental_gate.py): seed a
#                   store from a snapshot, stream the remaining exposures
#                   in two micro-batches, foreachBatch-MERGE only the
#                   touched pairs, fingerprint the final store; the
#                   oracle FULL-RECOMPUTES the same wide Results — the
#                   reference's --pr 'last' re-run model
#                   (run_uvis_external_cte.py:66-85, README.md:497-533).
#                   Hosted here (not on benched s07): the cycle runs ~3
#                   full pipeline executions whose fixed cost would
#                   dominate a benched query; q01 is correctness-only.
def _incr_maint_oracle() -> str:
    from .domain_queries import _slope_pipeline_ctes, _wide_sql_cols
    from .incremental_gate import incr_arm_sql

    inner = incr_arm_sql(_slope_pipeline_ctes(week_subset=True), _wide_sql_cols())
    return f"""
    SELECT 'incr_maint' AS which, k AS o_orderkey, CAST(NULL AS DATE) AS obs_date,
           printf('%.6f/%d', round(v, 6), ver) AS detail
    FROM ({inner})
    """


def _incr_trend_oracle() -> str:
    from .domain_queries import _EPOCHS_SQL, _OBS_SQL, _slope_pipeline_ctes
    from .incremental_gate import (
        _INCR_MAX_DATEOBS,
        _INCR_TARG,
        incr_trend_arm_sql,
    )

    # restriction INSIDE the chain: the epoch dimension must cluster the
    # fixture's date set, not the full corpus's (trend is not pair-local)
    ctes = _slope_pipeline_ctes(
        week_subset=True,
        fi_pred=f"targname = '{_INCR_TARG}' AND dateobs < {_INCR_MAX_DATEOBS}",
    )
    inner = incr_trend_arm_sql(ctes, _EPOCHS_SQL, _OBS_SQL)
    return f"""
    SELECT 'incr_trend' AS which, k AS o_orderkey, CAST(NULL AS DATE) AS obs_date,
           printf('%.6f/%d', round(v, 6), ver) AS detail
    FROM ({inner})
    """


@register(
    "q01_filter_suite",
    oracle="""
    SELECT 'all_dates' AS which, CAST(NULL AS BIGINT) AS o_orderkey,
           obs_date, CAST(NULL AS VARCHAR) AS detail
    FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) AS obs_date
          FROM lineitem WHERE l_returnflag = 'R')
    UNION ALL
    SELECT 'mode_filter', CAST(o_orderkey AS BIGINT), CAST(o_orderdate AS DATE),
           CAST(o_custkey AS VARCHAR)
    FROM orders
    WHERE o_orderstatus = 'O' AND o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT 'epoch_band', CAST(o_orderkey AS BIGINT), CAST(o_orderdate AS DATE),
           o_orderstatus
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-06-15 00:00:00' - INTERVAL 30 DAY
      AND o_orderdate <= TIMESTAMP '1997-06-15 00:00:00' + INTERVAL 30 DAY
    UNION ALL
    SELECT 'hash_split', CAST(o_orderkey AS BIGINT), CAST(o_orderdate AS DATE),
           CASE WHEN h < 2 THEN 'val' ELSE 'test' END
    FROM (
        SELECT o_orderkey, o_orderdate,
               CAST(CONCAT('0x', substr(md5(CAST(o_orderkey AS VARCHAR) || '/split-seed-1'), 1, 15)) AS BIGINT) % 100 AS h
        FROM orders
    )
    WHERE h < 4
    UNION ALL
    """ + _incr_maint_oracle() + """
    UNION ALL
    """ + _incr_trend_oracle(),
    tags=("Q1", "A1", "Q2", "Q3", "J7", "F6", "sampling", "streaming", "incremental"),
)
def q01_filter_suite(spark, sf_dir):
    """Projection/filter surface: distinct dates, equality-filter lookup,
    epoch ±30-day band — one arm per reference query shape — plus
    'hash_split': deterministic held-out sampling / train-val-test split
    assignment by salted key hash (the reproducible, engine-portable,
    cluster-safe form of a training pipeline's eval split: a pure
    map-side filter, no shuffle, same assignment on re-run and across
    engines; rand()-based sampling survives neither task retries nor
    the oracle gate) — plus 'incr_maint': the streaming incremental
    Results-maintenance cycle, whose store fingerprint must equal the
    oracle's from-scratch recompute (batch-increment == full-recompute,
    the --pr 'last' semantics) — plus 'incr_trend': the TREND store's
    twin cycle (maintain_trend_stream), where maintenance is at TARGET
    grain because a new exposure can re-cluster its target's epochs;
    the final dynamically-overwritten store must fingerprint equal to a
    from-scratch trend over the full fixture corpus (the reference
    re-runs trends after every --pr 'last' increment,
    run_outputs.py:70-419)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    null_key = F.lit(None).cast("bigint")
    null_str = F.lit(None).cast("string")

    all_dates = (
        li.where(F.col("l_returnflag") == "R")
        .select(F.to_date("l_shipdate").alias("obs_date"))
        .distinct()
        .select(
            F.lit("all_dates").alias("which"),
            null_key.alias("o_orderkey"),
            "obs_date",
            null_str.alias("detail"),
        )
    )
    mode_filter = o.where(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderpriority") == "1-URGENT")
    ).select(
        F.lit("mode_filter").alias("which"),
        F.col("o_orderkey").cast("bigint"),
        F.to_date("o_orderdate").alias("obs_date"),
        F.col("o_custkey").cast("string").alias("detail"),
    )
    epoch = F.lit("1997-06-15 00:00:00").cast("timestamp")
    epoch_band = o.where(
        (F.col("o_orderdate") >= epoch - F.expr("INTERVAL 30 DAYS"))
        & (F.col("o_orderdate") <= epoch + F.expr("INTERVAL 30 DAYS"))
    ).select(
        F.lit("epoch_band").alias("which"),
        F.col("o_orderkey").cast("bigint"),
        F.to_date("o_orderdate").alias("obs_date"),
        F.col("o_orderstatus").alias("detail"),
    )
    from ..functions.text import portable_hash64

    h = portable_hash64(F.concat(F.col("o_orderkey").cast("string"), F.lit("/split-seed-1"))) % 100
    hash_split = (
        o.withColumn("_h", h)
        .where(F.col("_h") < 4)
        .select(
            F.lit("hash_split").alias("which"),
            F.col("o_orderkey").cast("bigint"),
            F.to_date("o_orderdate").alias("obs_date"),
            F.when(F.col("_h") < 2, "val").otherwise("test").alias("detail"),
        )
    )
    from .incremental_gate import incremental_merge_arm, incremental_trend_arm

    # round v BEFORE formatting (same Java-HALF_UP vs printf-half-even
    # tie rationale as d03's jaccard strings — module rounding policy)
    def _fp_arm(df, which):
        return df.select(
            F.lit(which).alias("which"),
            F.col("k").cast("bigint").alias("o_orderkey"),
            F.lit(None).cast("date").alias("obs_date"),
            F.format_string("%.6f/%d", F.round(F.col("v"), 6), F.col("ver")).alias("detail"),
        )

    incr = _fp_arm(incremental_merge_arm(spark, sf_dir), "incr_maint")
    incr_trend = _fp_arm(incremental_trend_arm(spark, sf_dir), "incr_trend")
    return (
        all_dates.unionAll(mode_filter).unionAll(epoch_band)
        .unionAll(hash_split).unionAll(incr).unionAll(incr_trend)
    )


# J1 — FileInfo→Phot fan-out join (database_queries.py:291-310): filtered
# header table joined to the per-source table, aggregated.
@register(
    "j01_fanout_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           {dsum_sql('l.l_extendedprice')} AS sum_flux,
           count(*)::BIGINT AS n_rows
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY o.o_orderpriority
    """,
    tags=("J1",),
)
def j01_fanout_join(spark, sf_dir):
    """Filtered dimension fan-out to the fact table (N+1 loop → one join)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            dsum("l_extendedprice").alias("sum_flux"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )


# J2 — chip-pair self-join (database_queries.py:589-678) + the salted
# skew-join gate (operators/salting.py). Skew design: even l_partkeys all
# map to hot key 100 (50% of lineitem); odd keys spread over buckets
# 1/3/5/7. The dim's gains are exact 4-decimal dyadics so the joined
# product is decimal-exact on both engines.
_SALT_DIM = [(100, 2.0), (1, 1.5), (3, 1.25), (5, 1.125), (7, 1.0625)]
_SALT_DIM_VALUES = ", ".join(f"({k}, {g})" for k, g in _SALT_DIM)


@register(
    "j02_pair_selfjoin",
    oracle=f"""
    SELECT 'pair' AS which,
           CAST(l1.l_orderkey AS BIGINT) AS k,
           l1.l_extendedprice AS v1,
           l2.l_extendedprice AS v2,
           round(l1.l_extendedprice / l2.l_extendedprice, 6) AS v3
    FROM lineitem l1
    JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
    WHERE l1.l_linenumber = 1 AND l2.l_linenumber = 2
    UNION ALL
    SELECT 'salted' AS which,
           skew_key AS k,
           CAST(count(*) AS DOUBLE) AS v1,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(gain AS DECIMAL(18,4))) AS DOUBLE) AS v2,
           CAST(max(gain) AS DOUBLE) AS v3
    FROM (SELECT (CASE WHEN l_partkey % 2 = 0 THEN 100
                       ELSE l_partkey % 8 END)::BIGINT AS skew_key,
                 l_extendedprice
          FROM lineitem) b
    JOIN (VALUES {_SALT_DIM_VALUES}) d(skew_key, gain) USING (skew_key)
    GROUP BY skew_key
    """,
    tags=("J2", "skew"),
)
def j02_pair_selfjoin(spark, sf_dir):
    """Tagged union of the two join-shape gates:
    - 'pair': two same-key scans split by side → one self-join (J2).
    - 'salted': the §7.4 skew posture end-to-end — a deliberately skewed
      fact (key 100 carries 50% of lineitem; the reference's dense-vs-
      sparse cluster reality, README.md:81-83) equi-joined to a 5-row
      dim through ``salted_join``: the dim replicates 8 ways, the fact
      scatters by a deterministic row hash, and the join + the partial
      aggregate run on (key, _salt) — 8 partitions share the hot key —
      before the final per-key aggregate. The oracle states the plain
      join+aggregate: salting is algebraically invisible, which is
      exactly what the hash gate proves. A shuffle_hash hint pins the
      shuffled (non-broadcast) plan so the skew path is actually
      exercised at gate scale; plan shape pinned in test_plan_shape."""
    from ..operators.salting import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    pairs = pair_self_join(
        li, keys=["l_orderkey"], side_col="l_linenumber", side_1=1, side_2=2,
        payload=["l_extendedprice"],
    )
    pair_arm = pairs.select(
        F.lit("pair").alias("which"),
        F.col("l_orderkey").cast("bigint").alias("k"),
        F.col("l_extendedprice_1").alias("v1"),
        F.col("l_extendedprice_2").alias("v2"),
        F.round(F.col("l_extendedprice_1") / F.col("l_extendedprice_2"), 6).alias("v3"),
    )

    big = li.select(
        F.when(F.col("l_partkey") % 2 == 0, F.lit(100))
        .otherwise(F.col("l_partkey") % 8)
        .cast("bigint")
        .alias("skew_key"),
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
    )
    dim = literal_table(spark, _SALT_DIM, "skew_key bigint, gain double")
    joined = salted_join(
        big, dim.hint("shuffle_hash"), keys=["skew_key"], n_salts=8,
        scatter_cols=["l_orderkey", "l_linenumber"],
    )
    # The per-key aggregate IS two-phase here: the partial HashAggregate
    # runs on the join's (skew_key, _salt)-partitioned output — 8
    # partitions each combine their share of the hot key down to one row
    # — and only the 5-row combined state crosses the final exchange.
    salted_arm = joined.groupBy("skew_key").agg(
        F.count(F.lit(1)).cast("double").alias("v1"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * F.col("gain").cast("decimal(18,4)")
        ).cast("double").alias("v2"),
        F.max("gain").alias("v3"),
    ).select(
        F.lit("salted").alias("which"), F.col("skew_key").alias("k"), "v1", "v2", "v3"
    )
    return pair_arm.unionByName(salted_arm)


# A2/A3 — grouped mean/stddev/count pricing summary (TPC-H Q1 shape; the
# reference's per-(epoch, exptime) flux means, uvis_external_cte_plots.py:1610-1633).
@register(
    "a02_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {disc_price_sum_sql('l_extendedprice', 'l_discount')} AS sum_disc_price,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("A2", "A3"),
)
def a02_pricing_summary(spark, sf_dir):
    """Grouped aggregate suite (sum/avg/count) with exact decimal sums."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            disc_price_sum("l_extendedprice", "l_discount").alias("sum_disc_price"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
    )


# A4 — iterative sigma-clipped mean (scipy.stats.sigmaclip;
# uvis_external_cte_plots.py:174-181 / 1610-1613).
@register(
    "a04_sigmaclip_mean",
    oracle=f"""
    SELECT l_returnflag,
           {davg_sql('l_extendedprice')} AS clipped_mean,
           count(*)::BIGINT AS n_kept
    FROM ({sigma_clip_sql('lineitem', 'l_extendedprice', ['l_returnflag'], sigma=4.0, iterations=3)})
    GROUP BY l_returnflag
    """,
    tags=("A4",),
)
def a04_sigmaclip_mean(spark, sf_dir):
    """4σ sigma-clipped mean per group, 3 bounded iterations."""
    li = load_table(spark, sf_dir, "lineitem")
    clipped = sigma_clip(li, "l_extendedprice", ["l_returnflag"], sigma=4.0, iterations=3)
    return clipped.groupBy("l_returnflag").agg(
        davg("l_extendedprice").alias("clipped_mean"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
    )


# A5 — per-group linear regression (scipy.stats.linregress;
# uvis_external_cte_plots.py:189-196).
@register(
    "a05_regression",
    oracle=linregress_sql(
        "SELECT * FROM lineitem", x="l_quantity", y="l_extendedprice",
        group_cols=["l_returnflag", "l_linestatus"],
    ),
    tags=("A5",),
)
def a05_regression(spark, sf_dir):
    """Closed-form OLS per group: slope/intercept/stderr/stddev/n."""
    li = load_table(spark, sf_dir, "lineitem")
    return linregress_agg(
        li, x="l_quantity", y="l_extendedprice", group_cols=["l_returnflag", "l_linestatus"]
    )


# A6 — overlapping flux-bin fan-out (config.py:14-16 bins;
# uvis_external_cte_plots.py:160-169).
@register(
    "a06_overlapping_bins",
    oracle=f"""
    SELECT b.fluxbin,
           count(*)::BIGINT AS n_in_bin,
           {davg_sql('l.l_extendedprice')} AS mean_flux
    FROM lineitem l
    JOIN {binspec_sql(FLUX_BINS)} b
      ON l.l_extendedprice > b.bin_lo AND l.l_extendedprice < b.bin_hi
    GROUP BY b.fluxbin
    """,
    tags=("A6",),
)
def a06_overlapping_bins(spark, sf_dir):
    """A value lands in EVERY overlapping bin containing it (fan-out join,
    not a bucketed groupBy)."""
    li = load_table(spark, sf_dir, "lineitem")
    fan = bin_fanout(li, binspec_df(spark), ["l_extendedprice"])
    return fan.groupBy("fluxbin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in_bin"),
        davg("l_extendedprice").alias("mean_flux"),
    )


# A7 — long→wide pivot by aperture radius (database_update.py:327-560).
@register(
    "a07_pivot_wide",
    oracle="""
    SELECT l_orderkey,
           max(CASE WHEN l_linenumber = 1 THEN l_quantity END) AS qty_1,
           max(CASE WHEN l_linenumber = 2 THEN l_quantity END) AS qty_2,
           max(CASE WHEN l_linenumber = 3 THEN l_quantity END) AS qty_3,
           max(CASE WHEN l_linenumber = 4 THEN l_quantity END) AS qty_4,
           max(CASE WHEN l_linenumber = 5 THEN l_quantity END) AS qty_5,
           max(CASE WHEN l_linenumber = 6 THEN l_quantity END) AS qty_6,
           max(CASE WHEN l_linenumber = 7 THEN l_quantity END) AS qty_7
    FROM lineitem
    GROUP BY l_orderkey
    """,
    tags=("A7",),
)
def a07_pivot_wide(spark, sf_dir):
    """Pivot the long per-(source, radius) layout to the wide per-source
    layout (the Phot table construction)."""
    li = load_table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_orderkey")
        .pivot("l_linenumber", list(range(1, 8)))
        .agg(F.max("l_quantity"))
    )
    return pivoted.select(
        "l_orderkey", *[F.col(str(i)).alias(f"qty_{i}") for i in range(1, 8)]
    )


# A10/W1 — gap-based sessionization of the event stream
# (`find_epochs` uvis_external_cte_plots.py:2173-2212; generalized form).
@register(
    "a10_sessionize",
    oracle="""
    SELECT user_id, session_id::BIGINT AS session_id,
           count(*)::BIGINT AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM (
        SELECT user_id, ts,
               sum(CASE WHEN _gap IS NULL OR _gap >= 1800 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM (
            SELECT user_id, ts,
                   epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS _gap
            FROM events
        )
    )
    GROUP BY user_id, session_id
    """,
    tags=("A10", "W1"),
)
def a10_sessionize(spark, sf_dir):
    """Sessionize events per user with a 30-minute gap; emit session stats."""
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, "ts", ["user_id"], gap=1800.0)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )
