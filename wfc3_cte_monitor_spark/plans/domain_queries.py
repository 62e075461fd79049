"""Domain-shaped driver queries: the trend/model layer (SURVEY.md §3.3)
and the wide-Results flagship run END-TO-END over deterministic
domain-analog tables derived from the synthetic parquet.

The round-1 gate exercised every operator on lineitem-shaped analogs;
these queries close the gap to the reference's actual entry points
(uvis_external_cte_plots.py plot_cteslope_vs_time_setup :1297-1445,
plot_cteslope_vs_logflux_setup :1450-1674, plot_model_on_reality.py
:420-600) by building fileinfo/phot tables in the REAL domain schema from
orders/lineitem and running the same composed plans the domain pipeline
uses — pair self-join, phot fan-in, σ-clip, regression, wide pivot,
pairwise epoch dimension, band join, stderr conventions, model backtest.

Analog mapping (one exposure-pair "visit cell" per (order priority,
7-day week of o_orderdate)):

  targname    ← o_orderpriority           (5 targets)
  visit/week  ← days(o_orderdate) // 7    (mode key; proposid = week)
  dateobs     ← week * 7                  (int day number)
  chip        ← 1, 2 (each cell exposes both chips)
  imagename   ← '<targ>_w<week>_c<chip>'
  star        ← lineitem of an order in the cell (master_id aligns the
                two chips' measurements of the same star)
  ypix        ← l_quantity * 40           (0..2000 detector rows)
  flux chip1  ← l_extendedprice / 3.2     (spans all 8 flux bins)
  flux chip2  ← chip1 * (1 + l_discount)  (a CTE-loss-like ratio)
  radius      ← 2 + l_partkey % 3         (aperture; queries use 3)
  bkgrd       ← l_tax-scaled

The trend queries use a week % 7 < 3 subset so the epoch dimension sees
both walk branches (7-day gaps merge pairwise, 35-day gaps stay single).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpointing import materialize
from ..functions.model import quadfit_sql
from ..functions.scalars import round_stable, round_stable_sql
from ..operators.bins import FLUX_BINS, binspec_sql
from ..operators.regression import linregress_sql
from ..operators.sessionize import find_epochs_sql
from ..operators.sigma_clip import sigma_clip_sql
from ..schemas import FLUXBIN_LABELS
from ..sources.catalog import literal_table, load_table
from .pipeline import attach_size_estimate
from .registry import register

_EPOCH0 = "1992-01-01"
_WEEK_SUBSET = "week % 7 < 3"  # gap pattern 7,7,35 → both epoch-walk branches


def _materialize_fi(df: DataFrame) -> DataFrame:
    """Lazy lineage truncation for the tiny fileinfo analog that fans out
    into the pair map / epoch dimension / band join.

    Round-3 added an eager localCheckpoint here and the trend-query bench
    regressed ~2x on a noisy host. Measured (sf0.1, local[32], interleaved
    best-of-5): cs03 eager 5.78 / lazy 4.75 / none 4.59; n03 eager 5.81 /
    lazy 4.50 / none 5.86. Eager loses on both — the blocking serial
    materialization sits inside the timed query. LAZY is the overall
    winner: the fan-out still collapses to one scan of cached blocks on
    first use, without the up-front serial barrier.
    """
    # the checkpointed plan roots at a LogicalRDD with unknown stats,
    # which would blind the pair-broadcast size branch downstream — carry
    # the pre-checkpoint relation's estimate across the boundary so auto
    # still decides on the real exposure-dimension size
    return attach_size_estimate(materialize(df), df)


# One analog target carries a '6791'-bearing name so BOTH branches of the
# skipbins rule (skip two bins for '6791' targets, one otherwise —
# uvis_external_cte_plots.py:1648-1653, plans/trends.skipbins_filter) are
# exercised by the cs04 oracle gate, not just the default branch.
_TARG_6791_SRC = "5-LOW"
_TARG_6791 = "ngc6791-low"
_TARG_SQL = (
    f"CASE WHEN o_orderpriority = '{_TARG_6791_SRC}' THEN '{_TARG_6791}' "
    "ELSE o_orderpriority END"
)

# Two faint targets whose analog fluxes are scaled down 8x so they
# populate the two lowest flux bins (250-500, 500-1000): with real rows
# there, the skipbins filter's one-bin branch ('3-MEDIUM' drops 250_500)
# AND its two-bin branch (the 6791 target drops both) each remove rows
# under the cs04 oracle gate instead of filtering bins that were empty.
_FAINT_TARGS = (_TARG_6791_SRC, "3-MEDIUM")
_FAINT_SQL = (
    "CASE WHEN o_orderpriority IN ("
    + ", ".join(f"'{t}'" for t in _FAINT_TARGS)
    + ") THEN 8.0 ELSE 1.0 END"
)


def _targname_col():
    return F.when(
        F.col("o_orderpriority") == _TARG_6791_SRC, F.lit(_TARG_6791)
    ).otherwise(F.col("o_orderpriority"))


_FAINT_TARGNAMES = (_TARG_6791, "3-MEDIUM")


def _faint_divisor():
    # keyed off the renamed targname (same targets as _FAINT_SQL's
    # o_orderpriority form — '5-LOW' becomes the 6791 name)
    return F.when(
        F.col("targname").isin(*_FAINT_TARGNAMES), F.lit(8.0)
    ).otherwise(F.lit(1.0))


# --- analog builders (Spark) ------------------------------------------------

def _orders_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    week = F.floor(
        F.datediff(F.to_date("o_orderdate"), F.lit(_EPOCH0).cast("date")) / 7
    ).cast("int")
    return o.select(
        F.col("o_orderkey"),
        _targname_col().alias("targname"),
        week.alias("week"),
    )


def analog_fileinfo(spark: SparkSession, sf_dir: str, week_subset: bool = False) -> DataFrame:
    """Domain-schema FileInfo rows (mode keys + chip + imagename) from
    orders — two chip exposures per (targname, week) visit cell."""
    cells = _orders_cells(spark, sf_dir).select("targname", "week").distinct()
    if week_subset:
        cells = cells.where(F.expr(_WEEK_SUBSET))
    fan = cells.select(
        "targname", "week", F.explode(F.array(F.lit(1), F.lit(2))).alias("chip")
    )
    return fan.select(
        "targname",
        F.format_string("%s_w%05d_c%d", "targname", "week", "chip").alias("imagename"),
        F.col("week").cast("string").alias("proposid"),
        (F.col("week") * 7).cast("int").alias("dateobs"),
        F.lit("F502N").alias("filter"),
        F.lit(60.0).alias("exptime"),
        F.lit("NONE").alias("chinject"),
        F.lit(0).alias("flashlvl"),
        (F.col("week") % 2).cast("int").alias("ctecorr"),
        F.lit(0.0).alias("postarg1"),
        "chip",
    )


def analog_phot(spark: SparkSession, sf_dir: str, week_subset: bool = False) -> DataFrame:
    """Domain-schema long Phot rows from lineitem: one star measurement per
    (lineitem, chip), master_id aligning the two chips."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.join(_orders_cells(spark, sf_dir), li.l_orderkey == F.col("o_orderkey")).select(
        "targname",
        "week",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("bigint").alias("master_id"),
        (F.lit(2) + F.col("l_partkey") % 3).cast("int").alias("radius"),
        (F.col("l_quantity").cast("double") * 40.0).alias("ypix"),
        (F.col("l_extendedprice").cast("double") / 3.2 / _faint_divisor()).alias("_fluxbase"),
        F.col("l_discount").cast("double").alias("_disc"),
        F.col("l_tax").cast("double").alias("_tax"),
    )
    if week_subset:
        base = base.where(F.expr(_WEEK_SUBSET))
    fan = base.select("*", F.explode(F.array(F.lit(1), F.lit(2))).alias("chip"))
    return fan.select(
        F.format_string("%s_w%05d_c%d", "targname", "week", "chip").alias("imagename"),
        "master_id",
        "radius",
        "ypix",
        F.when(F.col("chip") == 1, F.col("_fluxbase"))
        .otherwise(F.col("_fluxbase") * (1.0 + F.col("_disc")))
        .alias("flux"),
        (F.col("_tax") * 10.0).alias("mnbkgrd"),
        (F.col("_tax") * 100.0).alias("totbkgrd"),
    )


# --- analog builders (DuckDB twins) ----------------------------------------

def _fileinfo_sql(week_subset: bool = False) -> str:
    where = f"WHERE {_WEEK_SUBSET}" if week_subset else ""
    return f"""
    SELECT targname,
           printf('%s_w%05d_c%d', targname, week, chip) AS imagename,
           CAST(week AS VARCHAR) AS proposid,
           (week * 7)::INT AS dateobs,
           'F502N' AS "filter", 60.0 AS exptime, 'NONE' AS chinject,
           0 AS flashlvl, (week % 2)::INT AS ctecorr, 0.0 AS postarg1, chip
    FROM (SELECT DISTINCT {_TARG_SQL} AS targname,
                 (date_diff('day', DATE '{_EPOCH0}', CAST(o_orderdate AS DATE)) // 7)::INT AS week
          FROM orders) CROSS JOIN (VALUES (1), (2)) c(chip)
    {where}
    """


def _phot_sql(week_subset: bool = False) -> str:
    where = f"WHERE {_WEEK_SUBSET}" if week_subset else ""
    return f"""
    SELECT printf('%s_w%05d_c%d', targname, week, chip) AS imagename,
           master_id, radius, ypix,
           CASE WHEN chip = 1 THEN _fluxbase
                ELSE _fluxbase * (1.0 + _disc) END AS flux,
           _tax * 10.0 AS mnbkgrd,
           _tax * 100.0 AS totbkgrd
    FROM (
        SELECT {_TARG_SQL} AS targname,
               (date_diff('day', DATE '{_EPOCH0}', CAST(o.o_orderdate AS DATE)) // 7)::INT AS week,
               (l.l_orderkey * 10 + l.l_linenumber)::BIGINT AS master_id,
               (2 + l.l_partkey % 3)::INT AS radius,
               CAST(l.l_quantity AS DOUBLE) * 40.0 AS ypix,
               CAST(l.l_extendedprice AS DOUBLE) / 3.2 / ({_FAINT_SQL}) AS _fluxbase,
               CAST(l.l_discount AS DOUBLE) AS _disc,
               CAST(l.l_tax AS DOUBLE) AS _tax
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ) CROSS JOIN (VALUES (1), (2)) c(chip)
    {where}
    """


_PAIR_KEYS = ["targname", "proposid", "dateobs", "filter", "exptime",
              "chinject", "flashlvl", "ctecorr", "postarg1"]

_PAIRS_SQL = (
    "SELECT f1.targname, f1.dateobs, f1.exptime, f1.ctecorr,\n"
    "       f1.imagename AS imagename_1, f2.imagename AS imagename_2\n"
    "FROM fi f1 JOIN fi f2 ON "
    + " AND ".join(f'f1."{k}" = f2."{k}"' for k in _PAIR_KEYS)
    + " AND f1.chip = 1 AND f2.chip = 2"
)

_GROUP4 = ["targname", "imagename_1", "imagename_2", "fluxbin"]


def _slope_pipeline_ctes(week_subset: bool, apertures: tuple[int, ...] = (3,),
                         fi_pred: str | None = None) -> str:
    """Shared oracle CTE chain: analogs → pairs → phot align → bin fan-out
    → σ-clip → per-bin regression (valid fits carry non-NULL slope).

    With multiple apertures the chain mirrors the engine's single-pass
    sweep: radius rides as an ``aperture`` column through every stage and
    joins the group keys.

    ``fi_pred`` restricts the fileinfo analog INSIDE the chain — required
    when a consumer's semantics depend on the exposure SET, not just the
    pair set (the epoch dimension clusters the restricted corpus's dates;
    filtering pairs after the fact would compute epochs over the full
    corpus, a different dimension near the restriction boundary). The
    pair-local results fingerprint can keep filtering outside instead."""
    multi = len(apertures) > 1
    group = (
        ["targname", "imagename_1", "imagename_2", "aperture", "fluxbin"]
        if multi else _GROUP4
    )
    ap_list = ", ".join(str(a) for a in apertures)
    ap_col = ", radius AS aperture" if multi else ""
    ap_sel = ", p1.aperture" if multi else ""
    ap_join = " AND p2.aperture = p1.aperture" if multi else ""
    clip = sigma_clip_sql("fan", "flux_ratio", group, sigma=4.0, iterations=3)
    reg = linregress_sql("SELECT * FROM clipped", x="ypos", y="flux_ratio", group_cols=group)
    fi_body = f"({_fileinfo_sql(week_subset)})"
    if fi_pred is not None:
        fi_body = f"(SELECT * FROM {fi_body} WHERE {fi_pred})"
    return f"""
    fi AS {fi_body},
    ph AS ({_phot_sql(week_subset)}),
    pairs AS ({_PAIRS_SQL}),
    plong AS (SELECT imagename, master_id, ypix, flux - totbkgrd AS net_flux{ap_col}
              FROM ph WHERE radius IN ({ap_list})),
    bothsides AS (
        SELECT pr.targname, pr.imagename_1, pr.imagename_2{ap_sel}, p1.master_id,
               p1.ypix AS ypos, p1.net_flux AS flux_1, p2.net_flux AS flux_2,
               p1.net_flux / p2.net_flux AS flux_ratio
        FROM pairs pr
        JOIN plong p1 ON p1.imagename = pr.imagename_1
        JOIN plong p2 ON p2.imagename = pr.imagename_2 AND p2.master_id = p1.master_id{ap_join}
    ),
    fan AS (
        SELECT bs.*, b.fluxbin
        FROM bothsides bs JOIN {binspec_sql(FLUX_BINS)} b
          ON bs.flux_1 > b.bin_lo AND bs.flux_1 < b.bin_hi
         AND bs.flux_2 > b.bin_lo AND bs.flux_2 < b.bin_hi
    ),
    clipped AS ({clip}),
    reg AS ({reg})
    """


_EPOCHS_SQL = find_epochs_sql("SELECT targname, dateobs FROM fi", "dateobs", ["targname"], gap=30.0)

_OBS_SQL = """
    SELECT p.*, e.epoch
    FROM pairs p JOIN epochs e
      ON p.targname = e.targname
     AND CAST(p.dateobs AS DOUBLE) >= e.epoch - 30.0
     AND CAST(p.dateobs AS DOUBLE) <= e.epoch + 30.0
"""


# --- cs05: the wide-Results flagship over the full analog -------------------

def _wide_sql_cols() -> str:
    cols = []
    for b in FLUXBIN_LABELS:
        arm = f"CASE WHEN r.fluxbin = '{b}'"
        cols.append(f"coalesce(max({arm} THEN r.slope END), 0.0) AS slope_{b}")
        cols.append(f"coalesce(max({arm} THEN r.slopestdev END), 0.0) AS slopestdev_{b}")
        cols.append(
            f"coalesce(max({arm} AND r.slope IS NOT NULL THEN r.num_points END), 0)::INT"
            f" AS numpoints_{b}"
        )
    return ",\n           ".join(cols)


# The analog's radius domain is {2, 3, 4} (2 + l_partkey % 3), so the
# second swept aperture is 4 — a radius with real measurement rows —
# rather than a value that would gate nothing but the zero-fill.
_CS05_APERTURES = (3, 4)


@register(
    "cs05_results_wide",
    oracle=f"""
    WITH {_slope_pipeline_ctes(week_subset=False, apertures=_CS05_APERTURES)}
    SELECT p.targname, p.imagename_1, p.imagename_2,
           {_wide_sql_cols()},
           CAST(a.aperture AS DOUBLE) AS aperture
    FROM pairs p
    CROSS JOIN (VALUES {", ".join(f"({a})" for a in _CS05_APERTURES)}) a(aperture)
    LEFT JOIN reg r ON p.targname = r.targname
                   AND p.imagename_1 = r.imagename_1
                   AND p.imagename_2 = r.imagename_2
                   AND r.aperture = a.aperture
    GROUP BY p.targname, p.imagename_1, p.imagename_2, a.aperture
    """,
    tags=("flagship", "A7", "J1", "J2", "J5", "A4", "A5", "A6"),
)
def cs05_results_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The domain flagship in domain shape: compute_results (§3.2 DAG →
    wide Results layout with zero-filled empty bins,
    uvis_external_cte_plots.py:1119-1292 + :198-201) over analog
    fileinfo/phot tables — swept over TWO apertures in one pass, the
    reference's per-aperture output loop (run_outputs.py:225-295; Results
    keyed (imagename_1, imagename_2, aperture),
    table_definitions/results.txt:1-29) as a grouping column."""
    from .pipeline import compute_results

    # fi feeds the pair map and the master-id alignment — materialize once
    fi = _materialize_fi(analog_fileinfo(spark, sf_dir))
    ph = analog_phot(spark, sf_dir)
    return compute_results(fi, ph, aperture=list(_CS05_APERTURES))


# --- cs03: CTE slope vs time (stderr = stdev / n) ---------------------------

# cs03 sweeps the trend over the same two apertures as cs05 — the
# reference runs its whole trend/output loop once per aperture
# (run_outputs.py:225-295); here aperture is one more grouping column
# riding the single slope pass into the epoch aggregate.
_CS03_APERTURES = (3, 4)


@register(
    "cs03_cte_vs_time",
    oracle=f"""
    WITH {_slope_pipeline_ctes(week_subset=True, apertures=_CS03_APERTURES)},
    epochs AS ({_EPOCHS_SQL}),
    obs AS ({_OBS_SQL})
    SELECT o.targname, o.epoch, r.aperture, r.fluxbin,
           {round_stable_sql("avg(r.slope)", 8)} AS mean_slope,
           {round_stable_sql("avg(r.slopestdev / r.num_points)", 8)} AS mean_stderr,
           count(*)::BIGINT AS n_pairs
    FROM obs o
    JOIN reg r ON o.targname = r.targname
              AND o.imagename_1 = r.imagename_1
              AND o.imagename_2 = r.imagename_2
    WHERE r.slope IS NOT NULL
    GROUP BY o.targname, o.epoch, r.aperture, r.fluxbin
    """,
    tags=("trend", "J7", "F13", "W1", "A2"),
)
def cs03_cte_vs_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend layer end-to-end (plot_cteslope_vs_time_setup,
    uvis_external_cte_plots.py:1297-1445): pairwise epoch dimension →
    band join (±30 d) → slope retrieval from wide Results → per
    (target, epoch, aperture, fluxbin) mean slope with stderr =
    stdev / n (:1413), swept over apertures (3, 4) in one pass (the
    reference's per-aperture output loop, run_outputs.py:225-295)."""
    from .pipeline import compute_results_long
    from .trends import cte_slope_vs_time, epoch_dimension

    # fi is the mode dimension (exposures ≪ measurements) and feeds the
    # pair map, the epoch dimension and the band join — materialize the
    # tiny relation once instead of re-embedding its orders scan +
    # distinct per use (same rationale as n03's trend checkpoint)
    fi = _materialize_fi(analog_fileinfo(spark, sf_dir, week_subset=True))
    ph = analog_phot(spark, sf_dir, week_subset=True)
    slopes = compute_results_long(fi, ph, aperture=list(_CS03_APERTURES))
    trend = cte_slope_vs_time(fi, slopes, epoch_dimension(fi))
    return trend.select(
        "targname", "epoch", "aperture", "fluxbin",
        round_stable("mean_slope", 8).alias("mean_slope"),
        round_stable("mean_stderr", 8).alias("mean_stderr"),
        "n_pairs",
    )


# --- cs04: CTE slope vs log-flux (σ-clipped flux, stderr = stdev / √n) ------

# cs04 sweeps the same two apertures as cs03/cs05 — per-image flux,
# σ-clip, and slope join all carry aperture as one more grouping key
# (the reference's per-aperture output loop, run_outputs.py:225-295).
_CS04_APERTURES = (3, 4)
_FLUXCLIP_GROUP = ["targname", "epoch", "aperture", "imagename_1", "imagename_2"]


@register(
    "cs04_cte_vs_logflux",
    oracle=f"""
    WITH {_slope_pipeline_ctes(week_subset=True, apertures=_CS04_APERTURES)},
    epochs AS ({_EPOCHS_SQL}),
    obs AS ({_OBS_SQL}),
    pflux AS (
        SELECT o.targname, o.epoch, pl.aperture, o.imagename_1, o.imagename_2,
               pl.net_flux
        FROM obs o JOIN plong pl ON pl.imagename = o.imagename_1
    ),
    fclip AS ({sigma_clip_sql("pflux", "net_flux", _FLUXCLIP_GROUP, sigma=4.0, iterations=3)}),
    fmean AS (
        SELECT targname, epoch, aperture, imagename_1, imagename_2,
               avg(net_flux) AS mean_flux
        FROM fclip GROUP BY targname, epoch, aperture, imagename_1, imagename_2
    )
    SELECT m.targname, m.epoch, m.aperture, r.fluxbin,
           {round_stable_sql("avg(log10(m.mean_flux))", 8)} AS mean_logflux,
           {round_stable_sql("avg(r.slope)", 8)} AS mean_slope,
           {round_stable_sql("avg(r.slopestdev / sqrt(r.num_points))", 8)} AS mean_stderr,
           count(*)::BIGINT AS n_pairs
    FROM fmean m
    JOIN reg r ON m.targname = r.targname
              AND m.imagename_1 = r.imagename_1
              AND m.imagename_2 = r.imagename_2
              AND m.aperture = r.aperture
    WHERE r.slope IS NOT NULL
      AND NOT (CASE WHEN m.targname LIKE '%6791%'
                    THEN r.fluxbin IN ('{FLUXBIN_LABELS[0]}', '{FLUXBIN_LABELS[1]}')
                    ELSE r.fluxbin = '{FLUXBIN_LABELS[0]}' END)
    GROUP BY m.targname, m.epoch, m.aperture, r.fluxbin
    """,
    tags=("trend", "J7", "F13", "A2", "A4"),
)
def cs04_cte_vs_logflux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend layer vs log-flux (plot_cteslope_vs_logflux_setup,
    uvis_external_cte_plots.py:1450-1674): 4σ-clipped per-image flux mean
    (:1610-1613), stderr = stdev / sqrt(n) (:1633), the per-target
    skipbins rule (:1648-1653), swept over apertures (3, 4) in one pass."""
    from .pipeline import compute_results_long
    from .trends import cte_slope_vs_logflux, epoch_dimension, skipbins_filter

    # see cs03: fi is reused across the pair map, epoch dimension, band
    # join AND the flux clip — one materialization of the tiny relation
    fi = _materialize_fi(analog_fileinfo(spark, sf_dir, week_subset=True))
    # cs04 is the one trend query with TWO phot consumers (the slope
    # pipeline and the per-image flux clip), each re-running the
    # lineitem⋈orders derivation when pipelined; materialize it once,
    # lazily. Interleaved A/B at sf0.1: ckpt 4.77 s vs pipelined 5.07 s
    # best — and at scale it saves a whole join pass, unlike t02's
    # raw-text case where a checkpoint lost to scan pipelining.
    ph = analog_phot(spark, sf_dir, week_subset=True).transform(materialize)
    slopes = compute_results_long(fi, ph, aperture=list(_CS04_APERTURES))
    trend = cte_slope_vs_logflux(
        fi, ph, slopes, epoch_dimension(fi), aperture=list(_CS04_APERTURES)
    )
    return skipbins_filter(trend).select(
        "targname", "epoch", "aperture", "fluxbin",
        round_stable("mean_logflux", 8).alias("mean_logflux"),
        round_stable("mean_slope", 8).alias("mean_slope"),
        round_stable("mean_stderr", 8).alias("mean_stderr"),
        "n_pairs",
    )


# --- s01: header-scan derivations (S1 + A8 + F7) ----------------------------

_S01_CODES_180 = ["etq", "euq", "ewq", "f2q", "xsq", "xtq", "xvq", "y1q"]
# postarg2 probe values: both chip-2 boundaries (0.0, ±0.1 inclusive), the
# unusable subdither band, and the chip-1 boundary (±80) and beyond.
_S01_POSTARG2 = [0.0, 0.05, -0.1, 5.0, 80.0, -100.0]

# Per-target affine WCS solutions (N4): one pointing solution per target,
# broadcast to every exposure — rd2xy's grain when a target's visits share
# astrometry. Constants are arbitrary but exact double literals.
_S01_WCS = [
    ("ngc104", 5.0, 1.0, 101.3, 3.7, 2048.0, -2.9, 99.1, 1025.5),
    ("ngc6583", 4.0, -2.0, 97.6, -1.3, 1900.0, 4.1, 103.8, 980.0),
]
_S01_WCS_SQL = "(VALUES " + ", ".join(
    f"('{t}', {ra0!r}, {dec0!r}, {ax!r}, {bx!r}, {x0!r}, {ay!r}, {by!r}, {y0!r})"
    for t, ra0, dec0, ax, bx, x0, ay, by, y0 in _S01_WCS
) + ") w(wtarg, ra0, dec0, ax, bx, x0, ay, by, y0)"


@register(
    "s01_header_derivations",
    oracle=f"""
    WITH headers AS (
        SELECT o_orderkey AS k,
               printf('i%09d%s_%s.fits', o_orderkey,
                      CASE WHEN o_orderkey % 11 = 0 THEN 'etq'
                           WHEN o_orderkey % 11 = 1 THEN 'xsq'
                           ELSE 'abq' END,
                      CASE WHEN o_orderkey % 2 = 0 THEN 'flc' ELSE 'flt' END) AS imagename,
               50000.0 + (o_orderkey % 3000) + (o_orderkey % 100) / 100.0 AS expstart,
               CASE o_orderkey % 6
                    WHEN 0 THEN 0.0 WHEN 1 THEN 0.05 WHEN 2 THEN -0.1
                    WHEN 3 THEN 5.0 WHEN 4 THEN 80.0 ELSE -100.0 END AS postarg2,
               CASE o_orderkey % 3 WHEN 0 THEN 30.0 WHEN 1 THEN 60.0 ELSE 360.0 END AS exptime,
               CAST(o_orderkey % 3 AS DOUBLE) AS flashlvl,
               CASE WHEN o_orderkey % 7 = 0 THEN 'NGC6583' ELSE 'NGC104' END AS targname,
               CASE WHEN o_orderkey % 13 = 0 THEN 'CONT' ELSE 'NO' END AS chinject,
               (o_orderkey % 50) / 10.0 AS mnbkgrd,
               CAST(2 + o_orderkey % 4 AS DOUBLE) AS radius,
               5.0 + (o_orderkey % 360) / 100.0 AS ra,
               1.0 - (o_orderkey % 180) / 200.0 AS dec
        FROM orders
    )
    SELECT imagename,
           lower(targname) AS targname,
           CAST(substr(CAST(expstart AS VARCHAR), 1, 5) AS INT) AS dateobs,
           CASE WHEN targname LIKE '%6583%'
                     AND ({" OR ".join(f"imagename LIKE '%{c}%'" for c in _S01_CODES_180)})
                THEN 1
                WHEN targname LIKE '%6583%' THEN 2
                WHEN abs(postarg2) <= 0.1 THEN 2
                WHEN abs(postarg2) >= 80.0 THEN 1 END AS chip,
           CASE WHEN imagename LIKE '%\\_flc%' ESCAPE '\\' THEN 1 ELSE 0 END AS ctecorr,
           CASE WHEN exptime <= 60 THEN 's' ELSE 'l' END AS exp_length,
           CAST(flashlvl AS INT) AS flashlvl,
           CASE WHEN chinject <> 'NO' THEN 'false_chinject'
                WHEN CAST(flashlvl AS INT) <> 0 THEN 'false_pf'
                WHEN targname NOT LIKE '%6583%'
                     AND abs(postarg2) > 0.1 AND abs(postarg2) < 80.0
                THEN 'false_subdither' END AS skip_reason,
           current_date AS ingest_date,
           mnbkgrd * (pi() * radius * radius) AS totbkgrd,
           ax * (ra - ra0) + bx * (dec - dec0) + x0 AS xpix,
           ay * (ra - ra0) + by * (dec - dec0) + y0 AS ypix
    FROM headers JOIN {_S01_WCS_SQL} ON lower(targname) = wtarg
    """,
    tags=("S1", "A8", "F7", "F1", "N4"),
)
def s01_header_derivations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-scan derivations driver-gated (run_image_extraction.py
    create_param_dict :148-443): dateobs from EXPSTART digits (:308-310),
    chip from POSTARG2 / the 180-degree code list (:348-375), ctecorr
    from the _flc/_flt suffix (:378-381), exp_length (:384-387),
    flashlvl normalization (:421), skip sentinels (:274-340), ingest_date
    (F7, database_update.py:298), the A8 aperture-background product
    (database_update.py:506-509), and the N4 sky→pixel affine transform
    (rd2xy, run_image_extraction.py:650-651 — the reference's 'very, very
    slow' per-star loop as a broadcast join + column arithmetic)."""
    from ..operators.image_ops import rd2xy
    from ..sources.header_derive import derive_fileinfo_columns, totbkgrd_expr

    k = F.col("o_orderkey")
    headers = load_table(spark, sf_dir, "orders").select(
        F.format_string(
            "i%09d%s_%s.fits",
            k,
            F.when(k % 11 == 0, "etq").when(k % 11 == 1, "xsq").otherwise("abq"),
            F.when(k % 2 == 0, "flc").otherwise("flt"),
        ).alias("imagename"),
        (F.lit(50000.0) + (k % 3000) + (k % 100) / 100.0).alias("expstart"),
        F.element_at(
            F.array(*[F.lit(v) for v in _S01_POSTARG2]), (k % 6 + 1).cast("int")
        ).alias("postarg2"),
        F.element_at(
            F.array(F.lit(30.0), F.lit(60.0), F.lit(360.0)), (k % 3 + 1).cast("int")
        ).alias("exptime"),
        (k % 3).cast("double").alias("flashlvl"),
        F.when(k % 7 == 0, "NGC6583").otherwise("NGC104").alias("targname"),
        F.when(k % 13 == 0, "CONT").otherwise("NO").alias("chinject"),
        ((k % 50) / 10.0).alias("mnbkgrd"),
        (2 + k % 4).cast("double").alias("radius"),
        (F.lit(5.0) + (k % 360) / 100.0).alias("ra"),
        (F.lit(1.0) - (k % 180) / 200.0).alias("dec"),
    )
    derived = derive_fileinfo_columns(headers, flashlvl_desired=0)
    wcs = literal_table(
        spark,
        _S01_WCS,
        "targname string, ra0 double, dec0 double, ax double, bx double,"
        " x0 double, ay double, by double, y0 double",
    )
    return rd2xy(derived, wcs, key="targname").select(
        "imagename",
        "targname",
        "dateobs",
        "chip",
        "ctecorr",
        "exp_length",
        "flashlvl",
        "skip_reason",
        "ingest_date",
        totbkgrd_expr(F.col("mnbkgrd"), F.col("radius")).alias("totbkgrd"),
        "xpix",
        "ypix",
    )


# --- n03: model backtest (predicted vs observed slope) ----------------------

_X_CENTER, _X_SCALE = 1200.0, 1000.0  # day-number centering (MJD-offset idea, :605-609)

_MODEL_SQL = "f.c0 + f.c1 * t._x + f.c2 * t._x * t._x"
_MODEL_RS = round_stable_sql(_MODEL_SQL, 8)
_RESID_RS = round_stable_sql(f"t.mean_slope - {_MODEL_RS}", 8)


# n03 sweeps the same two apertures as the rest of the trend layer —
# the model fit becomes per (target, aperture, fluxbin), the grain the
# reference's per-aperture output loop produces coefficients at.
_N03_APERTURES = (3, 4)


@register(
    "n03_model_backtest",
    oracle=f"""
    WITH {_slope_pipeline_ctes(week_subset=True, apertures=_N03_APERTURES)},
    epochs AS ({_EPOCHS_SQL}),
    obs AS ({_OBS_SQL}),
    trend AS (
        SELECT o.targname, o.epoch, r.aperture, r.fluxbin,
               (o.epoch - {_X_CENTER}) / {_X_SCALE} AS _x,
               {round_stable_sql("avg(r.slope)", 8)} AS mean_slope
        FROM obs o
        JOIN reg r ON o.targname = r.targname
                  AND o.imagename_1 = r.imagename_1
                  AND o.imagename_2 = r.imagename_2
        WHERE r.slope IS NOT NULL
        GROUP BY o.targname, o.epoch, r.aperture, r.fluxbin
    ),
    fit AS ({quadfit_sql("SELECT * FROM trend", x="_x", y="mean_slope",
                         group_cols=["targname", "aperture", "fluxbin"], round_to=8)}),
    backtest AS (
        SELECT t.targname, t.epoch, t.aperture, t.fluxbin,
               t.mean_slope AS observed_slope,
               {_MODEL_RS} AS model_slope,
               {_RESID_RS} AS residual,
               f.num_points AS n_epochs
        FROM trend t
        JOIN fit f ON t.targname = f.targname AND t.fluxbin = f.fluxbin
                  AND t.aperture = f.aperture
    ),
    -- rolling z-score anomaly columns: exact-integer running sums
    -- (micro-unit slopes) feed double mean/var, so both engines derive
    -- the identical z (see the Spark twin's comment)
    anomwin AS (
        SELECT b.*,
               CAST(count(*) OVER w AS BIGINT) AS _np,
               CAST(sum(_xi) OVER w AS BIGINT) AS _s,
               CAST(sum(_xi * _xi) OVER w AS BIGINT) AS _ss,
               _xi
        FROM (
            SELECT *, CAST(round(observed_slope * 100000000) AS BIGINT) AS _xi
            FROM backtest
        ) b
        WINDOW w AS (PARTITION BY targname, aperture, fluxbin ORDER BY epoch
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT targname, epoch, aperture, fluxbin,
           observed_slope, model_slope, residual, n_epochs,
           CASE WHEN _np >= 3
                     AND (CAST(_ss AS DOUBLE) - CAST(_s AS DOUBLE) * _s / _np)
                         / (_np - 1) > 0
                THEN round((_xi - CAST(_s AS DOUBLE) / _np)
                           / sqrt((CAST(_ss AS DOUBLE) - CAST(_s AS DOUBLE) * _s / _np)
                                  / (_np - 1)), 6)
                END AS zscore,
           CAST(CASE WHEN _np >= 3
                          AND (CAST(_ss AS DOUBLE) - CAST(_s AS DOUBLE) * _s / _np)
                              / (_np - 1) > 0
                     THEN CASE WHEN abs((_xi - CAST(_s AS DOUBLE) / _np)
                                        / sqrt((CAST(_ss AS DOUBLE) - CAST(_s AS DOUBLE) * _s / _np)
                                               / (_np - 1))) > 2
                               THEN 1 ELSE 0 END
                     ELSE 0 END AS BIGINT) AS anomaly
    FROM anomwin
    """,
    tags=("model", "N1", "N2", "W3"),
)
def n03_model_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-vs-observation backtest (plot_model_on_reality.py:420-600 /
    solve_for_slope :48-113): fit the slope(t) trend per (target, fluxbin)
    with the closed-form quadratic, evaluate the model at every observed
    epoch, report predicted vs observed and the residual.

    NEW (r8): rolling z-score ANOMALY DETECTION columns
    (`zscore`/`anomaly`) — each epoch's observed slope scored against
    the expanding strictly-prior history of its (target, aperture,
    fluxbin) series, flagged at |z| > 2 with >= 3 priors: the
    degradation-break monitoring judgment the reference's authors make
    by eye on the cte_vs_time plots, as a gated operator (exact
    integer micro-unit running sums -> identical doubles on both
    engines; python rederivation in tests/test_trends.py)."""
    from ..functions.model import quadfit_agg
    from .pipeline import compute_results_long
    from .trends import cte_slope_vs_time, epoch_dimension

    fi = _materialize_fi(analog_fileinfo(spark, sf_dir, week_subset=True))
    ph = analog_phot(spark, sf_dir, week_subset=True)
    slopes = compute_results_long(fi, ph, aperture=list(_N03_APERTURES))
    trend = (
        cte_slope_vs_time(fi, slopes, epoch_dimension(fi))
        .select(
            "targname", "epoch", "aperture", "fluxbin",
            ((F.col("epoch") - _X_CENTER) / _X_SCALE).alias("_x"),
            round_stable("mean_slope", 8).alias("mean_slope"),
        )
        # trend feeds BOTH the fit aggregation and the residual join; a
        # declarative self-reference would embed the whole slope pipeline
        # twice in the plan (observed: 2x scans/windows/exchanges at
        # explain time). The trend table is tiny — materialize it once,
        # LAZILY: an eager checkpoint is a serial blocking barrier inside
        # the timed query (interleaved A/B at sf0.1: lazy 3.72s best vs
        # eager 4.44s, lazy faster on 2 of 3 pairs), same verdict as
        # _materialize_fi's.
        .transform(materialize)
    )
    fit = quadfit_agg(trend, x="_x", y="mean_slope",
                      group_cols=["targname", "aperture", "fluxbin"], round_to=8)
    model = F.col("c0") + F.col("c1") * F.col("_x") + F.col("c2") * F.col("_x") * F.col("_x")
    joined = trend.join(fit, ["targname", "aperture", "fluxbin"])
    backtest = joined.select(
        "targname", "epoch", "aperture", "fluxbin",
        F.col("mean_slope").alias("observed_slope"),
        round_stable(model, 8).alias("model_slope"),
        round_stable(F.col("mean_slope") - round_stable(model, 8), 8).alias("residual"),
        F.col("num_points").alias("n_epochs"),
    )
    # ROLLING Z-SCORE ANOMALY DETECTION — the monitoring op this whole
    # pipeline exists for (the reference's authors eyeball
    # cte_vs_time plots for degradation breaks; this is that judgment
    # as an operator): per (target, aperture, fluxbin) series ordered
    # by epoch, each epoch's observed slope is scored against the
    # EXPANDING history of strictly-prior epochs (rows-frame window,
    # never the current row — no self-leakage), flagged when |z| > 2
    # with at least 3 priors. Cross-engine determinism: slopes are
    # already 8dp-rounded, so micro-unit ints CAST(round(x·1e8)) are
    # exact; the running sum/sumsq windows aggregate INTEGERS (exact,
    # order-free); mean/var/z are then doubles derived from identical
    # exact ints on both engines. One extra window over the (tiny)
    # trend-grain relation — at any corpus size this is the same
    # per-series shuffle the backtest join already pays.
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("targname", "aperture", "fluxbin")
        .orderBy("epoch")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    withxi = backtest.withColumn(
        "_xi", F.expr("CAST(round(observed_slope * 100000000) AS BIGINT)")
    )
    stats = (
        withxi.withColumn("_np", F.count(F.lit(1)).over(w).cast("bigint"))
        .withColumn("_s", F.sum("_xi").over(w).cast("bigint"))
        .withColumn("_ss", F.sum(F.col("_xi") * F.col("_xi")).over(w).cast("bigint"))
    )
    var = (F.col("_ss").cast("double") - F.col("_s").cast("double") * F.col("_s") / F.col("_np")) / (
        F.col("_np") - 1
    )
    z = (F.col("_xi") - F.col("_s").cast("double") / F.col("_np")) / F.sqrt(var)
    ok = (F.col("_np") >= 3) & (var > 0)
    return stats.select(
        "targname", "epoch", "aperture", "fluxbin",
        "observed_slope", "model_slope", "residual", "n_epochs",
        F.when(ok, F.round(z, 6)).alias("zscore"),
        F.when(ok, F.when(F.abs(z) > 2, 1).otherwise(0))
        .otherwise(0)
        .cast("bigint")
        .alias("anomaly"),
    )
