"""Domain pipeline: the reference's query layer + Results computation as
DataFrame transformations over the master/fileinfo/phot/results model.

Every function mirrors one query function of
wfc3_cte_monitor/database_queries.py (SURVEY.md §2.2-2.3) with intended
(bug-free) semantics; the flagship ``compute_results`` is the §3.2 DAG
producing the wide Results table directly — no slope-txt intermediate
(the reference round-trips slopes through text files,
uvis_external_cte_plots.py:295-305 → database_update.py:566-635).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import materialize
from ..operators.bins import FLUX_BINS, bin_fanout, binspec_df
from ..operators.pairs import pair_self_join
from ..operators.phot_layout import results_long_to_wide
from ..operators.regression import linregress_agg
from ..operators.sigma_clip import sigma_clip
from ..schemas import PAIR_MODE_KEYS
from ..sources.catalog import literal_table


# --- query layer (database_queries.py parity) ------------------------------

def query_for_all_dateobss(fileinfo: DataFrame, targname: str) -> DataFrame:
    """database_queries.py:87-107."""
    return fileinfo.where(F.col("targname") == targname).select("dateobs")


def query_for_dateobss(fileinfo: DataFrame, targname: str, proposid: str,
                       filt: str, exptime: float) -> DataFrame:
    """database_queries.py:112-139."""
    return fileinfo.where(
        (F.col("targname") == targname)
        & (F.col("proposid") == proposid)
        & (F.col("filter") == filt)
        & (F.col("exptime") == exptime)
    ).select("dateobs")


def query_for_exptimes(fileinfo: DataFrame, targname: str, filt: str,
                       proposid: str | None = None, dateobs: int | None = None) -> DataFrame:
    """database_queries.py:144-184 — optional proposid; optional ±30-day
    dateobs band (:176-180)."""
    out = fileinfo.where((F.col("targname") == targname) & (F.col("filter") == filt))
    if proposid is not None:
        out = out.where(F.col("proposid") == proposid)
    if dateobs is not None:
        out = out.where(F.col("dateobs").between(dateobs - 30, dateobs + 30))
    return out.select("exptime")


def query_for_flux_by_imagename(phot_long: DataFrame, imagename: str, aperture: int) -> DataFrame:
    """database_queries.py:189-249 — dynamic column selection by aperture
    becomes a filter on the long view."""
    return phot_long.where(
        (F.col("imagename") == imagename) & (F.col("radius") == aperture)
    ).select("master_id", "xpix", "ypix", "flux", "mnbkgrd", "totbkgrd")


def query_for_globalbkgrd(fileinfo: DataFrame, imagename: str) -> DataFrame:
    """database_queries.py:496-522."""
    return fileinfo.where(F.col("imagename") == imagename).select("mnclip_bkgrd")


def query_for_flux_range(phot_long: DataFrame, aperture: int, lo: float, hi: float,
                         subtract_background: bool = False) -> DataFrame:
    """database_queries.py:317-422 (intended semantics — the reference's
    per-image loop re-fetches the whole table, :414-417). The
    subtract_background variant is the same scan with an expression, not
    the reference's 2-3x-slower re-query (:353-355)."""
    flux = (F.col("flux") - F.col("totbkgrd")) if subtract_background else F.col("flux")
    return (
        phot_long.where(F.col("radius") == aperture)
        .withColumn("flux_eff", flux)
        .where(F.col("flux_eff").between(lo, hi))
        .select("master_id", "imagename", "ypix", "flux_eff")
    )


def query_for_fluxes_bkgrds_by_ypos(fileinfo: DataFrame, phot_long: DataFrame,
                                    aperture: int, ypos: float = 1750.0) -> DataFrame:
    """database_queries.py:464-489 — FileInfo filter fanned out to Phot
    (J1) with the y-position threshold (Q8)."""
    images = fileinfo.select("imagename", "mnclip_bkgrd")
    return (
        phot_long.where((F.col("radius") == aperture) & (F.col("ypix") >= ypos))
        .join(F.broadcast(images), "imagename")
        .select("imagename", "master_id", "ypix", "flux", "mnbkgrd", "totbkgrd", "mnclip_bkgrd")
    )


def query_for_pair(fileinfo: DataFrame) -> DataFrame:
    """database_queries.py:589-678 — the chip-pair contract as ONE
    self-join on the 8 mode keys instead of two filtered scans per mode.
    ``targname`` joins too: the reference's tables are per-target
    (database_interface.py:326-349), so its 8-key match is implicitly
    per-target; our single-table model makes that explicit."""
    return pair_self_join(
        fileinfo, keys=["targname", *PAIR_MODE_KEYS], side_col="chip", side_1=1, side_2=2,
        payload=["imagename"],
    )


def query_for_matching_imagename(fileinfo: DataFrame, imagename: str) -> DataFrame:
    """database_queries.py:527-584, intended symmetric semantics (the
    reference's chip2→chip1 direction is dead code via a `==`-for-`=` bug
    at :564 and an undefined `results[7]` at :558)."""
    probe = fileinfo.where(F.col("imagename") == imagename).select(
        "targname", *PAIR_MODE_KEYS, F.col("chip").alias("_probe_chip")
    )
    return (
        fileinfo.join(F.broadcast(probe), ["targname", *PAIR_MODE_KEYS])
        .where(F.col("chip") != F.col("_probe_chip"))
        .select("imagename")
    )


def query_for_180pair(fileinfo: DataFrame, filt: str, exptime: float,
                      ctecorr: int, chip: int) -> DataFrame:
    """database_queries.py:683-740 — 180°-rotated visit pairing: filter,
    sort imagenames, split by visit substring ('10' vs '11'), zip
    positionally (README.md:599-609)."""
    from ..operators.pairs import rank_pairing

    filtered = fileinfo.where(
        (F.col("filter") == filt)
        & (F.col("exptime") == exptime)
        & (F.col("ctecorr") == ctecorr)
        & (F.col("chip") == chip)
    )
    return rank_pairing(
        filtered,
        group_cols=["targname"],
        side_col=F.substring("imagename", 5, 2) == "10",
        order_col="imagename",
        payload=["imagename"],
    ).select("targname", "pair_rank", "imagename_1", "imagename_2")


# --- flagship: Results computation (§3.2) ----------------------------------

def _parse_size_bytes(s: str) -> int:
    """Parse a Spark size conf value ('10MB', '10485760b', '-1')."""
    s = s.strip().lower()
    for suffix, mult in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                         ("tb", 1 << 40), ("k", 1 << 10), ("m", 1 << 20),
                         ("g", 1 << 30), ("b", 1)):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate, or None when unknown.

    Stats propagate from file-source relations; a plan rooted at a
    checkpointed/LogicalRDD node (or any estimate >= 2^60, the
    defaultSizeInBytes sentinel region) reports 'unknown'."""
    try:
        size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:  # py4j surface differences — treat as unknown
        return None
    return None if size >= (1 << 60) else size


def attach_size_estimate(df: DataFrame, source: DataFrame) -> DataFrame:
    """Carry ``source``'s Catalyst size estimate onto ``df`` (a
    checkpointed/re-rooted derivation of it) as a Python-side attribute.

    Measured on this Spark (4.1): ``localCheckpoint``'s LogicalRDD
    PRESERVES originStats, so the checkpointed fileinfo is not actually
    blind and the auto branch would see the right size anyway
    (test_plan_shape pins that). The explicit threading stays as
    insurance for plan roots that genuinely lack stats — a re-rooted RDD
    from another construction, or an engine that drops originStats —
    because a silently-degenerated size branch (auto ≡ always) is the
    kind of at-scale-only failure no small-SF gate would catch."""
    est = _plan_size_bytes(source)
    if est is not None:
        df._wfc3_size_est = est
    return df


def _pairs_broadcastable(fileinfo: DataFrame) -> bool:
    """The size-based branch behind every pair-dimension broadcast hint
    (pair map, fit-row re-attach, zero-fill frame): at true scale the
    exposure dimension can outgrow broadcast, and the fallback must be a
    plan decision, not a code edit.

    ``spark.wfc3.pipeline.pairBroadcast``: ``always`` / ``never`` pin
    the choice (tests pin both shapes); ``auto`` (default) compares the
    FILEINFO relation's Catalyst size estimate against
    ``spark.sql.autoBroadcastJoinThreshold`` ×4. The estimate is taken
    on the exposure dimension, NOT the pair self-join's output: without
    column stats Catalyst sizes a join as roughly the product of its
    children (measured: 2.5 TB estimated for a 150-row pair relation at
    sf0.1), which would demote every broadcast unconditionally. The
    pair relation is bounded by the chip-1 half of fileinfo with ~3
    short key columns, so fileinfo's own linear-operator estimate (scan
    stats survive project/aggregate/generate un-multiplied) is the
    honest proxy. The ×4 multiplier is CALIBRATED, not headroom: the
    sf1 probe measured the broadcast-vs-shuffle break-even at est ≈
    40 MB (SCALING.md round-5 addendum — cs05 broadcast 20.4 s vs
    shuffled 18.0 s at est ≈ 42 MB, a wash tipping shuffled), which is
    ~4× the default 10 MB threshold; the earlier ×16 flipped ~4× past
    that point. A checkpointed fileinfo additionally carries its
    pre-checkpoint estimate via :func:`attach_size_estimate` (insurance:
    this Spark's LogicalRDD preserves originStats, but a stats-free root
    would otherwise silently degrade auto to always-broadcast).
    Unknown stats fall back to broadcast — the
    domain reality is exposures ≪ measurements; a deployment where that
    breaks sets the conf to ``never`` and every pair join becomes a
    shuffled equi-join on its key (bucket both storage sides by
    imagename to make those co-located scans)."""
    spark = fileinfo.sparkSession
    mode = spark.conf.get("spark.wfc3.pipeline.pairBroadcast", "auto")
    if mode == "always":
        return True
    if mode == "never":
        return False
    est = getattr(fileinfo, "_wfc3_size_est", None)
    if est is None:
        est = _plan_size_bytes(fileinfo)
    if est is None:
        return True
    try:
        thresh = _parse_size_bytes(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        )
    except ValueError:
        thresh = 10 << 20
    if thresh <= 0:  # auto-broadcast disabled → honor it here too
        return False
    return est <= 4 * thresh

def key_pairs(pairs: DataFrame) -> DataFrame:
    """A pair relation with its compact surrogate key, materialized
    once (lazily): every shuffle, sort and hash between the alignment and
    the regression output keys on one bigint ``pair_id`` instead of three
    ~20-char strings (measured: the align shuffle is the DAG's dominant
    stage and its cost is mostly key width). The 64-bit hash space vs a
    broadcast-bounded pair count (≤ millions) makes a collision
    vanishingly unlikely AND deterministic — attributes re-attach from
    this same relation by id after the data-sized stages. The checkpoint
    is the module's diamond-reuse hygiene: the relation feeds the pair
    map, the re-attach join and (in compute_results) the zero-fill frame,
    and without it the subtree that derived ``pairs`` (the fileinfo
    self-join; in incremental maintenance also the corpus dedup and the
    touched-pair semi-join) is embedded per use.

    Surrogate-key caveats (both benign here, guarded for real corpora):
    a 64-bit hash collision silently merges two pairs' measurements, and
    Spark's ``xxhash64`` SKIPS null inputs, so two keys differing only in
    which column is NULL alias to the same hash. The pair keys come out
    of an equi-join (no NULLs survive it) and the collision probability
    at a broadcast-bounded pair count is ~n²/2⁶⁵;
    ``spark.wfc3.pipeline.assertPairIdUnique=true`` pays one
    count-distinct job that PROVES injectivity on the actual corpus
    instead of assuming it. The driver's correctness path turns it ON
    (``session.prepare`` sets the conf), so every gated run asserts
    injectivity on its real pair population; the bench session leaves
    it off — the guard is a correctness instrument, not query work."""
    keyed = (
        pairs.select("targname", "imagename_1", "imagename_2")
        .withColumn("pair_id", F.xxhash64("targname", "imagename_1", "imagename_2"))
        .transform(materialize)
    )
    spark = pairs.sparkSession
    if spark.conf.get("spark.wfc3.pipeline.assertPairIdUnique", "false") == "true":
        assert_pair_id_unique(keyed)
    return keyed


def assert_pair_id_unique(keyed: DataFrame) -> None:
    """One count-distinct job proving the pair_id surrogate is injective
    on this corpus; raises if two pairs collided (see ``key_pairs``'s
    caveats: 64-bit hash collision, or xxhash64's NULL-skip aliasing)."""
    row = keyed.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("pair_id").alias("n_ids"),
    ).collect()[0]
    if row["n_pairs"] != row["n_ids"]:
        raise ValueError(
            f"pair_id surrogate collided: {row['n_pairs']} pairs -> "
            f"{row['n_ids']} distinct ids; widen the key or disable the rekey"
        )


def compute_results_long(fileinfo: DataFrame, phot_long: DataFrame,
                         aperture: int | Sequence[int] = 3,
                         sigma: float = 4.0, iterations: int = 3,
                         pairs: DataFrame | None = None) -> DataFrame:
    """fileinfo + phot (long view) → valid-fit slope rows in LONG form:
    (targname, imagename_1, imagename_2, fluxbin, slope, slopestdev,
    num_points), one row per pair × populated flux bin.

    This is the pre-pivot exit of the §3.2 DAG — the shape the trend
    layer consumes. Going through the wide Results table and stacking
    back would add a 27-column pivot aggregation plus an 8× stack
    fan-out per trend query for no information gain; rows whose fit is
    invalid (NULL slope: n <= 2 or zero x-variance) are dropped here,
    exactly the rows the wide layout zero-fills and every downstream
    consumer filters back out.

    ``aperture`` may be a list: the reference runs its whole output loop
    once per aperture (run_outputs.py:225-295); here extra apertures are
    one more value of a grouping column, not another pass over the data —
    the phot table is scanned and shuffled ONCE for all apertures, and
    every downstream stage (bin fan-out, σ-clip, regression) groups by
    (pair, aperture, fluxbin). With a list, the output carries an
    ``aperture`` column; the scalar form keeps the historical schema.

    ``pairs`` lets a caller that also needs the pair relation (e.g. the
    wide zero-fill in :func:`compute_results`) pass the shared
    :func:`key_pairs` materialization instead of deriving it twice.
    """
    spark = fileinfo.sparkSession
    apertures = [aperture] if isinstance(aperture, int) else sorted(aperture)
    multi = len(apertures) > 1
    ap_cols = ["aperture"] if multi else []
    if pairs is None:
        pairs = key_pairs(query_for_pair(fileinfo))
    # size-based branch (see _pairs_broadcastable): estimated on the
    # exposure dimension. hint = identity drops every pair-dimension
    # broadcast at once and the joins become shuffled equi-joins.
    bcast = _pairs_broadcastable(fileinfo)
    hint = F.broadcast if bcast else (lambda d: d)

    p = phot_long.where(F.col("radius").isin(apertures)).select(
        "imagename", "master_id", "ypix",
        (F.col("flux") - F.col("totbkgrd")).alias("net_flux"),
        *([F.col("radius").alias("aperture")] if multi else []),
    )
    # One shuffle of the measurement table, not three. Joining phot once
    # per pair side shuffles the dominant relation on imagename_1, then
    # again on (imagename_2, master_id); instead, fan the PAIR map out to
    # (imagename, side) rows — two per pair, exposure-dimension-sized, so
    # it broadcasts — tag each measurement with its pair_id in a map-side
    # join, and align the two chips with a single groupBy on
    # (pair_id, master_id). Rows missing either side (master only found on
    # one chip) drop exactly as the former inner joins dropped them.
    pair_map = pairs.select(
        "pair_id",
        F.explode(
            F.array(
                F.struct(F.col("imagename_1").alias("imagename"), F.lit(1).alias("side")),
                F.struct(F.col("imagename_2").alias("imagename"), F.lit(2).alias("side")),
            )
        ).alias("_s"),
    ).select(
        "pair_id", F.col("_s.imagename").alias("imagename"), F.col("_s.side").alias("side"),
    )
    # broadcast holds while exposures ≪ measurements (the domain
    # reality); past broadcast size the hint is dropped automatically
    # (the `hint` branch above) and this becomes a shuffled equi-join on
    # imagename — bucket both storage sides by imagename to co-locate it
    tagged = p.join(hint(pair_map), "imagename")
    # ONE shuffle for the whole align→fan-out→clip→regression chain: hash
    # partitioning on pair_id alone satisfies the clustered-distribution
    # requirement of every downstream stage (align groups on
    # (pair_id[, aperture], master_id), the clip windows and the fit on
    # (pair_id[, aperture], fluxbin) — pair_id is a subset of each), so
    # EnsureRequirements inserts no further exchange. Partial aggregation
    # is no loss here: align groups are a handful of rows and collect_list
    # buffers don't shrink bytes map-side. Skew-safe — a partition holds
    # many whole pairs, and a single pair's measurement count is bounded
    # by stars-per-image, not corpus size.
    tagged = tagged.repartition("pair_id")
    # Collect each side's measurements per (pair, master) and expand their
    # cross product — exactly the two-sided join's semantics, including on
    # keys with duplicate measurements (the synthetic lineitem reuses
    # (orderkey, linenumber), so the oracle's p1×p2 join multiplies them;
    # a max()/any_value() reduction here would silently collapse those).
    # collect_list skips the other side's NULLs; explode drops groups
    # missing either side, as the inner joins did. Group sizes are a few
    # measurements, so the collected arrays stay tiny at any corpus size.
    grouped = tagged.groupBy("pair_id", *ap_cols, "master_id").agg(
        F.collect_list(
            F.when(
                F.col("side") == 1,
                F.struct(F.col("ypix").alias("ypos"), F.col("net_flux").alias("flux_1")),
            )
        ).alias("_s1"),
        F.collect_list(F.when(F.col("side") == 2, F.col("net_flux"))).alias("_s2"),
    )
    both = (
        grouped.select(
            "pair_id", *ap_cols, "master_id",
            F.explode("_s1").alias("_a"), "_s2",
        )
        .select(
            "pair_id", *ap_cols, "master_id",
            F.col("_a.ypos").alias("ypos"), F.col("_a.flux_1").alias("flux_1"),
            F.explode("_s2").alias("flux_2"),
        )
        .withColumn("flux_ratio", F.col("flux_1") / F.col("flux_2"))
    )

    fan = bin_fanout(both, binspec_df(spark, FLUX_BINS), ["flux_1", "flux_2"])
    group = ["pair_id", *ap_cols, "fluxbin"]
    clipped = sigma_clip(fan, "flux_ratio", group, sigma=sigma, iterations=iterations)
    reg = linregress_agg(clipped, x="ypos", y="flux_ratio", group_cols=group)
    # Re-attach the pair identity to the fit rows (pair-dimension-sized by
    # now) and restore the historical column order.
    return (
        reg.where(F.col("slope").isNotNull())
        .join(hint(pairs), "pair_id")
        .select(
            "targname", "imagename_1", "imagename_2", *ap_cols, "fluxbin",
            "slope", "intercept", "stderr", "slopestdev", "num_points",
        )
    )


def compute_results(fileinfo: DataFrame, phot_long: DataFrame,
                    aperture: int | Sequence[int] = 3,
                    sigma: float = 4.0, iterations: int = 3,
                    pairs: DataFrame | None = None) -> DataFrame:
    """fileinfo + phot (long view) → wide Results rows, one per
    (imagename_1, imagename_2, aperture).

    The reference's per-pair loop of SQLite queries + scipy
    (uvis_external_cte_plots.py:1119-1292) collapses into one DAG:
    pair self-join (J2) → phot fan-in per side (J1) → master-id align
    (J5) → background subtraction (F11) → overlapping-bin fan-out (A6,
    both chips in bin) → σ-clip (A4) → regression (A5) → pivot to wide
    (Results layout) with empty bins as zeros (:198-201).

    A list ``aperture`` yields the reference's per-aperture Results sweep
    (run_outputs.py:225-295; Results rows are keyed (imagename_1,
    imagename_2, aperture), table_definitions/results.txt:1-29) in ONE
    pass — aperture rides as a grouping column end-to-end instead of
    re-running the DAG per radius.

    ``pairs`` (a :func:`key_pairs` relation) restricts the output to
    those pairs: incremental maintenance passes its touched pairs, and
    the phot fan-in then reads only their images through the pair map.
    ``fileinfo`` still sizes the pair-dimension broadcast branch.
    """
    spark = fileinfo.sparkSession
    apertures = [aperture] if isinstance(aperture, int) else sorted(aperture)
    multi = len(apertures) > 1
    ap_cols = ["aperture"] if multi else []
    # ONE pair relation for the whole query: the long pipeline's pair map
    # + re-attach AND the zero-fill frame below all read the same
    # materialization instead of re-deriving the fileinfo self-join per use
    if pairs is None:
        pairs = key_pairs(query_for_pair(fileinfo))
    reg = compute_results_long(fileinfo, phot_long, aperture, sigma, iterations,
                               pairs=pairs)
    group = ["targname", "imagename_1", "imagename_2", *ap_cols, "fluxbin"]

    # zero-fill spec: bins (× apertures) — both literal constants, so the
    # product is built driver-side (a runtime crossJoin of two literal
    # relations would plan a needless extra BroadcastNestedLoopJoin)
    if multi:
        # int() matches binspec_df/binspec_sql's label convention exactly
        # — a float edge would otherwise yield '250.0_500.0' here vs
        # '250_500' in reg and the left join would zero-fill everything
        zero_fill = literal_table(
            spark,
            [(f"{int(lo)}_{int(hi)}", a) for lo, hi in FLUX_BINS for a in apertures],
            "fluxbin string, aperture int",
        )
    else:
        zero_fill = binspec_df(spark, FLUX_BINS).select("fluxbin")
    all_bins = pairs.select("targname", "imagename_1", "imagename_2").crossJoin(
        F.broadcast(zero_fill)
    )
    # reg is fit-dimension-sized — the pair relation (already treated as
    # broadcast-bounded by the pair map above) times a CONSTANT ≤
    # bins×apertures multiplier — so the hint is the same exposure-
    # dimension bet the rest of the pipeline makes, with a bigger
    # constant; unknown post-aggregation stats would otherwise pick a
    # sort-merge join of two tiny relations. Past broadcast size the
    # same _pairs_broadcastable branch drops this hint together with the
    # pair-map hint (one decision governs every pair-dimension hint).
    bcast = _pairs_broadcastable(fileinfo)
    hint = F.broadcast if bcast else (lambda d: d)
    long = all_bins.join(hint(reg), group, "left").select(
        "targname", "imagename_1", "imagename_2", *ap_cols,
        "fluxbin",
        F.coalesce("slope", F.lit(0.0)).alias("slope"),
        F.coalesce("slopestdev", F.lit(0.0)).alias("slopestdev"),
        # reg carries only valid fits (NULL-slope rows are filtered in
        # compute_results_long), so an unmatched bin is the only NULL
        # source — the reference's empty-bin (0, 0, 0) convention (:198-201)
        F.coalesce("num_points", F.lit(0)).cast("int").alias("num_points"),
    )
    wide = results_long_to_wide(
        long, id_cols=["targname", "imagename_1", "imagename_2", *ap_cols]
    )
    if multi:
        # aperture last, mirroring the oracle's SELECT order (the driver's
        # hash sorts columns by name, but positional consumers shouldn't
        # see the id column wedged between pair identity and measures)
        others = [c for c in wide.columns if c != "aperture"]
        return wide.select(*others, F.col("aperture").cast("double").alias("aperture"))
    return wide.withColumn("aperture", F.lit(float(apertures[0])))
