"""Incremental Results maintenance: new exposures stream in, only the
affected image pairs are recomputed.

The reference's "update" mode re-runs the whole extraction + slope
pipeline over every file and re-probes the DB row by row
(run_image_extraction.py:963-979 glob walk; database_update.py's
key-probe + INSERT loop — the documented "could take dayyys" path).
The Spark-native answer: exposures arrive on a stream; each micro-batch

1. derives the TOUCHED PAIRS — every pair with a side among the new
   exposures (a pair's slopes depend only on its own two images'
   photometry) — keys them with ``pair_id`` and materializes them once
   (``plans/pipeline.key_pairs``): the relation feeds the pair map, the
   fit re-attach, the zero-fill frame and the merge's anti-join, so
   without the truncation its corpus dedup + self-join subtree would be
   re-planned per use;
2. recomputes ``compute_results`` for exactly those pairs (``pairs=``):
   the phot fan-in joins the touched pairs' images through the pair
   map, so the work per batch is O(new pairs), not O(corpus);
3. MERGEs: the store minus the touched ``(pair, aperture)`` keys (a
   broadcast ``left_anti`` join — the store streams past a
   pair-dimension-sized build side, no exchange of the store) ∪ the
   fresh rows. The zero-fill gives every touched pair exactly one fresh
   row per aperture, so this equals latest-wins insert-or-update on the
   natural key without a store-wide ``row_number`` shuffle
   (``operators/upsert`` keeps that general form for s07).

The merged plan lazily reads the store it replaces, so the stream step
still materializes it eagerly before the overwrite (the
read-then-overwrite barrier). This is exactly-once per batch under
checkpointing (foreachBatch with a deterministic MERGE is idempotent:
re-processing a batch rewrites the same rows with the same values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpointing import materialize
from ..plans.pipeline import compute_results, key_pairs

PAIR_KEY_COLS = ["targname", "imagename_1", "imagename_2"]


def read_store_or_none(spark: SparkSession, path: str, columns=None):
    """Bootstrap-read a parquet state store: ``None`` when the path does
    not exist yet (first batch bootstraps an empty store), anything
    else — schema drift, corrupt footer, permission failure — RE-RAISED
    (r8 ADVICE: a bare ``except AnalysisException`` silently
    re-bootstrapped on ANY analysis failure, discarding every prior
    decision in the store; matching the error condition makes a
    corrupted store fail loudly instead)."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise
    return df.select(*columns) if columns else df


def _ingest_and_corpus(
    spark: SparkSession,
    batch_df: DataFrame,
    all_fileinfo: DataFrame,
    ingested_path: str,
) -> DataFrame:
    """Append this batch to the persisted ingested-exposures sidecar and
    return the full corpus: static snapshot ∪ every exposure streamed so
    far (including this batch).

    Unioning only the CURRENT batch into the snapshot would lose earlier
    batches' exposures whenever the snapshot doesn't already contain them
    — batch 2's recompute of a target would drop batch 1's rows, then
    overwrite that target's partition with the under-informed result. The
    sidecar makes the corpus monotone across batches. A replayed batch
    appends duplicate rows; the imagename dedup absorbs them, so the step
    stays idempotent."""
    batch_df.write.mode("append").parquet(ingested_path)
    ingested = spark.read.parquet(ingested_path)
    return all_fileinfo.unionByName(ingested).dropDuplicates(["imagename"])


def affected_pairs(new_fileinfo: DataFrame, all_fileinfo: DataFrame) -> DataFrame:
    """Pair keys whose inputs changed: every pair with at least one side
    among the new exposures. Computed by running the pair contract over
    the FULL fileinfo but semi-joined to the new images — at scale the
    mode-key self-join is pruned by the (tiny) new-image set broadcast.
    A semi-join emits each pair at most once, so over a corpus with
    unique imagenames the keys come out unique without a distinct."""
    from ..plans.pipeline import query_for_pair

    pairs = query_for_pair(all_fileinfo)
    new_names = new_fileinfo.select(F.col("imagename").alias("_new"))
    return pairs.join(
        F.broadcast(new_names),
        (pairs.imagename_1 == F.col("_new")) | (pairs.imagename_2 == F.col("_new")),
        "leftsemi",
    ).select(*PAIR_KEY_COLS)


def incremental_results_batch(
    results_store: DataFrame | None,
    new_fileinfo: DataFrame,
    all_fileinfo: DataFrame,
    phot_long: DataFrame,
    aperture: int = 3,
) -> DataFrame:
    """One maintenance step: recompute the wide Results rows for the
    touched pairs only and MERGE them into the store. ``results_store``
    None (bootstrap: no store yet) skips the merge and returns the fresh
    rows — the touched-pair restriction is identical either way, so a
    pair whose two sides arrived in different batches is still formed
    (restricting to the BATCH's own images here would silently drop the
    partner side).

    The touched pairs are keyed and materialized ONCE
    (:func:`key_pairs`, which also runs the ``pair_id`` injectivity
    guard when the session enables it) and drive both the recompute and
    the merge. The merge drops the store's rows on the touched
    ``(targname, imagename_1, imagename_2, aperture)`` keys with a
    broadcast ``left_anti`` join and appends the fresh rows: the
    zero-fill gives each touched pair exactly one fresh row per
    aperture, so keying the anti-join on the touched pairs is exactly
    the key set of the fresh rows, with no second materialization."""
    touched = key_pairs(affected_pairs(new_fileinfo, all_fileinfo))
    fresh = compute_results(all_fileinfo, phot_long, aperture=aperture, pairs=touched)
    if results_store is None:
        return fresh
    keys = touched.select(*PAIR_KEY_COLS).withColumn("aperture", F.lit(float(aperture)))
    kept = results_store.join(
        F.broadcast(keys), [*PAIR_KEY_COLS, "aperture"], "left_anti"
    ).select(*results_store.columns)  # a USING join moves its keys first
    return kept.unionByName(fresh)


def maintain_results_stream(
    spark: SparkSession,
    fileinfo_stream: DataFrame,
    all_fileinfo: DataFrame,
    phot_long: DataFrame,
    store_path: str,
    checkpoint: str,
    aperture: int = 3,
    ingested_path: str | None = None,
):
    """Wire the batch step into Structured Streaming via foreachBatch:
    each micro-batch of newly ingested exposures updates only its
    affected pairs in the parquet Results store.

    ``all_fileinfo`` is a static snapshot; every streamed exposure is
    persisted to the ``ingested_path`` sidecar and the corpus is snapshot
    ∪ all-ingested, so exposures that are genuinely NEW (absent from the
    snapshot) still form pairs — including pairs whose two sides arrived
    in DIFFERENT batches, which a snapshot-plus-current-batch corpus
    would silently miss."""
    if ingested_path is None:
        ingested_path = store_path.rstrip("/") + "_ingested"

    def step(batch_df: DataFrame, batch_id: int) -> None:
        # ONLY path-not-found bootstraps an empty store; any other
        # read failure propagates — falling through here would
        # overwrite the whole store with just this batch's pairs
        store = read_store_or_none(spark, store_path)
        corpus = _ingest_and_corpus(spark, batch_df, all_fileinfo, ingested_path)
        merged = incremental_results_batch(store, batch_df, corpus, phot_long, aperture)
        # materialize BEFORE overwriting: the merged plan lazily reads the
        # store being replaced (read-then-overwrite-same-path corrupts
        # otherwise). A table format with real MERGE (or dynamic partition
        # overwrite on the store's partition key) removes both this copy
        # and the full rewrite at scale.
        merged = merged.transform(materialize, eager=True)
        merged.write.mode("overwrite").parquet(store_path)

    return (
        fileinfo_stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def trend_for_targets(all_fileinfo: DataFrame, phot_long: DataFrame,
                      targets: DataFrame, aperture: int = 3) -> DataFrame:
    """cs03's trend aggregate recomputed for a subset of targets only:
    fileinfo is semi-join-pruned to the target set before the pair
    self-join, so per-batch work is O(touched targets' exposures)."""
    from ..plans.pipeline import compute_results_long
    from ..plans.trends import cte_slope_vs_time, epoch_dimension

    fi = all_fileinfo.join(F.broadcast(targets.select("targname").distinct()),
                           "targname", "leftsemi")
    slopes = compute_results_long(fi, phot_long, aperture)
    return cte_slope_vs_time(fi, slopes, epoch_dimension(fi))


def maintain_trend_stream(
    spark: SparkSession,
    fileinfo_stream: DataFrame,
    all_fileinfo: DataFrame,
    phot_long: DataFrame,
    store_path: str,
    checkpoint: str,
    aperture: int = 3,
    ingested_path: str | None = None,
):
    """Incrementally maintain the cs03 trend view (§3.3) under arriving
    exposures.

    Unlike per-pair Results maintenance, the trend aggregate is NOT
    pair-local: a new exposure adds a date that can merge its target's
    epoch clusters, shifting every epoch (and so every trend row) of
    that target. The correct maintenance grain is therefore the TARGET —
    epochs are a per-target function of its dates and the trend groups
    by (targname, epoch, fluxbin), so targets are independent.

    Each micro-batch recomputes the full trend for just its touched
    targets — over the snapshot ∪ all-ingested corpus, so a target's
    earlier-batch exposures stay in its recompute — and replaces exactly
    those targets' partitions via dynamic partition overwrite (the store
    is partitioned by targname). Untouched targets' files are never
    rewritten; re-processing a batch rewrites the same partitions with
    the same values, so the step is idempotent under checkpointing —
    exactly-once per batch."""

    if ingested_path is None:
        ingested_path = store_path.rstrip("/") + "_ingested"

    def step(batch_df: DataFrame, batch_id: int) -> None:
        corpus = _ingest_and_corpus(spark, batch_df, all_fileinfo, ingested_path)
        fresh = trend_for_targets(
            corpus, phot_long, batch_df.select("targname"), aperture
        )
        # materialized before the write for the same straggler/lineage
        # hygiene as the Results path (the trend table is tiny)
        fresh = fresh.transform(materialize, eager=True)
        (
            fresh.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("targname")
            .parquet(store_path)
        )

    return (
        fileinfo_stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def maintain_cluster_stream(
    spark: SparkSession,
    edges_stream: DataFrame,
    docs_nu: DataFrame,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
):
    """Incrementally maintain the dedup-cluster DECISION store —
    ``(doc_id, label, nu, rep_id, keep)`` — under a stream of verified
    near-dup edges: the streaming twin of the d02 'incr_cc' arm and the
    last member of the repo's incremental family (Results store, trend
    store, d01 fingerprint store, e01 quantizer, dedup clusters).

    Each micro-batch of undirected ``(src, dst)`` pairs:

    1. self-registers endpoints not yet in the store (label = rep = the
       doc itself, ``nu`` looked up in ``docs_nu`` — satisfying the
       enforced ``incremental_components_with_reps`` contract). The
       membership probe uses the store-streams trick: store ⋈
       broadcast(endpoints) → found, then endpoints ∖ found — the
       corpus-sized store is scanned, never exchanged;
    2. merges components through the contracted graph and re-elects
       representatives from the merged old winners
       (``incremental_components_with_reps`` — work ∝ batch);
    3. overwrites the parquet store (materialized eagerly first: the
       merged plan lazily reads the store being replaced —
       read-then-overwrite hygiene, same as the Results path; a table
       format with real MERGE removes the full rewrite at scale).

    Idempotent under replay: re-merging already-merged edges reaches the
    same fixpoint and re-elects the same winners, so re-processing a
    batch rewrites the same rows — exactly-once per batch under
    checkpointing. Batch ORDER is immaterial too: component merging and
    argmax re-election are commutative, so any arrival interleaving of
    the same edge set converges to the same store (tested against a
    full recompute in tests/test_streaming.py)."""
    from ..operators.connected_components import incremental_components_with_reps

    def step(batch_df: DataFrame, batch_id: int) -> None:
        both = (
            batch_df.select("src", "dst")
            .unionByName(
                batch_df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .distinct()
        )
        endpoints = both.select(F.col("src").alias(id_col)).distinct()
        # ONLY path-not-found bootstraps an empty store (same guard as
        # the Results path); schema drift / corruption re-raises
        store = read_store_or_none(
            spark, store_path, columns=(id_col, "label", "nu", "rep_id")
        )
        if store is None:
            new_ids = endpoints
        else:
            found = (
                store.select(id_col)
                .join(F.broadcast(endpoints), id_col)
                .select(id_col)
            )
            new_ids = endpoints.join(found, id_col, "left_anti")
        new_rows = new_ids.join(docs_nu, id_col).select(
            F.col(id_col),
            F.col(id_col).alias("label"),
            F.col("nu"),
            F.col(id_col).alias("rep_id"),
        )
        seeded = new_rows if store is None else store.unionByName(new_rows)
        maintained = incremental_components_with_reps(seeded, both, id_col=id_col)
        maintained.transform(materialize, eager=True).write.mode("overwrite").parquet(
            store_path
        )

    return (
        edges_stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
