"""Connected components over an edge list, to CONVERGENCE.

Dedup cluster assignment is a connected-components problem: near-dup
pairs form edges, and a chain a–b–c must collapse into ONE cluster even
though a and c were never directly compared. A fixed-round label
propagation (what d02 ran through round 6) only guarantees collapse for
paths up to its round count; this operator iterates HashMin label
propagation WITH pointer jumping until a fixpoint, so the result is the
true component minimum regardless of chain length.

Per round (all equi-joins / key-partitioned aggs, no all-pairs stage):
  1. HashMin: label(v) ← min(label(v), min over neighbors' labels) —
     one join of the (pre-partitioned, lineage-truncated) edge list with
     the label relation plus a map-side-combined min agg.
  2. Pointer jumping: label(v) ← label(label(v)) — one self-join of the
     label relation. This is the step that turns O(diameter) HashMin
     rounds into O(log n): labels hop along shortcut pointers, so a
     10⁶-doc duplication chain converges in ~20 rounds, not 10⁶.
  3. Convergence check: labels are vertex ids and only ever DECREASE,
     so Σ label (exact, decimal(38,0)) is strictly monotone until the
     fixpoint — one tiny scalar agg per round, no change-join.

Iterative-algorithm hygiene (same lesson as d02's edge materialization):
every round's label relation is materialized with truncated lineage,
otherwise round k's plan re-embeds rounds 1..k-1.

At 100 TB: rounds are O(log max-component); each round is one shuffle of
the label relation (vertex-sized, 2 longs) against the stationary edge
partitioning — vectors/text never ride any of it. The alternating
large-star/small-star formulation (Kiveris et al., "Connected
Components in MapReduce and Beyond") is the same complexity with a
2-step alternation; HashMin+jumping is chosen for its simpler invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import materialize


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """(vertex id) + bidirectional (src, dst) edges → (id_col, label)
    where label = min vertex id of the connected component.

    ``edges`` must contain both directions of every undirected edge (the
    caller usually unions (a,b) with (b,a)); ``vertices`` one row per id.
    Raises if ``max_iter`` rounds don't reach the fixpoint — with pointer
    jumping that needs a component of > ~2^max_iter chained vertices,
    i.e. it flags a bug, not a big input.

    The iteration runs over EDGE-INCIDENT vertices only: a vertex with
    no edge can never change its self-label, so looping it through every
    round is pure cost — at a 100 TB corpus the label relation would be
    corpus-sized per round instead of near-dup-doc-sized (typically a
    few percent). Untouched vertices re-join as self-labels once, after
    the fixpoint. Incident ids are INTERSECTED with ``vertices`` first,
    so an edge endpoint absent from ``vertices`` is ignored (it neither
    propagates a foreign label nor appears in the output) — the same
    semantics as the pre-incident-optimization seeding, enforced rather
    than assumed. One one-time semi-join; the per-round cost is
    unchanged.
    """
    # edges are bidirectional, so the src column alone carries every
    # incident vertex
    incident = (
        edges.select(F.col("src").alias(id_col))
        .distinct()
        .join(vertices.select(id_col), id_col, "left_semi")
    )
    labels = incident.select(F.col(id_col), F.col(id_col).alias("label"))
    prev_sum = None
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col(id_col).alias("dst"), F.col("label").alias("nl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nbr_min"))
        )
        hashmin = labels.join(
            nbr_min, labels[id_col] == nbr_min["src"], "left"
        ).select(
            F.col(id_col),
            F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias("label"),
        )
        jump = hashmin.select(
            F.col(id_col).alias("pj_id"), F.col("label").alias("pj_label")
        )
        # per-round truncation is the ALGORITHM here, not optional
        # hygiene: without it each convergence probe re-executes all
        # prior rounds' lineage (the plan doubles per round).
        labels = materialize(
            hashmin.join(jump, hashmin["label"] == jump["pj_id"], "left").select(
                F.col(id_col),
                F.coalesce("pj_label", "label").alias("label"),
            )
        )
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        if cur_sum == prev_sum:
            # untouched vertices (no incident edge) keep their self-label
            return vertices.select(id_col).join(
                labels.withColumnRenamed("label", "_cc_l"), id_col, "left"
            ).select(
                F.col(id_col), F.coalesce("_cc_l", F.col(id_col)).alias("label")
            )
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(component deeper than 2^max_iter — almost certainly a bug)"
    )


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Maintain a connected-components labeling under NEW edges without
    re-running CC on the corpus — the graph-state member of the repo's
    incremental family (Results/trend stores, the d01 fingerprint store,
    the e01 frozen quantizer).

    ``labels`` is the persisted store ((id, label) with label = the
    component MIN — exactly :func:`connected_components` output; a delta
    batch's NEW vertices enter as self-labeled rows first — enforced:
    an edge endpoint with no store row raises).
    ``new_edges`` is the bidirectional delta edge list over ids.

    Key identity: because every stored label IS its component's minimum
    vertex id, merging components is CC over the CONTRACTED graph —
    vertices = the labels of touched components, edges = the new edges
    mapped through the store. That graph is DELTA-sized (touched
    components × new edges), so the maintenance cost is independent of
    corpus size: two store lookups (equi-joins on id), a tiny CC, and
    one label-remap join. Correctness: the merged component's new label
    = min over the merged old labels = the global component min, the
    same fixpoint a full recompute reaches (tested against one in
    tests/test_connected_components.py).
    """
    remap = _component_remap(labels, new_edges, id_col=id_col, max_iter=max_iter)
    return labels.join(
        F.broadcast(remap), labels["label"] == remap["_old_label"], "left"
    ).select(
        F.col(id_col),
        F.coalesce("_new_label", "label").alias("label"),
    )


def _component_remap(
    labels: DataFrame,
    new_edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """(_old_label → _new_label) for the components TOUCHED by
    ``new_edges`` — the delta-sized merge kernel shared by
    :func:`incremental_components` (label maintenance) and
    :func:`incremental_components_with_reps` (label + representative
    maintenance). Enforces the self-label contract (an edge endpoint
    with no store row raises)."""
    # EVERY store-touching join below broadcasts the DELTA side so the
    # corpus-sized label store STREAMS (scans) and never shuffles — the
    # whole point of the operator is maintenance cost ∝ delta, and an
    # un-hinted plan was observed to SortMergeJoin, exchanging the store
    # three times (store lookups ×2 + the final remap).
    lmap = labels.select(F.col(id_col).alias("_v"), F.col("label").alias("_l"))
    endpoints = (
        new_edges.select(F.col("src").alias("_v"))
        .union(new_edges.select(F.col("dst").alias("_v")))
        .distinct()
    )
    # Enforce (not just document) the self-label contract: an edge
    # endpoint absent from the store would be silently dropped by the
    # inner joins below, yielding a wrong labeling. LeftAnti cannot
    # broadcast its left side, so probe as (store ⋈ broadcast(delta)) →
    # found, then delta ∖ found — every shuffled relation delta-sized.
    found = lmap.join(F.broadcast(endpoints), "_v").select("_v")
    orphans = [
        r["_v"]
        for r in endpoints.join(found, "_v", "left_anti").limit(5).collect()
    ]
    if orphans:
        raise ValueError(
            "new_edges endpoints missing from the label store (self-label "
            f"new vertices before applying their edges): e.g. {orphans}"
        )
    src_labeled = lmap.withColumnRenamed("_v", "src").withColumnRenamed("_l", "lsrc").join(
        F.broadcast(new_edges), "src"
    )
    contracted = (
        lmap.withColumnRenamed("_v", "dst").withColumnRenamed("_l", "ldst")
        .join(F.broadcast(src_labeled), "dst")
        .select(F.col("lsrc").alias("src"), F.col("ldst").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # Materialize the DELTA-sized contracted relation before the inner CC
    # loop: contracted's lineage embeds two streaming scans of the
    # corpus-sized label store, and connected_components re-executes its
    # edge input every convergence round (plus the round-1 incident
    # distinct) — unmaterialized, maintenance cost becomes
    # O(rounds × store-scan), breaking the "two store lookups, cost ∝
    # delta" contract. Repartition by dst first so every round's
    # edges⋈labels join reuses the cached partitioning (same hygiene as
    # d02's edge list).
    contracted = contracted.repartition("dst").transform(materialize)
    touched = (
        contracted.select(F.col("src").alias(id_col))
        .union(contracted.select(F.col("dst").alias(id_col)))
        .distinct()
    )
    # contracted is bidirectional iff new_edges was (the join preserves
    # both directions); connected_components requires it, same contract
    merged = connected_components(touched, contracted, id_col=id_col, max_iter=max_iter)
    return merged.select(
        F.col(id_col).alias("_old_label"), F.col("label").alias("_new_label")
    )


def incremental_components_with_reps(
    store: DataFrame,
    new_edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Maintain the full dedup DECISION store — ``(id, label, nu,
    rep_id, keep)`` — under new edges, not just the labels.

    The store a real pipeline persists is the decision (which doc
    represents each cluster, which docs to keep), so a delta merge must
    also re-elect representatives: merging components can change which
    doc is richest across the merged membership. ``store`` carries one
    row per doc with ``nu`` (the richness measure, e.g. distinct-token
    count) and ``rep_id`` (the component's current winner, argmax of
    ``(nu, -id)`` — :mod:`plans.dedup_queries`'s d02 semantics).

    Key identity, same spirit as the label maintenance: each old
    component's winner already dominates every member, so the merged
    component's new winner = argmax over the merged OLD winners'
    ``(nu, -id)`` — never a rescan of member docs. All maintenance
    relations (remap, old winners of touched components, new reps) are
    delta-sized; the store streams through broadcast joins and is never
    exchanged. Equivalence to a full recompute's representative election
    is tested in tests/test_connected_components.py and gated in the d02
    'incr_cc' arm.
    """
    labels = store.select(id_col, "label")
    remap = materialize(
        _component_remap(labels, new_edges, id_col=id_col, max_iter=max_iter)
    )
    # one winner row per old component: the store row where the doc IS
    # its component's rep (exactly one per component by construction)
    old_winners = store.where(F.col(id_col) == F.col("rep_id")).select(
        F.col("label").alias("_wl"), F.col("nu").alias("_wnu"), "rep_id"
    )
    new_reps = (
        old_winners.join(F.broadcast(remap), old_winners["_wl"] == remap["_old_label"])
        .groupBy("_new_label")
        .agg(
            (-F.max(F.struct(F.col("_wnu"), (-F.col("rep_id")).alias("nid")))["nid"]).alias(
                "_new_rep"
            )
        )
        .withColumnRenamed("_new_label", "_rep_label")
    )
    return (
        store.join(F.broadcast(remap), store["label"] == remap["_old_label"], "left")
        .withColumn("_ml", F.coalesce("_new_label", "label"))
        .join(F.broadcast(new_reps), F.col("_ml") == new_reps["_rep_label"], "left")
        .select(
            F.col(id_col),
            F.col("_ml").alias("label"),
            F.col("nu"),
            F.coalesce("_new_rep", "rep_id").alias("rep_id"),
            (F.col(id_col) == F.coalesce("_new_rep", "rep_id"))
            .cast("bigint")
            .alias("keep"),
        )
    )
