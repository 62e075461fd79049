"""Similarity-search queries over the embeddings table (additive surface):
brute-force cosine top-k baseline and the LSH-bucketed ANN scale path."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..checkpointing import materialize
from ..functions.similarity import (
    N_LISTS,
    cosine_pd,
    cosine_sql,
    cosine_topk,
    decoded_corpus,
    int8_quantized,
    int8_quantized_sql,
    ivf_ann,
    ivf_ann_sql,
    ivf_assign,
    ivf_centroids,
    ivf_refine,
    ivf_semdedup,
    ivf_semdedup_sql,
    lsh_index,
    lsh_index_sql,
    neardup_pairs,
    neardup_pairs_sql,
)
from ..sources.catalog import load_table, spread
from .registry import register

_Q = "vec_id < 10"  # deterministic query set at every scale factor


# E1 — tagged union of the exact baseline and the IVF scale path:
#   kind='brute' — brute-force cosine top-5: query set broadcast against
#                  the streaming corpus (the correctness baseline).
#   kind='ivf'   — IVF (inverted-file) ANN top-5: sampled-init coarse
#                  quantizer (first nlist ids) REFINED with one
#                  deterministic Lloyd iteration (assign → per-list
#                  rounded component mean → reassign), nprobe probed
#                  lists per query, exact cosine re-rank on candidates
#                  only. Complements e02's LSH: recall bought with
#                  probed lists, not tables.
#   kind='incr'  — INCREMENTAL INDEX MAINTENANCE: the vector-store twin
#                  of d01's 'incr' and q01's 'incr_maint' — the coarse
#                  quantizer is trained ONCE on the existing corpus
#                  (vec_id % 5 != 0 here) and a new delta batch
#                  (vec_id % 5 == 0) is ASSIGNED against those frozen
#                  centroids without re-training or touching base
#                  assignments; work is delta-sized (one Arrow matmul
#                  pass over the delta + a broadcast-sized centroid
#                  join). The oracle recomputes the same base-trained
#                  quantizer and the delta assignment, so incremental ==
#                  full is value-gated: (query_id, neighbor_id, sim) =
#                  (delta vec, assigned list, cosine to its centroid).
#   kind='semdedup' — SemDeDup (Abbas et al. 2023) over the SAME
#                  Lloyd-refined clusters: within-cluster cosine >= tau
#                  marks the larger id redundant; rows are
#                  (removed_id, keeper_id, sim, list_id) mapped onto the
#                  union schema. The cluster build is shared with the
#                  ivf arm (one materialized centroid relation), so the
#                  semantic-dedup pass costs one clustered pairwise
#                  stage, not a second Lloyd.
# Both branches gate against the same DuckDB twin structure, so IVF's
# deterministic build (centroid choice, Lloyd step, tiebreaks) is
# oracle-checked — and its recall is readable against the brute rows.
_IVF_REFINE_ITERS = 1
_SD_TAU = 0.3


@register(
    "e01_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE {_Q}),
    corpus AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS nv
               FROM embeddings),
    scored AS (
        SELECT q.query_id, corpus.neighbor_id,
               round({cosine_sql('q.qv', 'corpus.nv')}, 6) AS sim
        FROM corpus CROSS JOIN q
        WHERE corpus.neighbor_id <> q.query_id
    ),
    brute AS (
        SELECT 'brute' AS kind, query_id, neighbor_id, sim,
               CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= 5
    ),
    ivf AS ({ivf_ann_sql('embeddings', k=5, query_pred=_Q,
                         refine_iterations=_IVF_REFINE_ITERS)}),
    sd AS ({ivf_semdedup_sql('embeddings', tau=_SD_TAU,
                             refine_iterations=_IVF_REFINE_ITERS)}),
    recall AS (
        SELECT b.query_id,
               count(i.neighbor_id)::BIGINT AS n_hits,
               round(count(i.neighbor_id) / 5.0, 6) AS recall_at_5
        FROM brute b
        LEFT JOIN ivf i ON i.query_id = b.query_id
                       AND i.neighbor_id = b.neighbor_id
        GROUP BY b.query_id
    ),
    incr AS (
        SELECT vec_id AS query_id, list_id AS neighbor_id, csim AS sim FROM (
            SELECT e.vec_id, c.list_id,
                   round({cosine_sql('CAST(e.embedding AS DOUBLE[])', 'c.cv')}, 6) AS csim,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({cosine_sql('CAST(e.embedding AS DOUBLE[])', 'c.cv')}, 6) DESC,
                                c.list_id) AS rn
            FROM (SELECT * FROM embeddings WHERE vec_id % 5 = 0) e
            CROSS JOIN (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id,
                       CAST(embedding AS DOUBLE[]) AS cv
                FROM (SELECT vec_id, embedding FROM embeddings
                      WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT {N_LISTS})
            ) c
        ) WHERE rn = 1
    )
    SELECT * FROM brute
    UNION ALL
    SELECT 'incr' AS kind, query_id, CAST(neighbor_id AS BIGINT), sim,
           CAST(1 AS INT) AS rank
    FROM incr
    UNION ALL
    SELECT 'ivf' AS kind, query_id, neighbor_id, sim, rank FROM ivf
    UNION ALL
    SELECT 'recall' AS kind, query_id, n_hits AS neighbor_id,
           recall_at_5 AS sim, 5 AS rank
    FROM recall
    UNION ALL
    SELECT 'semdedup' AS kind, removed_id AS query_id,
           keeper_id AS neighbor_id, sim, list_id AS rank
    FROM sd
    """,
    tags=("similarity", "topk", "ivf"),
)
def e01_cosine_topk(spark, sf_dir):
    """Top-5 cosine neighbors for 10 query vectors: exact brute-force
    baseline (query table broadcast, no corpus shuffle) unioned with the
    IVF approximate path (Lloyd-refined centroids; candidates via an
    equi-join on list_id — the probed-lists layout that at scale reads
    nprobe bucketed lists instead of the corpus), plus a 'recall' arm
    measuring the IVF path against the exact baseline per query
    (recall@5 — the ANN audit the driver value-checks, so an IVF change
    that silently trades recall away fails the gate, not just a
    dashboard)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    # ONE decoded-corpus materialization (vec_id, float64 v, norm) feeds
    # every corpus-sized pass — Lloyd partials, assignment, brute scoring
    # and the candidate re-rank otherwise each re-decode parquet and
    # re-widen float32→float64 (the r4 weak finding: the Lloyd arm
    # double-paid the corpus). The Lloyd collect materializes it; all
    # later passes read cached blocks and pay only their matmul.
    corpus = decoded_corpus(emb)
    # each arm feeds BOTH the union and the recall join; checkpoint the
    # ≤ k×n_queries-row results (lazily — no blocking materialization on
    # the timed path) so the corpus-sized scoring pipelines execute once.
    # Exchange reuse hides the duplication at sf0.1 (A/B was a wash) but
    # not at 10×: the corpus probe measured 6.2 s vs 2.4 s at sf1 with
    # the subtrees re-executed.
    brute = cosine_topk(corpus=corpus, k=5, query_pred=F.col("vec_id") < 10).select(
        F.lit("brute").alias("kind"), "query_id", "neighbor_id", "sim", "rank"
    ).transform(materialize)
    # ONE Lloyd-refined quantizer feeds both the ann and semdedup arms —
    # materialized (nlist rows) so each arm's collect reads the refined
    # centroids instead of re-running the Lloyd corpus pass
    cents = ivf_refine(
        None, ivf_centroids(corpus=corpus), _IVF_REFINE_ITERS, corpus=corpus
    ).transform(materialize)
    ivf = ivf_ann(corpus=corpus, k=5, query_pred=F.col("vec_id") < 10,
                  centroids=cents).select(
        F.lit("ivf").alias("kind"), "query_id", "neighbor_id", "sim", "rank"
    ).transform(materialize)
    semdedup = ivf_semdedup(corpus=corpus, tau=_SD_TAU, centroids=cents).select(
        F.lit("semdedup").alias("kind"),
        F.col("removed_id").alias("query_id"),
        F.col("keeper_id").alias("neighbor_id"),
        "sim",
        F.col("list_id").alias("rank"),
    )
    # 'incr' — index maintenance: quantizer trained on the base slice
    # only (frozen — the persisted index artifact), the delta batch
    # assigned against it in ONE Arrow pass that also emits the winning
    # rounded cosine (with_sim), so no post-hoc centroid join is needed.
    base_cents = ivf_centroids(corpus=corpus.where(F.col("vec_id") % 5 != 0))
    incr = ivf_assign(
        None, base_cents, corpus=corpus.where(F.col("vec_id") % 5 == 0), with_sim=True
    ).select(
        F.lit("incr").alias("kind"),
        F.col("vec_id").alias("query_id"),
        F.col("list_id").cast("bigint").alias("neighbor_id"),
        "sim",
        F.lit(1).cast("int").alias("rank"),
    )
    # with the arms materialized, the audit join is over two tiny cached
    # relations
    recall = (
        brute.select("query_id", "neighbor_id")
        .join(ivf.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
              ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hits"))
        .select(
            F.lit("recall").alias("kind"),
            "query_id",
            F.col("n_hits").cast("bigint").alias("neighbor_id"),
            F.round(F.col("n_hits") / F.lit(5.0), 6).alias("sim"),
            F.lit(5).alias("rank"),
        )
    )
    return brute.unionAll(ivf).unionAll(recall).unionAll(semdedup).unionAll(incr)


# E2 — tagged union of the LSH-bucketed vector workloads:
#   kind='ann'     — multi-table LSH ANN (8 tables × 2 hyperplanes):
#                    a corpus vector is a candidate when it shares ANY
#                    table's bucket with a query; exact cosine re-ranks.
#                    (query_id, neighbor_id) = (query, neighbor); rank ≤ 3.
#   kind='neardup' — embedding-cosine near-duplicate pairs over the
#                    SELF-join near-dup index (4 tables × 8 planes, 256
#                    buckets/table); exact cosine ≥ τ on bucket-colliding
#                    pairs only. (query_id, neighbor_id) = (id_a < id_b);
#                    rank = pair rank by sim desc WITHIN id_a — a
#                    per-id window, because a global rank would funnel
#                    every surviving pair through one sort task at scale.
#   kind='plantnd' — planted GROUND-TRUTH near-dup detection (d03's
#                    'plant' arm in vector space): every 25th corpus
#                    vector gets a deterministic ε-perturbed copy
#                    (component 0 + 0.125, identical IEEE arithmetic on
#                    both engines) at id + (max(vec_id)+1), the offset
#                    COMPUTED per corpus; ONE shared near-dup
#                    index over originals ∪ plants yields candidates,
#                    and pairs touching a plant with exact cosine ≥ 0.9
#                    are the detections. The 'neardup' arm reads the
#                    SAME index restricted to original-original pairs —
#                    plants add no original collisions, so its rows are
#                    unchanged — and a plane/table change that misses
#                    true vector near-dups now has a ground truth to
#                    miss (r5 gap: τ=0.35 on this corpus detected only
#                    natural ≈0.5-cosine pairs).
#   kind='recall'  — recall@3 of the LSH ANN arm vs a brute-force top-3
#                    baseline on the same 10 queries, per query — the
#                    audit that makes a hyperplane/table change that
#                    silently craters recall FAIL the value gate (the
#                    e01 'recall' arm's twin for the LSH path).
#   kind='quant'   — int8 scalar-quantized top-3 for the same queries:
#                    per-vector symmetric scale max|v|/127, integer
#                    components, score = exact integer dot × scale
#                    reconstruction (functions/similarity.py's int8
#                    block) — the 4×-compressed representation an
#                    at-scale index streams instead of float vectors.
#   kind='qrecall' — recall@3 of the quantized scoring vs the SAME
#                    brute baseline: quantization error is a gated
#                    number, and the baseline pass is shared (one
#                    materialized brute3 anchors both audits).
#   kind='trunc'   — matryoshka-style DIMENSION TRUNCATION: top-3 by
#                    cosine over only the first _TRUNC_D of 64
#                    components — the half-cost prefix scoring an
#                    at-scale index uses as its coarse pass (and an
#                    MRL-trained embedding uses outright). Pure
#                    projection of the shared decoded corpus; the
#                    slice happens once per side, before the join.
#                    (This corpus is iid random, so prefix recall is
#                    intrinsically low — 32 of 64 dims keeps the gated
#                    audit number nonzero; a trained MRL embedding
#                    front-loads variance and would score far higher.)
#   kind='trecall' — recall@3 of the truncated scoring vs the SAME
#                    materialized brute baseline (third consumer):
#                    the prefix-vs-full quality tradeoff is a gated
#                    number per round, like quantization error.
# τ = 0.35 is matched to this synthetic corpus's natural similarity
# scale (max pairwise cosine ≈ 0.51); the planted pairs sit at ≥ 0.9 by
# construction. All branches confine quadratic work to buckets, and the
# WHOLE query decodes the parquet corpus ONCE: a single checkpointed
# decoded_corpus relation feeds the ANN index, the near-dup/plant index,
# the re-rank vector fetches and the brute-force recall baseline (r5
# nit: brute3 re-decoded the corpus e01 had just deduplicated).
_ND_TAU = 0.35
_PLANTND_MOD = 25
# plant-id offset = max(vec_id) + 1, COMPUTED (one pruned max scan per
# engine) — a fixed constant offset silently misclassifies any corpus
# whose ids reach it as plants (d03 hit exactly this on the synthesized
# sf1 corpus, whose remapped ids reach 9e7: the "plants-only" verify
# degenerated to the full duplicate-pair population)
_PLANTND_MAX_SQL = "(SELECT max(vec_id) + 1 FROM embeddings)"
_PLANTND_EPS = 0.125
_PLANTND_TAU = 0.9
_TRUNC_D = 32  # matryoshka prefix length (of 64)


@register(
    "e02_ann_neardup",
    oracle=f"""
    WITH idx AS ({lsh_index_sql('embeddings')}),
    q AS (SELECT vec_id AS query_id, v AS qv, table_id, bucket FROM idx WHERE {_Q}),
    cands AS (
        SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
        FROM idx c JOIN q ON c.table_id = q.table_id AND c.bucket = q.bucket
        WHERE c.vec_id <> q.query_id
    ),
    scored AS (
        SELECT cands.query_id, cands.neighbor_id,
               round({cosine_sql(
                   'CAST(a.embedding AS DOUBLE[])', 'CAST(b.embedding AS DOUBLE[])')}, 6) AS sim
        FROM cands
        JOIN embeddings a ON a.vec_id = cands.query_id
        JOIN embeddings b ON b.vec_id = cands.neighbor_id
    ),
    ann AS (
        SELECT 'ann' AS kind, query_id, neighbor_id, sim, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= 3
    ),
    pnd_corp AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + {_PLANTND_MAX_SQL} AS vec_id,
               list_prepend(v[1] + {_PLANTND_EPS!r}, v[2:]) AS v
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id % {_PLANTND_MOD} = 0)
    ),
    nd_all AS ({neardup_pairs_sql('(SELECT vec_id, v AS embedding FROM pnd_corp)', _ND_TAU)}),
    nd AS (SELECT * FROM nd_all WHERE id_b < {_PLANTND_MAX_SQL}),
    pnd AS (SELECT * FROM nd_all
            WHERE id_b >= {_PLANTND_MAX_SQL} AND sim >= {_PLANTND_TAU!r}),
    brute3 AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round({cosine_sql(
                           'q.qv', 'CAST(c.embedding AS DOUBLE[])')}, 6) DESC,
                                c.vec_id) AS rnk
            FROM embeddings c
            CROSS JOIN (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                        FROM embeddings WHERE {_Q}) q
            WHERE c.vec_id <> q.query_id
        ) WHERE rnk <= 3
    ),
    rec AS (
        SELECT b.query_id,
               count(i.neighbor_id)::BIGINT AS n_hits,
               round(count(i.neighbor_id) / 3.0, 6) AS recall_at_3
        FROM brute3 b
        LEFT JOIN ann i ON i.query_id = b.query_id
                       AND i.neighbor_id = b.neighbor_id
        GROUP BY b.query_id
    ),
    qc AS ({int8_quantized_sql('embeddings')}),
    qscored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               round(list_dot_product(q.qa, c.qv) * (q.sa * c.s)
                     / (q.qn * c.nrm), 6) AS sim
        FROM qc c
        CROSS JOIN (SELECT vec_id AS query_id, qv AS qa, s AS sa, nrm AS qn
                    FROM qc WHERE {_Q}) q
        WHERE c.vec_id <> q.query_id
    ),
    quant AS (
        SELECT 'quant' AS kind, query_id, neighbor_id, sim,
               CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, neighbor_id) AS rank
            FROM qscored
        ) WHERE rank <= 3
    ),
    qrec AS (
        SELECT b.query_id,
               count(i.neighbor_id)::BIGINT AS n_hits,
               round(count(i.neighbor_id) / 3.0, 6) AS recall_at_3
        FROM brute3 b
        LEFT JOIN quant i ON i.query_id = b.query_id
                         AND i.neighbor_id = b.neighbor_id
        GROUP BY b.query_id
    ),
    tcorp AS (
        SELECT vec_id, (CAST(embedding AS DOUBLE[]))[1:{_TRUNC_D}] AS tv
        FROM embeddings
    ),
    tscored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               round({cosine_sql('q.tq', 'c.tv')}, 6) AS sim
        FROM tcorp c
        CROSS JOIN (SELECT vec_id AS query_id, tv AS tq
                    FROM tcorp WHERE {_Q}) q
        WHERE c.vec_id <> q.query_id
    ),
    trunc AS (
        SELECT 'trunc' AS kind, query_id, neighbor_id, sim,
               CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, neighbor_id) AS rank
            FROM tscored
        ) WHERE rank <= 3
    ),
    trec AS (
        SELECT b.query_id,
               count(i.neighbor_id)::BIGINT AS n_hits,
               round(count(i.neighbor_id) / 3.0, 6) AS recall_at_3
        FROM brute3 b
        LEFT JOIN trunc i ON i.query_id = b.query_id
                         AND i.neighbor_id = b.neighbor_id
        GROUP BY b.query_id
    )
    SELECT * FROM ann
    UNION ALL
    SELECT 'neardup' AS kind, id_a AS query_id, id_b AS neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY id_a
                                   ORDER BY sim DESC, id_b) AS INT) AS rank
    FROM nd
    UNION ALL
    SELECT 'plantnd' AS kind, id_a AS query_id, id_b AS neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY id_a
                                   ORDER BY sim DESC, id_b) AS INT) AS rank
    FROM pnd
    UNION ALL
    SELECT 'recall' AS kind, query_id, n_hits AS neighbor_id,
           recall_at_3 AS sim, 3 AS rank
    FROM rec
    UNION ALL
    SELECT * FROM quant
    UNION ALL
    SELECT 'qrecall' AS kind, query_id, n_hits AS neighbor_id,
           recall_at_3 AS sim, 3 AS rank
    FROM qrec
    UNION ALL
    SELECT * FROM trunc
    UNION ALL
    SELECT 'trecall' AS kind, query_id, n_hits AS neighbor_id,
           recall_at_3 AS sim, 3 AS rank
    FROM trec
    """,
    tags=("similarity", "ann", "lsh", "dedup", "neardup", "plant"),
)
def e02_ann_neardup(spark, sf_dir):
    """LSH ANN + embedding-cosine near-dup + planted-ground-truth
    detection + int8-quantized scoring, one tagged union: candidate
    generation in every bucketed branch is an equi-join on
    (table_id, bucket) — never a cross join — and only candidates pay
    the exact-cosine cost. The whole query decodes the corpus ONCE
    (shared checkpointed relation); one materialized brute-force top-3
    baseline anchors both the LSH 'recall' and quantization 'qrecall'
    audits. The 100 TB shape: each index is written bucketed so ANN
    probes are pruned scans, the near-dup self-join is co-located, and
    the quantized representation is the 4×-smaller relation the scoring
    pass streams."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    # ONE decoded corpus for the WHOLE query (r5 nit closed): the ANN
    # index, the near-dup/plant index, every re-rank vector fetch and
    # the brute recall baseline all read this checkpointed (vec_id, v,
    # nrm) relation — one parquet decode + float64 widening, cached
    # blocks thereafter.
    corpus = decoded_corpus(emb)
    # the ANN arm reads the index twice (query probe + corpus side of the
    # candidate join); materialize the pruned bucket layout once so the
    # Arrow bucket pass runs a single time (vectors re-attach by id later)
    idx = (
        lsh_index(corpus.select("vec_id", "v"), emb_col="v")
        .select("vec_id", "table_id", "bucket")
        .transform(materialize)
    )
    # Candidate generation and the multi-table collision dedup move bare
    # (query_id, neighbor_id) pairs — never the 512-byte embedding arrays,
    # which would otherwise ride through two shuffles (dropDuplicates +
    # the rank window). Vectors re-attach afterwards: the 10-row query
    # side broadcast, the corpus side an id equi-join (co-located by id
    # at scale). Measured 2.7× on the branch at sf0.1.
    q = idx.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "table_id", "bucket"
    )
    cands = (
        idx.join(F.broadcast(q), ["table_id", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = corpus.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    nv = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
    )
    cos = cosine_pd()
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select("query_id", "neighbor_id", F.round(cos(F.col("qv"), F.col("nv")), 6).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    # ann feeds the union AND the recall audit join — lazily checkpoint
    # the ≤ 3×n_queries-row result so the candidate pipeline runs once
    # (same diamond hygiene as e01's arms)
    ann = (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select(F.lit("ann").alias("kind"), "query_id", "neighbor_id", "sim", "rank")
        .transform(materialize)
    )
    # Planted ground truth: every 25th vector gets a deterministic
    # ε-perturbed copy (component 0 + 0.125 — exact dyadic, identical
    # IEEE add on both engines) at id + (max id + 1). ONE near-dup index over
    # originals ∪ plants serves both arms: plants add no
    # original-original collisions, so the 'neardup' slice is exactly
    # the pre-plant result, while the 'plantnd' slice (pairs touching a
    # plant, cosine ≥ 0.9) is detection with a known answer.
    poff = int(corpus.agg(F.max("vec_id")).collect()[0][0]) + 1
    plants = corpus.where(F.col("vec_id") % _PLANTND_MOD == 0).select(
        (F.col("vec_id") + F.lit(poff)).alias("vec_id"),
        F.concat(
            F.array(F.element_at("v", 1) + F.lit(_PLANTND_EPS)),
            F.slice("v", 2, 63),
        ).alias("v"),
    )
    pnd_corp = corpus.select("vec_id", "v").unionByName(plants)
    # both pair arms slice nd_all on id_b, a member id the expansion
    # produces, so neither slice can prune the candidate join: check
    # out the pairs once or both arms rerun the cosine over every
    # candidate (measured +1 s exec at sf0.1 without it)
    nd_all = neardup_pairs(pnd_corp, _ND_TAU, emb_col="v").transform(materialize)
    wn = Window.partitionBy("id_a").orderBy(F.col("sim").desc(), F.col("id_b"))

    def _pair_arm(df, kind):
        return df.select(
            F.lit(kind).alias("kind"),
            F.col("id_a").alias("query_id"),
            F.col("id_b").alias("neighbor_id"),
            "sim",
            F.row_number().over(wn).cast("int").alias("rank"),
        )

    neardup = _pair_arm(nd_all.where(F.col("id_b") < poff), "neardup")
    plantnd = _pair_arm(
        nd_all.where(
            (F.col("id_b") >= poff) & (F.col("sim") >= _PLANTND_TAU)
        ),
        "plantnd",
    )
    # recall@3 audit: brute-force top-3 baseline on the same query set
    # (one streamed corpus pass over the SHARED decoded relation, query
    # side broadcast), hits counted against the ann arm per query — the
    # driver value-checks it, so a plane/table change that trades recall
    # away fails the gate
    # materialized (30 rows): the baseline now anchors TWO audits —
    # LSH recall and quantization recall — one corpus scoring pass, not two
    brute3 = cosine_topk(
        corpus=corpus, k=3, query_pred=F.col("vec_id") < 10,
    ).select("query_id", "neighbor_id").transform(materialize)
    recall = (
        brute3
        .join(ann.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
              ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hits"))
        .select(
            F.lit("recall").alias("kind"),
            "query_id",
            F.col("n_hits").cast("bigint").alias("neighbor_id"),
            F.round(F.col("n_hits") / F.lit(3.0), 6).alias("sim"),
            F.lit(3).alias("rank"),
        )
    )
    # int8-quantized scoring ('quant') + its audit ('qrecall'): quantize
    # the SHARED corpus (row-local — the query side's filter pushes below
    # the projection, so the 10-row side quantizes 10 vectors), score the
    # same query set with the exact integer dot × scale reconstruction,
    # and count hits against the float brute top-3 — quantization error
    # becomes a measured, value-gated quantity instead of an assumption.
    qcorp = int8_quantized(corpus)
    qq = qcorp.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa"),
        F.col("s").alias("sa"), F.col("nrm").alias("qn"),
    )
    qdot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    qscored = (
        qcorp.select(
            F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("qb"),
            F.col("s").alias("sb"), F.col("nrm").alias("nn"),
        )
        .join(F.broadcast(qq))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(
                qdot * (F.col("sa") * F.col("sb")) / (F.col("qn") * F.col("nn")), 6
            ).alias("sim"),
        )
    )
    quant = (
        qscored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select(F.lit("quant").alias("kind"), "query_id", "neighbor_id", "sim", "rank")
        .transform(materialize)
    )
    qrecall = (
        brute3
        .join(quant.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
              ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hits"))
        .select(
            F.lit("qrecall").alias("kind"),
            "query_id",
            F.col("n_hits").cast("bigint").alias("neighbor_id"),
            F.round(F.col("n_hits") / F.lit(3.0), 6).alias("sim"),
            F.lit(3).alias("rank"),
        )
    )
    # matryoshka truncation ('trunc') + its audit ('trecall'): score the
    # same query set over only the first _TRUNC_D components — a pure
    # projection of the shared corpus (the slice happens once per side,
    # BEFORE the join, so the scoring pass streams half-size vectors) —
    # and count hits against the same materialized float baseline. The
    # prefix-vs-full tradeoff becomes a gated number, like quantization.
    tcorp = corpus.select("vec_id", F.slice("v", 1, _TRUNC_D).alias("tv"))
    tq = tcorp.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("tv").alias("tq")
    )
    tscored = (
        tcorp.select(F.col("vec_id").alias("neighbor_id"), "tv")
        .join(F.broadcast(tq))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(cos(F.col("tq"), F.col("tv")), 6).alias("sim"),
        )
    )
    trunc = (
        tscored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select(F.lit("trunc").alias("kind"), "query_id", "neighbor_id", "sim", "rank")
        .transform(materialize)
    )
    trecall = (
        brute3
        .join(trunc.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
              ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hits"))
        .select(
            F.lit("trecall").alias("kind"),
            "query_id",
            F.col("n_hits").cast("bigint").alias("neighbor_id"),
            F.round(F.col("n_hits") / F.lit(3.0), 6).alias("sim"),
            F.lit(3).alias("rank"),
        )
    )
    return (
        ann.unionAll(neardup).unionAll(plantnd).unionAll(recall)
        .unionAll(quant).unionAll(qrecall).unionAll(trunc).unionAll(trecall)
    )
