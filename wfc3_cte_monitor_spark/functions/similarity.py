"""Vector similarity search over an embedding column.

Two paths, mirroring what a production corpus needs:

- BRUTE-FORCE COSINE TOP-K: the correctness baseline. Query set ×
  corpus cross join with the query side broadcast; the dot product is a
  built-in fold (`zip_with` + `aggregate`), JVM-side. At 100 TB you run
  this only for small query batches — which is exactly its shape: the
  corpus side streams, nothing shuffles but the tiny query table.
- LSH-BUCKETED ANN (random-hyperplane signs, MULTI-TABLE): L independent
  hash tables of r hyperplanes each; a corpus vector is a candidate for a
  query if they share ANY table's bucket. With per-plane agreement
  probability p = 1 - θ/π, recall is 1-(1-p^r)^L — the table count L buys
  recall, the planes-per-table r buys selectivity. Candidate generation
  is an equi-join on (table_id, bucket), so the quadratic work is
  confined to buckets; the corpus side is materialized L× (the standard
  LSH index layout) while the query side is broadcast.

The hyperplanes are fixed Gaussian draws embedded as identical literals
in the Spark plan and the DuckDB oracle — LSH structure is a constant,
not a runtime random, so the whole ANN path is oracle-checkable.

Floating policy: float32 embeddings are widened to float64 (exact) and
every cross-engine-compared similarity rounds to 6 decimals BEFORE any
comparison or ranking. The engines do NOT share summation order — the
DuckDB twins fold dot products sequentially while the Spark side batches
them through numpy (`bucket_array_pd`/`cosine_pd`) — so the rounding
quantum, not summation order, is the determinism boundary; never compare
or rank an unrounded similarity across engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from ..checkpointing import materialize
from pyspark.sql import functions as F

N_TABLES = 8   # L
N_PLANES = 2   # r (per table)
_PLANE_SEED = 12345


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def _round6_half_away(a: np.ndarray) -> np.ndarray:
    """Round to 6 decimals HALF AWAY FROM ZERO — the convention of both
    `F.round` (HALF_UP) and DuckDB's `round`. np.round is banker's
    (half-to-even), which would flip an assignment/probe choice against
    the oracle on a representable .xxxxxx5 boundary (dyadic sims)."""
    return np.sign(a) * np.floor(np.abs(a) * 1e6 + 0.5) / 1e6


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


def hyperplanes(dim: int = 64, n_tables: int = N_TABLES, n_planes: int = N_PLANES,
                seed: int = _PLANE_SEED):
    """Fixed Gaussian hyperplanes, rounded to 6 decimals so the literal
    text (and therefore the parsed double) is identical on both engines.
    Shape: [table][plane][dim]."""
    rng = np.random.default_rng(seed)
    return [
        [[round(float(x), 6) for x in rng.standard_normal(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]


def bucket_expr(emb: Column, table: int, dim: int = 64,
                n_tables: int = N_TABLES, n_planes: int = N_PLANES,
                seed: int = _PLANE_SEED) -> Column:
    """Bucket id within one LSH table: bit j = (emb · plane_j >= 0)."""
    planes = hyperplanes(dim, n_tables, n_planes, seed)[table]
    acc = F.lit(0)
    for j, plane_vals in enumerate(planes):
        plane = F.array(*[F.lit(v) for v in plane_vals])
        bit = F.when(dot(_as_double(emb), plane) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        acc = acc + bit
    return acc.cast("int")


def bucket_expr_sql(emb: str, table: int, dim: int = 64,
                    n_tables: int = N_TABLES, n_planes: int = N_PLANES,
                    seed: int = _PLANE_SEED) -> str:
    planes = hyperplanes(dim, n_tables, n_planes, seed)[table]
    parts = []
    for j, plane_vals in enumerate(planes):
        plane = "[" + ", ".join(f"{v!r}" for v in plane_vals) + "]::DOUBLE[]"
        parts.append(
            f"CASE WHEN list_dot_product(CAST({emb} AS DOUBLE[]), {plane}) >= 0 "
            f"THEN {1 << j} ELSE 0 END"
        )
    return "CAST(" + " + ".join(parts) + " AS INT)"


def bucket_array_pd(dim: int = 64, n_tables: int = N_TABLES,
                    n_planes: int = N_PLANES, seed: int = _PLANE_SEED):
    """Arrow-vectorized bucket assignment: embedding → array of all
    ``n_tables`` bucket ids in one numpy matmul per batch. Dense linear
    algebra is the one place interpreted `aggregate`/`zip_with` folds
    lose badly (per-element lambda evaluation, outside codegen); a
    batched (B×dim)·(dim×L·r) product does the same work SIMD-side.
    Sign decisions sit ~O(1) from zero, so fold-vs-SIMD summation-order
    noise (~1e-14 relative) cannot flip a bucket bit in practice — the
    oracle twin keeps the sequential-fold form and the driver gate
    checks agreement end-to-end."""
    from pyspark.sql.pandas.functions import pandas_udf

    planes = np.array(hyperplanes(dim, n_tables, n_planes, seed))
    flat = planes.reshape(n_tables * n_planes, dim)
    weights = 1 << np.arange(n_planes)

    @pandas_udf("array<int>")
    def _buckets(emb: pd.Series) -> pd.Series:
        v = np.stack(emb.to_numpy())
        bits = (v @ flat.T >= 0).astype(np.int64).reshape(len(v), n_tables, n_planes)
        return pd.Series(list((bits @ weights).astype(np.int32)))

    return _buckets


def cosine_pd():
    """Arrow-vectorized exact cosine over candidate pairs (same batched
    rationale as `bucket_array_pd`; outputs round to 6 decimals before
    any comparison, which absorbs summation-order noise)."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        va = np.stack(a.to_numpy())
        vb = np.stack(b.to_numpy())
        num = np.einsum("ij,ij->i", va, vb)
        den = np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1)
        return pd.Series(num / den)

    return _cos


def lsh_index(embeddings: DataFrame, id_col: str = "vec_id",
              emb_col: str = "embedding", dim: int = 64,
              n_tables: int = N_TABLES, n_planes: int = N_PLANES,
              seed: int = _PLANE_SEED) -> DataFrame:
    """Corpus → (id, v, table_id, bucket): the L-fold LSH index layout.
    One projection + one Arrow-batched bucket UDF, no shuffle; at scale
    this is written bucketed by (table_id, bucket) so probes are
    partition-pruned scans."""
    buckets = bucket_array_pd(dim, n_tables, n_planes, seed)
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).cast("array<double>").alias("v"),
        F.posexplode(buckets(F.col(emb_col).cast("array<double>"))).alias("table_id", "bucket"),
    ).select("vec_id", "v", "table_id", "bucket")


def lsh_index_sql(source: str, id_col: str = "vec_id", emb_col: str = "embedding",
                  dim: int = 64, n_tables: int = N_TABLES, n_planes: int = N_PLANES,
                  seed: int = _PLANE_SEED) -> str:
    rows = [
        f"SELECT {id_col} AS vec_id, CAST({emb_col} AS DOUBLE[]) AS v,"
        f" {t} AS table_id,"
        f" {bucket_expr_sql(emb_col, t, dim, n_tables, n_planes, seed)} AS bucket"
        f" FROM {source}"
        for t in range(n_tables)
    ]
    return " UNION ALL ".join(rows)


# --- Embedding-cosine near-dup: LSH-bucketed pair detection ----------------
#
# The near-dup plane set trades the ANN config's recall for selectivity:
# a SELF-join needs small buckets (r = 8 planes → 256 buckets/table)
# where the broadcast-query ANN path can afford r = 2. Fewer tables
# (L = 4) bound the index-size multiplier. Collision probability per
# table is p^r with p = 1 - θ/π, so the design regime (cosine ≥ 0.95,
# p ≈ 0.9) yields ~89% recall at 4 tables while keeping candidate pairs
# ~2% of all-pairs on this corpus.

ND_TABLES = 4    # L for the near-dup index
ND_PLANES = 8    # r for the near-dup index (256 buckets per table)
_ND_SEED = 777


def neardup_pairs(embeddings: DataFrame, tau: float, id_col: str = "vec_id",
                  emb_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, bucketed: candidates are
    (id_a < id_b) sharing ANY near-dup table's bucket — an equi-join on
    (table_id, bucket), never all-pairs — and exact cosine ≥ tau is
    evaluated on candidates only. Returns (id_a, id_b, sim).

    EXACT-COLLAPSE-FIRST (r13 sf10 ladder finding): the bucket
    self-join is quadratic in the size of an exact-duplicate cluster —
    k byte-identical vectors share EVERY bucket of every table, so a
    100-clone group contributes C(100,2)·L rows to the join output
    before the pair dedup (at sf10 this spilled past 80 GB of disk and
    killed the session; SCALING.md §sf10 ladder). So the ENTIRE index →
    self-join → cosine pipeline runs once per distinct vector
    (functions/dedup.dup_groups) and expands through each group's
    member-id array. Output-identical: identical vectors get identical
    bucket arrays, so the member-level candidate set is exactly the
    expanded group-level candidates plus every intra-group pair (clones
    share all buckets) — the latter enter as one self-candidate
    (gid, gid) per multi-member group — and sim is a deterministic
    function of the vector pair, computed once per group pair. The
    quadratic work that remains — emitting the intra-group pairs
    themselves — is output-sized, not join-inflated by the L-table
    index.

    The remaining quadratic work is confined to buckets of DISTINCT
    vectors (n_unique/256 expected occupancy per table), so the plan
    survives a 100 TB corpus; at scale the index is written bucketed by
    (table_id, bucket) so the self-join is co-located, shuffle-free."""
    from .dedup import dup_groups, expand_group_pairs, self_candidates

    src = embeddings.select(F.col(id_col).alias("vec_id"),
                            F.col(emb_col).cast("array<double>").alias("v"))
    groups = dup_groups(src, "vec_id", "v")
    idx = lsh_index(groups, "gid", "v", dim,
                    n_tables=ND_TABLES, n_planes=ND_PLANES, seed=_ND_SEED)
    # the index feeds both sides of the bucket self-join — materialize the
    # pruned (id, table, bucket) layout once (lazily) so the Arrow bucket
    # pass isn't embedded twice in the plan; vectors are dropped first so
    # nothing wider than the key rides the checkpoint
    idx = idx.select("vec_id", "table_id", "bucket").transform(materialize)
    a = idx.select(F.col("vec_id").alias("ga"), "table_id", "bucket")
    b = idx.select(F.col("vec_id").alias("gb"), "table_id", "bucket")
    # Dedup on bare (ga, gb) BEFORE fetching vectors: the multi-table
    # collision dedup shuffle then moves 16-byte pairs, not 512-byte
    # embeddings; vectors and member ids re-attach via gid equi-joins
    # (co-located by id at scale) and exact cosine runs once per
    # surviving group pair.
    cands = (
        a.join(b, ["table_id", "bucket"])
        .where(F.col("ga") < F.col("gb"))
        .select("ga", "gb")
        .dropDuplicates(["ga", "gb"])
        .unionByName(self_candidates(groups))
    )
    va = groups.select(F.col("gid").alias("ga"), F.col("v").alias("va"),
                       F.col("ids").alias("ia"))
    vb = groups.select(F.col("gid").alias("gb"), F.col("v").alias("vb"),
                       F.col("ids").alias("ib"))
    # nondeterministic so the optimizer keeps `sim >= tau` above the
    # projection: pushed below it, the filter re-inlines the UDF call
    # and every candidate pair pays the cosine twice
    cos = cosine_pd().asNondeterministic()
    gpairs = (
        cands.join(va, "ga").join(vb, "gb")
        .select("ga", "gb", "ia", "ib",
                F.round(cos(F.col("va"), F.col("vb")), 6).alias("sim"))
        .where(F.col("sim") >= tau)
    )
    return expand_group_pairs(gpairs, "sim")


def neardup_pairs_sql(source: str, tau: float, id_col: str = "vec_id",
                      emb_col: str = "embedding", dim: int = 64) -> str:
    idx = lsh_index_sql(source, id_col, emb_col, dim,
                        n_tables=ND_TABLES, n_planes=ND_PLANES, seed=_ND_SEED)
    return f"""
    WITH nd_idx AS ({idx}),
    nd_cands AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               any_value(a.v) AS va, any_value(b.v) AS vb
        FROM nd_idx a JOIN nd_idx b
          ON a.table_id = b.table_id AND a.bucket = b.bucket
         AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id
    )
    SELECT id_a, id_b, sim FROM (
        SELECT id_a, id_b, round({cosine_sql('va', 'vb')}, 6) AS sim
        FROM nd_cands
    ) WHERE sim >= {tau!r}
    """


def decoded_corpus(embeddings: DataFrame, id_col: str = "vec_id",
                   emb_col: str = "embedding", checkpoint: bool = True) -> DataFrame:
    """The decoded corpus relation ``(vec_id, v float64, nrm)`` — the
    shared input of every corpus-sized similarity pass.

    A multi-stage query (e01: Lloyd partials → assignment → brute
    scoring → candidate re-rank) otherwise re-reads parquet and
    re-widens float32→float64 once PER PASS; checkpointing this relation
    lazily makes every pass after the first read cached blocks, so an
    extra Lloyd iteration pays only its matmul. ``nrm`` is
    ``sqrt(dot(v, v))`` — the exact subexpression ``cosine`` computes —
    precomputed once per vector instead of once per scored PAIR (the
    brute arm otherwise refolds the corpus-side norm for each of the
    |Q| queries). Single-node caveat: executor-local blocks, see
    SCALING.md's localCheckpoint note."""
    v = _as_double(F.col(emb_col))
    out = embeddings.select(
        F.col(id_col).alias("vec_id"), v.alias("v"), F.sqrt(dot(v, v)).alias("nrm")
    )
    return out.transform(materialize) if checkpoint else out


# --- int8 scalar quantization (the compression an at-scale ANN index ships) --
#
# Per-vector symmetric int8: scale s = max|v_i| / 127 (the max fold is
# order-free), components q_i = floor(v_i/s + 0.5) ∈ [-127, 127]
# (floor(x + 0.5) is round-half-toward-+inf, the SAME function on both
# engines — no HALF_UP-vs-half-even rounding mode is involved). The
# quantized score reconstructs cosine as (q_a·q_b)·s_a·s_b / (|a|·|b|):
# the integer dot is EXACT on both engines (|dot| ≤ 64·127² ≈ 1.0e6,
# far inside 2^53 even through DuckDB's double-based list_dot_product),
# so the only cross-engine noise left is the scale/norm products —
# absorbed by round-6 like every other similarity in this module.

def int8_quantized(corpus: DataFrame) -> DataFrame:
    """:func:`decoded_corpus` relation → ``(vec_id, qv, s, nrm)`` with
    int8-valued bigint components. Row-local — no shuffle at any corpus
    size; at 100 TB this is the 4×-smaller index representation the
    scoring pass streams instead of the float corpus. The scale binds to
    a COLUMN before the transform lambda (a lambda closing over the
    max-fold expression would re-evaluate the fold per element — the
    O(dim²) trap this module documents on shingles())."""
    scaled = corpus.select(
        "vec_id", "v", "nrm",
        (
            F.aggregate("v", F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
            / 127.0
        ).alias("s"),
    )
    return scaled.select(
        "vec_id",
        F.transform("v", lambda x: F.floor(x / F.col("s") + 0.5).cast("bigint")).alias("qv"),
        "s",
        "nrm",
    )


def int8_quantized_sql(table: str = "embeddings") -> str:
    """DuckDB twin of :func:`int8_quantized` over the raw embeddings."""
    return f"""
    SELECT vec_id,
           list_transform(v, x -> CAST(floor(x / s + 0.5) AS BIGINT)) AS qv,
           s, nrm
    FROM (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127.0 AS s,
               sqrt(list_dot_product(v, v)) AS nrm
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table})
    )
    """


def cosine_topk(embeddings: DataFrame | None = None, query_ids: list[int] | None = None,
                k: int = 5, query_pred: Column | None = None,
                corpus: DataFrame | None = None) -> DataFrame:
    """Brute-force top-k cosine neighbors for a small query set.

    ``corpus`` (a :func:`decoded_corpus` relation) lets callers that run
    several corpus passes share one materialization; the similarity is
    ``dot / (nrm_q * nrm_n)`` — arithmetic-identical to :func:`cosine`
    (same sqrt-then-multiply order), just with the norms computed per
    vector instead of per pair."""
    from pyspark.sql import Window

    if query_pred is None:
        if query_ids is None:
            raise ValueError("cosine_topk needs query_ids or query_pred")
        query_pred = F.col("vec_id").isin(query_ids)
    if corpus is None:
        corpus = decoded_corpus(embeddings, checkpoint=False)
    q = corpus.where(query_pred).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    n = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), F.col("nrm").alias("nn")
    )
    scored = (
        n.join(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank"))
    )


# --- IVF (inverted-file) ANN: the coarse-quantizer scale path --------------

N_LISTS = 16     # nlist: coarse centroids / inverted lists
N_PROBE = 3      # nprobe: lists scanned per query


def ivf_centroids(embeddings: DataFrame | None = None, id_col: str = "vec_id",
                  emb_col: str = "embedding", n_lists: int = N_LISTS,
                  corpus: DataFrame | None = None) -> DataFrame:
    """Deterministic coarse quantizer: the first ``n_lists`` corpus vectors
    by id serve as centroids (sampled-init IVF — production would k-means
    refine these, which only changes the centroid VALUES, not the plan
    shape). Tiny (nlist rows) → always broadcast."""
    if corpus is None:
        corpus = decoded_corpus(embeddings, id_col, emb_col, checkpoint=False)
    # distributed TakeOrdered first (orderBy + limit), THEN number the
    # nlist-row result. Numbering uses a PREDECESSOR-COUNT broadcast
    # self-join (nlist² = 256 comparisons) instead of a row_number
    # window: the window form — even with a constant partition key,
    # which Catalyst constant-folds away — plans as an unpartitioned
    # WindowExec and spams "No Partition Defined" into the bench log.
    # With no global window anywhere, that warning is always a real
    # finding (r6 verdict ask #7); the plan guard in
    # tests/test_plan_shape.py now covers e01 too.
    from ..checkpointing import materialize

    head = materialize(corpus.select("vec_id", "v").orderBy("vec_id").limit(n_lists))
    pred = (
        head.alias("x")
        .join(
            F.broadcast(head.select(F.col("vec_id").alias("y_id"))),
            F.col("y_id") < F.col("vec_id"),
            "left",
        )
        .groupBy("vec_id")
        .agg(F.count("y_id").cast("int").alias("list_id"))
    )
    return pred.join(head, "vec_id").select("list_id", F.col("v").alias("cv"))


def _collect_centroid_matrix(centroids: DataFrame):
    """Materialize the coarse quantizer (nlist rows — the same bounded
    relation the fan-out form would broadcast) as a numpy matrix for
    closure into one Arrow pass. Returns (list_ids, unit-norm matrix)."""
    rows = centroids.orderBy("list_id").collect()
    ids = np.array([r["list_id"] for r in rows], dtype=np.int64)
    C = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
    return ids, C / np.linalg.norm(C, axis=1, keepdims=True)


def ivf_assign(embeddings: DataFrame | None, centroids: DataFrame, id_col: str = "vec_id",
               emb_col: str = "embedding", corpus: DataFrame | None = None,
               with_sim: bool = False) -> DataFrame:
    """Corpus → (vec_id, v, list_id): nearest-centroid assignment in ONE
    Arrow pass — the nlist×dim centroid matrix is closed over the UDF
    (it is broadcast-sized by construction), each batch scores all lists
    with one matmul, and only the winning list_id leaves the pass. This
    replaces the earlier nlist-way fan-out + vector-carrying groupBy:
    same result, no shuffle, no 16x row amplification. At scale the
    output is written partitioned/bucketed by list_id so probes read
    only nprobe lists. ``with_sim`` additionally emits the winning
    rounded cosine (already computed inside the pass) as ``sim`` —
    cheaper than re-attaching centroids with a join afterwards.
    ``embeddings`` may be None ONLY when ``corpus`` (a
    :func:`decoded_corpus` relation) is supplied."""
    ids, Cn = _collect_centroid_matrix(centroids)
    return _assign_with_matrix(embeddings, ids, Cn, id_col, emb_col, corpus=corpus,
                               with_sim=with_sim)


def _assign_with_matrix(embeddings: DataFrame | None, ids, Cn, id_col: str = "vec_id",
                        emb_col: str = "embedding",
                        corpus: DataFrame | None = None,
                        with_sim: bool = False) -> DataFrame:
    """ivf_assign body against an already-collected centroid matrix, so
    callers that need the matrix for several stages (assignment + probe
    selection) materialize the centroid relation exactly once. A shared
    ``corpus`` (:func:`decoded_corpus`) makes this pass read cached
    decoded blocks instead of re-scanning parquet."""
    from pyspark.sql.pandas.functions import pandas_udf

    def _score(v: pd.Series):
        """ONE scoring body for both UDF shapes — the rounding policy
        and tiebreak must never fork between the with_sim and plain
        paths (the e01 'incr' oracle depends on them being identical).
        Round to 6 BEFORE ranking (module floating policy, same
        half-away rule as the oracle); rows are ordered by list_id, so
        argmax's first-max rule reproduces the (sim desc, list_id asc)
        tiebreak."""
        M = np.stack(v.to_numpy())
        sims = _round6_half_away((M @ Cn.T) / np.linalg.norm(M, axis=1, keepdims=True))
        return np.argmax(sims, axis=1), sims

    if corpus is None:
        corpus = decoded_corpus(embeddings, id_col, emb_col, checkpoint=False)

    if with_sim:
        @pandas_udf("struct<list_id:int,sim:double>")
        def _best_sim(v: pd.Series) -> pd.DataFrame:
            best, sims = _score(v)
            return pd.DataFrame({
                "list_id": pd.Series(ids[best]).astype("int32"),
                "sim": sims[np.arange(len(best)), best],
            })

        return (
            corpus.select("vec_id", "v")
            .withColumn("_a", _best_sim(F.col("v")))
            .select("vec_id", "v", F.col("_a.list_id").alias("list_id"),
                    F.col("_a.sim").alias("sim"))
        )

    @pandas_udf("int")
    def _best(v: pd.Series) -> pd.Series:
        best, _sims = _score(v)
        return pd.Series(ids[best]).astype("int32")

    return corpus.select("vec_id", "v").withColumn("list_id", _best(F.col("v")))


def ivf_ann(embeddings: DataFrame | None = None, k: int = 5, nprobe: int = N_PROBE,
            query_pred: Column | None = None, query_ids: list[int] | None = None,
            id_col: str = "vec_id", emb_col: str = "embedding",
            refine_iterations: int = 0, corpus: DataFrame | None = None,
            centroids: DataFrame | None = None) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe`` nearest
    lists; candidates come from an equi-join on list_id (never a cross
    join against the corpus); exact cosine re-ranks candidates only.

    ``refine_iterations`` Lloyd steps (``ivf_refine``) run between
    centroid init and assignment; the refined centroid matrix is
    collected ONCE and closed over both the assignment and probe passes,
    so refinement costs its own corpus passes but never re-executes for
    the downstream stages.

    Complement to the LSH path: LSH buys recall with independent tables,
    IVF with probed lists — both confine the quadratic work to buckets."""
    from pyspark.sql import Window

    if query_pred is None:
        if query_ids is None:
            raise ValueError("ivf_ann needs query_ids or query_pred")
        # the predicate is applied to the normalized corpus relation,
        # whose id column is always named vec_id (as must any caller-
        # supplied query_pred's reference)
        query_pred = F.col("vec_id").isin(query_ids)
    if corpus is None:
        # no checkpoint by default: a standalone ivf_ann call runs each
        # pass once, and callers sharing passes (e01) pass their own
        # checkpointed relation in
        corpus = decoded_corpus(embeddings, id_col, emb_col, checkpoint=False)
    if centroids is not None:
        # caller-built quantizer (init + refinement already applied) —
        # lets several consumers (e01's ivf + semdedup arms) share ONE
        # materialized centroid relation instead of re-running Lloyd
        cents = centroids
    else:
        cents = ivf_centroids(corpus=corpus)
        if refine_iterations:
            cents = ivf_refine(None, cents, refine_iterations, corpus=corpus)
    ids, Cn = _collect_centroid_matrix(cents)
    assigned = _assign_with_matrix(None, ids, Cn, corpus=corpus)

    q = corpus.where(query_pred).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    cos = cosine_pd()
    # probe ranking on the ROUNDED centroid similarity — same cross-engine
    # rationale as ivf_assign, fused into the same one-Arrow-pass shape:
    # each query's nprobe nearest lists come out of a single matmul
    # against the closed-over centroid matrix (sim desc, list_id asc).
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<int>")
    def _probe_lists(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy())
        sims = _round6_half_away((M @ Cn.T) / np.linalg.norm(M, axis=1, keepdims=True))
        # stable argsort on -sim keeps the id-ascending input order for
        # rounded ties → (sim desc, list_id asc), same as the window form
        order = np.argsort(-sims, axis=1, kind="stable")
        return pd.Series([ids[row[:nprobe]].astype("int32").tolist() for row in order])

    probes = q.select(
        "query_id", "qv", F.explode(_probe_lists(F.col("qv"))).alias("list_id")
    )
    # no dedup needed: every vector lives in exactly ONE inverted list and
    # a query's probed list_ids are distinct, so the equi-join emits each
    # (query_id, vec_id) at most once — a dropDuplicates here would be a
    # pure no-op shuffle of the candidate set
    cands = (
        assigned.join(F.broadcast(probes), "list_id")
        .where(F.col("vec_id") != F.col("query_id"))
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cos(F.col("qv"), F.col("v")), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _ivf_assign_ctes(source: str, n_lists: int = N_LISTS,
                     refine_iterations: int = 0) -> str:
    """Shared CTE text (``ivf_cents0`` … ``ivf_assigned``) for the
    DuckDB twins of the IVF structure: sampled-init centroids (first
    n_lists by id), ``refine_iterations`` Lloyd steps (assignment with
    the (sim desc, list_id) tiebreak → per-list component-wise ROUNDED
    mean → empty lists keep the old centroid), nearest-centroid
    assignment. ``ivf_ann_sql`` and ``ivf_semdedup_sql`` both splice
    this in so the centroid trajectory is defined exactly once."""
    cos_ec = cosine_sql("CAST(e.embedding AS DOUBLE[])", "c.cv")
    refine_ctes = ""
    for i in range(1, refine_iterations + 1):
        prev = f"ivf_cents{i - 1}" if i > 1 else "ivf_cents0"
        # zipped unnests (DuckDB unnests in the same SELECT align
        # positionally) give (component position, value); the rebuilt
        # centroid is an ordered list() of the per-position rounded means
        refine_ctes += f"""
    asg{i} AS (
        SELECT vec_id, v, list_id FROM (
            SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.list_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY round({cos_ec}, 6) DESC, c.list_id) AS rn
            FROM {source} e CROSS JOIN {prev} c
        ) WHERE rn = 1
    ),
    mean{i} AS (
        SELECT list_id, pos, round(avg(x), 6) AS m FROM (
            SELECT list_id, unnest(v) AS x,
                   unnest(generate_series(1, len(v))) AS pos
            FROM asg{i}
        ) GROUP BY list_id, pos
    ),
    newc{i} AS (SELECT list_id, list(m ORDER BY pos) AS cv FROM mean{i} GROUP BY list_id),
    ivf_cents{i} AS (
        SELECT c.list_id, COALESCE(n.cv, c.cv) AS cv
        FROM {prev} c LEFT JOIN newc{i} n USING (list_id)
    ),"""
    final_cents = f"ivf_cents{refine_iterations}" if refine_iterations else "ivf_cents0"
    return f"""ivf_cents0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id,
               CAST(embedding AS DOUBLE[]) AS cv
        FROM (SELECT vec_id, embedding FROM {source} ORDER BY vec_id LIMIT {n_lists})
    ),{refine_ctes}
    ivf_csim AS (
        SELECT e.vec_id, c.list_id, round({cos_ec}, 6) AS csim
        FROM {source} e CROSS JOIN {final_cents} c
    ),
    ivf_assigned AS (
        SELECT vec_id, list_id FROM (
            SELECT vec_id, list_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, list_id) AS rn
            FROM ivf_csim
        ) WHERE rn = 1
    )"""


def ivf_ann_sql(source: str, k: int = 5, nprobe: int = N_PROBE,
                n_lists: int = N_LISTS, query_pred: str = "vec_id < 10",
                refine_iterations: int = 0) -> str:
    """DuckDB twin of ``ivf_ann``: the shared centroid/assignment CTEs
    (:func:`_ivf_assign_ctes`), nprobe probed lists per query, exact
    cosine re-rank on candidates. Returns a SELECT producing
    (query_id, neighbor_id, sim, rank)."""
    cos_ab = cosine_sql("CAST(a.embedding AS DOUBLE[])", "CAST(b.embedding AS DOUBLE[])")
    return f"""
    WITH {_ivf_assign_ctes(source, n_lists, refine_iterations)},
    ivf_probes AS (
        SELECT query_id, list_id FROM (
            SELECT vec_id AS query_id, list_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, list_id) AS pr
            FROM ivf_csim WHERE {query_pred}
        ) WHERE pr <= {nprobe}
    ),
    ivf_cands AS (
        SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
        FROM ivf_assigned a JOIN ivf_probes p ON a.list_id = p.list_id
        WHERE a.vec_id <> p.query_id
    ),
    ivf_rerank AS (
        SELECT cd.query_id, cd.neighbor_id, round({cos_ab}, 6) AS sim
        FROM ivf_cands cd
        JOIN {source} a ON a.vec_id = cd.query_id
        JOIN {source} b ON b.vec_id = cd.neighbor_id
    )
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rank
        FROM ivf_rerank
    ) WHERE rank <= {k}
    """


def ivf_refine(embeddings: DataFrame | None, centroids: DataFrame, iterations: int = 2,
               id_col: str = "vec_id", emb_col: str = "embedding",
               corpus: DataFrame | None = None) -> DataFrame:
    """Lloyd refinement of the coarse quantizer: assign → per-list
    element-wise mean → reassign, with assignment and the mean's partial
    sums FUSED into one Arrow pass. Each batch scores all lists with one
    matmul (same kernel as ``ivf_assign``) and emits per-list component
    sums + counts — nlist×dim rows per batch, not corpus×dim — so one
    Lloyd iteration costs one corpus pass plus a tiny (list, pos)
    aggregation. The centroid array is rebuilt with an order-pinned
    collect (sort by pos inside array_sort of (pos, mean) structs).

    The mean rounds to 6 decimals (module floating policy): the engines
    don't share summation order, so the rounding quantum — not fold
    order — is what makes refined centroids oracle-comparable.

    Empty lists keep their previous centroid (left join + coalesce), so
    the list count is stable across iterations."""
    if corpus is None:
        corpus = decoded_corpus(embeddings, id_col, emb_col, checkpoint=False)
    cents = centroids
    for _ in range(iterations):
        ids, Cn = _collect_centroid_matrix(cents)
        parts = corpus.select("v").mapInPandas(
            _make_lloyd_partials(ids, Cn), "list_id int, pos int, s double, n bigint"
        )
        # n repeats per pos within a batch's list rows, so sum(n) per
        # (list_id, pos) is the total member count for that list
        means = parts.groupBy("list_id", "pos").agg(
            F.round(F.sum("s") / F.sum("n"), 6).alias("m")
        )
        new_cents = (
            means.groupBy("list_id")
            .agg(F.collect_list(F.struct("pos", "m")).alias("_pm"))
            .select(
                "list_id",
                F.transform(
                    F.array_sort("_pm"), lambda s: s["m"]
                ).alias("cv"),
            )
        )
        cents = (
            cents.select("list_id", F.col("cv").alias("_old"))
            .join(new_cents, "list_id", "left")
            .select("list_id", F.coalesce("cv", "_old").alias("cv"))
        )
    return cents


def _make_lloyd_partials(ids, Cn):
    """One fused Lloyd pass: per Arrow batch, nearest-centroid assignment
    (identical rounding/tiebreak as ``_assign_with_matrix``) plus per-list
    component sums and member counts. Bound via factory so each iteration
    closes over ITS centroid matrix."""
    nlist, dim = Cn.shape

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["v"].to_numpy())
            sims = _round6_half_away((M @ Cn.T) / np.linalg.norm(M, axis=1, keepdims=True))
            best = np.argmax(sims, axis=1)
            acc = np.zeros((nlist, dim))
            np.add.at(acc, best, M)
            cnt = np.bincount(best, minlength=nlist)
            present = np.nonzero(cnt)[0]
            yield pd.DataFrame({
                "list_id": np.repeat(ids[present], dim).astype("int32"),
                "pos": np.tile(np.arange(dim), len(present)).astype("int32"),
                "s": acc[present].ravel(),
                "n": np.repeat(cnt[present], dim).astype("int64"),
            })

    return partials


def ivf_semdedup(embeddings: DataFrame | None = None, tau: float = 0.3,
                 id_col: str = "vec_id", emb_col: str = "embedding",
                 refine_iterations: int = 0, corpus: DataFrame | None = None,
                 centroids: DataFrame | None = None) -> DataFrame:
    """Semantic dedup in the SemDeDup shape (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the IVF coarse quantizer,
    then mark a vector REDUNDANT when some lower-id member of its
    cluster has cosine >= tau with it; the keeper reported is the
    minimum qualifying lower id (deterministic via lexicographic
    min(struct) — portable where min_by/arg_max tie choice is not).

    Returns (removed_id, keeper_id, sim, list_id) — one row per removed
    vector, sim = cosine(removed, keeper) rounded to 6.

    Shape: the pairwise stage is ONE applyInPandas over list_id groups —
    the corpus shuffles once (each vector rides to its cluster exactly
    once) and the quadratic work is confined to clusters, which is the
    SemDeDup contract: cluster count scales with corpus size precisely
    so that per-cluster pairwise stays bounded. Only qualifying bare-id
    pairs leave the pass; vectors never ride a second shuffle. At 100 TB
    the cluster groups land on executors by list_id partitioning and
    each group is a dense-matmul-sized batch."""
    if corpus is None:
        corpus = decoded_corpus(embeddings, id_col, emb_col, checkpoint=False)
    if centroids is not None:
        cents = centroids
    else:
        cents = ivf_centroids(corpus=corpus)
        if refine_iterations:
            cents = ivf_refine(None, cents, refine_iterations, corpus=corpus)
    ids, Cn = _collect_centroid_matrix(cents)
    assigned = _assign_with_matrix(None, ids, Cn, corpus=corpus)

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
                 "list_id": pd.Series(dtype="int32"), "sim": pd.Series(dtype="float64")}
            )
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        vids = pdf["vec_id"].to_numpy()[order]
        M = np.stack(pdf["v"].to_numpy()[order])
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        # round to 6 BEFORE the threshold compare (module floating
        # policy) so the tau cut is the same cut the oracle applies
        sims = _round6_half_away((M @ M.T) / (nrm * nrm.T))
        iu, ju = np.triu_indices(len(vids), k=1)
        keep = sims[iu, ju] >= tau
        return pd.DataFrame({
            "id_a": vids[iu[keep]], "id_b": vids[ju[keep]],
            "list_id": np.full(int(keep.sum()), pdf["list_id"].iloc[0], dtype="int32"),
            "sim": sims[iu, ju][keep],
        })

    qual = assigned.groupBy("list_id").applyInPandas(
        _pairs, "id_a bigint, id_b bigint, list_id int, sim double"
    )
    sel = qual.groupBy("id_b").agg(F.min(F.struct("id_a", "sim", "list_id")).alias("kp"))
    return sel.select(
        F.col("id_b").alias("removed_id"),
        F.col("kp.id_a").alias("keeper_id"),
        F.col("kp.sim").alias("sim"),
        F.col("kp.list_id").cast("int").alias("list_id"),
    )


def ivf_semdedup_sql(source: str, tau: float = 0.3, n_lists: int = N_LISTS,
                     refine_iterations: int = 0) -> str:
    """DuckDB twin of :func:`ivf_semdedup` — same centroid trajectory
    via the shared :func:`_ivf_assign_ctes`, within-list pairs, round-6
    cosine threshold, lexicographic min(struct) keeper."""
    cos_ab = cosine_sql("CAST(ea.embedding AS DOUBLE[])", "CAST(eb.embedding AS DOUBLE[])")
    return f"""
    WITH {_ivf_assign_ctes(source, n_lists, refine_iterations)},
    sd_pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.list_id,
               round({cos_ab}, 6) AS sim
        FROM ivf_assigned a
        JOIN ivf_assigned b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
        JOIN {source} ea ON ea.vec_id = a.vec_id
        JOIN {source} eb ON eb.vec_id = b.vec_id
    ),
    sd_sel AS (
        SELECT id_b,
               min(struct_pack(id_a := id_a, sim := sim, list_id := list_id)) AS kp
        FROM sd_pairs WHERE sim >= {tau}
        GROUP BY id_b
    )
    SELECT id_b AS removed_id, kp.id_a AS keeper_id, kp.sim AS sim,
           CAST(kp.list_id AS INT) AS list_id
    FROM sd_sel
    """
