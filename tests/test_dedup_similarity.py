"""Dedup + ANN library behavior on PLANTED near-duplicates (the synthetic
documents corpus has none at shingle level, so these tests inject them)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from wfc3_cte_monitor_spark.functions.dedup import (
    candidate_pairs,
    lsh_bands,
    minhash_signature,
    minhash_signature_pairs,
    simhash16,
)
from wfc3_cte_monitor_spark.functions.similarity import cosine_topk
from wfc3_cte_monitor_spark.functions.text import portable_hash64, shingles, tokens
from wfc3_cte_monitor_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def corpus_with_dups(spark, sf_smoke):
    """documents + near-dup copies of docs 0..4 (one word changed) and an
    exact dup of doc 5."""
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    near = (
        docs.where(F.col("doc_id") < 5)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzzz")).alias("text"),
        )
    )
    exact = docs.where(F.col("doc_id") == 5).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return docs.unionByName(near).unionByName(exact).cache()


def test_minhash_lsh_finds_planted_dups(corpus_with_dups):
    sig = minhash_signature(
        corpus_with_dups.select("doc_id", shingles("text", 3).alias("sh")), "doc_id", F.col("sh")
    )
    pairs = {(r.id_a, r.id_b) for r in candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id").collect()}
    # every planted near-dup pair must be a candidate
    for d in range(5):
        assert (d, d + 100000) in pairs, f"missed near-dup of doc {d}"
    assert (5, 200005) in pairs
    # and candidates stay sparse (no all-pairs explosion on unrelated docs)
    assert len(pairs) < 100


def test_simhash_exact_dup_collides(corpus_with_dups):
    sims = {r.doc_id: r.simhash for r in simhash16(
        corpus_with_dups.select("doc_id", tokens("text").alias("t")), "doc_id", F.col("t")
    ).collect()}
    assert sims[5] == sims[200005]  # identical text -> identical signature

    def hamming(a, b):
        return bin(a ^ b).count("1")

    # near-dups must be markedly closer than unrelated docs (16-bit
    # simhash on ~40-token docs is noisy; compare against the unrelated
    # baseline rather than an absolute bit count)
    near = [hamming(sims[d], sims[d + 100000]) for d in range(5)]
    unrelated = [hamming(sims[d], sims[d + 10]) for d in range(5)]
    assert sum(near) < sum(unrelated), (near, unrelated)
    assert max(near) <= 6, near  # far below the random-pair expectation of 8


def test_ann_lsh_recall_vs_bruteforce(spark, sf_smoke):
    from wfc3_cte_monitor_spark.plans.registry import load_all

    brute = load_all()["e01_cosine_topk"].fn(spark, sf_smoke).where(F.col("kind") == "brute")
    e02 = load_all()["e02_ann_neardup"].fn(spark, sf_smoke)
    top1 = {r.query_id: r.neighbor_id for r in brute.where(F.col("rank") == 1).collect()}
    ann_sets = {}
    for r in e02.where(F.col("kind") == "ann").collect():
        ann_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    # multi-table LSH (8 tables x 2 planes) should recover nearly all
    # true top-1 neighbors: expected recall 1-(1-p^2)^8 ~ 0.97 at p~0.6
    hits = sum(1 for q, n in top1.items() if n in ann_sets.get(q, set()))
    assert hits >= 8, f"ANN recall too low: {hits}/{len(top1)}"


def test_cosine_topk_self_excluded_and_ranked(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    out = cosine_topk(emb, k=5, query_pred=F.col("vec_id") < 3).collect()
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.sim))
    for q, rows in by_q.items():
        rows.sort()
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True)
        assert [r for r, _ in rows] == [1, 2, 3, 4, 5]


def test_embedding_neardup_matches_numpy_reference(spark, sf_smoke):
    # The bucketed near-dup pairs must equal {LSH-candidate pairs} ∩
    # {brute-force cosine >= tau}, recomputed independently in numpy
    # with the same fixed hyperplanes.
    import numpy as np

    from wfc3_cte_monitor_spark.functions.similarity import (
        ND_PLANES,
        ND_TABLES,
        _ND_SEED,
        hyperplanes,
        neardup_pairs,
    )

    tau = 0.35
    emb = load_table(spark, sf_smoke, "embeddings")
    got = {(r.id_a, r.id_b): r.sim for r in neardup_pairs(emb, tau).collect()}

    rows = sorted((r.vec_id, list(r.embedding)) for r in emb.collect())
    ids = [r[0] for r in rows]
    V = np.array([r[1] for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = Vn @ Vn.T

    planes = hyperplanes(64, ND_TABLES, ND_PLANES, _ND_SEED)
    cand = set()
    for t in range(ND_TABLES):
        P = np.array(planes[t])
        buckets = ((V @ P.T >= 0).astype(np.int64) @ (1 << np.arange(ND_PLANES))).tolist()
        by_bucket = {}
        for i, b in enumerate(buckets):
            by_bucket.setdefault(b, []).append(i)
        for members in by_bucket.values():
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    cand.add((members[x], members[y]))
    want = {
        (ids[i], ids[j])
        for i, j in cand
        if round(C[i, j], 6) >= tau
    }
    assert set(got) == want
    for (i, j), s in got.items():
        assert s >= tau and i < j


def test_dupfrac_planted_ground_truth(spark, sf_smoke):
    """The d03 'dupfrac' arm (Gopher-style duplicate-n-gram fraction)
    must hit its planted ground truth: a planted original's shingles are
    a strict subset of its plant's, so its fraction is exactly 1.0; the
    plant keeps at most one unique shingle (its suffix 3-gram), so its
    fraction is 1.0 or k/(k+1); unplanted docs report natural overlap,
    gated only to [0, 1]."""
    from wfc3_cte_monitor_spark.plans.dedup_queries import (
        _PLANT_MOD,
        d03_minhash_lsh,
    )

    docs = load_table(spark, sf_smoke, "documents")
    poff = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    rows = (
        d03_minhash_lsh(spark, sf_smoke)
        .where("which = 'dupfrac'")
        .collect()
    )
    assert rows, "dupfrac arm returned no rows"
    by_id = {r.k1: r for r in rows}
    planted = [i for i in by_id if i < poff and i % _PLANT_MOD == 0]
    assert planted, "no planted originals with shingles in the corpus"
    for i in planted:
        assert by_id[i].v == "1.000000", (i, by_id[i].v)
        plant = by_id.get(i + poff)
        assert plant is not None, f"plant of {i} has no dupfrac row"
        # every inherited shingle is shared with the original, so the
        # plant's unique count is 0 or 1 (its suffix 3-gram):
        # frac ∈ {1, k/(k+1)}
        assert plant.v in ("1.000000", f"{plant.k2 / (plant.k2 + 1):.6f}"), plant
    for i, r in by_id.items():
        assert 0.0 <= float(r.v) <= 1.0, (i, r.v)


def test_hll_estimate_tracks_exact_cardinality(spark, sf_smoke):
    """The d05 'hll' arm gates the RAW cross-engine-exact estimate plus
    its inputs (Zint, empty-register count V); the standard small-range
    correction applied HERE from those gated inputs must land within the
    m=1024 error envelope (~3.25% sigma; gate 4 sigma) of the exact
    per-domain distinct-token count carried on the same row."""
    import math

    from wfc3_cte_monitor_spark.plans.dedup_queries import (
        HLL_M,
        d05_minhash_accuracy,
    )

    rows = (
        d05_minhash_accuracy(spark, sf_smoke)
        .where("which = 'hll'")
        .collect()
    )
    assert len(rows) == 5  # en/es/fr/de/zh
    for r in rows:
        v_empty = r.k3
        assert 0 <= v_empty <= HLL_M
        # Zint decomposes as zhit + V*2^51 — so it is at least that floor
        assert r.k2 >= v_empty * (1 << 51)
        est = r.est_v
        if est <= 2.5 * HLL_M and v_empty > 0:
            est = HLL_M * math.log(HLL_M / v_empty)  # linear counting
        assert r.exact_v > 0
        assert abs(est / r.exact_v - 1.0) < 0.13, (r.exact_v, est, r)


def test_cms_estimate_bounds_exact_counts(spark, sf_smoke):
    """The d05 'cms' arm: Count-Min is a structural OVERestimate (min of
    per-row counters, each counter a superset sum), and with CMS_D=4
    independent rows over CMS_W=512 counters the heavy-hitter error at
    smoke scale should be a small fraction of the true count."""
    from wfc3_cte_monitor_spark.plans.dedup_queries import (
        CMS_TOP,
        d05_minhash_accuracy,
    )

    rows = (
        d05_minhash_accuracy(spark, sf_smoke).where("which = 'cms'").collect()
    )
    assert len(rows) == CMS_TOP
    for r in rows:
        assert r.k2 == int(r.exact_v) and r.k3 == int(r.est_v)
        assert r.est_v >= r.exact_v, r  # never underestimates
        assert r.est_v <= r.exact_v * 1.25 + 10, r  # and not wildly over


def test_bloom_no_false_negatives(spark, sf_smoke):
    """The d05 'bloom' arm: membership in the base (even-doc_id) half can
    never be missed by the filter; false positives are deterministic and
    must stay rare at the designed load (n << m bits)."""
    from wfc3_cte_monitor_spark.plans.dedup_queries import d05_minhash_accuracy

    rows = (
        d05_minhash_accuracy(spark, sf_smoke).where("which = 'bloom'").collect()
    )
    n_docs = len(rows)
    members = [r for r in rows if r.exact_v == 1.0]
    nonmembers = [r for r in rows if r.exact_v == 0.0]
    assert members and nonmembers and n_docs == len(members) + len(nonmembers)
    for r in members:
        assert r.est_v == 1.0, r  # no false negatives, ever
    fp = sum(1 for r in nonmembers if r.est_v == 1.0)
    assert fp <= max(2, 0.05 * len(nonmembers)), (fp, len(nonmembers))


def test_d02_representative_selection(spark, sf_smoke):
    """The d02 keep/rep columns: exactly one representative per cluster,
    and it is the member with the most distinct tokens (ties to the
    smallest doc_id) — recomputed from the raw corpus."""
    from collections import defaultdict

    from wfc3_cte_monitor_spark.plans.dedup_queries import d02_lsh_dedup_pipeline

    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", F.size(F.array_distinct(tokens("text"))).cast("bigint").alias("nu")
    ).collect()
    nu = {r.doc_id: r.nu for r in docs}

    all_rows = d02_lsh_dedup_pipeline(spark, sf_smoke).collect()
    rows = [r for r in all_rows if r.which == "full"]
    assert len(rows) == len(nu)
    # the incr_cc arm's maintained store must carry the same labeling
    full_labels = {r.doc_id: r.cluster_id for r in rows}
    incr_labels = {r.doc_id: r.cluster_id for r in all_rows if r.which == "incr_cc"}
    assert incr_labels == full_labels
    clusters = defaultdict(list)
    for r in rows:
        clusters[r.cluster_id].append(r)
    for cid, members in clusters.items():
        reps = {r.rep_id for r in members}
        assert len(reps) == 1
        expect = max(members, key=lambda r: (nu[r.doc_id], -r.doc_id)).doc_id
        assert reps == {expect}, (cid, reps, expect)
        kept = [r.doc_id for r in members if r.keep == 1]
        assert kept == [expect] or set(kept) == {expect}
        for r in members:
            assert r.keep == (1 if r.doc_id == expect else 0)


def test_duplicated_spans_merge_and_split(spark):
    """Hand-built corpus pins the gap-and-island semantics: A and D share
    two 5-token runs — adjacent in A (one merged span covering the whole
    doc), 10 tokens apart in D (two separate spans); C shares nothing."""
    from wfc3_cte_monitor_spark.functions.dedup import duplicated_spans

    rows = [
        (1, "a b c d e f g h i j"),                      # A: runs at pos 1 and 6 -> adjacent, merge
        (2, "a b c d e m m m m m f g h i j"),            # D: runs at pos 1 and 11 -> gap > k, split
        (3, "p q r s t u v w"),                          # C: no duplicated window
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["nt"], r["n_spans"], r["covered"])
        for r in duplicated_spans(docs, k=5).collect()
    }
    assert got == {
        1: (10, 1, 10),   # [1..5] and [6..10] touch -> one span, full coverage
        2: (15, 2, 10),   # [1..5] and [11..15] -> two spans, 10 covered
    }
    assert 3 not in got


def test_duplicated_spans_same_doc_repeat_not_duplicate(spark):
    """A run repeated WITHIN one doc only (ndocs == 1) is not a cross-doc
    duplicate — the >= 2 distinct-docs criterion must exclude it."""
    from wfc3_cte_monitor_spark.functions.dedup import duplicated_spans

    rows = [(1, "a b c d e x a b c d e"), (2, "q r s t u v w x y z")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert duplicated_spans(docs, k=5).count() == 0


def test_minhash_signature_pairs_hash_col_matches_default(spark):
    """``hash_col=`` trusts the caller that the column holds
    ``portable_hash64(shingle)`` (d03 passes its materialized hash): given
    exactly that column, the signatures must equal the default path's
    row for row."""
    rows = [
        (1, "a b c"), (1, "b c d"), (1, "c d e"),
        (2, "a b c"), (2, "x y z"),
        (3, "q r s"),
        (4, ""),
    ]
    pairs = spark.createDataFrame(rows, "doc_id long, shingle string")
    default = minhash_signature_pairs(pairs, "doc_id", "shingle")
    hashed = minhash_signature_pairs(
        pairs.withColumn("shid", portable_hash64(F.col("shingle"))),
        "doc_id", "shingle", hash_col="shid",
    )
    assert default.columns == hashed.columns
    got, want = sorted(hashed.collect()), sorted(default.collect())
    assert len(want) == 4
    assert got == want
