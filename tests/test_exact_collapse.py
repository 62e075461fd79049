"""Focused tests for the EXACT-COLLAPSE-FIRST plans.

The sf10 scale ladder showed that byte-identical content (100-clone
groups under pure corpus duplication) makes every signature-bucket
self-join quadratic in clone-group size — e02's near-dup join spilled
past the free disk and died. The remedy groups exact duplicates
(``functions.dedup.dup_groups``) BEFORE the fuzzy stage and expands each
group's member-id array afterwards, in ``functions.similarity.
neardup_pairs`` (e02), d02's verify stage and d03's document and fuzzy
arms. It is the only plan these queries have, so it must be
OUTPUT-INVISIBLE on any corpus: these tests exercise it on corpora with
real clone clusters, which the shipped test data mostly lacks (sf0.01
has zero duplicate texts/vectors); tests/test_oracle_parity.py covers
the duplicate-free corpora.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from wfc3_cte_monitor_spark.sources.catalog import TABLES, table_path


def _clone_table(src: str, dst: str, id_col: str, mod: int, offsets) -> None:
    """Copy a parquet table and append byte-identical clones of every
    row with id % mod == 0 at id + offset for each offset (id ranges of
    different groups interleave, so least/greatest re-ordering in the
    expansion paths is exercised)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(src)
    parts = [t]
    mask = pa.array(t[id_col].to_numpy() % mod == 0)
    base = t.filter(mask)
    for off in offsets:
        ids = pc.add(base[id_col], off)
        parts.append(base.set_column(t.schema.get_field_index(id_col), id_col, ids))
    pq.write_table(pa.concat_tables(parts), dst)


def _append_short_doc_clones(dst: str) -> None:
    """Append a clone GROUP whose text has fewer than k=3 tokens: such
    a group produces zero 3-gram shingles, hence no MinHash signature
    and no LSH bands, so under the band-candidate semantics the oracle
    mirrors its clone pairs are NOT near-dup edges. Regression for the
    r13 collapse: the intra-group expansion must not synthesize them
    (caught live — the unguarded expansion merged the clones into one
    cluster while the oracle kept three singletons)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(dst)
    mx = max(t["doc_id"].to_pylist())
    txt = "alpha beta"
    extra = pa.table({
        "doc_id": pa.array([mx + 1, mx + 1000, mx + 2000], type=pa.int64()),
        "text": pa.array([txt] * 3),
        "lang": pa.array(["en"] * 3),
        "source": pa.array(["clone-test"] * 3),
        "n_chars": pa.array([len(txt)] * 3, type=pa.int64()),
    }).select(t.schema.names).cast(t.schema)
    pq.write_table(pa.concat_tables([t, extra]), dst)


@pytest.fixture(scope="module")
def clone_dir(tmp_path_factory) -> str:
    """sf0.001 with clone clusters: every 5th document and every 4th
    embedding gets two byte-identical clones at interleaving id ranges;
    all other tables are the sf0.001 originals (part already carries
    ~3x name duplication naturally)."""
    src_dir = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("clone_sf")
    for t in TABLES:
        src = table_path(src_dir, t)
        dst = table_path(str(d), t)
        if t == "documents":
            _clone_table(src, dst, "doc_id", 5, (1_000_000, 2_000_000))
            _append_short_doc_clones(dst)
        elif t == "embeddings":
            _clone_table(src, dst, "vec_id", 4, (1_000_000, 2_000_000))
        else:
            os.symlink(src, dst)
    return str(d)


@pytest.mark.parametrize(
    "name",
    ["e02_ann_neardup", "d02_lsh_dedup_pipeline", "d03_minhash_lsh",
     "d01_dedup_exact"],
)
def test_collapsed_queries_match_oracle_on_clone_corpus(spark, clone_dir, name):
    # The driver's own gate machinery (row count + schema + value
    # comparison vs the DuckDB oracle) over a corpus WITH exact-dup
    # clusters: the cross-group expansion, the self-candidates' intra
    # pairs (and their guards, via the short-doc clone group) and the
    # per-doc explode(ids) expansions all carry real weight here. d01
    # rides along as the control on the same data.
    from wfc3_cte_monitor_spark.testing.oracle import compare_query

    res = compare_query(spark, name, clone_dir)
    assert res.ok, str(res)
    assert res.spark_rows > 0


def test_dup_groups_splits_fingerprint_collisions_by_length(spark, monkeypatch):
    # A fingerprint128 collision must also match the content's length
    # (length for strings, size for arrays) before dup_groups merges two
    # contents: with the fingerprint pinned to a constant, every content
    # collides, and only the length keeps different contents apart.
    from pyspark.sql import functions as F

    from wfc3_cte_monitor_spark.functions import dedup as fd

    monkeypatch.setattr(fd, "fingerprint128", lambda c: (F.lit(0), F.lit(0)))

    def groups(rows, schema):
        df = spark.createDataFrame(rows, schema)
        return sorted(sorted(r.ids) for r in fd.dup_groups(df, "id", "c").collect())

    texts = [(1, "ab"), (2, "abc"), (3, "xyz"), (4, "abcd"), (5, "ab")]
    assert groups(texts, "id long, c string") == [[1, 5], [2, 3], [4]]
    vecs = [(1, [1.0]), (2, [1.0, 2.0]), (3, [3.0, 4.0]), (4, [1.0, 2.0, 3.0])]
    assert groups(vecs, "id long, c array<double>") == [[1], [2, 3], [4]]


def _assert_neardup_pairs_match_numpy(spark, ids, vecs, tau) -> dict:
    """neardup_pairs on (ids, vecs) against an independent numpy
    recomputation: LSH candidate pairs ∩ cosine >= tau. A NaN cosine
    (zero vector) never passes the threshold. Returns the pairs."""
    from wfc3_cte_monitor_spark.functions.similarity import (
        ND_PLANES,
        ND_TABLES,
        _ND_SEED,
        hyperplanes,
        neardup_pairs,
    )

    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {(r.id_a, r.id_b): r.sim for r in neardup_pairs(df, tau).collect()}

    V = np.array(vecs)
    order = np.argsort(ids)
    ids_s = [ids[i] for i in order]
    Vs = V[order]
    planes = hyperplanes(64, ND_TABLES, ND_PLANES, _ND_SEED)
    cand = set()
    for t in range(ND_TABLES):
        P = np.array(planes[t])
        buckets = ((Vs @ P.T >= 0).astype(np.int64) @ (1 << np.arange(ND_PLANES))).tolist()
        by_bucket: dict[int, list[int]] = {}
        for i, b in enumerate(buckets):
            by_bucket.setdefault(b, []).append(i)
        for members in by_bucket.values():
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    i, j = members[x], members[y]
                    cand.add((min(ids_s[i], ids_s[j]), max(ids_s[i], ids_s[j])))
    with np.errstate(divide="ignore", invalid="ignore"):
        Vn = Vs / np.linalg.norm(Vs, axis=1, keepdims=True)
    C = Vn @ Vn.T
    idx_of = {v: i for i, v in enumerate(ids_s)}
    want = {}
    for (a, b) in cand:
        sim = float(np.round(C[idx_of[a], idx_of[b]] * 1e6) / 1e6)
        if sim >= tau:
            want[(a, b)] = sim
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 2e-6, (k, got[k], want[k])
    return got


def _base_vectors(n: int, seed: int) -> np.ndarray:
    # round so float32->float64 widening is exact in both paths
    return np.round(np.random.default_rng(seed).standard_normal((n, 64)), 3)


def test_neardup_pairs_clone_clusters_match_numpy(spark):
    # Pure-function check of neardup_pairs against numpy on a synthetic
    # corpus that is MOSTLY clones: 12 base vectors x 4 byte-identical
    # copies with interleaved ids. Every output pair class is present:
    # intra-group (identical vectors), inter-group expanded, and pairs
    # between singleton groups.
    base = _base_vectors(12, 4242)
    ids, vecs = [], []
    for i in range(12):
        for rep, off in enumerate((0, 100, 200, 300)):
            ids.append(i + off if rep else i)
            vecs.append(base[i])
    _assert_neardup_pairs_match_numpy(spark, ids, vecs, 0.30)


@pytest.mark.parametrize("corpus", ["hot_key", "zero_vectors"])
def test_neardup_pairs_adversarial_corpora_match_numpy(spark, corpus):
    # hot_key: one 40-clone group (all-duplicate content on one key)
    # plus 8 singletons; every intra pair must come out, once each.
    # zero_vectors: a 3-clone group of zero vectors among the same 8
    # singletons; its cosine is NaN (0/0), so no pair touching it may
    # be emitted, intra-group pairs included.
    base = _base_vectors(9, 777)
    clone = base[0] if corpus == "hot_key" else np.zeros(64)
    k = 40 if corpus == "hot_key" else 3
    ids = [1000 + 7 * j for j in range(k)] + list(range(1, 9))
    vecs = [clone] * k + [base[i] for i in range(1, 9)]
    got = _assert_neardup_pairs_match_numpy(spark, ids, vecs, 0.30)
    clone_ids = set(ids[:k])
    intra = {p for p in got if p[0] in clone_ids and p[1] in clone_ids}
    if corpus == "hot_key":
        assert len(intra) == k * (k - 1) // 2
    else:
        assert not any(p[0] in clone_ids or p[1] in clone_ids for p in got)
