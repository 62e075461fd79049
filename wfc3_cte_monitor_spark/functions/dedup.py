"""Deduplication operators for a large-scale training-data pipeline.

Four families, each declarative and shuffle-conscious:

- EXACT: canonicalized-fingerprint groupBy — one shuffle on the
  fingerprint. The fingerprint is the sorted distinct token list, so
  token-order/whitespace/punctuation variants collapse.
- MINHASH + LSH: shingle → 60-bit portable hash → k permutations →
  per-doc signature (one shuffle) → banded keys → bucket join. The
  candidate join is on band keys, never all-pairs: at 100 TB the
  quadratic comparison happens only inside buckets.
- SIMHASH: per-token hash bit votes → 16-bit signature; near-dups share
  signatures (or signatures at small Hamming distance).
- NGRAM JACCARD: exact verification on candidate pairs (or a bounded
  subset) — intersect/union of distinct token sets.

All hashing is the md5-based portable hash (functions/text.py), so every
step is reproducible in DuckDB for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..checkpointing import materialize
from .text import portable_hash64, portable_hash64_sql

MERSENNE31 = 2_147_483_647  # 2^31 - 1, prime

N_HASHES = 16
BAND_SIZE = 4  # 4 bands × 4 rows

# Second-seed discriminator for fingerprint128 (any fixed literal works;
# xxhash64 folds every argument into one stream, so prepending a
# distinct constant yields a second 64-bit hash of the same function —
# a different value, but not an independent hash).
_FP_SEED2 = 0x9E3779B9


def fingerprint128(col: str | Column) -> tuple[Column, Column]:
    """Two 64-bit ``xxhash64`` fingerprints of a column — the
    exact-collapse group key (r13 verdict ask #1).

    The r13 collapses keyed the group id with ``min(id) OVER (PARTITION
    BY <content>)``: WindowExec has no map-side combine, so every
    clone's FULL payload (text / vector) rode the exchange and a
    mega-clone group landed on one reducer — the collapse's own shuffle
    inherited the hot key it exists to remove. Grouping on this
    fingerprint instead lets ``groupBy(fp).agg(min(id), min_by(...))``
    partially aggregate map-side (one row per distinct content per map
    partition crosses the wire); :func:`dup_groups` is that aggregate.

    128 bits, not 64: at 100 TB corpus sizes (~5e10 documents) a single
    64-bit hash collides by the birthday bound (expected at ~2^32
    rows). The two halves are NOT independent hashes: both are the same
    non-cryptographic function, the second over the input with a
    constant prepended, so they are correlated by construction. The
    collision bound is therefore empirical, for non-adversarial input:
    if the pair behaves like a 128-bit random hash on real content, the
    collision probability stays below 1e-17 at that scale and grouping
    by the pair is grouping by content. Adversarially chosen input
    (xxhash64 is not collision-resistant) can collide both halves, and
    a collision silently merges distinct contents; nothing here detects
    it. :func:`dup_groups` adds the content length to the group key,
    so a collision must also match length to merge two contents.
    xxhash64 handles strings and arrays alike
    (arrays hash element-wise), which covers text, names and embedding
    vectors with one definition.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c), F.xxhash64(F.lit(_FP_SEED2), c)


def dup_groups(df: DataFrame, id_col: str, content_col: str,
               *extra_aggs: Column) -> DataFrame:
    """Exact-duplicate groups of ``content_col``: one row per distinct
    content, ``(gid = min id, <content_col>, ids = member ids, *extra)``,
    lazily materialized once.

    The shared substrate of every EXACT-COLLAPSE-FIRST plan (d02, d03,
    e02): byte-identical contents produce identical shingles,
    signatures, bands and vectors, so the fuzzy stage runs once per
    distinct content and the group's ``ids`` array carries it back to
    member level row-locally — per-id arms ``explode(ids)``, pair arms
    :func:`expand_group_pairs` — with no membership relation and no
    join-back. On a duplicate-free corpus every group is a singleton
    and each expansion is a one-element explode.

    The group key is :func:`fingerprint128` plus the content's length
    (``length`` for strings, ``size`` for arrays), so a fingerprint
    collision must also match length before it merges two contents.
    ``groupBy`` on that key partially aggregates map-side: one row per
    distinct content per map partition crosses the wire, never a
    mega-clone group's payloads. ``extra_aggs`` are further aggregate
    columns over the members (e.g. "does the group hold a plant id")."""
    c = F.col(content_col)
    is_array = isinstance(df.schema[content_col].dataType, ArrayType)
    f1, f2 = fingerprint128(c)
    return (
        df.groupBy(
            f1.alias("_f1"), f2.alias("_f2"),
            (F.size(c) if is_array else F.length(c)).alias("_len"),
        )
        .agg(
            F.min(id_col).alias("gid"),
            F.min_by(content_col, id_col).alias(content_col),
            F.collect_list(id_col).alias("ids"),
            *extra_aggs,
        )
        .drop("_f1", "_f2", "_len")
        .transform(materialize)
    )


def self_candidates(groups: DataFrame, guard: Column | None = None) -> DataFrame:
    """``(ga, gb) = (gid, gid)`` for each multi-member group of
    :func:`dup_groups` output that passes ``guard``: the group's
    intra-group pairs as one group-level candidate. ``guard`` is the
    arm's condition for clones to be candidates of each other at all
    (e.g. "the text yields at least one shingle band")."""
    keep = F.size("ids") > 1
    return groups.where(keep if guard is None else keep & guard).select(
        F.col("gid").alias("ga"), F.col("gid").alias("gb")
    )


def expand_group_pairs(pairs: DataFrame, *keep: str) -> DataFrame:
    """Group pairs ``(ga, gb, ia, ib, *keep)`` → member pairs
    ``(id_a < id_b, *keep)``, row-locally.

    ``ia``/``ib`` are the two groups' member-id arrays (see
    :func:`dup_groups`). A group pair with ``ga == gb`` is the group's
    self-candidate and yields its intra-group pairs; any other pair
    yields the cross product. Group id ranges interleave, so
    least/greatest on the member ids (not the gid order) restores
    ``id_a < id_b``, and since each id sits in exactly one group no
    pair is emitted twice. The pair metric in ``keep`` was computed
    once per group pair and rides along."""
    return (
        pairs.select("ga", "gb", F.explode("ia").alias("_xa"), "ib", *keep)
        .select("ga", "gb", "_xa", F.explode("ib").alias("_xb"), *keep)
        .where((F.col("ga") != F.col("gb")) | (F.col("_xa") < F.col("_xb")))
        .select(
            F.least("_xa", "_xb").alias("id_a"),
            F.greatest("_xa", "_xb").alias("id_b"),
            *keep,
        )
    )


def _perm_params(n: int = N_HASHES) -> list[tuple[int, int]]:
    """Deterministic (a, b) for h_i(x) = (a*x + b) mod M — integer
    arithmetic only so Spark and DuckDB agree bit for bit."""
    return [
        ((1_000_003 * i + 12_345) % MERSENNE31 or 1, (999_983 * i + 54_321) % MERSENNE31)
        for i in range(1, n + 1)
    ]


def minhash_signature(df: DataFrame, id_col: str, shingle_col: Column,
                      n_hashes: int = N_HASHES) -> DataFrame:
    """One row per id with columns mh_0..mh_{n-1} (the MinHash signature).
    Explode → hash → groupBy(min) — map-side combinable, single shuffle."""
    exploded = df.select(id_col, F.explode(shingle_col).alias("shingle"))
    return minhash_signature_pairs(exploded, id_col, "shingle", n_hashes)


def minhash_signature_pairs(pairs: DataFrame, id_col: str, shingle_col: str = "shingle",
                            n_hashes: int = N_HASHES,
                            hash_col: str | None = None) -> DataFrame:
    """MinHash from pre-exploded (id, shingle) rows — the hot path used
    with text.exploded_shingles (codegen shingling, no per-element
    lambda). ``hash_col`` names a column already holding
    ``portable_hash64(shingle)`` — callers whose shingle relation
    carries the 60-bit hash anyway (d03 materializes it for the
    dupfrac count) skip a duplicate md5 pass over every
    (id, shingle) row."""
    base = F.col(hash_col) if hash_col else portable_hash64(F.col(shingle_col))
    h31 = (base % MERSENNE31).alias("_h")
    hashed = pairs.select(id_col, h31)
    aggs = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % MERSENNE31).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_perm_params(n_hashes))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_signature_sql(source: str, id_col: str, shingle_expr: str,
                          n_hashes: int = N_HASHES) -> str:
    """DuckDB twin of :func:`minhash_signature`. ``shingle_expr`` is a
    list-valued expression over ``source`` rows."""
    h = portable_hash64_sql("_shingle")
    mins = ", ".join(
        f"min(({a} * _h + {b}) % {MERSENNE31}) AS mh_{i}"
        for i, (a, b) in enumerate(_perm_params(n_hashes))
    )
    return f"""
    SELECT {id_col}, {mins}
    FROM (
        SELECT {id_col}, ({h}) % {MERSENNE31} AS _h
        FROM (SELECT {id_col}, unnest({shingle_expr}) AS _shingle FROM {source})
    )
    GROUP BY {id_col}
    """


def lsh_bands(sig: DataFrame, id_col: str, n_hashes: int = N_HASHES,
              band_size: int = BAND_SIZE) -> DataFrame:
    """Signature → (id, band_id, band_key): docs sharing a band_key are
    near-dup candidates. band_key is the concatenated band slice."""
    n_bands = n_hashes // band_size
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws("_", *[F.col(f"mh_{b * band_size + r}") for r in range(band_size)]).alias("band_key"),
        )
        for b in range(n_bands)
    ])
    return sig.select(id_col, F.explode(bands).alias("_b")).select(
        id_col, F.col("_b.band_id").alias("band_id"), F.col("_b.band_key").alias("band_key")
    )


def lsh_bands_sql(sig_source: str, id_col: str, n_hashes: int = N_HASHES,
                  band_size: int = BAND_SIZE) -> str:
    n_bands = n_hashes // band_size
    rows = []
    for b in range(n_bands):
        key = " || '_' || ".join(
            f"CAST(mh_{b * band_size + r} AS VARCHAR)" for r in range(band_size)
        )
        rows.append(f"SELECT {id_col}, {b} AS band_id, {key} AS band_key FROM ({sig_source})")
    return " UNION ALL ".join(rows)


def candidate_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Bucket join: pairs sharing any band key (id_a < id_b, distinct)."""
    a = bands.select(F.col(id_col).alias("id_a"), "band_id", "band_key")
    b = bands.select(F.col(id_col).alias("id_b"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash16(df: DataFrame, id_col: str, token_col: Column,
              nbits: int = 16) -> DataFrame:
    """``nbits``-wide SimHash per id (default 16): per-token hash bits
    vote ±1; bit set when the vote sum is >= 0. Integer-exact on both
    engines. 16 bits suits a profile/shard column (t02); near-dup
    DETECTION wants 32 — on a shared-vocabulary corpus the 16-bit
    signature concentrates (sf0.1: 5000 docs → 1996 distinct values,
    218k Hamming≤1 pairs) while 32 bits discriminates (4676 distinct,
    4.7k pairs)."""
    exploded = df.select(id_col, F.explode(token_col).alias("_tok"))
    h = portable_hash64(F.col("_tok"))
    hashed = exploded.select(id_col, h.alias("_h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(nbits)
    ]
    agged = hashed.groupBy(id_col).agg(*votes)
    sim = None
    for j in range(nbits):
        bit = F.when(F.col(f"v_{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = bit if sim is None else (sim + bit)
    return agged.select(id_col, sim.cast("bigint").alias("simhash"))


def simhash16_sql(source: str, id_col: str, token_expr: str,
                  nbits: int = 16) -> str:
    h = portable_hash64_sql("_tok")
    votes = ", ".join(
        f"sum(CASE WHEN (_h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{j}" for j in range(nbits)
    )
    bits = " + ".join(f"CASE WHEN v_{j} >= 0 THEN {1 << j} ELSE 0 END" for j in range(nbits))
    return f"""
    SELECT {id_col}, CAST({bits} AS BIGINT) AS simhash
    FROM (
        SELECT {id_col}, {votes}
        FROM (
            SELECT {id_col}, {h} AS _h
            FROM (SELECT {id_col}, unnest({token_expr}) AS _tok FROM {source})
        )
        GROUP BY {id_col}
    )
    """


def duplicated_spans(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 5) -> DataFrame:
    """Span-level exact-substring dedup (the ExactSubstr removal shape):
    positional token k-gram windows whose hash occurs in >= 2 distinct
    docs are duplicated; per doc, overlapping/adjacent duplicated
    windows merge gap-and-island into maximal spans.

    Returns one row per doc WITH at least one duplicated span:
    (id, nt=token count, n_spans, covered=tokens inside spans).

    Shape: the window relation is corpus-token-sized but row-local to
    build (posexplode + lead, codegen); the duplicate set is one
    map-side-combined groupBy on the 60-bit window hash; the hit probe
    is a semi-join co-located on that hash; the island merge sorts only
    within id partitions (bounded by doc length). No all-pairs stage.
    """
    from pyspark.sql import Window

    from .text import tokens

    tok = docs.select(id_col, tokens(text_col).alias("t")).where(F.size("t") >= k)
    ex = tok.select(id_col, F.size("t").alias("nt"), F.posexplode("t").alias("p0", "tok"))
    wp = Window.partitionBy(id_col).orderBy("p0")
    win = (
        ex.select(
            id_col, "nt", (F.col("p0") + 1).alias("pos"),
            # concat_ws skips NULLs — the lead(k-1) IS NOT NULL filter
            # is what drops the ragged tail windows
            F.concat_ws(
                " ", "tok", *[F.lead("tok", j).over(wp) for j in range(1, k)]
            ).alias("sh"),
            F.lead("tok", k - 1).over(wp).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select(id_col, "nt", "pos", portable_hash64("sh").alias("h"))
        # feeds BOTH the duplicate-set aggregation and the hit probe —
        # materialize so tokenize+window runs once (diamond hygiene)
        .transform(materialize)
    )
    dup = (
        win.groupBy("h")
        .agg(F.countDistinct(id_col).alias("ndocs"))
        .where(F.col("ndocs") >= 2)
        .select("h")
    )
    hits = win.join(dup, "h", "leftsemi")
    wd = Window.partitionBy(id_col).orderBy("pos")
    isl = hits.select(
        id_col, "nt", "pos",
        F.when(F.col("pos") - F.lag("pos", 1).over(wd) > k, 1).otherwise(0).alias("brk"),
    ).withColumn("island", F.sum("brk").over(wd))
    sp = isl.groupBy(id_col, "island").agg(
        F.first("nt").alias("nt"),
        (F.max("pos") + F.lit(k - 1) - F.min("pos") + F.lit(1)).alias("span_len"),
    )
    return sp.groupBy(id_col).agg(
        F.first("nt").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("span_len").cast("bigint").alias("covered"),
    )


def deletion_signatures(name: Column | str) -> Column:
    """All single-character-deletion variants of a string PLUS the string
    itself — the deletion-neighborhood blocking key set for fuzzy joins
    under edit distance 1 (d03 'fuzzy' arm; FastSS-style spell-check
    indexing). Pigeonhole guarantee (tested by
    tests/test_properties.py::test_deletion_signature_pigeonhole): two
    strings within Levenshtein distance 1 share at least one signature —
    substitution at position i ⇒ both-delete-i collide; insert/delete ⇒
    the shorter string equals one of the longer one's deletions and is
    its own signature. len+1 signatures per row, so the index is
    linear-size and candidates come from a signature equi-join, never
    all-pairs."""
    c = F.col(name) if isinstance(name, str) else name
    return F.transform(
        F.sequence(F.lit(0), F.length(c)),
        lambda i: F.concat(c.substr(F.lit(1), i), c.substr(i + 2, F.length(c))),
    )


def fuzzy_candidates(named: DataFrame, id_col: str, name_col: str,
                     pair_filter: Column | None = None) -> DataFrame:
    """(id, name) → distinct candidate pairs (id_a < id_b) whose names are
    POSSIBLY within edit distance 1 (deletion-signature collision);
    verify with ``F.levenshtein(...) <= 1`` on the pair join-back. The
    signature explode is row-local; the only shuffle is the signature
    equi-join. ``pair_filter`` (on id_a/id_b) is applied INSIDE the join,
    before the pair dedup, so a restriction (e.g. pairs touching a
    planted id) prunes the quadratic-in-block work, not just the
    output."""
    sigs = named.select(
        F.col(id_col).alias("_fz_id"),
        F.explode(deletion_signatures(name_col)).alias("_fz_sig"),
    )
    pairs = (
        sigs.select(F.col("_fz_id").alias("id_a"), "_fz_sig")
        .join(sigs.select(F.col("_fz_id").alias("id_b"), "_fz_sig"), "_fz_sig")
        .where(F.col("id_a") < F.col("id_b"))
    )
    if pair_filter is not None:
        pairs = pairs.where(pair_filter)
    return pairs.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
