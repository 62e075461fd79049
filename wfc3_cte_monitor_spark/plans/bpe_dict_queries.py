"""Dictionary-form batched BPE + frozen-dictionary inference + decode —
the five ``t01_token_stats`` arms that oracle-gate the PRODUCTION
tokenizer form (r10 verdict ask #1).

t01's 'mergeB' arm gates the batched trainer in its h-EMBEDDED nid
scheme — cross-engine traceable, but int64-bounded to 7 merge slots.
The production form (``operators/bpe_batch.py batched_bpe_train_dict``)
re-keys the corpus to dense dictionary ids and allocates fresh
new-token ids above the dictionary: unbounded merge capacity and the
true-BPE identity (a merged token is a NEW symbol the pair counter can
distinguish). Until r11 it was tested only against the pure-python
witness; these arms make it carry CORRECTNESS entries like every other
first-class capability — hosted INSIDE t01 (the tokenizer mega-query)
because the driver's correctness gate checks at most 50 registered
queries, the same consolidation rule every single-operator check in
this repo follows (COVERAGE.md preamble; the r10 verdict's ask #1
offered exactly this placement: "gate a t01 'mergeD' arm").

The five arms, trained on the EVEN-doc_id half of the shared token-hash
corpus so inference genuinely sees out-of-vocabulary tokens, with
``T01D_ROUNDS × T01D_M = 4 × 3 = 12`` merges — deliberately past the
embedded scheme's 7-slot refusal, exercising exactly the capacity the
dictionary form exists for:

* ``dictD``   — dictionary summary: size + a bit_xor content
                fingerprint over hash64(tok:tid), pinning the full
                dense-id assignment;
* ``mergeD``  — one row per applied merge (round, rank, members,
                selection-time count, fresh nid above the vocab base);
                column layout mirrors 'mergeB' (n_chars ≡ ar,
                n_unique ≡ br, fp ≡ nid);
* ``encodeD`` — the training run's own encoded corpus: per-doc
                before/after lengths + encoded-sequence fingerprints;
* ``inferD``  — the frozen-artifact encode of the FULL corpus
                (``encode_with_dict``, rounds DERIVED from the vocab —
                the r10 ADVICE contract — with unseen tokens → OOV_ID):
                per-doc lengths, OOV count (n_chars), fingerprints;
* ``decodeD`` — the id-space ROUNDTRIP (``decode_with_dict``): unmerge
                the inference output in reverse round order and gate
                per-doc that it reproduces the translated-with-OOV
                original exactly (n_bpe_tokens ≡ the lossless-match
                flag — both engines must agree encode is a bijection,
                not merely agree on a fingerprint).

Scale shape (sf-independent): the dictionary build is one corpus
explode + distinct + ``salted_rank`` over order-range buckets (bucket
fan-out adaptive to vocabulary size; no global window, no hot key);
the translate pass is one posexplode + one tok-equi-join against the
vocabulary-sized dictionary (broadcast while it fits, co-partitioned
shuffle past the threshold) + one doc re-group; each training round is
ONE map-side-combined bigram-count shuffle over injectively-packed
bigints plus a row-local rewrite off a 1-row broadcast map; inference
and decode are LINEAR chains of row-local passes composed into single
lazy plans (checkpointed every 8 rounds for codegen depth). Driver-side
scalars: the dictionary COUNT (the nid allocation base) and the 1-row
vocab max(round) scans — bounded by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import materialize
from ..functions.text import portable_hash64, portable_hash64_sql

T01D_ROUNDS = 4  # training rounds gated
T01D_M = 3       # batched merges/round — 12 total, past the embedded 7-slot bound
T01D_TRAIN_MOD = 2  # train slice: doc_id % 2 == 0; odd docs are inference-only


def dict_bpe_ctes_sql(ths: str = "ths") -> str:
    """The DuckDB CTE block for the dictD/mergeD/encodeD/inferD/decodeD
    arms, consuming the shared token-hash relation ``ths``: the train
    slice, the dict-mode trainer chain (prefix 'bd'), the inference
    chain over the full corpus (prefix 'bi'), the decode chain
    (prefix 'bx')."""
    from ..operators.bpe_batch import (
        batched_bpe_ctes_sql,
        bpe_dict_decode_ctes_sql,
        bpe_dict_encode_ctes_sql,
    )

    return f"""thstr AS (
        SELECT doc_id, th FROM {ths} WHERE doc_id % {T01D_TRAIN_MOD} = 0
    ),
    {batched_bpe_ctes_sql('thstr', rounds=T01D_ROUNDS, m=T01D_M,
                          prefix='bd', dict_mode=True)},
    {bpe_dict_encode_ctes_sql(ths, rounds=T01D_ROUNDS,
                              trainer_prefix='bd', prefix='bi')},
    {bpe_dict_decode_ctes_sql(f'biths{T01D_ROUNDS}', rounds=T01D_ROUNDS,
                              trainer_prefix='bd', prefix='bx')}"""


def _fp_arr_sql(col: str) -> str:
    return portable_hash64_sql(
        f"coalesce(array_to_string(list_transform({col},"
        " x -> CAST(x AS VARCHAR)), ','), '')"
    )


def dict_bpe_arms_sql(ths: str = "ths") -> str:
    """The five UNION ALL selects in t01's 9-column layout
    (which, doc_id, chunk_id, n_tokens, n_bpe_tokens, n_chars,
    n_unique, punct_ratio, fp)."""
    return f"""
    SELECT 'dictD', CAST(-1 AS BIGINT), CAST(NULL AS INT),
           v.vb, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), f.dfp
    FROM bdvbc v, (SELECT bit_xor({portable_hash64_sql(
        "CAST(tok AS VARCHAR) || ':' || CAST(tid AS VARCHAR)")}) AS dfp
                   FROM bddict) f
    UNION ALL
    SELECT 'mergeD', ar * {1 << 31} + br,
           CAST(-(round * {T01D_M} + rnk) AS INT),
           cnt, CAST(rnk AS BIGINT), ar, br, CAST(NULL AS DOUBLE), nid
    FROM bdvocab
    UNION ALL
    SELECT 'encodeD', t0.doc_id, CAST(NULL AS INT),
           CAST(len(t0.th) AS BIGINT), CAST(len(te.th) AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), {_fp_arr_sql('te.th')}
    FROM thstr t0 JOIN bdths{T01D_ROUNDS} te USING (doc_id)
    UNION ALL
    SELECT 'inferD', t0.doc_id, CAST(NULL AS INT),
           CAST(len(t0.th) AS BIGINT), CAST(len(ti.th) AS BIGINT),
           CAST(len(list_filter(ti.th, x -> x < 0)) AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), {_fp_arr_sql('ti.th')}
    FROM {ths} t0 JOIN biths{T01D_ROUNDS} ti USING (doc_id)
    UNION ALL
    SELECT 'decodeD', t0.doc_id, CAST(NULL AS INT),
           CAST(len(dx.th) AS BIGINT),
           CAST(CASE WHEN dx.th = t0.th THEN 1 ELSE 0 END AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), {_fp_arr_sql('dx.th')}
    FROM biths0 t0 JOIN bxths{T01D_ROUNDS} dx USING (doc_id)"""


def dict_bpe_arms(thd: DataFrame) -> DataFrame:
    """Build the five Spark-side arms off the SHARED materialized
    token-hash relation ``thd`` (doc_id, th) — t01 pays the tokenize +
    hash pass once for all its arms. Returns one 9-column relation in
    t01's layout, union of dictD/mergeD/encodeD/inferD/decodeD."""
    from ..operators.bpe_batch import (
        OOV_ID,
        batched_bpe_train_dict,
        decode_with_dict,
        encode_with_dict,
        translate_corpus,
    )

    train = thd.where(F.col("doc_id") % T01D_TRAIN_MOD == 0)
    enc, vocab, dict_df = batched_bpe_train_dict(
        train, rounds=T01D_ROUNDS, m=T01D_M
    )
    # rounds intentionally omitted: derived from the vocab (the r10
    # ADVICE contract) — the gate exercises the derivation path.
    # materialized: the encoded corpus feeds two arms (inferD + the
    # decodeD roundtrip) — pay the lazy chain once
    inf = materialize(encode_with_dict(thd, dict_df, vocab))

    def _fp(col):
        return portable_hash64(
            F.coalesce(
                F.array_join(F.transform(col, lambda x: x.cast("string")), ","),
                F.lit(""),
            )
        )

    def _nulls():
        return [
            F.lit(None).cast("bigint").alias("n_chars"),
            F.lit(None).cast("bigint").alias("n_unique"),
            F.lit(None).cast("double").alias("punct_ratio"),
        ]

    # per-row hash via the Column-form portable_hash64 (the SQL-string
    # form is DuckDB dialect — its '0x…' hex cast doesn't parse in
    # Spark), then one bit_xor reduction
    dict_arm = dict_df.select(
        portable_hash64(
            F.concat(
                F.col("tok").cast("string"), F.lit(":"), F.col("tid").cast("string")
            )
        ).alias("_h")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.expr("bit_xor(_h)").alias("fp"),
    ).select(
        F.lit("dictD").alias("which"),
        F.lit(-1).cast("bigint").alias("doc_id"),
        F.lit(None).cast("int").alias("chunk_id"),
        "n_tokens",
        F.lit(None).cast("bigint").alias("n_bpe_tokens"),
        *_nulls(),
        "fp",
    )
    vocab_arm = vocab.select(
        F.lit("mergeD").alias("which"),
        (F.col("ar") * (1 << 31) + F.col("br")).alias("doc_id"),
        (-(F.col("round") * T01D_M + F.col("rnk"))).cast("int").alias("chunk_id"),
        F.col("cnt").alias("n_tokens"),
        F.col("rnk").cast("bigint").alias("n_bpe_tokens"),
        F.col("ar").alias("n_chars"),
        F.col("br").alias("n_unique"),
        F.lit(None).cast("double").alias("punct_ratio"),
        F.col("nid").alias("fp"),
    )
    encode_arm = (
        train.select("doc_id", F.size("th").cast("bigint").alias("_n0"))
        .join(enc, "doc_id")
        .select(
            F.lit("encodeD").alias("which"),
            "doc_id",
            F.lit(None).cast("int").alias("chunk_id"),
            F.col("_n0").alias("n_tokens"),
            F.size("th").cast("bigint").alias("n_bpe_tokens"),
            *_nulls(),
            _fp("th").alias("fp"),
        )
    )
    infer_arm = (
        thd.select("doc_id", F.size("th").cast("bigint").alias("_n0"))
        .join(inf, "doc_id")
        .select(
            F.lit("inferD").alias("which"),
            "doc_id",
            F.lit(None).cast("int").alias("chunk_id"),
            F.col("_n0").alias("n_tokens"),
            F.size("th").cast("bigint").alias("n_bpe_tokens"),
            F.size(F.filter("th", lambda x: x < F.lit(0)))
            .cast("bigint")
            .alias("n_chars"),
            F.lit(None).cast("bigint").alias("n_unique"),
            F.lit(None).cast("double").alias("punct_ratio"),
            _fp("th").alias("fp"),
        )
    )
    # decodeD: unmerging the inference output in reverse round order
    # must reproduce the translated-with-OOV original exactly; the
    # per-doc match flag is value-gated, so both engines must agree the
    # roundtrip is lossless, not merely agree on a fingerprint
    # rounds passed TRUSTED (validate_rounds=False): the vocab was
    # built with T01D_ROUNDS three lines up, and encode_with_dict above
    # already exercised (and gated) the derivation path — a second
    # eager max(round) scan here was one more sequential construction
    # job for zero information (r11 ADVICE / ask #3 barrier diet)
    dec = decode_with_dict(inf, vocab, rounds=T01D_ROUNDS, validate_rounds=False)
    tr0 = translate_corpus(thd, dict_df, oov_id=OOV_ID)
    decode_arm = (
        tr0.select("doc_id", F.col("th").alias("_t0"))
        .join(dec, "doc_id")
        .select(
            F.lit("decodeD").alias("which"),
            "doc_id",
            F.lit(None).cast("int").alias("chunk_id"),
            F.size("th").cast("bigint").alias("n_tokens"),
            F.when(F.col("th") == F.col("_t0"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("n_bpe_tokens"),
            *_nulls(),
            _fp("th").alias("fp"),
        )
    )
    return (
        dict_arm.unionAll(vocab_arm)
        .unionAll(encode_arm)
        .unionAll(infer_arm)
        .unionAll(decode_arm)
    )
