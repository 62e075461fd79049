"""Batched-merge BPE trainer: apply the top-m pairwise-compatible merge
winners per round, one Spark job per ROUND instead of one per merge.

The gated k=3 trainer (plans/text_queries.py t01 'merge*' arms) applies
ONE winner per iteration — correct, but a production tokenizer build is
10^4–10^5 merges, and one-job-per-merge makes a 30k vocab 30k
sequential jobs (the r8 verdict's "only operator whose real-scale form
is structurally different from its gated form"). This module is the
scale form: each round snapshots the bigram counts once, selects up to
``m`` high-rank candidates whose member residues are PAIRWISE DISJOINT,
and applies them all in a single positional pass — O(vocab/m) jobs.

Semantics, precisely:

* Candidates are ranked by the sequential trainer's exact tiebreak
  ``(cnt DESC, h ASC, mx ASC)`` after dropping self-pairs (ar == br),
  within a probe window of the top ``probe_mult·m`` candidates.
* The batch keeps candidate x iff x shares no member residue with ANY
  higher-ranked candidate in the window (a conservative prefix rule —
  a kept set under it is always mutually disjoint), then truncates to
  the first ``m`` kept by rank.
* Disjoint members ⇒ no token belongs to two batch pairs ⇒ each
  position matches at most one pair ⇒ ONE left-to-right pass applies
  the whole batch exactly as applying its members one at a time, in
  any order (``tests/test_bpe_batch.py`` proves batched ≡ sequential
  application on the same winner set, and m=1 ≡ the sequential
  trainer's winner/apply semantics).
* Counts refresh once per ROUND, not per merge — the standard batched
  tokenizer-trainer approximation; with m=1 the recurrence degenerates
  to the strictly-sequential greedy.

Scale shape: per round, one explode + map-side-combined count shuffle
over 60-bit bigint keys (identical to the sequential trainer's), two
broadcast self-joins over the ≤ probe_mult·m-row candidate window, and
one broadcast of a 1-row map relation carrying ≤ m (ar → (br, nid))
entries; the corpus relation is rewritten by a row-local array
transform and materialized per round (lineage truncation). No driver
collects anywhere — the loop is fully lazy, rounds is a static
parameter (same contract as the sequential trainer's k).

The degenerate-winner guard is INHERENT here: an empty batch produces
an empty map (the map relation is a global agg — always exactly one
row), every lookup returns NULL, and the pass is the identity — the r8
cross-join-empties-the-corpus failure mode cannot occur.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import materialize

# pair key = (ha % 2^30)·2^30 + hb % 2^30 — must agree with the gated
# trainer in plans/text_queries.py (same packing, same tiebreak)
PAIR_PACK = 1 << 30
NID_BASE = 1 << 60  # new-token ids live above the 60-bit pair-key space

# The nid scheme (h + slot·2^60, slot = round·m + rnk, 1-based) is the
# SAME iteration-indexed scheme the gated sequential trainer uses
# (nid = h + w·2^60) — which int64 bounds to SEVEN merge slots: with
# h < 2^60, slot·2^60 + h < 2^63 requires slot ≤ 7 (DuckDB errors at
# slot 8; ANSI Spark likewise). The bound is enforced, not documented-
# only, in all three twins. It is a REPRESENTATION limit orthogonal to
# the operator's scale story (jobs-per-merge): a production vocab build
# re-keys winners to contiguous dictionary ids from the vocab relation
# (one node-scale projection per round) instead of carrying the
# traceable h-embedded ids the cross-engine gate wants.
NID_SLOTS_MAX = 7


def bigram_counts(ths: DataFrame, pack: int = PAIR_PACK) -> DataFrame:
    """(h, mx, cnt) over adjacent token-residue pairs of ``ths`` —
    ``ths``: (doc_id, th array<bigint>). Same packing, same tiebreak
    columns as the sequential trainer's pair vocab (ndocs omitted: the
    trainer ranks on (cnt, h, mx) only). ``pack`` parameterizes the
    pair key base: PAIR_PACK (2^30 residues, the gate-traceable
    h-embedded scheme) or DICT_PACK (2^31, dense dictionary ids where
    ``id % pack == id`` — injective packing, true-BPE identity).

    NOT materialized (r12): both trainers consume the counts exactly
    once (compatible_topm's ordered limit, which IS checkpointed), so
    a checkpoint here was a pure extra job barrier per training round
    — part of the ~30 sequential-job construction the r11 verdict's
    dictD price-spread hypothesis points at."""
    return (
        ths.where(F.size("th") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(th)-1),"
                    " i -> struct(element_at(th, i) AS ha,"
                    " element_at(th, i+1) AS hb))"
                )
            ).alias("p")
        )
        .select(
            (
                (F.col("p.ha") % pack) * pack + F.col("p.hb") % pack
            ).alias("h"),
            F.col("p.ha").bitwiseXOR(F.col("p.hb")).alias("mx"),
        )
        .groupBy("h", "mx")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def _rank_small(df: DataFrame, cols=("cnt", "h", "mx")) -> DataFrame:
    """Rank a POST-LIMIT candidate window by (cnt DESC, h, mx) without a
    global window (the repo-wide no-unpartitioned-window rule): a
    broadcast inequality self-join counts strict predecessors. Input
    must already be bounded (≤ probe window rows)."""
    c, h, mx = cols
    return (
        df.alias("x")
        .join(
            F.broadcast(df.alias("y")),
            F.expr(
                f"y.{c} > x.{c} OR (y.{c} = x.{c} AND y.{h} < x.{h}) "
                f"OR (y.{c} = x.{c} AND y.{h} = x.{h} AND y.{mx} < x.{mx})"
            ),
            "left",
        )
        .groupBy(f"x.{c}", f"x.{h}", f"x.{mx}")
        .agg((F.count(f"y.{h}") + 1).cast("int").alias("rnk"))
        .select(F.col(h), F.col(mx), F.col(c), "rnk")
    )


def compatible_topm(
    counts: DataFrame,
    m: int,
    round_idx: int,
    probe_mult: int = 4,
    pack: int = PAIR_PACK,
    vocab_base: int | None = None,
) -> DataFrame:
    """The round's batch: up to ``m`` pairwise-compatible winners from
    the top ``probe_mult·m`` candidates → (ar, br, nid, rnk).

    nid scheme: with ``vocab_base=None`` (default, the gated form)
    ``nid = h + (round_idx·m + batch_rank)·2^60`` — h-embedded,
    cross-engine traceable, 7-slot int64 bound. With ``vocab_base=V``
    (the dictionary form) ``nid = V + round_idx·m + batch_rank - 1`` —
    a fresh dense id above the V-token dictionary, no slot bound."""
    if m < 1:
        raise ValueError(f"batch size m must be >= 1, got {m}")
    window = max(probe_mult * m, m + 2)
    top = materialize(
        counts.where(F.expr(f"h DIV {pack} <> h % {pack}"))
        .orderBy(F.desc("cnt"), F.asc("h"), F.asc("mx"))
        .limit(window)
    )
    rnk = _rank_small(top).selectExpr(
        "h", "mx", "cnt", "rnk",
        f"h DIV {pack} AS ar", f"h % {pack} AS br",
    )
    # conservative prefix rule: drop x if ANY higher-ranked candidate in
    # the window shares a member residue with it
    survivors = (
        rnk.alias("x")
        .join(
            F.broadcast(rnk.alias("y")),
            F.expr(
                "y.rnk < x.rnk AND (y.ar = x.ar OR y.ar = x.br "
                "OR y.br = x.ar OR y.br = x.br)"
            ),
            "left_anti",
        )
        .select("h", "mx", "cnt", "ar", "br")
    )
    batch = _rank_small(survivors).where(F.col("rnk") <= m)
    nid_expr = (
        f"h + ({round_idx} * {m} + rnk) * {NID_BASE} AS nid"
        if vocab_base is None
        else f"CAST({vocab_base} + {round_idx} * {m} + rnk - 1 AS BIGINT) AS nid"
    )
    return batch.selectExpr(
        f"h DIV {pack} AS ar",
        f"h % {pack} AS br",
        nid_expr,
        "rnk",
        "cnt",
    )


def apply_merge_batch(ths: DataFrame, batch: DataFrame, pack: int = PAIR_PACK) -> DataFrame:
    """One positional pass applying every (ar, br, nid) of ``batch`` to
    the token arrays. The batch rides a 1-row broadcast MAP relation
    (ar → (br, nid)); map keys are unique because batch members are
    pairwise disjoint. Same residue-matching semantics as the
    sequential trainer's CASE (left-to-right greedy, i+1 lookahead via
    try_element_at for DuckDB-compatible NULL-past-the-end; map lookups
    via try_element_at too — a non-member residue must yield NULL →
    identity, never an ANSI lookup error)."""
    mp = batch.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("ar"), F.struct("br", "nid")))
        ).alias("_mp")
    )
    apply_expr = f"""filter(transform(sequence(1, size(th)), i -> CASE
        WHEN i > 1 AND try_element_at(_mp, element_at(th, greatest(i - 1, 1))
                 % {pack}).br = element_at(th, i) % {pack}
            THEN CAST(NULL AS BIGINT)
        WHEN try_element_at(_mp, element_at(th, i) % {pack}).br
                 = try_element_at(th, i + 1) % {pack}
            THEN try_element_at(_mp, element_at(th, i) % {pack}).nid
        ELSE element_at(th, i) END), x -> x IS NOT NULL)"""
    return ths.join(F.broadcast(mp), F.lit(True), "left").select(
        "doc_id",
        F.when(F.size("th") >= 2, F.expr(apply_expr))
        .otherwise(F.col("th"))
        .alias("th"),
    )


def batched_bpe_train(
    ths: DataFrame, rounds: int, m: int, probe_mult: int = 4,
    counts0: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run ``rounds`` batched rounds of up to ``m`` merges each over
    ``ths`` (doc_id, th). Returns (encoded corpus, vocab) where vocab is
    one row per applied winner: (round, rnk, ar, br, nid, cnt) — cnt is
    the pair's bigram count at selection time, gateable against the SQL
    twin. Fully lazy; the corpus relation is materialized per round so
    round r's plan never re-embeds rounds 1..r-1.

    ``counts0`` (r13): an optional precomputed round-0 pair-count
    relation — any superset projection of ``bigram_counts(ths)``'s
    (h, mx, cnt) with identical packing/tiebreak columns. A caller that
    already aggregated the corpus's pair vocabulary (t01's sequential
    trainer materializes exactly this as its iteration-1 relation)
    passes it here and the round-0 corpus-wide explode+count — one of
    the two corpus passes a cold training round costs — is skipped
    entirely. Later rounds always recount (the corpus changed)."""
    if rounds < 1:
        raise ValueError(f"batched_bpe_train needs rounds >= 1, got {rounds}")
    if rounds * m > NID_SLOTS_MAX:
        raise ValueError(
            f"rounds*m = {rounds * m} exceeds the {NID_SLOTS_MAX}-slot nid "
            "space (see NID_SLOTS_MAX: slot*2^60 + h overflows int64 past "
            "slot 7; re-key to dictionary ids for larger vocab builds)"
        )
    cur = ths
    vocab: DataFrame | None = None
    for r in range(rounds):
        counts = (
            counts0 if r == 0 and counts0 is not None else bigram_counts(cur)
        )
        batch = materialize(compatible_topm(counts, m, r, probe_mult))
        tagged = batch.select(
            F.lit(r).cast("int").alias("round"), "rnk", "ar", "br", "nid", "cnt"
        )
        vocab = tagged if vocab is None else vocab.unionAll(tagged)
        cur = materialize(apply_merge_batch(cur, batch))
    return cur, vocab


# ---------------------------------------------------------------------------
# Dictionary-id form: the PRODUCTION re-key path the h-embedded scheme's
# 7-slot bound points at (NID_SLOTS_MAX above). Two differences, both
# deliberate:
#   1. CAPACITY — new-token ids are dense ints above the dictionary, so
#      merge count is bounded by DICT_PACK, not by 7 int64 slots.
#   2. SEMANTICS — under the h-embedded scheme a merged token's residue
#      (nid % 2^30) EQUALS its right member's residue, so in later
#      rounds the pair counter cannot tell them apart (a deliberate
#      property shared with the gated sequential trainer so the two
#      cross-check). Dictionary ids are fresh, so a merged token is a
#      NEW symbol — the true-BPE identity a production tokenizer needs.
# tests/test_bpe_batch.py pins both: dict ≡ embedded where the schemes
# coincide (single round — no merged token can re-enter the counts),
# dict ≡ the python dict-mode witness over multiple rounds, and a
# 12-merge build that the embedded scheme's slot check refuses.

DICT_PACK = 1 << 31  # ids < 2^31 ⇒ id % DICT_PACK == id and
#                      a·DICT_PACK + b < 2^62: injective int64 packing


def dense_token_ids_with_count(
    ths: DataFrame, n_buckets: int | None = None
) -> tuple[DataFrame, int | None]:
    """((tok, tid) relation, vocabulary count) — every distinct token
    value of ``ths`` mapped to a dense id 0..V-1 ordered by token
    value. Built WITHOUT a global window: `salted_rank` over a single
    group spreads the rank computation across order-range buckets (the
    same order-correlated salt that fixes mega-key window skew) — the
    only single-task relations are the broadcast per-bucket
    bounds/offsets.

    ``n_buckets=None`` (default) adapts the bucket fan-out to the
    vocabulary size: one bucket per ~64k distinct tokens, capped at
    256 — a small vocabulary ranks in one task instead of paying the
    256-bucket bounds/offset machinery in stage latency, a 100 TB
    vocabulary still spreads across 256. The count that adaptation
    needs is the nid allocation base ``batched_bpe_train_dict`` pays
    anyway, so it is returned EXPLICITLY as the tuple's second element
    (None when an explicit ``n_buckets`` made counting unnecessary) —
    r11 ADVICE: the former dynamic-attribute channel silently dropped
    the count across any intermediate transformation."""
    from .salting import salted_rank

    # materialized: salted_rank evaluates its input's lineage three
    # times (bounds / rank pass / bucket counts), and this lineage is a
    # corpus-wide explode+distinct shuffle — pay it once
    toks = materialize(ths.select(F.explode("th").alias("tok")).distinct())
    v: int | None = None
    if n_buckets is None:
        v = toks.count()
        n_buckets = min(256, v // 65536 + 1)
    out = salted_rank(
        toks.withColumn("_g", F.lit(1)), "_g", "tok", n_buckets=n_buckets, out="_r"
    ).select("tok", (F.col("_r").cast("bigint") - 1).alias("tid"))
    return out, v


def dense_token_ids(ths: DataFrame, n_buckets: int | None = None) -> DataFrame:
    """Relation-only convenience form of
    :func:`dense_token_ids_with_count` (same plan, count discarded)."""
    return dense_token_ids_with_count(ths, n_buckets)[0]


OOV_ID = -1  # unseen-token id for frozen-dictionary encoding: negative,
#              so it can never collide with a dictionary or merge id and
#              every map lookup on it misses (identity under apply)


def translate_corpus(
    ths: DataFrame, dict_df: DataFrame, oov_id: int | None = None
) -> DataFrame:
    """Rewrite (doc_id, th) token-hash arrays into dictionary-id arrays
    via ``dict_df`` (tok, tid). One posexplode + one equi-join on tok
    (the dictionary is vocabulary-sized: Catalyst broadcasts it while it
    fits, a co-partitioned shuffle join past the threshold) + one doc_id
    re-group; empty docs survive via the left join-back.

    ``oov_id=None`` (training): every token is by construction in the
    dictionary — inner join. ``oov_id=k`` (frozen-dictionary encoding):
    unseen tokens map to ``k`` instead of being dropped."""
    pos = ths.select("doc_id", F.posexplode("th").alias("pos", "tok"))
    if oov_id is None:
        hit = pos.join(dict_df, "tok").select("doc_id", "pos", "tid")
    else:
        hit = pos.join(dict_df, "tok", "left").select(
            "doc_id",
            "pos",
            F.coalesce("tid", F.lit(oov_id).cast("bigint")).alias("tid"),
        )
    arr = hit.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))),
            lambda s: s["tid"],
        ).alias("th")
    )
    # Output width note (r11, measured): AQE's byte-targeted coalescing
    # collapses this tiny-at-gate-scale relation (dense ints compress
    # hard) to ONE partition, so the downstream training rounds run
    # single-task at sf0.1. That is the RIGHT call and is deliberately
    # kept: post-translate rows are int arrays whose per-row cost is
    # proportional to their bytes — exactly the cost model AQE's
    # heuristic assumes — so at 100 TB the same heuristic keeps full
    # width. Forcing an explicit 32-way repartition here was tried and
    # REVERTED: it made t01 ~3 s slower at sf0.1 (32 tasks × ~12
    # stages/round of scheduling overhead against milliseconds of
    # actual work) while buying nothing at scale. Contrast `spread`
    # (sources/catalog.py), which exists for RAW-TEXT relations whose
    # per-row cost (regex + md5 per char) is far above their bytes.
    return ths.select("doc_id").join(arr, "doc_id", "left").select(
        "doc_id",
        F.coalesce("th", F.expr("CAST(array() AS ARRAY<BIGINT>)")).alias("th"),
    )


def encode_with_dict(
    ths: DataFrame,
    dict_df: DataFrame,
    vocab: DataFrame,
    rounds: int | None = None,
    validate_rounds: bool = True,
) -> DataFrame:
    """Tokenizer INFERENCE: encode (doc_id, th) token-hash docs with a
    FROZEN dictionary + merge vocab from ``batched_bpe_train_dict`` —
    the pass a production pipeline runs over every new corpus shard
    after training once. Unseen tokens become ``OOV_ID`` (negative —
    every merge-map lookup on it misses, so it rides through verbatim).

    Per round the vocab slice is pairwise-disjoint BY CONSTRUCTION
    (that is what compatible_topm guarantees), so each round is one
    positional pass; batches from different rounds are NOT mutually
    disjoint and must apply in round order — ``rounds`` passes total,
    each a row-local rewrite off a broadcast ≤m-entry map. The vocab
    relation is bounded (≤ rounds·m rows), never corpus-sized.

    Unlike the TRAINER loop (whose round-r counts re-read round r-1's
    corpus, forcing per-round materialization), inference is a LINEAR
    chain — each round's output feeds only the next — so the passes
    compose into one lazy plan: ONE job for the whole encode instead
    of one per round (measured: −1.4 s of pure job-scheduling latency
    at gate scale). A checkpoint every ``_MAT_EVERY`` rounds bounds
    the generated-code depth on deep production vocab builds.

    ``rounds=None`` (default) derives the round count from the vocab
    itself (max(round)+1 — one 1-row scan of the bounded vocab
    relation). An explicit ``rounds`` smaller than what the vocab
    carries would SILENTLY skip the later merge rounds
    (under-encoding with no error — r10 ADVICE), so it is validated
    and raises; a larger value is a harmless no-op and stays allowed
    (the extra passes see empty batches → identity).
    ``validate_rounds=False`` with an explicit ``rounds`` skips that
    1-row validation scan so the builder stays fully lazy (r11
    ADVICE) — only safe when ``rounds`` comes from the code path that
    built the vocab."""
    rounds = _vocab_rounds(vocab, rounds, "encode_with_dict", validate_rounds)
    _MAT_EVERY = 8
    cur = translate_corpus(ths, dict_df, oov_id=OOV_ID)
    for r in range(rounds):
        batch = vocab.where(F.col("round") == r).select("ar", "br", "nid")
        cur = apply_merge_batch(cur, batch, pack=DICT_PACK)
        if (r + 1) % _MAT_EVERY == 0 and r + 1 < rounds:
            cur = materialize(cur)
    return cur


def _vocab_rounds(
    vocab: DataFrame, rounds: int | None, who: str, validate: bool = True
) -> int:
    """Round count for a frozen-vocab pass: derived from the vocab
    (max(round)+1 — one 1-row scan of the bounded vocab relation) when
    ``rounds`` is None; an explicit under-covering value raises (it
    would silently skip merge rounds — r10 ADVICE), a larger one is a
    harmless identity no-op. ``validate=False`` with an explicit
    ``rounds`` skips the scan entirely (r11 ADVICE: the eager 1-row
    collect turns a lazy plan builder into a driver-blocking call) —
    opt out only when ``rounds`` comes from the same code path that
    built the vocab, because an under-covering value then under-encodes
    SILENTLY."""
    if rounds is not None and not validate:
        return rounds
    max_round = vocab.agg(F.max("round").alias("_mr")).collect()[0]["_mr"]
    n_rounds = 0 if max_round is None else int(max_round) + 1
    if rounds is None:
        return n_rounds
    if rounds < n_rounds:
        raise ValueError(
            f"{who} rounds={rounds} does not cover the vocab's "
            f"{n_rounds} merge rounds — the later rounds would be silently "
            "skipped; pass rounds=None to derive it"
        )
    return rounds


def expand_merge_batch(ths: DataFrame, batch: DataFrame) -> DataFrame:
    """Inverse of :func:`apply_merge_batch` for ONE round: every merged
    token id in ``batch`` (ar, br, nid) expands back to its member pair
    [ar, br]; all other ids (dictionary ids, OOV_ID, other rounds'
    nids) ride through. Row-local flatten-transform off a 1-row
    broadcast nid-keyed map; an empty batch makes the map NULL and the
    pass the identity (same degenerate guard as apply)."""
    mp = batch.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("nid"), F.struct("ar", "br")))
        ).alias("_dmp")
    )
    expr = """flatten(transform(th, x -> CASE
        WHEN try_element_at(_dmp, x) IS NOT NULL
        THEN array(try_element_at(_dmp, x).ar, try_element_at(_dmp, x).br)
        ELSE array(x) END))"""
    return ths.join(F.broadcast(mp), F.lit(True), "left").select(
        "doc_id", F.expr(expr).alias("th")
    )


def decode_with_dict(
    enc: DataFrame,
    vocab: DataFrame,
    rounds: int | None = None,
    validate_rounds: bool = True,
) -> DataFrame:
    """Tokenizer DECODE: invert :func:`encode_with_dict` in id space —
    expand each round's merges in REVERSE round order (round r's fresh
    nids may contain earlier rounds' nids as members, so later rounds
    must unmerge first), recovering the dictionary-id translation of
    the original corpus exactly. OOV_ID is a fixpoint (never a map
    key). Lossless by construction: encode is a bijection between the
    translated corpus and (encoded corpus, vocab).

    Like encode, decode is a LINEAR chain of row-local rewrites — the
    passes compose into one lazy plan, checkpointed every ``_MAT_EVERY``
    rounds for codegen depth. ``rounds``/``validate_rounds`` semantics
    as in :func:`encode_with_dict` (an explicit trusted ``rounds`` with
    ``validate_rounds=False`` keeps the builder lazy — r11 ADVICE)."""
    rounds = _vocab_rounds(vocab, rounds, "decode_with_dict", validate_rounds)
    _MAT_EVERY = 8
    cur = enc
    for i, r in enumerate(reversed(range(rounds))):
        batch = vocab.where(F.col("round") == r).select("ar", "br", "nid")
        cur = expand_merge_batch(cur, batch)
        if (i + 1) % _MAT_EVERY == 0 and i + 1 < rounds:
            cur = materialize(cur)
    return cur


def bpe_dict_decode_ctes_sql(
    src: str, rounds: int, trainer_prefix: str = "bb", prefix: str = "bx"
) -> str:
    """DuckDB twin of :func:`decode_with_dict`: expand ``src``
    (doc_id, th encoded id arrays) through ``{trainer_prefix}map{r}``
    in REVERSE round order, nid-keyed. Read the decoded corpus from
    ``{prefix}ths{rounds}``."""
    if rounds < 1:
        raise ValueError(f"bpe_dict_decode needs rounds >= 1, got {rounds}")
    parts = []
    cur = src
    for i, r in enumerate(reversed(range(rounds))):
        parts.append(f"""{prefix}ths{i + 1} AS (
        SELECT doc_id,
               flatten(list_transform(th, x -> CASE
                   WHEN list_position(nids, x) > 0
                   THEN [ars[list_position(nids, x)],
                         brs[list_position(nids, x)]]
                   ELSE [x] END)) AS th
        FROM {cur} LEFT JOIN {trainer_prefix}map{r} ON TRUE
    )""")
        cur = f"{prefix}ths{i + 1}"
    return ",\n    ".join(parts)


def batched_bpe_train_dict(
    ths: DataFrame, rounds: int, m: int, probe_mult: int = 4
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The dictionary-id batched trainer: re-keys the corpus to dense
    ids, then runs ``rounds`` × ``m`` batched merges with fresh new-token
    ids allocated above the dictionary. Returns (encoded corpus in
    dictionary ids, vocab rows (round, rnk, ar, br, nid, cnt) — ar/br/
    nid all dictionary ids, and the dictionary itself (tok, tid)).

    The single driver-side scalar is the dictionary COUNT (the
    allocation base) — one number, not data. Everything else matches
    ``batched_bpe_train``'s shape: one count shuffle + one row-local
    rewrite per round, relations materialized per round."""
    if rounds < 1:
        raise ValueError(f"batched_bpe_train_dict needs rounds >= 1, got {rounds}")
    if m < 1:
        raise ValueError(f"batch size m must be >= 1, got {m}")
    dense, vocab_base = dense_token_ids_with_count(ths)
    dict_df = materialize(dense)
    # the adaptive-bucket path already counted the vocabulary; reuse it
    if vocab_base is None:
        vocab_base = dict_df.count()
    # max allocated nid is vocab_base + rounds*m - 1; it must stay < DICT_PACK
    if vocab_base + rounds * m - 1 >= DICT_PACK:
        raise ValueError(
            f"dictionary size {vocab_base} + {rounds * m} merges exceeds "
            f"DICT_PACK={DICT_PACK}: ids would no longer pack injectively"
        )
    cur = materialize(translate_corpus(ths, dict_df))
    vocab: DataFrame | None = None
    for r in range(rounds):
        batch = materialize(
            compatible_topm(
                bigram_counts(cur, pack=DICT_PACK),
                m,
                r,
                probe_mult,
                pack=DICT_PACK,
                vocab_base=vocab_base,
            )
        )
        tagged = batch.select(
            F.lit(r).cast("int").alias("round"), "rnk", "ar", "br", "nid", "cnt"
        )
        vocab = tagged if vocab is None else vocab.unionAll(tagged)
        cur = materialize(apply_merge_batch(cur, batch, pack=DICT_PACK))
    return cur, vocab, dict_df


def _apply_pass_ctes_sql(cur: str, map_cte: str, out_cte: str, pack: int) -> str:
    """One DuckDB positional-apply pass: rewrite ``cur`` (doc_id, th)
    through the 1-row aligned-lists map relation ``map_cte`` into
    ``out_cte``. The map lookup uses ``list_position`` (0 for a miss) +
    list indexing (``l[0]`` → NULL), so a non-member residue falls
    through to identity exactly like the Spark twin's try_element_at;
    an empty batch makes the map lists NULL (DuckDB ``list()`` over
    zero rows) and the whole pass the identity."""
    return f"""{out_cte} AS (
        SELECT doc_id,
               CASE WHEN len(th) >= 2 THEN
               list_filter(list_transform(range(1, len(th) + 1), i -> CASE
                   WHEN i > 1 AND brs[list_position(ars,
                            th[greatest(i - 1, 1)] % {pack})]
                        = th[i] % {pack} THEN NULL
                   WHEN brs[list_position(ars, th[i] % {pack})]
                        = th[i + 1] % {pack}
                        THEN nids[list_position(ars, th[i] % {pack})]
                   ELSE th[i] END), x -> x IS NOT NULL)
               ELSE th END AS th
        FROM {cur} LEFT JOIN {map_cte} ON TRUE
    )"""


def _translate_ctes_sql(
    src: str, dict_cte: str, prefix: str, oov_id: int | None
) -> list[str]:
    """CTEs rewriting ``src`` (doc_id, th) through ``dict_cte``
    (tok, tid) into ``{prefix}ths0`` — the DuckDB twin of
    ``translate_corpus``: positional unnest, tok-equi-join (inner when
    every token is known, left + coalesce(oov) for frozen-dictionary
    inference), order-preserving list() re-group, left join-back so
    empty docs survive."""
    join = (
        f"JOIN {dict_cte} d ON d.tok = p.tok"
        if oov_id is None
        else f"LEFT JOIN {dict_cte} d ON d.tok = p.tok"
    )
    tid = "d.tid" if oov_id is None else f"coalesce(d.tid, CAST({oov_id} AS BIGINT))"
    return [
        f"""{prefix}pos AS (
        SELECT doc_id, i, th[i] AS tok
        FROM {src}, UNNEST(range(1, len(th) + 1)) AS u(i)
    )""",
        f"""{prefix}tr AS (
        SELECT p.doc_id, list({tid} ORDER BY p.i) AS th
        FROM {prefix}pos p {join}
        GROUP BY p.doc_id
    )""",
        f"""{prefix}ths0 AS (
        SELECT s.doc_id, coalesce(t.th, CAST([] AS BIGINT[])) AS th
        FROM {src} s LEFT JOIN {prefix}tr t USING (doc_id)
    )""",
    ]


def batched_bpe_ctes_sql(
    src: str,
    rounds: int,
    m: int,
    probe_mult: int = 4,
    prefix: str = "bb",
    dict_mode: bool = False,
) -> str:
    """DuckDB twin as a generated CTE chain (same pattern as
    ``integer_pagerank_ctes_sql``): ``src`` must be a relation with
    columns (doc_id, th LIST(BIGINT)). Emits, per round r,
    ``{prefix}agg{r}`` (bigram counts), ``{prefix}top{r}`` (the ranked
    probe window), ``{prefix}keep{r}`` (prefix-disjoint survivors),
    ``{prefix}batch{r}`` (the applied batch), ``{prefix}map{r}``
    (1-row aligned-lists map relation), ``{prefix}ths{r+1}`` (the
    rewritten corpus) — plus ``{prefix}vocab`` unioning every round's
    batch as (round, rnk, ar, br, nid, cnt). Read the encoded corpus
    from ``{prefix}ths{rounds}``.

    ``dict_mode=False`` (default): the h-embedded nid scheme
    (``batched_bpe_train``'s twin — PAIR_PACK packing, 7-slot bound).
    ``dict_mode=True``: the DICTIONARY-ID scheme, the twin of
    ``batched_bpe_train_dict`` (r10 verdict ask #1) — additionally
    emits ``{prefix}dict`` (tok → dense tid 0..V-1 ordered by token
    value, `row_number()` over the distinct-token relation — the
    DuckDB equivalent of ``dense_token_ids``), ``{prefix}vbc`` (the
    1-row dictionary COUNT, the nid allocation base) and
    ``{prefix}pos/tr/ths0`` (the translate pass), then runs the rounds
    over dictionary ids with DICT_PACK packing and fresh dense nids
    ``vb + round·m + rnk − 1`` — no slot bound, true-BPE identity."""
    if rounds < 1:
        raise ValueError(f"batched_bpe_train needs rounds >= 1, got {rounds}")
    if m < 1:
        raise ValueError(f"batch size m must be >= 1, got {m}")
    if not dict_mode and rounds * m > NID_SLOTS_MAX:
        raise ValueError(
            f"rounds*m = {rounds * m} exceeds the {NID_SLOTS_MAX}-slot nid "
            "space (slot*2^60 + h overflows int64 past slot 7)"
        )
    pack = DICT_PACK if dict_mode else PAIR_PACK
    window = max(probe_mult * m, m + 2)
    parts = []
    if dict_mode:
        parts.append(f"""{prefix}dict AS (
        SELECT tok,
               CAST(row_number() OVER (ORDER BY tok) - 1 AS BIGINT) AS tid
        FROM (SELECT DISTINCT unnest(th) AS tok FROM {src})
    )""")
        parts.append(
            f"{prefix}vbc AS (SELECT CAST(count(*) AS BIGINT) AS vb "
            f"FROM {prefix}dict)"
        )
        parts.extend(_translate_ctes_sql(src, f"{prefix}dict", prefix, None))
        cur = f"{prefix}ths0"
    else:
        cur = src
    for r in range(rounds):
        parts.append(f"""{prefix}agg{r} AS (
        SELECT h, mx, CAST(count(*) AS BIGINT) AS cnt
        FROM (
            SELECT (ha % {pack}) * {pack} + hb % {pack} AS h,
                   xor(ha, hb) AS mx
            FROM (SELECT th[i] AS ha, th[i+1] AS hb
                  FROM {cur}, UNNEST(range(1, len(th))) AS u(i))
        ) GROUP BY h, mx
    )""")
        parts.append(f"""{prefix}top{r} AS (
        SELECT h, mx, cnt, h // {pack} AS ar, h % {pack} AS br,
               CAST(row_number() OVER (ORDER BY cnt DESC, h, mx) AS INT) AS rnk
        FROM {prefix}agg{r} WHERE h // {pack} <> h % {pack}
        ORDER BY cnt DESC, h, mx LIMIT {window}
    )""")
        parts.append(f"""{prefix}keep{r} AS (
        SELECT x.h, x.mx, x.cnt, x.ar, x.br
        FROM {prefix}top{r} x
        WHERE NOT EXISTS (
            SELECT 1 FROM {prefix}top{r} y
            WHERE y.rnk < x.rnk AND (y.ar = x.ar OR y.ar = x.br
                                     OR y.br = x.ar OR y.br = x.br))
    )""")
        nid_sql = (
            f"vb + {r} * {m} + rnk - 1 AS nid"
            if dict_mode
            else f"h + ({r} * {m} + rnk) * (1::BIGINT << 60) AS nid"
        )
        vb_from = f", {prefix}vbc" if dict_mode else ""
        parts.append(f"""{prefix}batch{r} AS (
        SELECT ar, br, {nid_sql},
               rnk, cnt
        FROM (SELECT *, CAST(row_number() OVER (ORDER BY cnt DESC, h, mx)
                             AS INT) AS rnk
              FROM {prefix}keep{r}){vb_from}
        WHERE rnk <= {m}
    )""")
        parts.append(f"""{prefix}map{r} AS (
        SELECT list(ar ORDER BY rnk) AS ars, list(br ORDER BY rnk) AS brs,
               list(nid ORDER BY rnk) AS nids
        FROM {prefix}batch{r}
    )""")
        parts.append(
            _apply_pass_ctes_sql(cur, f"{prefix}map{r}", f"{prefix}ths{r + 1}", pack)
        )
        cur = f"{prefix}ths{r + 1}"
    parts.append(
        f"{prefix}vocab AS ("
        + "\n        UNION ALL ".join(
            f"SELECT CAST({r} AS INT) AS round, rnk, ar, br, nid, cnt "
            f"FROM {prefix}batch{r}"
            for r in range(rounds)
        )
        + ")"
    )
    return ",\n    ".join(parts)


def bpe_dict_encode_ctes_sql(
    src: str, rounds: int, trainer_prefix: str = "bb", prefix: str = "bi"
) -> str:
    """DuckDB twin of ``encode_with_dict`` — the frozen-dictionary
    INFERENCE pass: encode ``src`` (doc_id, th token-hash arrays) with
    the dictionary and per-round merge maps already emitted by a
    dict-mode :func:`batched_bpe_ctes_sql` chain under
    ``trainer_prefix``. Unseen tokens translate to ``OOV_ID`` (left
    join + coalesce — every map lookup on it misses, so it rides
    through verbatim), then the rounds apply IN ORDER reusing
    ``{trainer_prefix}map{r}``. Read the encoded corpus from
    ``{prefix}ths{rounds}``."""
    if rounds < 1:
        raise ValueError(f"bpe_dict_encode needs rounds >= 1, got {rounds}")
    parts = _translate_ctes_sql(src, f"{trainer_prefix}dict", prefix, OOV_ID)
    cur = f"{prefix}ths0"
    for r in range(rounds):
        parts.append(
            _apply_pass_ctes_sql(
                cur, f"{trainer_prefix}map{r}", f"{prefix}ths{r + 1}", DICT_PACK
            )
        )
        cur = f"{prefix}ths{r + 1}"
    return ",\n    ".join(parts)


def batched_bpe_py(
    docs: dict[int, list[int]],
    rounds: int,
    m: int,
    probe_mult: int = 4,
    pack: int = PAIR_PACK,
    vocab_base: int | None = None,
) -> tuple[dict[int, list[int]], list[tuple]]:
    """Pure-python reference of the SAME recurrence (the tests' second
    witness): ``docs`` maps doc_id → token-hash list. Returns (encoded
    docs, vocab rows (round, rnk, ar, br, nid, cnt)). With
    ``vocab_base``/``pack=DICT_PACK`` it is the dictionary-mode witness
    (fresh dense nids, no slot bound) over already-translated ids."""
    if vocab_base is None and rounds * m > NID_SLOTS_MAX:
        raise ValueError(
            f"rounds*m = {rounds * m} exceeds the {NID_SLOTS_MAX}-slot nid "
            "space (slot*2^60 + h overflows int64 past slot 7)"
        )
    cur = {d: list(t) for d, t in docs.items()}
    vocab: list[tuple] = []
    for r in range(rounds):
        counts: dict[tuple, int] = {}
        for t in cur.values():
            for a, b in zip(t, t[1:]):
                key = ((a % pack) * pack + b % pack, a ^ b)
                counts[key] = counts.get(key, 0) + 1
        window = max(probe_mult * m, m + 2)
        cands = sorted(
            (
                (h, mx, c)
                for (h, mx), c in counts.items()
                if h // pack != h % pack
            ),
            key=lambda x: (-x[2], x[0], x[1]),
        )[:window]
        kept: list[tuple] = []
        for i, (h, mx, c) in enumerate(cands):
            ar, br = h // pack, h % pack
            # conservative prefix rule: conflict with ANY higher-ranked
            # candidate in the window (kept or not) excludes
            if any(
                oar in (ar, br) or obr in (ar, br)
                for (oh, omx, oc) in cands[:i]
                for oar, obr in [(oh // pack, oh % pack)]
            ):
                continue
            kept.append((h, mx, c))
            if len(kept) == m:
                break
        pairs = {}
        for j, (h, mx, c) in enumerate(kept, start=1):
            ar, br = h // pack, h % pack
            nid = (
                h + (r * m + j) * NID_BASE
                if vocab_base is None
                else vocab_base + r * m + j - 1
            )
            pairs[ar] = (br, nid)
            vocab.append((r, j, ar, br, nid, c))
        for d, t in cur.items():
            if len(t) < 2:
                continue
            out: list[int] = []
            i = 0
            while i < len(t):
                hit = pairs.get(t[i] % pack)
                if hit is not None and i + 1 < len(t) and t[i + 1] % pack == hit[0]:
                    out.append(hit[1])
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            cur[d] = out
    return cur, vocab
