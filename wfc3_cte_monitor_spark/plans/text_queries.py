"""Text-analysis queries over the documents table (additive surface):
token counting, language-ID heuristic, quality scoring, fingerprinting."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import (
    bpe_token_count,
    bpe_token_count_sql,
    norm_text,
    norm_text_sql,
    portable_hash64,
    portable_hash64_sql,
    punct_ratio,
    punct_ratio_sql,
    stopword_hits,
    stopword_hits_sql,
    token_count,
    token_count_sql,
    tokens,
    tokens_sql,
)
from ..checkpointing import materialize
from ..sources.catalog import load_table, spread
from .registry import register

# Last url-arm SaltDecision (r12 verdict ask #7): t01's build consults
# operators/salting.should_salt on the per-domain population relation
# and records the decision fields here (log-only — no gate fixture
# crosses the 3×-rows/cores break-even); bench.py copies this into
# BENCH_DETAIL so the decision is visible per run. Decisions are
# cached PER DATASET in _SALT_DECISIONS (r13 review fix: a single
# last-dataset slot recomputed the corpus-scanning aggregate on every
# build in harnesses that alternate datasets — bench_sf1 interleaves
# sf0.1/sf1 per pass, so every t01 sample paid it).
LAST_URL_SALT_DECISION: dict = {}
_SALT_DECISIONS: dict[str, dict] = {}

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
LANG_PROFILES = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "la", "de", "et", "que"],
    "de": ["der", "die", "das", "und", "zu"],
}

# Character-n-gram language-ID profiles (Cavnar-Trenkle style): the
# space-padded trigrams of each language's stopwords, so word boundaries
# participate (" th", "he "). Only trigrams EXCLUSIVE to one language
# survive — shared grams are anti-discriminative (German "und" and
# English "and" both yield "nd "; "er "/"as " from der/das are among the
# most frequent English grams, and keeping them made the classifier
# label English corpora German). Derived deterministically from
# LANG_PROFILES at import — both engines consume the same literal list.
_TRI_RAW: dict[str, set[str]] = {
    lang: {
        f" {w} "[i:i + 3]
        for w in words
        for i in range(len(w))  # len(" w ") - 2 == len(w)
    }
    for lang, words in LANG_PROFILES.items()
}
LANG_TRIGRAMS: dict[str, list[str]] = {
    lang: sorted(
        g for g in gs
        if not any(g in _TRI_RAW[o] for o in _TRI_RAW if o != lang)
    )
    for lang, gs in _TRI_RAW.items()
}


# T1 — token stats + fixed-token-budget CHUNKING, one tagged union:
#   which='doc'   — per-document stats (whitespace + BPE-ish token
#                   counts, punct ratio, vocab, whole-doc fingerprint);
#                   chunk_id = -1.
#   which='chunk' — the training-data chunking op: the document's token
#                   stream split into windows of CHUNK_TOKENS tokens
#                   (non-overlapping; the last window is the remainder),
#                   one row per (doc, chunk) with the chunk's token/BPE/
#                   char/vocab counts and a CONTENT FINGERPRINT over the
#                   reconstructed chunk text — the dedup-ready chunk
#                   table an LLM training pipeline materializes before
#                   sequence packing. Chunk construction is a pure
#                   row-local explode (tokens bound to a column FIRST —
#                   a lambda closing over the split+regexp expression
#                   chain re-evaluates it per element, the shingles()
#                   O(tokens²) trap); no shuffle, corpus-parallel.
#   which='pack'  — SEQUENCE PACKING: chunks greedily streamed into
#                   PACK_TOKENS-budget packs WITHIN a shard
#                   (shard = doc_id % N_SHARDS). Within each shard,
#                   chunks order by (doc_id, chunk_id); a chunk joins
#                   the pack where its running token offset starts
#                   (no-split greedy fill — a pack can overflow by
#                   < one chunk, the padding/overflow tradeoff real
#                   packers make). The per-shard cumulative window is
#                   the ONLY shuffle, partitioned by shard — global
#                   order would funnel the corpus through one sort
#                   task; shard-local order is how a 100 TB packer
#                   stays parallel (N_SHARDS scales with the corpus).
#                   Column meanings for 'pack' rows: doc_id ≡ shard,
#                   chunk_id ≡ pack_id, n_bpe_tokens ≡ chunks in pack,
#                   n_unique ≡ distinct docs in pack, punct_ratio ≡
#                   fill ratio (n_tokens / PACK_TOKENS), fp ≡ bit_xor
#                   of member-chunk fingerprints (pack content id).
#   which='mix'   — DOMAIN MIXING: the α-temperature sampling-rate op a
#                   training pipeline runs to set per-domain repetition
#                   (weights ∝ n_d^α with α=0.5 upweight rare domains;
#                   domain = lang, the skewed column). Per domain d:
#                   weight w_d = sqrt(n_d)/Σsqrt, epoch count
#                   e_d = max(1, round(w_d·B/tok_d)) for a token budget
#                   B = MIX_BUDGET_X × corpus tokens, then every doc
#                   explodes into e_d replicas each carrying a
#                   deterministic shuffle key hash64(doc_id:replica) —
#                   the training-order shuffle. Cross-engine exactness:
#                   sqrt weights are summed as ROUND(sqrt·1e6) integer
#                   micro-units (bigint sum is order-free; sqrt of a
#                   non-square is irrational so the round never ties).
#                   Column meanings for 'mix' rows: doc_id ≡
#                   hash64(lang) (content-addressed domain id — an
#                   index would need a global window), n_tokens ≡ token
#                   total, n_bpe_tokens ≡ domain doc count, n_chars ≡
#                   replicas emitted (gates e_d), n_unique ≡ distinct
#                   docs among replicas, punct_ratio ≡ w_d, fp ≡
#                   bit_xor of replica shuffle keys (gates the explode
#                   AND the key assignment). Plan: two tiny aggs + a
#                   broadcast of the 5-row weight dim + a row-local
#                   explode — no corpus-sized shuffle at any scale.
#   which='score' — MODEL-BASED QUALITY SCORING: the fastText/CCNet-
#                   style filter shape — a linear classifier over
#                   HASHED token features (feature hashing into
#                   SCORE_D buckets via the portable 60-bit hash; a
#                   deterministic integer weight per bucket via a
#                   Knuth multiplicative mix, so weights live in
#                   [-500, 500] and the "model" is a broadcast-free
#                   arithmetic expression both engines evaluate
#                   identically). Per doc: the sparse dot product
#                   Σ w[h(tok) mod D] over token OCCURRENCES — an
#                   exact bigint sum (order-free, no fp ties) — plus
#                   the positive-weight token count and the distinct-
#                   bucket count (feature sparsity). Plan: row-local
#                   explode + hash, then ONE groupBy(doc_id) whose
#                   map-side partial agg shrinks the shuffle to a few
#                   rows per (partition, doc); at 100 TB a real
#                   weight vector would ride a broadcast array lookup
#                   in the same shape. Column meanings for 'score'
#                   rows: n_tokens ≡ scored occurrences, n_bpe_tokens
#                   ≡ positive-weight occurrences, n_chars ≡ raw
#                   score (bigint), n_unique ≡ distinct buckets,
#                   punct_ratio ≡ round(score/n, 6), fp ≡ NULL.
#   which='sample'— DETERMINISTIC STRATIFIED SAMPLING, per lang
#                   stratum, two flavors a training pipeline needs:
#                   (1) hash-Bernoulli ~1/SAMPLE_MOD rate — membership
#                   is a row-local predicate on hash64('smp|'doc_id),
#                   so the sample is reproducible under ANY
#                   partitioning and needs no shuffle to draw; the
#                   exact member set is gated via bit_xor of sampled
#                   ids. (2) fixed-size holdout — the HOLD_K smallest
#                   hash64('hold|'doc_id) per stratum (hash order =
#                   unbiased, salt-keyed, stable under reruns), the
#                   eval-set draw; gated via count + bit_xor of the
#                   selected hash keys. The per-stratum rank is one
#                   shuffle on the stratum key; at 100 TB you'd
#                   prefilter candidates by hash threshold before
#                   ranking (noted, not needed at gate scale). Column
#                   meanings for 'sample' rows: doc_id ≡ hash64(lang),
#                   n_tokens ≡ stratum population, n_bpe_tokens ≡
#                   Bernoulli sample size, n_chars ≡ holdout size,
#                   n_unique ≡ bit_xor of sampled doc_ids,
#                   punct_ratio ≡ round(realized rate, 6), fp ≡
#                   bit_xor of holdout hash keys.
#   which='cap'   — PER-SOURCE QUOTA (the per-domain cap of CCNet /
#                   RefinedWeb-style corpus curation): within each
#                   source, rank docs by vocabulary richness and keep
#                   the top CAP_N — the anti-domination control that
#                   stops one crawl domain from swamping the corpus.
#                   Kept docs only; see the arm code for the column
#                   mapping (rank, rank key, population, kept count,
#                   kept fraction, source hash).
#   which='merge' — BPE-TRAINING MERGE CANDIDATES: the top-MERGE_K most
#                   frequent ADJACENT (non-empty) token pairs across
#                   the corpus — the statistic one iteration of
#                   BPE/WordPiece vocabulary induction maximizes.
#                   Each token hashes ONCE (one md5 per token, not per
#                   bigram); a pair is keyed by packing the two member
#                   hashes' low 30 bits into one 60-bit bigint, so the
#                   explode and the count shuffle move bigints only —
#                   no pair strings anywhere (the dupfrac rule, plus
#                   3× fewer md5s than hashing pair text). The top-k
#                   ranks the aggregated pair-vocab relation without a
#                   global window (predecessor-count over the
#                   materialized MERGE_K rows). Column meanings for
#                   'merge' rows: doc_id ≡ packed pair key, chunk_id ≡
#                   rank, n_tokens ≡ pair count, n_bpe_tokens ≡
#                   distinct docs containing the pair, n_chars ≡ xor
#                   of the two member-token hashes (gates the split
#                   into members at full 60-bit width), punct_ratio ≡
#                   round(count/Σcounts, 6) relative frequency,
#                   n_unique/fp ≡ NULL.
#   which='merge2'— iteration 2 of the BPE TRAINER LOOP (below): apply
#                   the iteration-1 winner, recount, gate the new
#                   top-MERGE_K. Columns as 'merge'.
#   which='mergeK'— the PARAMETERIZED k-iteration BPE trainer (k=K_BPE):
#                   per iteration, the winner — the top pair whose
#                   member RESIDUES differ (ar ≠ br in the 30-bit key
#                   space the matching compares in; distinct residues
#                   make occurrences non-overlapping, so the apply step
#                   is a pure positional transform: absorb position i
#                   when (i-1, i) matched, rewrite when (i, i+1)
#                   matches — row-local, no sequential state, identical
#                   lambda on both engines) — collapses every
#                   occurrence to a new token id h + i·2^60 (outside
#                   the 60-bit pair-key space, iteration-indexed), then
#                   bigrams are recounted over the merged arrays.
#                   Gated: iteration k's top-MERGE_K (columns as
#                   'merge') PLUS the accumulated vocab — one row per
#                   applied winner with chunk_id = -iteration and fp =
#                   the assigned new-token id. Both engines run the
#                   same generated loop (Spark: materialized-per-
#                   iteration DataFrame loop; DuckDB: generated CTE
#                   chain), and a pytest cross-checks iteration k
#                   against a pure-Python greedy reference.
#   which='mergeB'— the BATCHED-merge BPE trainer (operators/
#                   bpe_batch.py), the SCALE form of 'mergeK': per
#                   round, up to BB_M pairwise-DISJOINT winners from
#                   the ranked probe window apply in ONE positional
#                   pass (one job per ROUND, not per merge — a 30k
#                   vocab becomes vocab/m jobs; tests/test_bpe_batch.py
#                   proves batched ≡ sequential application and m=1 ≡
#                   'mergeK'). Gated rows, BB_ROUNDS=2 × BB_M=3 (the
#                   h-embedded nid scheme bounds gateable slots to 7 —
#                   see bpe_batch.NID_SLOTS_MAX):
#                   vocab rows (doc_id ≡ packed pair key, chunk_id ≡
#                   -(round·BB_M+rnk), n_tokens ≡ selection-time count,
#                   n_bpe_tokens ≡ batch rank, n_chars/n_unique ≡
#                   ar/br residues, fp ≡ assigned nid) + per-doc
#                   encoded-corpus rows (chunk_id NULL, before/after
#                   lengths, fp ≡ encoded-sequence fingerprint — the
#                   application gate, same render as 'encode').
#   which='dictD'/'mergeD'/'encodeD'/'inferD'/'decodeD' — the
#                   DICTIONARY-FORM BPE lifecycle (r11; built in
#                   plans/bpe_dict_queries.py, hosted here per the
#                   50-query driver-gate cap): the production re-key
#                   path the embedded scheme's 7-slot bound points at.
#                   Trains 4 rounds × m=3 = 12 merges (past the
#                   embedded refusal) on the even-doc_id half of the
#                   shared token-hash corpus; dense dictionary ids via
#                   salted_rank (adaptive bucket fan-out), fresh nids
#                   above the vocab base. 'dictD': dictionary size +
#                   bit_xor id-assignment fingerprint; 'mergeD': one
#                   row per merge (layout as 'mergeB': n_chars≡ar,
#                   n_unique≡br, fp≡nid); 'encodeD': training-corpus
#                   before/after lengths + sequence fingerprints;
#                   'inferD': frozen-dict encode of the FULL corpus
#                   (odd docs are true OOV → OOV_ID; n_chars≡OOV
#                   count); 'decodeD': reverse-round unmerge roundtrip
#                   (n_bpe_tokens≡per-doc lossless-match flag — both
#                   engines must agree decode∘encode is the identity
#                   on the translated corpus). EAGER construction
#                   (dict-count + vocab-rounds scalars).
CHUNK_TOKENS = 50
PACK_TOKENS = 512
N_SHARDS = 64
MIX_BUDGET_X = 2  # token budget = 2× corpus tokens
SCORE_D = 64           # feature-hash buckets
SCORE_MULT = 2654435761  # Knuth multiplicative constant (weight mix)
SCORE_MOD = 1001
SCORE_SHIFT = 500      # weights = (b*MULT % MOD) - SHIFT ∈ [-500, 500]
SAMPLE_MOD = 10        # Bernoulli rate = 1/10 by hash residue
HOLD_K = 25            # fixed-size per-stratum holdout
MERGE_K = 10           # BPE merge candidates gated
K_BPE = 3              # BPE trainer iterations gated (the 'mergeK' arm)
BB_ROUNDS = 2          # batched BPE trainer rounds gated ('mergeB' arm)
BB_M = 3               # batched merges/round — rounds·m ≤ NID_SLOTS_MAX
CAP_N = 2              # per-source quota ('cap' arm) — binds at every sf
URL_CAP_N = 3          # per-REGISTERED-DOMAIN quota ('url' arm)
LM_TRAIN_MOD = 9       # bigram-LM train slice: doc_id % 9 == 0 ('lm' arm)
LM_BUCKETS = 20        # fixed-threshold perplexity buckets ('lm' arm)
PR_K = 5               # PageRank power iterations ('rank' arm)
_PAIR_PACK = 1 << 30   # pair key = (ha % 2^30)·2^30 + hb % 2^30, < 2^60


def _bpe_bgagg_sql(src: str) -> str:
    """One bigram-count pass over a token-hash-array relation ``src``."""
    return f"""
        SELECT h, mx, CAST(count(*) AS BIGINT) AS cnt,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS ndocs
        FROM (
            SELECT doc_id,
                   (ha % {_PAIR_PACK}) * {_PAIR_PACK} + hb % {_PAIR_PACK} AS h,
                   xor(ha, hb) AS mx
            FROM (
                SELECT doc_id, th[i] AS ha, th[i+1] AS hb
                FROM {src}, UNNEST(range(1, len(th))) AS u(i)
            )
        ) GROUP BY h, mx"""


def _bpe_ctes_sql(k: int = K_BPE) -> str:
    """The k-iteration BPE trainer as GENERATED CTE blocks (the SQL twin
    of the Spark loop in t01): per iteration, pick the winner (top pair
    with distinct member residues), apply it positionally, recount.
    Winner i's new token id = h + i·2^60 (iteration-indexed, outside the
    60-bit pair-key space).

    ``k`` must be >= 2 (the 'merge2' arm reads iteration 2's counts);
    the trailing top/total blocks are emitted over the DEDUPED iteration
    set so k == 2 doesn't define bgtot2/bgtop2 twice (DuckDB binder
    error). Winner ORDER BY includes mx: two (h, mx) groups can share a
    packed-residue h (30-bit collision) with equal cnt, and wmx/wndocs
    flow into gated output, so a (cnt, h) tie must not be engine-
    dependent."""
    if k < 2:
        raise ValueError(f"BPE trainer needs k >= 2 iterations, got {k}")
    parts = [f"bgagg1 AS ({_bpe_bgagg_sql('ths')})"]
    src = "ths"
    for i in range(2, k + 1):
        w = i - 1
        parts.append(f"""bgw{w} AS (
        SELECT h // {_PAIR_PACK} AS ar, h % {_PAIR_PACK} AS br,
               h + {w} * (1::BIGINT << 60) AS nid,
               h AS wh, mx AS wmx, cnt AS wcnt, ndocs AS wndocs
        FROM bgagg{w} WHERE h // {_PAIR_PACK} <> h % {_PAIR_PACK}
        ORDER BY cnt DESC, h, mx LIMIT 1
    )""")
        # short docs (len < 2) pass through unchanged instead of being
        # dropped, so ths{k} is the COMPLETE encoded corpus (the 'encode'
        # arm gates it per doc); they contribute no bigrams either way,
        # so every trained count is unchanged. LEFT JOIN ON TRUE, not a
        # cross join, mirroring the Spark twin's degenerate-winner
        # guard: an empty bgw{w} yields NULL ar/br/nid → every CASE
        # predicate NULL → identity, instead of emptying the corpus.
        parts.append(f"""ths{i} AS (
        SELECT doc_id,
               CASE WHEN len(th) >= 2 THEN
               list_filter(list_transform(range(1, len(th) + 1), i -> CASE
                   WHEN i > 1 AND th[greatest(i - 1, 1)] % {_PAIR_PACK} = ar
                        AND th[i] % {_PAIR_PACK} = br THEN NULL
                   WHEN th[i + 1] % {_PAIR_PACK} = br
                        AND th[i] % {_PAIR_PACK} = ar THEN nid
                   ELSE th[i] END), x -> x IS NOT NULL)
               ELSE th END AS th
        FROM {src} LEFT JOIN bgw{w} ON TRUE
    )""")
        parts.append(f"bgagg{i} AS ({_bpe_bgagg_sql(f'ths{i}')})")
        src = f"ths{i}"
    for i in sorted({1, 2, k}):
        parts.append(f"bgtot{i} AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM bgagg{i})")
        parts.append(f"""bgtop{i} AS (
        SELECT h, mx, cnt, ndocs,
               CAST(row_number() OVER (ORDER BY cnt DESC, h, mx) AS INT) AS rnk
        FROM bgagg{i} ORDER BY cnt DESC, h, mx LIMIT {MERGE_K}
    )""")
    return ",\n    ".join(parts)


def _bpe_arms_sql(k: int = K_BPE) -> str:
    """The merge-family arm SELECTs: iteration-1 candidates ('merge'),
    iteration-2 candidates ('merge2'), iteration-k candidates plus the
    ACCUMULATED VOCAB — one row per applied winner, chunk_id = -i, fp =
    the assigned new-token id — under 'mergeK'."""
    out = []
    for tag, i in (("merge", 1), ("merge2", 2), ("mergeK", k)):
        out.append(f"""
    SELECT '{tag}', h, rnk, cnt, ndocs, mx, CAST(NULL AS BIGINT),
           round(CAST(cnt AS DOUBLE) / tot, 6), CAST(NULL AS BIGINT)
    FROM bgtop{i}, bgtot{i}""")
    for w in range(1, k):
        out.append(f"""
    SELECT 'mergeK', wh, CAST(-{w} AS INT), wcnt, wndocs, wmx,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), nid
    FROM bgw{w}""")
    return "\n    UNION ALL".join(out)


def _lm_ctes_sql() -> str:
    """Bigram-LM CTEs for the t01 'lm' arm: counts trained on the
    doc_id % LM_TRAIN_MOD == 0 slice of the token-hash relation, add-one
    smoothed log-probs in INTEGER micro-units (round(1e6·ln((c_ab+1)/
    (c_ctx+V)))) — ln's argument is a ratio of exact integers, so both
    engines take ln of the identical double and the 1e-6 quantum sits
    ~9 orders above the last-ulp libm divergence; scores then SUM
    exactly as bigints (the CCNet-style LM-perplexity quality signal,
    made cross-engine deterministic)."""
    return f"""lmbig AS (
        SELECT doc_id, th[i] AS ha, th[i+1] AS hb
        FROM ths, UNNEST(range(1, len(th))) AS u(i)
    ),
    lmctx AS (
        SELECT ha, CAST(count(*) AS BIGINT) AS c_ctx
        FROM lmbig WHERE doc_id % {LM_TRAIN_MOD} = 0 GROUP BY ha
    ),
    lmpc AS (
        SELECT ha, hb, CAST(count(*) AS BIGINT) AS c_ab
        FROM lmbig WHERE doc_id % {LM_TRAIN_MOD} = 0 GROUP BY ha, hb
    ),
    lmv AS (
        SELECT CAST(count(DISTINCT u) AS BIGINT) AS v
        FROM (SELECT unnest(th) AS u FROM ths
              WHERE doc_id % {LM_TRAIN_MOD} = 0)
    ),
    lmsc AS (
        SELECT b.doc_id,
               CAST(sum(CAST(round(1000000.0 * ln(
                   (coalesce(p.c_ab, 0) + 1)
                   / CAST(coalesce(c.c_ctx, 0) + v.v AS DOUBLE)
               )) AS BIGINT)) AS BIGINT) AS score,
               CAST(sum(CASE WHEN p.c_ab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        FROM lmbig b
        LEFT JOIN lmpc p ON b.ha = p.ha AND b.hb = p.hb
        LEFT JOIN lmctx c ON b.ha = c.ha
        CROSS JOIN lmv v
        GROUP BY b.doc_id
    )"""


def _t01_sql() -> str:
    from ..functions.urls import planted_url_sql, url_table_sql
    from ..operators.bpe_batch import batched_bpe_ctes_sql
    from ..operators.pagerank import integer_pagerank_ctes_sql
    from .bpe_dict_queries import dict_bpe_arms_sql, dict_bpe_ctes_sql

    url_tbl = url_table_sql("documents", "doc_id", planted_url_sql())
    pr_ctes = integer_pagerank_ctes_sql("prlinks", k=PR_K)
    ct_text = "array_to_string(ct, ' ')"
    return f"""
    WITH toks AS (
        SELECT doc_id, text, {tokens_sql('text')} AS t FROM documents
    ),
    chunks AS (
        SELECT doc_id, CAST(i AS INT) AS chunk_id,
               t[i*{CHUNK_TOKENS}+1 : i*{CHUNK_TOKENS}+{CHUNK_TOKENS}] AS ct
        FROM (
            SELECT doc_id, t,
                   unnest(range(CAST(ceil(greatest(len(t), 1) / {CHUNK_TOKENS}.0) AS BIGINT))) AS i
            FROM toks
        )
    ),
    domstats AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum({token_count_sql('text')}) AS BIGINT) AS tok_d,
               CAST(round(sqrt(count(*)) * 1e6) AS BIGINT) AS s_i
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(s_i) AS BIGINT) AS denom,
               CAST(sum(tok_d) AS BIGINT) AS tot_tok
        FROM domstats
    ),
    wts AS (
        SELECT lang, n_docs, tok_d,
               CAST(s_i AS DOUBLE) / denom AS w_d,
               greatest(1, CAST(floor(
                   CAST(s_i AS DOUBLE) / denom * ({MIX_BUDGET_X} * tot_tok) / tok_d + 0.5
               ) AS INT)) AS epochs
        FROM domstats, tot
    ),
    reps AS (
        SELECT lang, doc_id,
               {portable_hash64_sql(
                   "CAST(doc_id AS VARCHAR) || ':' || CAST(replica AS VARCHAR)"
               )} AS key
        FROM (
            SELECT d.lang, d.doc_id,
                   unnest(range(1, w.epochs + 1)) AS replica
            FROM documents d JOIN wts w ON d.lang = w.lang
        )
    ),
    ragg AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS replicas,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS uniq,
               bit_xor(key) AS fp
        FROM reps GROUP BY lang
    ),
    scorefeat AS (
        SELECT doc_id, b, (b * {SCORE_MULT}) % {SCORE_MOD} - {SCORE_SHIFT} AS wgt
        FROM (
            SELECT doc_id, {portable_hash64_sql('tok')} % {SCORE_D} AS b
            FROM (
                SELECT doc_id, unnest({tokens_sql('text')}) AS tok
                FROM documents
            )
            WHERE tok <> ''
        )
    ),
    sampagg AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_pop,
               CAST(sum(sel) AS BIGINT) AS n_samp,
               bit_xor(CASE WHEN sel = 1 THEN doc_id END) AS sxor
        FROM (
            SELECT lang, doc_id,
                   CASE WHEN {portable_hash64_sql(
                       "'smp|' || CAST(doc_id AS VARCHAR)"
                   )} % {SAMPLE_MOD} = 0 THEN 1 ELSE 0 END AS sel
            FROM documents
        ) GROUP BY lang
    ),
    holdagg AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_hold, bit_xor(hkey) AS hfp
        FROM (
            SELECT lang, hkey,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY hkey, doc_id) AS rn
            FROM (
                SELECT lang, doc_id, {portable_hash64_sql(
                    "'hold|' || CAST(doc_id AS VARCHAR)"
                )} AS hkey
                FROM documents
            )
        ) WHERE rn <= {HOLD_K} GROUP BY lang
    ),
    ths AS (
        SELECT doc_id,
               list_transform(list_filter(t, x -> x <> ''),
                              x -> {portable_hash64_sql('x')}) AS th
        FROM toks
    ),
    {_bpe_ctes_sql()},
    {batched_bpe_ctes_sql('ths', rounds=BB_ROUNDS, m=BB_M)},
    {dict_bpe_ctes_sql('ths')},
    {_lm_ctes_sql()},
    urlt AS ({url_tbl}),
    prcnt AS (SELECT CAST(count(*) AS BIGINT) AS _c FROM documents),
    prlinks AS (
        SELECT a.reg_domain AS src, b.reg_domain AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM (SELECT doc_id, reg_domain, (doc_id * 131 + 7) % _c AS _t
              FROM urlt, prcnt
              UNION ALL
              SELECT doc_id, reg_domain, (doc_id * 5 + 1) % _c AS _t
              FROM urlt, prcnt WHERE doc_id % 3 = 0) a
        JOIN urlt b ON b.doc_id = a._t
        WHERE a.reg_domain <> b.reg_domain
        GROUP BY 1, 2
    ),
    {pr_ctes},
    prin AS (SELECT dst, CAST(count(*) AS BIGINT) AS _in FROM prlinks GROUP BY dst),
    prow AS (SELECT src, CAST(sum(w) AS BIGINT) AS _ow FROM prlinks GROUP BY src)
    SELECT 'doc' AS which, doc_id, CAST(-1 AS INT) AS chunk_id,
           {token_count_sql('text')} AS n_tokens,
           {bpe_token_count_sql('text')} AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(list_distinct({tokens_sql('text')})) AS BIGINT) AS n_unique,
           round({punct_ratio_sql('text')}, 6) AS punct_ratio,
           {portable_hash64_sql(norm_text_sql('text'))} AS fp
    FROM documents
    UNION ALL
    SELECT 'chunk', doc_id, chunk_id,
           CAST(len(ct) AS BIGINT),
           {bpe_token_count_sql(ct_text)},
           CAST(length({ct_text}) AS BIGINT),
           CAST(len(list_distinct(ct)) AS BIGINT),
           CAST(NULL AS DOUBLE),
           {portable_hash64_sql(ct_text)}
    FROM chunks
    UNION ALL
    SELECT 'pack', shard, CAST(pack_id AS INT),
           CAST(sum(n_tok) AS BIGINT),
           CAST(count(*) AS BIGINT),
           CAST(sum(n_ch) AS BIGINT),
           CAST(count(DISTINCT src_doc) AS BIGINT),
           round(sum(n_tok) / {PACK_TOKENS}.0, 6),
           bit_xor(cfp)
    FROM (
        SELECT shard, doc_id AS src_doc, n_tok, n_ch, cfp,
               CAST(floor((cum - n_tok) / {PACK_TOKENS}.0) AS BIGINT) AS pack_id
        FROM (
            SELECT doc_id % {N_SHARDS} AS shard, doc_id, chunk_id,
                   len(ct) AS n_tok,
                   length({ct_text}) AS n_ch,
                   {portable_hash64_sql(ct_text)} AS cfp,
                   sum(len(ct)) OVER (PARTITION BY doc_id % {N_SHARDS}
                                      ORDER BY doc_id, chunk_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) AS cum
            FROM chunks
        )
    )
    GROUP BY shard, pack_id
    UNION ALL
    SELECT 'mix', {portable_hash64_sql('w.lang')},
           CAST(-1 AS INT),
           w.tok_d, w.n_docs, r.replicas, r.uniq,
           round(w.w_d, 6), r.fp
    FROM wts w JOIN ragg r ON w.lang = r.lang
    UNION ALL
    SELECT 'score', doc_id, CAST(-1 AS INT),
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN wgt > 0 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(wgt) AS BIGINT),
           CAST(count(DISTINCT b) AS BIGINT),
           round(CAST(sum(wgt) AS DOUBLE) / count(*), 6),
           CAST(NULL AS BIGINT)
    FROM scorefeat GROUP BY doc_id
    UNION ALL
    SELECT 'sample', {portable_hash64_sql('a.lang')}, CAST(-1 AS INT),
           a.n_pop, a.n_samp, h.n_hold, a.sxor,
           round(CAST(a.n_samp AS DOUBLE) / a.n_pop, 6), h.hfp
    FROM sampagg a JOIN holdagg h ON a.lang = h.lang
    UNION ALL
    SELECT 'funnel', CAST(stage AS BIGINT), CAST(-1 AS INT),
           n_in, n_out, n_in - n_out, sx,
           round(CAST(n_out AS DOUBLE) / n_in, 6), CAST(NULL AS BIGINT)
    FROM (
        WITH fflags AS (
            SELECT doc_id,
                   (nt >= 20) AS c1,
                   (nt >= 20 AND nu >= 15) AS c2,
                   (nt >= 20 AND nu >= 15 AND nt <= 90) AS c3
            FROM (
                SELECT doc_id, {token_count_sql('text')} AS nt,
                       CAST(len(list_distinct({tokens_sql('text')})) AS BIGINT) AS nu
                FROM documents
            )
        )
        SELECT 1 AS stage, count(*)::BIGINT AS n_in,
               sum(CASE WHEN c1 THEN 1 ELSE 0 END)::BIGINT AS n_out,
               bit_xor(CASE WHEN c1 THEN doc_id END) AS sx
        FROM fflags
        UNION ALL
        SELECT 2, sum(CASE WHEN c1 THEN 1 ELSE 0 END)::BIGINT,
               sum(CASE WHEN c2 THEN 1 ELSE 0 END)::BIGINT,
               bit_xor(CASE WHEN c2 THEN doc_id END)
        FROM fflags
        UNION ALL
        SELECT 3, sum(CASE WHEN c2 THEN 1 ELSE 0 END)::BIGINT,
               sum(CASE WHEN c3 THEN 1 ELSE 0 END)::BIGINT,
               bit_xor(CASE WHEN c3 THEN doc_id END)
        FROM fflags
    )
    UNION ALL
    SELECT 'cap', doc_id, CAST(rnk AS INT),
           nu, n_pop, least(n_pop, {CAP_N}), CAST(NULL AS BIGINT),
           round(CAST(least(n_pop, {CAP_N}) AS DOUBLE) / n_pop, 6),
           {portable_hash64_sql('source')}
    FROM (
        SELECT doc_id, source, nu,
               row_number() OVER (PARTITION BY source
                                  ORDER BY nu DESC, doc_id) AS rnk,
               count(*) OVER (PARTITION BY source)::BIGINT AS n_pop
        FROM (
            SELECT doc_id, source,
                   CAST(len(list_distinct({tokens_sql('text')})) AS BIGINT) AS nu
            FROM documents
        )
    ) WHERE rnk <= {CAP_N}
    UNION ALL
    SELECT 'url', doc_id, CAST(rnk AS INT),
           n_pop,
           CAST(CASE WHEN rnk <= {URL_CAP_N} THEN 1 ELSE 0 END AS BIGINT),
           {portable_hash64_sql('reg_domain')},
           CAST(length(canon_url) AS BIGINT),
           round(CAST(least(n_pop, {URL_CAP_N}) AS DOUBLE) / n_pop, 6),
           {portable_hash64_sql('canon_url')}
    FROM (
        SELECT doc_id, canon_url, reg_domain,
               row_number() OVER (PARTITION BY reg_domain ORDER BY doc_id) AS rnk,
               count(*) OVER (PARTITION BY reg_domain)::BIGINT AS n_pop
        FROM urlt
    )
    UNION ALL
    SELECT 'rank', {portable_hash64_sql('f.node')}, CAST(NULL AS INT),
           coalesce(o._ow, 0), coalesce(i._in, 0),
           f.mass,
           CAST(CASE WHEN f.mass * n._n >= 1000000000000 THEN 1 ELSE 0 END
                AS BIGINT),
           round(CAST(f.mass AS DOUBLE) / 1000000000000.0, 6),
           f.prev_mass
    FROM (
        SELECT k.node, k.mass, p.mass AS prev_mass
        FROM pr{PR_K} k JOIN pr{PR_K - 1} p ON k.node = p.node
    ) f
    CROSS JOIN prn n
    LEFT JOIN prow o ON f.node = o.src
    LEFT JOIN prin i ON f.node = i.dst
    UNION ALL
    SELECT 'encode', t0.doc_id, CAST(NULL AS INT),
           CAST(len(t0.th) AS BIGINT),
           CAST(len(tk.th) AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           {portable_hash64_sql("coalesce(array_to_string(tk.th, ','), '')")}
    FROM ths t0 JOIN ths{K_BPE} tk USING (doc_id)
    UNION ALL
    SELECT 'lm', doc_id,
           CAST(CASE WHEN nb = 0 THEN -1
                ELSE least({LM_BUCKETS - 1}, greatest(0,
                     CAST(floor((CAST(score AS DOUBLE) / nb + 15000000)
                                / 1000000.0) AS INT)))
                END AS INT),
           nb, n_oov,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CASE WHEN nb = 0 THEN 0.0
                ELSE round(CAST(score AS DOUBLE) / nb / 1000000.0, 6) END,
           score
    FROM (
        SELECT t.doc_id, greatest(len(t.th) - 1, 0)::BIGINT AS nb,
               coalesce(s.score, 0) AS score, coalesce(s.n_oov, 0) AS n_oov
        FROM ths t LEFT JOIN lmsc s ON t.doc_id = s.doc_id
    )
    UNION ALL
    SELECT 'mergeB', ar * {_PAIR_PACK} + br,
           CAST(-(round * {BB_M} + rnk) AS INT),
           cnt, CAST(rnk AS BIGINT), ar, br, CAST(NULL AS DOUBLE), nid
    FROM bbvocab
    UNION ALL
    SELECT 'mergeB', t0.doc_id, CAST(NULL AS INT),
           CAST(len(t0.th) AS BIGINT), CAST(len(tb.th) AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           {portable_hash64_sql("coalesce(array_to_string(tb.th, ','), '')")}
    FROM ths t0 JOIN bbths{BB_ROUNDS} tb USING (doc_id)
    UNION ALL{dict_bpe_arms_sql('ths')}
    UNION ALL{_bpe_arms_sql()}
    """


@register(
    "t01_token_stats",
    oracle=_t01_sql(),
    tags=("text", "tokens", "chunking"),
)
def t01_token_stats(spark, sf_dir):
    """Tokenization stats ('doc' arm: whitespace count, BPE-ish
    pre-tokenizer count — letter/digit/symbol runs with leading-space
    affinity, the GPT-2 first-split shape, engine-portable regex —
    punctuation ratio, vocab, whole-doc fingerprint) + fixed-budget
    token chunking ('chunk' arm: 50-token windows, per-chunk stats and
    content fingerprint) + sequence packing ('pack' arm: shard-local
    greedy fill of chunks into 512-token packs — per pack the token
    total, member-chunk count, distinct source docs, fill ratio, and a
    bit_xor content fingerprint; the chunk→pack chain is the
    training-data materialization an LLM pipeline runs before batch
    assembly) + temperature domain mixing ('mix' arm: α=0.5 weights
    ∝ sqrt(domain size) set per-domain epoch counts against a 2×-corpus
    token budget; every doc explodes into its domain's replica count,
    each replica keyed by a deterministic training-order shuffle hash —
    per-domain weight, replica totals, and a bit_xor over the shuffle
    keys are all value-gated) + model-based quality scoring ('score'
    arm: fastText-style linear classifier over hashed token features —
    exact bigint sparse dot product per doc, one map-side-combined
    groupBy).

    NEW (r8): 'url' — URL canonicalization + registered-domain
    extraction feeding a per-domain cap (functions/urls.py; planted
    deterministic URLs exercise every rule; the canonical-string
    fingerprint is the gate); 'encode' — the corpus-scale application
    of the trained BPE vocab (per-doc before/after counts + the exact
    encoded sequence fingerprint; the trainer relation now carries
    short docs through so the final merged relation IS the complete
    encoded corpus); 'lm' — bigram-LM perplexity quality scoring
    (CCNet-style), counts trained on the doc_id % 9 slice, add-one
    smoothed log-probs in integer micro-units for cross-engine
    determinism, per-doc score + OOV count + fixed-threshold bucket;
    'rank' — domain-level link-graph PAGERANK over a planted citation
    graph (operators/pagerank.py: all-integer power iterations,
    node-scale joins, corpus touched once for edge derivation; final +
    penultimate masses, in/out degrees gated).
    Each has a pure-python reference test in tests/test_text.py.

    r13: the url arm's build consults operators/salting.should_salt on
    the per-domain population (one bounded 1-row aggregate, cached per
    dataset) and records the SaltDecision in LAST_URL_SALT_DECISION —
    log-only at gate scale (no fixture crosses the 3×-rows/cores
    break-even); bench.py emits it as BENCH_DETAIL's
    t01_url_salt_decision."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # per-doc stats materialize ONCE (numeric columns only — the text is
    # projected away, so this is a few MB at any corpus size): the 'doc'
    # arm is a projection of it and the 'mix' arm's domain aggregation
    # reads it instead of re-tokenizing the corpus (measured: the
    # duplicate tokenize pass alone was ~0.9 s of t01's sf0.1 cost)
    per_doc = docs.select(
        "doc_id",
        "lang",
        "source",
        token_count("text").alias("n_tokens"),
        bpe_token_count("text").alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.array_distinct(tokens("text"))).cast("bigint").alias("n_unique"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        portable_hash64(norm_text("text")).alias("fp"),
    ).transform(materialize)
    doc_arm = per_doc.select(
        F.lit("doc").alias("which"),
        "doc_id",
        F.lit(-1).cast("int").alias("chunk_id"),
        "n_tokens", "n_bpe_tokens", "n_chars", "n_unique",
        "punct_ratio", "fp",
    )
    # bind tokens to a COLUMN before the windowing lambda (see the arm
    # comment); the explode is row-local — no shuffle at any corpus size
    # four arms read the tokenized corpus (chunk, pack, score, merge);
    # measured A/B at sf0.1: materializing the token arrays is a WASH
    # (4.8 vs 4.7 s — the checkpoint write of corpus-sized arrays costs
    # what the saved re-splits save; the arms' own explodes + shuffles
    # dominate), so base stays a recomputed projection and the pruned
    # columnar scan is re-read per arm
    base = docs.select("doc_id", tokens("text").alias("t")).withColumn(
        "n_chunks",
        F.ceil(F.greatest(F.size("t"), F.lit(1)) / F.lit(float(CHUNK_TOKENS))).cast("int"),
    )
    k = CHUNK_TOKENS
    chunked = base.select(
        "doc_id",
        F.posexplode(
            F.expr(f"transform(sequence(0, n_chunks - 1), i -> slice(t, i*{k}+1, {k}))")
        ).alias("chunk_id", "ct"),
    )
    ctext = F.array_join("ct", " ")
    chunk_arm = chunked.select(
        F.lit("chunk").alias("which"),
        "doc_id",
        F.col("chunk_id").cast("int"),
        F.size("ct").cast("bigint").alias("n_tokens"),
        bpe_token_count(ctext).alias("n_bpe_tokens"),
        F.length(ctext).cast("bigint").alias("n_chars"),
        F.size(F.array_distinct("ct")).cast("bigint").alias("n_unique"),
        F.lit(None).cast("double").alias("punct_ratio"),
        portable_hash64(ctext).alias("fp"),
    )
    # 'pack' arm: shard-local greedy fill. The cumulative window is the
    # only shuffle (partitioned by shard — a GLOBAL order would funnel
    # the corpus through one sort task); pack membership = the pack of
    # the chunk's starting offset in its shard's token stream.
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        chunked.select(
            (F.col("doc_id") % N_SHARDS).alias("shard"),
            "doc_id",
            "chunk_id",
            F.size("ct").cast("bigint").alias("n_tok"),
            F.length(ctext).cast("bigint").alias("n_ch"),
            portable_hash64(ctext).alias("cfp"),
        )
        .withColumn("cum", F.sum("n_tok").over(w))
        .withColumn(
            "pack_id",
            F.floor((F.col("cum") - F.col("n_tok")) / float(PACK_TOKENS)).cast("bigint"),
        )
    )
    pack_arm = (
        packed.groupBy("shard", "pack_id")
        .agg(
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_bpe_tokens"),
            F.sum("n_ch").cast("bigint").alias("n_chars"),
            F.count_distinct("doc_id").cast("bigint").alias("n_unique"),
            F.round(F.sum("n_tok") / F.lit(float(PACK_TOKENS)), 6).alias("punct_ratio"),
            F.expr("bit_xor(cfp)").alias("fp"),
        )
        .select(
            F.lit("pack").alias("which"),
            F.col("shard").alias("doc_id"),
            F.col("pack_id").cast("int").alias("chunk_id"),
            "n_tokens", "n_bpe_tokens", "n_chars", "n_unique",
            "punct_ratio", "fp",
        )
    )
    # 'mix' arm: α=0.5 temperature domain mixing (see the arm comment).
    # Two tiny aggs feed a broadcast 5-row weight dim; the replica
    # explode is row-local, so the corpus never shuffles for this arm.
    dom = per_doc.select("lang", "doc_id", F.col("n_tokens").alias("ntok"))
    # materialized (5 rows): wts is read TWICE (the reps broadcast and
    # the final select) and tot reads domstats again — un-truncated,
    # each of those four evaluations would re-aggregate (and before
    # per_doc was shared, re-tokenize: 1.6 s → 4.2 s at sf0.1);
    # checkpointed, everything downstream is 5-row arithmetic
    domstats = (
        dom.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("tok_d"),
        )
        # integer micro-unit sqrt weights: bigint sums are order-free
        # where a 4-double sum is not (see the arm comment's tie note)
        .withColumn("s_i", F.round(F.sqrt("n_docs") * 1e6, 0).cast("bigint"))
        .transform(materialize)
    )
    tot = domstats.agg(
        F.sum("s_i").cast("bigint").alias("denom"),
        F.sum("tok_d").cast("bigint").alias("tot_tok"),
    )
    w_d = F.col("s_i").cast("double") / F.col("denom")
    wts = domstats.join(F.broadcast(tot)).select(
        "lang", "n_docs", "tok_d",
        w_d.alias("w_d"),
        F.greatest(
            F.lit(1),
            F.floor(
                w_d * (MIX_BUDGET_X * F.col("tot_tok")) / F.col("tok_d") + 0.5
            ).cast("int"),
        ).alias("epochs"),
    )
    reps = (
        dom.join(F.broadcast(wts.select("lang", "epochs")), "lang")
        .select(
            "lang", "doc_id",
            F.explode(F.sequence(F.lit(1), F.col("epochs"))).alias("replica"),
        )
        .select(
            "lang", "doc_id",
            portable_hash64(F.concat_ws(":", "doc_id", "replica")).alias("key"),
        )
    )
    ragg = reps.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("replicas"),
        F.count_distinct("doc_id").cast("bigint").alias("uniq"),
        F.expr("bit_xor(key)").alias("fp"),
    )
    # domain id = hash of the lang itself (content-addressed): a
    # row_number index would need an unpartitioned window — a global
    # sort funnel the plan-shape guard rightly rejects even at 5 rows
    mix_arm = wts.join(ragg, "lang").select(
        F.lit("mix").alias("which"),
        portable_hash64("lang").alias("doc_id"),
        F.lit(-1).cast("int").alias("chunk_id"),
        F.col("tok_d").alias("n_tokens"),
        F.col("n_docs").alias("n_bpe_tokens"),
        F.col("replicas").alias("n_chars"),
        F.col("uniq").alias("n_unique"),
        F.round("w_d", 6).alias("punct_ratio"),
        "fp",
    )
    # 'score' arm: hashed-feature linear quality scorer (see the arm
    # comment). base already binds the token array to a column — reuse
    # it so the corpus isn't re-split; the explode is row-local and the
    # single groupBy's map-side combine keeps the shuffle per-doc-sized.
    feat = (
        base.select("doc_id", F.explode("t").alias("tok"))
        .where(F.col("tok") != "")
        .select("doc_id", (portable_hash64("tok") % SCORE_D).alias("b"))
        .withColumn("wgt", (F.col("b") * SCORE_MULT) % SCORE_MOD - SCORE_SHIFT)
    )
    score_arm = (
        feat.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("wgt") > 0, 1).otherwise(0))
            .cast("bigint").alias("n_bpe_tokens"),
            F.sum("wgt").cast("bigint").alias("n_chars"),
            F.count_distinct("b").cast("bigint").alias("n_unique"),
        )
        .select(
            F.lit("score").alias("which"),
            "doc_id",
            F.lit(-1).cast("int").alias("chunk_id"),
            "n_tokens", "n_bpe_tokens", "n_chars", "n_unique",
            F.round(F.col("n_chars") / F.col("n_tokens"), 6).alias("punct_ratio"),
            F.lit(None).cast("bigint").alias("fp"),
        )
    )
    # 'sample' arm: deterministic stratified sampling (see the arm
    # comment). Reads per_doc (already materialized — no text, no extra
    # corpus pass): the Bernoulli draw is a row-local hash predicate,
    # the holdout is one per-stratum rank shuffle.
    smp_sel = F.when(
        portable_hash64(F.concat(F.lit("smp|"), F.col("doc_id").cast("string")))
        % SAMPLE_MOD
        == 0,
        1,
    ).otherwise(0)
    sampagg = (
        per_doc.select("lang", "doc_id", smp_sel.alias("sel"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pop"),
            F.sum("sel").cast("bigint").alias("n_samp"),
            F.expr("bit_xor(CASE WHEN sel = 1 THEN doc_id END)").alias("sxor"),
        )
    )
    holdagg = (
        per_doc.select(
            "lang",
            "doc_id",
            portable_hash64(
                F.concat(F.lit("hold|"), F.col("doc_id").cast("string"))
            ).alias("hkey"),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("lang").orderBy("hkey", "doc_id")),
        )
        .where(F.col("rn") <= HOLD_K)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hold"),
            F.expr("bit_xor(hkey)").alias("hfp"),
        )
    )
    sample_arm = sampagg.join(holdagg, "lang").select(
        F.lit("sample").alias("which"),
        portable_hash64("lang").alias("doc_id"),
        F.lit(-1).cast("int").alias("chunk_id"),
        F.col("n_pop").alias("n_tokens"),
        F.col("n_samp").alias("n_bpe_tokens"),
        F.col("n_hold").alias("n_chars"),
        F.col("sxor").alias("n_unique"),
        F.round(F.col("n_samp").cast("double") / F.col("n_pop"), 6).alias(
            "punct_ratio"
        ),
        F.col("hfp").alias("fp"),
    )
    # 'funnel' arm: FILTER-CASCADE SURVIVAL REPORT — the bookkeeping
    # every corpus-curation pipeline publishes: three cumulative filter
    # stages (length floor → vocabulary floor → length ceiling, all
    # integer thresholds so no fp boundary can flip membership) with
    # per-stage (n_in, n_out, dropped, survivor-set xor, survival rate).
    # The survivor XOR gates the exact surviving SET, not just counts —
    # a filter that swaps two docs with equal tallies still fails.
    # Reads per_doc; one tiny aggregate, three projected rows. Column
    # mapping: doc_id ≡ stage, n_tokens ≡ n_in, n_bpe_tokens ≡ n_out,
    # n_chars ≡ dropped, n_unique ≡ xor of survivors, punct_ratio ≡
    # round(survival, 6).
    fflags = per_doc.select(
        "doc_id",
        (F.col("n_tokens") >= 20).alias("c1"),
        ((F.col("n_tokens") >= 20) & (F.col("n_unique") >= 15)).alias("c2"),
        (
            (F.col("n_tokens") >= 20)
            & (F.col("n_unique") >= 15)
            & (F.col("n_tokens") <= 90)
        ).alias("c3"),
    )
    fagg = fflags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("c1"), 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("c2"), 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(F.col("c3"), 1).otherwise(0)).cast("bigint").alias("n3"),
        F.expr("bit_xor(CASE WHEN c1 THEN doc_id END)").alias("x1"),
        F.expr("bit_xor(CASE WHEN c2 THEN doc_id END)").alias("x2"),
        F.expr("bit_xor(CASE WHEN c3 THEN doc_id END)").alias("x3"),
    ).transform(materialize)  # 1 row; three projections below read it

    def _funnel_row(stage, n_in, n_out, sx):
        return fagg.select(
            F.lit("funnel").alias("which"),
            F.lit(stage).cast("bigint").alias("doc_id"),
            F.lit(-1).cast("int").alias("chunk_id"),
            F.col(n_in).alias("n_tokens"),
            F.col(n_out).alias("n_bpe_tokens"),
            (F.col(n_in) - F.col(n_out)).alias("n_chars"),
            F.col(sx).alias("n_unique"),
            F.round(F.col(n_out).cast("double") / F.col(n_in), 6).alias("punct_ratio"),
            F.lit(None).cast("bigint").alias("fp"),
        )

    funnel_arm = (
        _funnel_row(1, "n0", "n1", "x1")
        .unionAll(_funnel_row(2, "n1", "n2", "x2"))
        .unionAll(_funnel_row(3, "n2", "n3", "x3"))
    )
    # 'cap' arm: PER-SOURCE QUOTA — the per-domain cap of the CCNet/
    # RefinedWeb-style pipelines: rank each source's docs by vocabulary
    # richness (n_unique desc, doc_id tiebreak — deterministic in both
    # engines) and keep the top CAP_N. Reads per_doc (no extra corpus
    # pass); one shuffle on source for the two windows. Column meanings:
    # chunk_id ≡ rank within source, n_tokens ≡ the doc's distinct-token
    # count (the rank key), n_bpe_tokens ≡ source population, n_chars ≡
    # kept count, punct_ratio ≡ kept fraction, fp ≡ hash64(source).
    wcap = Window.partitionBy("source").orderBy(F.col("n_unique").desc(), "doc_id")
    cap_arm = (
        per_doc.select("source", "doc_id", "n_unique")
        .withColumn("rnk", F.row_number().over(wcap))
        .withColumn(
            "n_pop", F.count(F.lit(1)).over(Window.partitionBy("source")).cast("bigint")
        )
        .where(F.col("rnk") <= CAP_N)
        .select(
            F.lit("cap").alias("which"),
            "doc_id",
            F.col("rnk").cast("int").alias("chunk_id"),
            F.col("n_unique").alias("n_tokens"),
            F.col("n_pop").alias("n_bpe_tokens"),
            F.least(F.col("n_pop"), F.lit(CAP_N).cast("bigint")).alias("n_chars"),
            F.lit(None).cast("bigint").alias("n_unique"),
            F.round(
                F.least(F.col("n_pop"), F.lit(CAP_N).cast("bigint")).cast("double")
                / F.col("n_pop"),
                6,
            ).alias("punct_ratio"),
            portable_hash64("source").alias("fp"),
        )
    )
    # 'url' arm: URL CANONICALIZATION + REGISTERED-DOMAIN CAP — the
    # first grouping key of a web-corpus pipeline (the CCNet/RefinedWeb
    # per-domain quota), on planted deterministic URLs (the corpus has
    # no URL column; same plant pattern as t02's PII/boilerplate — the
    # plant exercises every canonicalization rule: mixed case, www,
    # default/non-default ports, multi-part public suffixes, tracking
    # params incl. all-tracking queries, fragments, empty paths).
    # Canonicalize + domain-extract are pure row-local expressions
    # (functions/urls.py); the ONLY exchange is the per-domain window —
    # the shape a per-domain cap has at any scale. A skewed mega-domain
    # is NOT AQE territory (OptimizeSkewedJoin rewrites joins only,
    # never window exchanges — pinned by the r10 skew drill,
    # tests/test_scale_ops.py::test_mega_domain_window_skew_drill):
    # the at-scale remedy is operators/salting.salted_rank, which moves
    # the exchange to (domain, order-range bucket) and reconstructs the
    # exact global rank from broadcast per-bucket offsets. Column meanings:
    # chunk_id ≡ rank within domain, n_tokens ≡ domain population,
    # n_bpe_tokens ≡ kept-under-cap flag, n_chars ≡ hash64(reg_domain),
    # n_unique ≡ length(canon_url), punct_ratio ≡ kept fraction, fp ≡
    # hash64(canon_url) — the fingerprint IS the canonicalization gate.
    from ..functions.urls import planted_url, with_url_columns

    urls_df = with_url_columns(
        docs.select("doc_id", planted_url("doc_id", "source").alias("_url")), "_url"
    )
    # skew decision, exercised end-to-end (r12 verdict ask #7): consult
    # operators/salting.should_salt on the per-domain population before
    # the cap window — LOG-ONLY at gate scale (no fixture crosses the
    # measured 3×-rows/cores break-even, so the plain window is always
    # the measured winner here; at 100 TB a mega-domain flips the
    # decision and the executable remedy is salted_rank). The decision
    # is one bounded 1-row aggregate over the |domains|-sized
    # population relation; the fields land in BENCH_DETAIL via
    # LAST_URL_SALT_DECISION.
    #
    # cached per dataset: the decision is a property of the corpus, not
    # of the build — a production pipeline consults its monitoring
    # relation once per ingest, not once per query plan, so repeat
    # builds in one session (bench sweeps, multi-scale probes) reuse
    # each dataset's recorded decision.
    if sf_dir not in _SALT_DECISIONS:
        from ..operators.salting import should_salt

        _dec = should_salt(
            urls_df.groupBy("reg_domain").count(),
            cores=spark.sparkContext.defaultParallelism,
        )
        _SALT_DECISIONS[sf_dir] = dict(_dec._asdict(), _sf_dir=sf_dir)
    LAST_URL_SALT_DECISION.clear()
    LAST_URL_SALT_DECISION.update(_SALT_DECISIONS[sf_dir])
    wdom = Window.partitionBy("reg_domain").orderBy("doc_id")
    url_arm = (
        urls_df.withColumn("rnk", F.row_number().over(wdom))
        .withColumn(
            "n_pop",
            F.count(F.lit(1)).over(Window.partitionBy("reg_domain")).cast("bigint"),
        )
        .select(
            F.lit("url").alias("which"),
            "doc_id",
            F.col("rnk").cast("int").alias("chunk_id"),
            F.col("n_pop").alias("n_tokens"),
            (F.col("rnk") <= URL_CAP_N).cast("bigint").alias("n_bpe_tokens"),
            portable_hash64("reg_domain").alias("n_chars"),
            F.length("canon_url").cast("bigint").alias("n_unique"),
            F.round(
                F.least(F.col("n_pop"), F.lit(URL_CAP_N).cast("bigint")).cast("double")
                / F.col("n_pop"),
                6,
            ).alias("punct_ratio"),
            portable_hash64("canon_url").alias("fp"),
        )
    )
    # 'rank' arm: domain-level LINK-GRAPH PAGERANK (the Common-Crawl
    # "rank domains, filter the tail" quality signal) over a planted
    # deterministic link graph: doc d cites doc (131·d + 7) mod N, and
    # every third doc ALSO cites (5·d + 1) mod N (N riding a broadcast
    # 1-row count — no collect). The second family is the SKEW plant:
    # 131 is coprime to every domain-residue modulus so the base family
    # is domain-uniform (at r8 the graph was perfectly regular and every
    # mass sat exactly on the uniform share — no decision to gate), but
    # 5·(3k)+1 mod 20 only hits residues {1, 6, 11, 16}, so four hub
    # domains collect extra in-mass and the kept/dropped threshold
    # genuinely splits. Edges lift to (src_domain → dst_domain) with
    # multiplicity weights, and
    # operators/pagerank.integer_pagerank runs k=PR_K all-integer power
    # iterations (masses in micro-units, floor-per-edge distribution —
    # bit-identical cross-engine, see the operator docstring). The
    # corpus appears ONCE (edge derivation: a projection + one
    # self-join on the computed citation id); every iteration is
    # node-scale. Column meanings: doc_id ≡ hash64(domain), n_tokens ≡
    # out-weight, n_bpe_tokens ≡ in-edge count, n_chars ≡ final mass,
    # punct_ratio ≡ mass/scale, fp ≡ penultimate mass (gating the
    # convergence trajectory, not just the endpoint), and since r9
    # n_unique ≡ the PIPELINE DECISION (r8 verdict ask #7): kept=1 iff
    # mass·N ≥ scale, i.e. mass ≥ ceil(scale/N) — the uniform share
    # rounded UP (when scale % N != 0 a node sitting exactly on
    # scale DIV N is dropped; all three twins agree) — the "drop the
    # rank tail" quality filter, all-integer (mass·N stays < 2^63: mass ≤
    # scale=1e12, and N is domain-count-sized), N riding the same
    # broadcast 1-row node count on both engines.
    from ..operators.pagerank import PR_SCALE, integer_pagerank

    cnt_rel = docs.agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    link_a = urls_df.select("doc_id", F.col("reg_domain").alias("_sdom"))
    link_b = urls_df.select(
        F.col("doc_id").alias("_t"), F.col("reg_domain").alias("_ddom")
    )
    cites = link_a.join(F.broadcast(cnt_rel)).withColumn(
        "_t", F.expr("(doc_id * 131 + 7) % _c")
    )
    cites_skew = (
        link_a.where(F.col("doc_id") % 3 == 0)
        .join(F.broadcast(cnt_rel))
        .withColumn("_t", F.expr("(doc_id * 5 + 1) % _c"))
    )
    links = (
        cites.unionByName(cites_skew)
        .join(link_b, "_t")
        .where(F.col("_sdom") != F.col("_ddom"))
        .groupBy(F.col("_sdom").alias("src"), F.col("_ddom").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        .transform(materialize)
    )
    pr = integer_pagerank(links, k=PR_K, node_col="node")
    pr_in = links.groupBy("dst").agg(F.count(F.lit(1)).cast("bigint").alias("_in"))
    pr_out = links.groupBy("src").agg(F.sum("w").cast("bigint").alias("_ow"))
    pr_n = pr.agg(F.count(F.lit(1)).cast("bigint").alias("_nn"))
    rank_arm = (
        pr.join(pr_out.withColumnRenamed("src", "node"), "node", "left")
        .join(pr_in.withColumnRenamed("dst", "node"), "node", "left")
        .join(F.broadcast(pr_n))
        .select(
            F.lit("rank").alias("which"),
            portable_hash64("node").alias("doc_id"),
            F.lit(None).cast("int").alias("chunk_id"),
            F.coalesce("_ow", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("_in", F.lit(0)).cast("bigint").alias("n_bpe_tokens"),
            F.col("mass").alias("n_chars"),
            F.when(F.col("mass") * F.col("_nn") >= F.lit(PR_SCALE), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("n_unique"),
            F.round(F.col("mass").cast("double") / F.lit(float(PR_SCALE)), 6).alias(
                "punct_ratio"
            ),
            F.col("prev_mass").alias("fp"),
        )
    )
    # 'merge' arm: BPE-training merge candidates (see the arm comment).
    # Pairs explode row-locally off the bound token column and compress
    # to 60-bit hashes before the ONE count shuffle; Σcounts comes from
    # the aggregated pair-vocab relation (materialized — it feeds the
    # top-k AND the total), not a second corpus pass; the global rank
    # window only ever sees MERGE_K rows (post-limit).
    # token-hash arrays feed BOTH merge iterations (the iter-1 explode
    # and the iter-2 apply+explode) — materialized so the regex split +
    # per-token md5 happens once
    thd = materialize(
        base.select(
            "doc_id",
            F.transform(
                F.filter("t", lambda x: x != F.lit("")),
                lambda x: portable_hash64(x),
            ).alias("th"),
        )
    )

    def _bigram_agg(src):
        pairs = (
            src.where(F.size("th") >= 2)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(th)-1),"
                        " i -> struct(element_at(th, i) AS ha, element_at(th, i+1) AS hb))"
                    )
                ).alias("p"),
            )
            .select(
                "doc_id",
                (
                    (F.col("p.ha") % _PAIR_PACK) * _PAIR_PACK
                    + F.col("p.hb") % _PAIR_PACK
                ).alias("h"),
                F.col("p.ha").bitwiseXOR(F.col("p.hb")).alias("mx"),
            )
        )
        # materialized: the pair-vocab relation feeds the top-k, Σcounts
        # and (for iteration 1) the winner selection
        return materialize(
            pairs.groupBy("h", "mx").agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.count_distinct("doc_id").cast("bigint").alias("ndocs"),
            )
        )

    def _merge_rows(agg, tag):
        tot = agg.agg(F.sum("cnt").cast("bigint").alias("tot"))
        # rank WITHOUT a global window (the t01 plan guard bans
        # unpartitioned windows on this query, and rightly — a regex
        # guard can't see that the input is post-limit): a MERGE_K²
        # broadcast inequality self-join counts strict predecessors.
        top = (
            agg.orderBy(F.desc("cnt"), F.asc("h"), F.asc("mx"))
            .limit(MERGE_K)
            .transform(lambda df: materialize(df, eager=False))
        )
        rnk = (
            top.alias("x")
            .join(
                F.broadcast(top.alias("y")),
                F.expr(
                    "y.cnt > x.cnt OR (y.cnt = x.cnt AND y.h < x.h) "
                    "OR (y.cnt = x.cnt AND y.h = x.h AND y.mx < x.mx)"
                ),
                "left",
            )
            .groupBy("x.h", "x.mx", "x.cnt", "x.ndocs")
            .agg((F.count("y.h") + 1).cast("int").alias("rnk"))
        )
        return rnk.join(F.broadcast(tot)).select(
            F.lit(tag).alias("which"),
            F.col("h").alias("doc_id"),
            F.col("rnk").alias("chunk_id"),
            F.col("cnt").alias("n_tokens"),
            F.col("ndocs").alias("n_bpe_tokens"),
            F.col("mx").alias("n_chars"),
            F.lit(None).cast("bigint").alias("n_unique"),
            F.round(F.col("cnt").cast("double") / F.col("tot"), 6).alias(
                "punct_ratio"
            ),
            F.lit(None).cast("bigint").alias("fp"),
        )

    # The k-ITERATION BPE TRAINER (r6 verdict ask #6 — the iterative
    # shape, not unrolled copies). Per iteration: pick the winner (top
    # pair whose member residues differ — non-overlapping occurrences,
    # so the apply step is a pure positional transform), APPLY it (every
    # occurrence collapses to new token id h + i·2^60), recount bigrams.
    # All hard indexes stay in [1, size]; only the i+1 lookahead uses
    # try_element_at (NULL past the end, matching DuckDB's NULL-safe
    # list indexing) — ANSI mode throws on true out-of-range element_at.
    # Iteration hygiene: the merged array relation AND the winner row
    # are materialized each iteration (lineage truncated), so iteration
    # k's plan never re-embeds iterations 1..k-1 — and the per-iteration
    # cost stays ONE explode + one map-side-combined count shuffle over
    # bigint keys, the shape that holds at a 100 TB corpus. Winner
    # selection is a LIMIT 1 on the aggregated pair vocab (no collect —
    # the loop stays fully lazy; k is a static trainer parameter).
    apply_expr = f"""filter(transform(sequence(1, size(th)), i -> CASE
        WHEN i > 1 AND element_at(th, greatest(i - 1, 1)) % {_PAIR_PACK} = ar
             AND element_at(th, i) % {_PAIR_PACK} = br THEN CAST(NULL AS BIGINT)
        WHEN try_element_at(th, i + 1) % {_PAIR_PACK} = br
             AND element_at(th, i) % {_PAIR_PACK} = ar THEN nid
        ELSE element_at(th, i) END), x -> x IS NOT NULL)"""
    assert K_BPE >= 2, "the 'merge2' arm reads iteration 2's counts"
    aggs: dict[int, object] = {1: _bigram_agg(thd)}
    winners = []  # the accumulated vocab relation, one row per iteration
    ths_cur = thd
    for i in range(2, K_BPE + 1):
        w = i - 1
        # mx in the tiebreak mirrors the SQL twin: a (cnt, h) tie between
        # two (h, mx) groups (packed-residue collision) must pick the same
        # winner on both engines now that wmx/wndocs are gated output
        winner = materialize(
            aggs[w]
            .where(F.expr(f"h DIV {_PAIR_PACK} <> h % {_PAIR_PACK}"))
            .orderBy(F.desc("cnt"), F.asc("h"), F.asc("mx"))
            .limit(1)
            .select(
                F.expr(f"h DIV {_PAIR_PACK}").alias("ar"),
                (F.col("h") % _PAIR_PACK).alias("br"),
                (F.col("h") + F.lit(w * (1 << 60))).alias("nid"),
                F.col("h").alias("wh"),
                F.col("mx").alias("wmx"),
                F.col("cnt").alias("wcnt"),
                F.col("ndocs").alias("wndocs"),
            )
        )
        winners.append(winner)
        # materializing the merged-array relation wins over recomputing
        # the positional transform into each consumer (A/B at sf0.1:
        # 7.9-8.5 s materialized vs 8.7-9.3 s recomputed, frozen and
        # full both) — the array rewrite is the trainer's hot loop.
        # Short docs pass through unmerged (CASE, matching the SQL twin)
        # so the final relation is the COMPLETE encoded corpus.
        # LEFT join (not cross): on a degenerate corpus where an
        # iteration has no valid merge pair the winner relation is
        # EMPTY, and a cross join would silently empty the whole
        # encoded relation (r8 ADVICE). Left-join-on-true instead makes
        # the application a NO-OP there: ar/br/nid come back NULL, every
        # CASE predicate evaluates NULL → ELSE → identity, and the
        # filter keeps all positions — same broadcast-nested-loop plan,
        # winner present or not.
        ths_cur = materialize(
            ths_cur.join(
                F.broadcast(winner.select("ar", "br", "nid")), F.lit(True), "left"
            )
            .select(
                "doc_id",
                F.when(F.size("th") >= 2, F.expr(apply_expr))
                .otherwise(F.col("th"))
                .alias("th"),
            )
        )
        aggs[i] = _bigram_agg(ths_cur)

    merge_arm = _merge_rows(aggs[1], "merge")
    merge2_arm = _merge_rows(aggs[2], "merge2")
    # 'mergeK': iteration-K candidates + the accumulated vocab (one row
    # per applied winner: chunk_id = -iteration, fp = assigned token id)
    mergek_arm = _merge_rows(aggs[K_BPE], "mergeK")
    for w, winner in enumerate(winners, start=1):
        mergek_arm = mergek_arm.unionAll(
            winner.select(
                F.lit("mergeK").alias("which"),
                F.col("wh").alias("doc_id"),
                F.lit(-w).cast("int").alias("chunk_id"),
                F.col("wcnt").alias("n_tokens"),
                F.col("wndocs").alias("n_bpe_tokens"),
                F.col("wmx").alias("n_chars"),
                F.lit(None).cast("bigint").alias("n_unique"),
                F.lit(None).cast("double").alias("punct_ratio"),
                F.col("nid").alias("fp"),
            )
        )
    # 'encode' arm: the corpus-scale APPLICATION of the trained vocab —
    # the pass a pipeline runs nightly over new data. BPE encoding IS
    # the merge list applied in training order, which is exactly what
    # the trainer's per-iteration positional transform computed, and
    # since round 8 the relation carries short docs through unchanged —
    # so ths_cur after the k-1 winner applications is the COMPLETE
    # encoded corpus. Gate per-doc before/after token counts and the
    # full encoded-sequence fingerprint (comma-joined decimal render,
    # identical on both engines) against the oracle's ths{k}. One
    # doc-keyed join of two already-materialized doc-sized relations.
    encode_arm = (
        thd.select("doc_id", F.size("th").cast("bigint").alias("_n0"))
        .join(ths_cur, "doc_id")
        .select(
            F.lit("encode").alias("which"),
            "doc_id",
            F.lit(None).cast("int").alias("chunk_id"),
            F.col("_n0").alias("n_tokens"),
            F.size("th").cast("bigint").alias("n_bpe_tokens"),
            F.lit(None).cast("bigint").alias("n_chars"),
            F.lit(None).cast("bigint").alias("n_unique"),
            F.lit(None).cast("double").alias("punct_ratio"),
            portable_hash64(
                F.array_join(F.transform("th", lambda x: x.cast("string")), ",")
            ).alias("fp"),
        )
    )
    # 'mergeB' arm: the BATCHED-merge BPE trainer (see the arm comment
    # and operators/bpe_batch.py — the scale form of the sequential
    # trainer: one job per ROUND of up to BB_M pairwise-disjoint
    # merges, not one per merge). Runs its own BB_ROUNDS rounds off the
    # shared materialized token-hash relation; per round the cost is
    # ONE map-side-combined bigram-count shuffle over 60-bit keys, two
    # ≤16-row broadcast self-joins, a 1-row broadcast map relation, and
    # a row-local corpus rewrite (materialized — same lineage hygiene
    # as the sequential loop). In production you run EITHER this OR the
    # sequential trainer; the gate runs both to cross-check them. The
    # round-0 pair count IS the sequential trainer's materialized
    # iteration-1 pair vocab (identical packing, tiebreak columns and
    # >=2-token predicate; ndocs rides along unused), so since r13 it
    # is passed in as counts0= instead of recounted — removing the
    # cross-check's one duplicate corpus pass (deliberately accepted
    # r8-r12; the operator grew the precomputed-counts parameter when
    # the duplicate became the census's top remaining line). Verified
    # row-identical vs the oracle at both gate scales.
    from ..operators.bpe_batch import batched_bpe_train

    bb_corpus, bb_vocab = batched_bpe_train(
        thd, rounds=BB_ROUNDS, m=BB_M, counts0=aggs[1]
    )
    mergeb_arm = bb_vocab.select(
        F.lit("mergeB").alias("which"),
        (F.col("ar") * _PAIR_PACK + F.col("br")).alias("doc_id"),
        (-(F.col("round") * BB_M + F.col("rnk"))).cast("int").alias("chunk_id"),
        F.col("cnt").alias("n_tokens"),
        F.col("rnk").cast("bigint").alias("n_bpe_tokens"),
        F.col("ar").alias("n_chars"),
        F.col("br").alias("n_unique"),
        F.lit(None).cast("double").alias("punct_ratio"),
        F.col("nid").alias("fp"),
    ).unionAll(
        thd.select("doc_id", F.size("th").cast("bigint").alias("_n0"))
        .join(bb_corpus, "doc_id")
        .select(
            F.lit("mergeB").alias("which"),
            "doc_id",
            F.lit(None).cast("int").alias("chunk_id"),
            F.col("_n0").alias("n_tokens"),
            F.size("th").cast("bigint").alias("n_bpe_tokens"),
            F.lit(None).cast("bigint").alias("n_chars"),
            F.lit(None).cast("bigint").alias("n_unique"),
            F.lit(None).cast("double").alias("punct_ratio"),
            portable_hash64(
                F.array_join(F.transform("th", lambda x: x.cast("string")), ",")
            ).alias("fp"),
        )
    )
    # 'lm' arm: BIGRAM-LM PERPLEXITY quality score (the CCNet-style
    # signal; the 'score' arm is its linear-classifier counterpart).
    # Counts train on the doc_id % LM_TRAIN_MOD slice; every doc is
    # scored by add-one-smoothed log-probs in integer micro-units (see
    # _lm_ctes_sql for the cross-engine determinism argument). Shuffle
    # shape: the bigram relation moves as 3 bigints and is materialized
    # once for its three consumers; count relations are vocab-sized and
    # join on the hash keys (co-located at scale, broadcast at gate
    # scale — AQE's call); text never rides anything.
    lmbig = materialize(
        thd.where(F.size("th") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(th) - 1),"
                    " i -> struct(element_at(th, i) AS ha,"
                    " element_at(th, i + 1) AS hb))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.ha", "p.hb")
    )
    lm_train = lmbig.where(F.col("doc_id") % LM_TRAIN_MOD == 0)
    lmctx = lm_train.groupBy("ha").agg(F.count(F.lit(1)).cast("bigint").alias("c_ctx"))
    lmpc = lm_train.groupBy("ha", "hb").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_ab")
    )
    lmv = (
        thd.where(F.col("doc_id") % LM_TRAIN_MOD == 0)
        .select(F.explode("th").alias("u"))
        .agg(F.count_distinct("u").cast("bigint").alias("v"))
    )
    lp = F.round(
        F.lit(1000000.0)
        * F.log(
            (F.coalesce("c_ab", F.lit(0)) + 1)
            / (F.coalesce("c_ctx", F.lit(0)) + F.col("v")).cast("double")
        ),
        0,
    ).cast("bigint")
    lmsc = (
        lmbig.join(lmpc, ["ha", "hb"], "left")
        .join(lmctx, "ha", "left")
        .join(F.broadcast(lmv))
        .groupBy("doc_id")
        .agg(
            F.sum(lp).cast("bigint").alias("score"),
            F.sum(F.when(F.col("c_ab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
    )
    lm_doc = (
        thd.select(
            "doc_id",
            F.greatest(F.size("th") - 1, F.lit(0)).cast("bigint").alias("nb"),
        )
        .join(lmsc, "doc_id", "left")
        .select(
            "doc_id",
            "nb",
            F.coalesce("score", F.lit(0)).cast("bigint").alias("score"),
            F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
        )
    )
    lm_avg = F.col("score").cast("double") / F.col("nb")
    lm_arm = lm_doc.select(
        F.lit("lm").alias("which"),
        "doc_id",
        F.when(F.col("nb") == 0, F.lit(-1))
        .otherwise(
            F.least(
                F.lit(LM_BUCKETS - 1),
                F.greatest(
                    F.lit(0), F.floor((lm_avg + 15000000) / 1000000.0).cast("int")
                ),
            )
        )
        .cast("int")
        .alias("chunk_id"),
        F.col("nb").alias("n_tokens"),
        F.col("n_oov").alias("n_bpe_tokens"),
        F.lit(None).cast("bigint").alias("n_chars"),
        F.lit(None).cast("bigint").alias("n_unique"),
        F.when(F.col("nb") == 0, F.lit(0.0))
        .otherwise(F.round(lm_avg / 1000000.0, 6))
        .alias("punct_ratio"),
        F.col("score").alias("fp"),
    )
    out = (
        doc_arm.unionAll(chunk_arm).unionAll(pack_arm)
        .unionAll(mix_arm).unionAll(score_arm).unionAll(sample_arm)
        .unionAll(funnel_arm).unionAll(cap_arm).unionAll(url_arm)
        .unionAll(rank_arm)
        .unionAll(merge_arm).unionAll(merge2_arm).unionAll(mergek_arm)
        .unionAll(mergeb_arm).unionAll(encode_arm).unionAll(lm_arm)
    )
    # dictD family (r11): the dictionary-form BPE lifecycle —
    # train/encode/infer/decode arms (plans/bpe_dict_queries.py). Its
    # CONSTRUCTION is eager (the dictionary-count scalar + the vocab
    # max(round) scan run driver-side while the plan is built).
    from .bpe_dict_queries import dict_bpe_arms

    return out.unionAll(dict_bpe_arms(thd))


# T2 — language-ID heuristics, both forms: stopword-profile hit counts
# (argmax with deterministic tiebreak, below) AND the character-n-gram
# profile method proper (t02's tri_lang/tri_hits columns — space-padded
# trigram profiles, broadcast-joined against the exploded doc trigrams).
def _langid_columns():
    """Language-ID as pure column expressions (argmax over stopword-profile
    hit counts, later profiles win only strictly) — composable into any
    projection without a join."""
    hits = {lang: stopword_hits("text", words) for lang, words in LANG_PROFILES.items()}
    best = F.lit("und")
    best_score = F.lit(-1).cast("bigint")
    for lang in LANG_PROFILES:  # later profiles win only strictly
        c = hits[lang]
        best = F.when(c > best_score, F.lit(lang)).otherwise(best)
        best_score = F.when(c > best_score, c).otherwise(best_score)
    return [
        *[hits[lang].alias(f"hits_{lang}") for lang in LANG_PROFILES],
        F.when(best_score <= 0, "und").otherwise(best).alias("predicted_lang"),
    ]


def _langid_spark(docs):
    return docs.select("doc_id", F.col("lang").alias("labeled_lang"), *_langid_columns())


def _langid_sql() -> str:
    hit_cols = ", ".join(
        f"{stopword_hits_sql('text', words)} AS hits_{lang}"
        for lang, words in LANG_PROFILES.items()
    )
    langs = list(LANG_PROFILES)
    best, best_score = "'und'", "CAST(-1 AS BIGINT)"
    for lang in langs:
        best = f"CASE WHEN hits_{lang} > {best_score} THEN '{lang}' ELSE {best} END"
        best_score = f"CASE WHEN hits_{lang} > {best_score} THEN hits_{lang} ELSE {best_score} END"
    return f"""
    SELECT doc_id, lang AS labeled_lang,
           {', '.join(f'hits_{lang}' for lang in langs)},
           CASE WHEN {best_score} <= 0 THEN 'und' ELSE {best} END AS predicted_lang
    FROM (SELECT doc_id, lang, {hit_cols} FROM documents)
    """


# T2 + T3 + T4 + SimHash — the per-document text-analysis profile as one
# joined result (50-query driver cap): language-ID heuristic, composite
# quality score, content fingerprint + shard, 16-bit SimHash, plus two
# training-data filter surfaces:
# - REPETITION quality (the Gopher-rule family): duplicate-bigram
#   fraction 1 - distinct/total over the token stream — row-local, the
#   repetition filter a quality pipeline thresholds on;
# - PII DETECT + REDACT with planted ground truth: every 41st doc gets
#   a deterministic appended email + phone (both engines construct it
#   identically), the profile counts matches and fingerprints the
#   REDACTED text — a redaction bug (missed match, wrong replacement)
#   breaks n_emails/n_phones or redacted_fp at the gate.
_PII_MOD = 41
_PII_SUFFIX = " contact bob@example.com or 555-0100"
_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"
# - BOILERPLATE detect + strip with planted ground truth (the
#   C4/RefinedWeb footer-removal op): every 3rd doc gets its SOURCE's
#   deterministic 4-token footer appended ("visit <source> homepage
#   today" — per-source boilerplate, the real-scrape shape); detection
#   is per-(source, last-4-token-suffix) frequency — a suffix carried
#   by ≥ 20% of its source's docs (integer predicate 5·cnt ≥ n_src, no
#   float threshold) is boilerplate. Flagged docs emit the fingerprint
#   of the STRIPPED text — which for planted docs must equal the
#   pre-plant fingerprint, so a detector that misses a plant OR strips
#   the wrong tokens breaks `boiler`/`boiler_fp` at the gate. The
#   frequency table shuffles bare (source, suffix) pairs and the
#   flagged set re-attaches as a broadcast — the corpus text itself
#   never rides a shuffle.
_BOILER_MOD = 3
_BOILER_MIN_FRAC = 5  # boilerplate iff 5·cnt ≥ n_src (cnt/n ≥ 20%)


def _quality_sql() -> str:
    return f"""
    SELECT doc_id,
           round(
               0.3 * least(ln(1 + {token_count_sql('text')}) / ln(201), 1.0)
             + 0.3 * (1.0 - least({punct_ratio_sql('text')} * 5, 1.0))
             + 0.2 * least(({stopword_hits_sql('text', LANG_PROFILES['en'])}::DOUBLE
                            / greatest({token_count_sql('text')}, 1)) * 10, 1.0)
             + 0.2 * (len(list_distinct({tokens_sql('text')}))::DOUBLE
                      / greatest({token_count_sql('text')}, 1))
           , 6) AS quality
    FROM documents
    """


def _profile_sql() -> str:
    from ..functions.dedup import simhash16_sql
    from ..functions.text import winnow_fp_sql_list

    langs = sorted(LANG_TRIGRAMS)
    th_cols = ", ".join(
        "CAST(len(list_filter(tri, x -> x IN ("
        + ", ".join(f"'{t}'" for t in LANG_TRIGRAMS[lang])
        + f"))) AS BIGINT) AS th_{lang}"
        for lang in langs
    )
    mx = "greatest(" + ", ".join(f"th_{lang}" for lang in langs) + ")"
    pick = " ".join(f"WHEN th_{lang} = _mx THEN '{lang}'" for lang in langs)
    return f"""
    WITH langid AS ({_langid_sql()}),
    tribest AS (
        SELECT doc_id,
               CASE WHEN _mx <= 0 THEN 'und' {pick} END AS tri_lang,
               CASE WHEN _mx <= 0 THEN CAST(0 AS BIGINT) ELSE _mx END AS tri_hits
        FROM (
            SELECT *, {mx} AS _mx FROM (
                SELECT doc_id, {th_cols} FROM (
                    SELECT doc_id,
                           list_transform(range(1, greatest(length(nt) - 1, 2)),
                                          i -> substr(nt, i, 3)) AS tri
                    FROM (
                        SELECT doc_id, ' ' || {norm_text_sql('text')} || ' ' AS nt
                        FROM documents
                    )
                )
            )
        )
    ),
    quality AS ({_quality_sql()}),
    fp AS (
        SELECT doc_id, fingerprint, shard,
               CAST(len(_wf) AS BIGINT) AS n_winnow_fp,
               CAST(coalesce(list_sum(_wf), 0) AS BIGINT) AS winnow_fp_sum
        FROM (
            SELECT doc_id,
                   {portable_hash64_sql(norm_text_sql('text'))} AS fingerprint,
                   {portable_hash64_sql(norm_text_sql('text'))} % 1024 AS shard,
                   {winnow_fp_sql_list('text')} AS _wf
            FROM documents
        )
    ),
    sim AS ({simhash16_sql('documents', 'doc_id', tokens_sql('text'))}),
    tft AS (
        SELECT doc_id, th, CAST(count(*) AS BIGINT) AS tf
        FROM (
            SELECT doc_id, {portable_hash64_sql('tok')} AS th
            FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM documents)
            WHERE tok <> ''
        ) GROUP BY doc_id, th
    ),
    tdf AS (SELECT th, CAST(count(*) AS BIGINT) AS df FROM tft GROUP BY th),
    tn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    tfidf AS (
        SELECT doc_id,
               (max(struct_pack(w := s, h := th))).w AS tfidf_w,
               (max(struct_pack(w := s, h := th))).h AS tfidf_top
        FROM (
            SELECT t.doc_id, t.th, t.tf * ((n.n * 1000000) // d.df) AS s
            FROM tft t JOIN tdf d ON t.th = d.th, tn n
        ) GROUP BY doc_id
    ),
    piirep AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(ptxt, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(ptxt, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
               {portable_hash64_sql(
                   "regexp_replace(regexp_replace(ptxt, '" + _EMAIL_RE
                   + "', '<EMAIL>', 'g'), '" + _PHONE_RE + "', '<PHONE>', 'g')"
               )} AS redacted_fp,
               CASE WHEN len(t) > 1
                    THEN round(1.0 - len(list_distinct(list_transform(
                             range(len(t) - 1), x -> t[x+1] || ' ' || t[x+2]
                         )))::DOUBLE / (len(t) - 1), 6)
                    ELSE 0.0 END AS rep_ratio
        FROM (
            SELECT doc_id,
                   CASE WHEN doc_id % {_PII_MOD} = 0
                        THEN text || '{_PII_SUFFIX}' ELSE text END AS ptxt,
                   {tokens_sql('text')} AS t
            FROM documents
        )
    ),
    bdocs AS (
        SELECT doc_id, source, bp,
               CASE WHEN len(l) >= 4
                    THEN array_to_string(l[len(l)-3:len(l)], ' ')
                    ELSE bp END AS suffix
        FROM (
            SELECT doc_id, source, bp, string_split(bp, ' ') AS l
            FROM (
                SELECT doc_id, source,
                       CASE WHEN doc_id % {_BOILER_MOD} = 0
                            THEN text || ' visit ' || source || ' homepage today'
                            ELSE text END AS bp
                FROM documents
            )
        )
    ),
    bfreq AS (
        SELECT source, suffix, count(*) AS cnt
        FROM bdocs GROUP BY source, suffix
    ),
    bset AS (
        SELECT g.source, g.suffix
        FROM bfreq g
        JOIN (SELECT source, sum(cnt) AS n_src
              FROM bfreq GROUP BY source) s ON g.source = s.source
        WHERE {_BOILER_MIN_FRAC} * g.cnt >= s.n_src
    ),
    boil AS (
        SELECT b.doc_id,
               CASE WHEN bs.suffix IS NOT NULL
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS boiler,
               {portable_hash64_sql(norm_text_sql(
                   "CASE WHEN bs.suffix IS NOT NULL "
                   "THEN rtrim(substr(b.bp, 1, length(b.bp) - length(b.suffix))) "
                   "ELSE b.bp END"
               ))} AS boiler_fp
        FROM bdocs b
        LEFT JOIN bset bs ON b.source = bs.source AND b.suffix = bs.suffix
    )
    SELECT l.doc_id, l.labeled_lang,
           l.hits_en, l.hits_es, l.hits_fr, l.hits_de, l.predicted_lang,
           coalesce(t3.tri_lang, 'und') AS tri_lang,
           coalesce(t3.tri_hits, 0) AS tri_hits,
           q.quality, f.fingerprint, f.shard,
           p.rep_ratio, p.n_emails, p.n_phones, p.redacted_fp,
           b.boiler, b.boiler_fp,
           tf2.tfidf_w, tf2.tfidf_top,
           f.n_winnow_fp, f.winnow_fp_sum,
           s.simhash
    FROM langid l
    JOIN quality q ON l.doc_id = q.doc_id
    JOIN fp f ON l.doc_id = f.doc_id
    JOIN sim s ON l.doc_id = s.doc_id
    JOIN piirep p ON l.doc_id = p.doc_id
    JOIN boil b ON l.doc_id = b.doc_id
    LEFT JOIN tfidf tf2 ON l.doc_id = tf2.doc_id
    LEFT JOIN tribest t3 ON l.doc_id = t3.doc_id
    """


@register("t02_text_profile", oracle=_profile_sql(),
          tags=("text", "langid", "quality", "fingerprint", "simhash"))
def t02_text_profile(spark, sf_dir):
    """Per-document analysis profile: stopword-profile language ID
    (argmax with deterministic tiebreak), composite quality in [0,1]
    (length, punctuation, stopword density, type/token ratio),
    content fingerprint + shard bucket, duplicate-bigram repetition
    ratio (the Gopher-rule repetition filter), PII detect + redact with
    planted ground truth (every 41st doc carries a deterministic
    email + phone; match counts and the redacted-text fingerprint are
    value-gated), BOILERPLATE detect + strip with planted ground truth
    (every 3rd doc carries its source's 4-token footer; per-source
    suffix-frequency detection with an integer ≥20% threshold, and the
    stripped-text fingerprint of a planted doc must equal its pre-plant
    fingerprint), rolling-hash winnowing fingerprints (Rabin-Karp token
    3-gram polynomial → min-per-window-of-4 selection, emitted as
    count + sum reductions), 16-bit SimHash. All built-in expressions;
    one narrow join chain on doc_id.

    NEW (r7): character-TRIGRAM language-ID (`tri_lang`/`tri_hits`) —
    the n-gram-profile heuristic proper (Cavnar-Trenkle): space-padded,
    language-EXCLUSIVE trigram profiles derived from the stopword
    lists; the sliding trigram array, per-language counts and the
    deterministic argmax (score desc, lang asc) are all row-local
    projection expressions — zero shuffles, zero joins, pure
    whole-stage codegen at any corpus size. On natural
    language the classifier is accurate
    (tests/test_text.py::test_trigram_langid_on_natural_language); on
    THIS synthetic word-salad corpus the labels carry no character-
    level signal (content tokens like "customer"/"fast" end in
    German-profile grams), so the gate checks cross-engine identity —
    the stopword arm (`predicted_lang`) is the accurate one here
    because it matches whole tokens."""
    from ..functions.dedup import simhash16
    from ..functions.text import winnow_fingerprints

    # the documents parquet is a single file → spread the CPU-heavy text
    # expressions across the executor threads (the shuffle is a few MB).
    # NOT checkpointed: the three branches re-read the spread exchange
    # (reused), and materializing raw text measured slightly slower than
    # scan pipelining at both sf0.1 and the 10x corpus.
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")

    n_tok = token_count("text")
    stop = stopword_hits("text", LANG_PROFILES["en"]).cast("double")
    uniq = F.size(F.array_distinct(tokens("text"))).cast("double")
    quality = (
        0.3 * F.least(F.log(1 + n_tok) / F.log(F.lit(201.0)), F.lit(1.0))
        + 0.3 * (1.0 - F.least(punct_ratio("text") * 5, F.lit(1.0)))
        + 0.2 * F.least((stop / F.greatest(n_tok, F.lit(1))) * 10, F.lit(1.0))
        + 0.2 * (uniq / F.greatest(n_tok, F.lit(1)))
    )
    fp = portable_hash64(norm_text("text"))
    # PII surface on the planted text; repetition on the raw token stream
    ptxt = F.when(
        F.col("doc_id") % _PII_MOD == 0, F.concat(F.col("text"), F.lit(_PII_SUFFIX))
    ).otherwise(F.col("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(ptxt, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    t = tokens("text")
    nb = F.greatest(F.size(t) - 1, F.lit(0))
    # codegen-safe bigrams: zip of two aligned slices (the shingles()
    # pattern), NOT a transform-over-sequence lambda closing over t
    bigrams = F.transform(
        F.arrays_zip(F.slice(t, 1, nb), F.slice(t, 2, nb)),
        lambda s: F.concat_ws(" ", s["0"], s["1"]),
    )
    rep_ratio = F.when(
        nb > 0,
        F.round(
            1.0 - F.size(F.array_distinct(bigrams)).cast("double") / nb.cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))
    # boilerplate inputs (see the constants comment) — pure string ops,
    # no token arrays, no regex: the suffix is the last 4
    # space-separated tokens of the RAW planted text, and stripping is
    # length-arithmetic substr on the raw string, so a flagged planted
    # doc's stripped text IS its original text and the normalized
    # fingerprints are equal by construction, not by reconstruction
    bptxt = F.when(
        F.col("doc_id") % _BOILER_MOD == 0,
        F.concat("text", F.lit(" visit "), "source", F.lit(" homepage today")),
    ).otherwise(F.col("text"))
    # substring_index(bp, ' ', -4) IS the whole suffix contract in one
    # cheap reverse scan: the last 4 space-separated tokens, or the
    # whole string when there are fewer — no regex, no token arrays.
    # Detection runs on the RAW planted text (string-identical on both
    # engines); normalization is paid only once, on the (possibly
    # stripped) fingerprint input — not on the frequency scan.
    suffix = F.substring_index(bptxt, " ", -4)
    # suffix-frequency over a PRUNED (source, suffix) scan, materialized
    # (≈ one small row per doc) because the per-source totals re-read it
    # (sum of group counts == doc count — no second corpus scan)
    freq = (
        docs.select("source", suffix.alias("suffix"))
        .groupBy("source", "suffix")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(materialize)
    )
    bset = (
        freq.join(freq.groupBy("source").agg(F.sum("cnt").alias("n_src")), "source")
        .where(_BOILER_MIN_FRAC * F.col("cnt") >= F.col("n_src"))
        .select("source", "suffix")
    )
    # lang-id, the scalar profile AND the boilerplate columns are
    # per-row projections of the same scan — ONE select plus a broadcast
    # flag join (the tiny flagged-suffix set), no corpus-sized join or
    # rescan for boilerplate; only SimHash (explode + groupBy vote)
    # genuinely needs its own aggregation branch
    langid_cols = _langid_columns()
    # trigram language-ID columns (see docstring): the sliding trigram
    # array, per-language exclusive-gram counts and the argmax are ALL
    # row-local projection expressions riding the SAME profile scan —
    # no extra scan, no join, no shuffle. The padded text and the
    # trigram array are BOUND as columns before any lambda touches
    # them: a lambda closing over the raw expression re-evaluates the
    # whole lower+regexp chain per element — the O(len²) trap the
    # shingles() docstring documents (measured catastrophically here:
    # 234 s at sf0.1 unbound vs sub-second bound; CollapseProject keeps
    # multi-referenced aliases un-inlined, which is what makes the
    # binding stick).
    langs = sorted(LANG_TRIGRAMS)
    docs_tri = (
        docs.withColumn(
            "_nt", F.concat(F.lit(" "), norm_text("text"), F.lit(" "))
        )
        .withColumn(
            "_tri",
            F.expr(
                "transform(sequence(1, greatest(length(_nt) - 2, 1)),"
                " i -> substring(_nt, i, 3))"
            ),
        )
        .withColumns({
            f"_th_{lang}": F.size(
                F.expr(
                    "filter(_tri, x -> x IN ("
                    + ", ".join(f"'{t}'" for t in LANG_TRIGRAMS[lang])
                    + "))"
                )
            ).cast("bigint")
            for lang in langs
        })
    )
    mx = F.greatest(*[F.col(f"_th_{lang}") for lang in langs])
    pick = F.lit("und")
    for lang in reversed(langs):  # earliest (smallest) lang wins ties
        pick = F.when(F.col(f"_th_{lang}") == mx, F.lit(lang)).otherwise(pick)
    tri_cols = [
        F.when(mx <= 0, F.lit("und")).otherwise(pick).alias("tri_lang"),
        F.when(mx <= 0, F.lit(0)).otherwise(mx).cast("bigint").alias("tri_hits"),
    ]
    profile = (
        docs_tri.select(
            "doc_id",
            "source",
            F.col("lang").alias("labeled_lang"),
            *langid_cols,
            *tri_cols,
            F.round(quality, 6).alias("quality"),
            fp.alias("fingerprint"),
            (fp % 1024).alias("shard"),
            rep_ratio.alias("rep_ratio"),
            F.regexp_count(ptxt, F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
            F.regexp_count(ptxt, F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
            portable_hash64(redacted).alias("redacted_fp"),
            bptxt.alias("bp"),
            suffix.alias("suffix"),
        )
        .join(F.broadcast(bset).withColumn("_b", F.lit(1)), ["source", "suffix"], "left")
        .withColumn("boiler", F.coalesce("_b", F.lit(0)).cast("bigint"))
        .withColumn(
            "boiler_fp",
            portable_hash64(
                norm_text(
                    F.when(
                        F.col("_b").isNotNull(),
                        F.rtrim(F.expr("substr(bp, 1, length(bp) - length(suffix))")),
                    ).otherwise(F.col("bp"))
                )
            ),
        )
        .drop("source", "suffix", "bp", "_b")
    )
    sim = simhash16(docs.select("doc_id", tokens("text").alias("t")), "doc_id", F.col("t"))
    wf = winnow_fingerprints(docs.select("doc_id", "text"), "doc_id", "text")
    # TF-IDF-ish rarity-weighted top term: the GLOBAL-STATS JOIN-BACK
    # shape the rest of the profile deliberately avoids — document
    # frequencies are corpus statistics that at 100 TB cannot broadcast,
    # so the (doc, term) relation shuffles by term hash (bigints, never
    # token strings), joins the df relation co-located, and reduces per
    # doc with a lexicographic max(struct) — a DETERMINISTIC argmax
    # (score, then hash) on both engines, unlike max_by/arg_max whose
    # tie choice is undefined. rarity = (N·10⁶) DIV df, all-integer;
    # at extreme corpus sizes the 10⁶ scale constant shrinks to keep
    # tf·rarity inside int64 (noted, irrelevant at gate scale).
    tft = materialize(
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .where(F.col("tok") != "")
        .select("doc_id", portable_hash64("tok").alias("th"))
        .groupBy("doc_id", "th")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    tdf = tft.groupBy("th").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    tn = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tfidf = (
        tft.join(tdf, "th")
        .join(F.broadcast(tn))
        .select("doc_id", "th", F.expr("tf * ((n * 1000000) DIV df)").alias("s"))
        .groupBy("doc_id")
        .agg(F.max(F.struct("s", "th")).alias("m"))
        .select(
            "doc_id",
            F.col("m.s").alias("tfidf_w"),
            F.col("m.th").alias("tfidf_top"),
        )
    )
    joined = (
        profile.join(sim, "doc_id")
        .join(wf, "doc_id", "left")
        .join(tfidf, "doc_id", "left")
        .withColumn("n_winnow_fp", F.coalesce("n_winnow_fp", F.lit(0)).cast("bigint"))
        .withColumn("winnow_fp_sum", F.coalesce("winnow_fp_sum", F.lit(0)).cast("bigint"))
    )
    # column order mirrors the oracle's select list
    cols = [
        c for c in joined.columns
        if c not in ("boiler", "boiler_fp", "n_winnow_fp", "winnow_fp_sum", "simhash")
    ]
    return joined.select(
        *cols, "boiler", "boiler_fp", "n_winnow_fp", "winnow_fp_sum", "simhash"
    )
