"""Unigram-LM subword tokenizer (SentencePiece; Kudo 2018, "Subword
Regularization") — the BPE tier's companion: together they are the two
dominant tokenizer families a training pipeline chooses between
(BPE/WordPiece grow a vocabulary bottom-up by merging; unigram-LM
starts from a large candidate set and keeps the pieces that explain
the corpus best).

Spark-first, exact-integer restatement of the trainer:

* Training operates on the WEIGHTED TOKEN VOCABULARY, not the raw
  corpus (the ``bpe.train`` discipline): one corpus pass builds
  ``(tok, cnt)``; every subsequent stage — candidate generation, each
  EM round's segmentation and re-count — touches only vocabulary-
  bounded relations, so the corpus contributes ONE shuffle ever and
  the model is trainable at 100 TB.
* Candidate pieces are all substrings (length <= MAXP) of vocabulary
  tokens, occurrence-weighted; the top ``VMAX`` multi-char candidates
  by (count desc, piece asc) plus ALL single characters (the coverage
  guarantee Kudo keeps too) form the initial table.
* Piece likelihoods are EXACT INTEGERS: ``p_micro = cnt * 1e6 DIV
  total`` (the repo's micro-ratio carrier) — no ``log``, so every
  engine replays fit and encode bit-for-bit.  Hard-EM (Viterbi-style)
  rounds: the E-step segments each vocabulary token GREEDY
  LONGEST-MATCH-FIRST against the current table (the WordPiece
  inference rule — the log-free stand-in for Kudo's max-sum-of-log-p
  Viterbi: under a unigram model longer matches dominate the
  likelihood, and greedy longest-match is the standard deterministic
  approximation; deviation documented); the M-step re-counts pieces
  over the segmentation (occurrence-weighted), drops unused
  multi-char pieces (Kudo's pruning) and keeps characters with
  count >= 1 smoothing.
* The model lives on the DRIVER between rounds (the literal-Lloyd /
  ``bpe.train`` economics): the piece table is MODEL-sized by
  construction (<= VMAX + alphabet rows), so each round is ONE job —
  a map-only literal-map segmentation fold over the vocabulary, a
  partial-agg piece re-count, and a model-sized collect; the update
  is exact Python integer math.  (The first cut unrolled the greedy
  walk as MAX_TOK relational join steps instead: ~55 shuffle stages
  per fit and 26 s at sf0.1 vs ~3 s for the fold — and the unrolled
  form is still exactly what the DuckDB oracle replays.)

No reference analogue (the reference is a monoid-reduce UDAF crate,
src/monoid.rs); mandated by the pipeline brief's text tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators.dedup import tokens

MAXP = 4        #: max candidate piece length (chars)
MAX_TOK = 10    #: greedy fold steps == max segmentable token length
VMAX = 48       #: multi-char candidate budget (top by count, then piece)
ROUNDS = 2      #: hard-EM rounds
MICRO = 1_000_000

#: [(piece, cnt, p_micro)] — the driver-side model carrier
PieceTable = list[tuple[str, int, int]]


def token_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(tok, cnt): occurrence-weighted token vocabulary — the ONE
    corpus-sized pass of the trainer."""
    return (docs.select(F.explode(tokens(text_col)).alias("tok"))
            .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))


def candidate_pieces(vocab: DataFrame) -> DataFrame:
    """(piece, cnt): every substring of length 1..MAXP of every
    vocabulary token, weighted by token count and occurrence position
    (vocabulary-bounded: |vocab| x len x MAXP rows)."""
    starts = F.sequence(F.lit(1), F.length("tok"))
    sub = (vocab.select("cnt", F.col("tok"),
                        F.explode(starts).alias("st"))
           .select("cnt", "tok", "st",
                   F.explode(F.sequence(F.lit(1), F.lit(MAXP))).alias("l"))
           .where(F.col("st") + F.col("l") - 1 <= F.length("tok"))
           .select(F.expr("substring(tok, st, l)").alias("piece"), "cnt"))
    return sub.groupBy("piece").agg(F.sum("cnt").cast("bigint").alias("cnt"))


def _with_p(counts: dict[str, int]) -> PieceTable:
    """Exact integer likelihoods: p_micro = cnt * 1e6 // total (floor
    division of positive ints == the engines' integer DIV), sorted
    (count desc, piece asc) — the deterministic model order."""
    total = sum(counts.values())
    return [(p, c, (c * MICRO) // total)
            for p, c in sorted(counts.items(), key=lambda kv: (-kv[1],
                                                               kv[0]))]


def _piece_map_col(table: PieceTable) -> Column:
    """The piece table as a literal map Column piece -> p_micro.
    Built with ``F.create_map`` over ``F.lit`` pairs, NOT an
    interpolated SQL string: normalized text preserves apostrophes
    (and any other punctuation ``tokens`` doesn't strip), and a piece
    like ``it's`` inside a hand-built ``map('...')`` literal is a
    ParseException.  CreateMap over literals constant-folds the same
    way the string form did."""
    pairs = []
    for p, _, pm in table:
        pairs.append(F.lit(p))
        pairs.append(F.lit(pm).cast("bigint"))
    return F.create_map(*pairs)


def _assert_token_bound(vocab: DataFrame) -> None:
    """Refuse tokens longer than the fold's unroll bound: the greedy
    walk runs exactly MAX_TOK steps, so a longer token's tail would be
    SILENTLY dropped from segmentation, re-counts, and serve stats —
    and the SQL oracle truncates identically, so the hash-compare
    would never surface it.  One model-sized aggregation."""
    ml = vocab.agg(F.max(F.length("tok"))).first()[0]
    assert ml is None or ml <= MAX_TOK, (
        f"vocabulary token of length {ml} exceeds MAX_TOK={MAX_TOK}: "
        f"raise the unroll bound (and the oracle's) or pre-split")


def _assert_encodable(vocab: DataFrame, table: PieceTable) -> None:
    """Serve-side twin of :func:`_assert_token_bound` that ALSO refuses
    tokens containing characters absent from the trained alphabet:
    ``segment_expr``'s unconditional single-char fallback
    would emit an out-of-table piece whose likelihood lookup is NULL —
    ``F.sum`` silently drops it while the SQL oracle's inner join drops
    the whole token, a silent cross-engine divergence that can only
    surface on encode-on-NEW-data (the training corpus covers its own
    alphabet by construction); the Viterbi DP NULLs the whole score the
    same way.  One vocabulary-bounded aggregation checks both bounds
    plus non-emptiness (a zero-length token passes both
    aggregate bounds, yet the Spark Viterbi emits a (score=VIT_BASE,
    n=0) row for it while the SQL oracle's ``vfin`` unions only
    lengths 1..MAX_TOK and drops it — a latent cross-engine
    divergence if a future tokenizer ever yields empty tokens)."""
    alphabet = "".join(sorted({p for p, _, _ in table if len(p) == 1}))
    r = vocab.agg(
        F.max(F.length("tok")).alias("ml"),
        F.min(F.length("tok")).alias("mn"),
        F.max(F.length(F.translate("tok", alphabet, ""))).alias("oov")
    ).first()
    assert r["ml"] is None or r["ml"] <= MAX_TOK, (
        f"vocabulary token of length {r['ml']} exceeds MAX_TOK="
        f"{MAX_TOK}: raise the unroll bound (and the oracle's) or "
        f"pre-split")
    assert r["mn"] is None or r["mn"] >= 1, (
        "empty-string token in the encode vocabulary — the Viterbi DP "
        "would emit a length-0 row the SQL oracle structurally drops; "
        "filter empties out of token_vocab upstream")
    assert r["oov"] is None or r["oov"] == 0, (
        "tokens contain characters outside the trained alphabet — "
        "the single-char fallback would emit out-of-table pieces that "
        "this engine and the SQL oracle account differently; retrain "
        "the table on (or pre-filter) the new corpus")


def segment_expr(table: PieceTable, tok_col: str = "tok") -> Column:
    """ARRAY<STRING> of greedy longest-match pieces for a token column
    under a LITERAL piece table — one map-only fold, no joins: MAX_TOK
    steps of (longest l in MAXP..1 with substring in the map), each a
    constant number of literal-map lookups.  Single characters are
    always present (coverage), so every step advances and tokens up to
    MAX_TOK chars segment fully; callers assert the length bound
    (tokens LONGER than MAX_TOK would silently lose their tail from
    both segmentation and counts)."""
    m = _piece_map_col(table)
    t = tok_col

    def step(acc, _):
        pos = acc["pos"]
        # fallback l = 1 is unconditional (every character is in the
        # table — the coverage guarantee); longer l wrap OUTER, so the
        # longest hit wins
        pick = F.struct(
            F.lit(1).alias("l"),
            F.substring(F.col(t), pos + 1, F.lit(1)).alias("piece"))
        for l in range(2, MAXP + 1):
            sub = F.substring(F.col(t), pos + 1, F.lit(l))
            hit = ((pos + l <= F.length(t))
                   & F.element_at(m, sub).isNotNull())
            pick = F.when(hit, F.struct(F.lit(l).alias("l"),
                                        sub.alias("piece"))).otherwise(pick)
        nxt = F.struct(
            (pos + pick["l"]).alias("pos"),
            F.concat(acc["ps"], F.array(pick["piece"])).alias("ps"))
        return F.when(pos >= F.length(t), acc).otherwise(nxt)

    init = F.struct(F.lit(0).cast("int").alias("pos"),
                    F.array().cast("array<string>").alias("ps"))
    return F.aggregate(F.sequence(F.lit(1), F.lit(MAX_TOK)), init, step,
                       lambda acc: acc["ps"])


def segment_literal(vocab: DataFrame, table: PieceTable) -> DataFrame:
    """(tok, cnt, piece): greedy segmentation of every vocabulary token
    under a literal piece table — one map-only projection + explode."""
    return vocab.select("tok", "cnt",
                        F.explode(segment_expr(table)).alias("piece"))


def train_literal(vocab: DataFrame, rounds: int = ROUNDS,
                  ckpt=None) -> PieceTable:
    """Hard-EM unigram-LM fit returning the piece table as DRIVER
    literals.  Jobs: one vocabulary materialization (the only
    corpus-sized pass), one candidate aggregation with two model-sized
    collects (TakeOrdered top-VMAX + the alphabet), then per round ONE
    job (literal-map segmentation fold -> piece re-count partial agg ->
    model-sized collect); updates are exact Python integer math.  The
    collected state is always <= VMAX + alphabet rows, regardless of
    corpus or vocabulary size.

    ``ckpt`` (tracked localCheckpoint; defaults to an untracked eager
    one): the vocabulary is referenced by the candidate aggregation
    AND every round's segmentation — unmaterialized, each reference
    re-runs the corpus tokenize (measured 7 s of a 13 s fit at
    sf0.1).  When ``ckpt`` is defaulted, the two internal checkpoints
    are RELEASED before returning (they used to leak their
    storage blocks for the life of the session); a caller-supplied
    ``ckpt`` owns its blocks' lifecycle."""
    from datafusion_monoid_spark.plans.inspect import (
        release_local_checkpoint,
    )

    defaulted = ckpt is None
    mk = ckpt if ckpt is not None else (
        lambda df: df.localCheckpoint(eager=True))
    vocab = mk(vocab)
    cand = None
    try:
        _assert_token_bound(vocab)
        cand = mk(candidate_pieces(vocab))
        top = (cand.where(F.length("piece") > 1)
               .orderBy(F.desc("cnt"), F.asc("piece")).limit(VMAX)
               .collect())
        chars = cand.where(F.length("piece") == 1).collect()
        counts = {r["piece"]: int(r["cnt"]) for r in top}
        counts.update({r["piece"]: int(r["cnt"]) for r in chars})
        char_set = {r["piece"] for r in chars}
        table = _with_p(counts)
        for _ in range(rounds):
            used = {r["piece"]: int(r["c"]) for r in
                    (segment_literal(vocab, table)
                     .groupBy("piece").agg(F.sum("cnt").alias("c"))
                     .collect())}
            counts = {c: max(used.get(c, 0), 1) for c in char_set}
            counts.update({p: n for p, n in used.items()
                           if len(p) > 1 and n > 0})
            table = _with_p(counts)
        return table
    finally:
        if defaulted:
            release_local_checkpoint(vocab)
            if cand is not None:
                release_local_checkpoint(cand)


# ---------------------------------------------------------------------------
# Exact Viterbi segmentation
# ---------------------------------------------------------------------------
#
# The greedy longest-match fold above is the documented cheap tier; the
# Viterbi tier below is Kudo's EXACT max-likelihood segmentation under
# the unigram model, restated log-free so both engines replay it
# bit-for-bit.  The carrier trick: likelihoods quantize to 6 bits
# (``p64 in [1, 64]``), and a segmentation's normalized likelihood
# ``prod(p_i / 64)`` is carried as the exact integer
# ``prod(p64_i) * 64^(MAX_TOK - n_pieces)`` — every candidate has the
# common denominator ``64^MAX_TOK = 2^60``, so cross-length comparisons
# are exact BIGINT comparisons and the max-product DP fits 64-bit
# integer arithmetic end to end (each DP transition divides by 64 —
# always exact, the padding exponent is >= 1 at every non-final
# position — then multiplies by a 6-bit factor, so scores never exceed
# the 2^60 base).  Ties break toward the LONGER last piece (the greedy
# rule), making the DP deterministic and oracle-replayable.

VIT_K = 64            #: 6-bit probability quantization base
VIT_BASE = VIT_K ** MAX_TOK   #: 64^10 = 2^60 — the score of "nothing yet"


def quantize_p64(table: PieceTable) -> list[tuple[str, int]]:
    """[(piece, p64)]: 6-bit likelihoods ``max(1, p_micro * 64 DIV
    1e6)`` — the floor keeps every piece usable (coverage), the cap is
    structural (p_micro <= 1e6).  6 bits x MAX_TOK=10 pieces = the
    2^60 BIGINT budget of the exact max-product DP."""
    return [(p, max(1, (pm * VIT_K) // MICRO)) for p, _, pm in table]


def _p64_map_col(table: PieceTable) -> Column:
    """The quantized table as a literal map Column piece -> p64
    (``create_map`` over lits — quote-safe, constant-folded)."""
    pairs = []
    for p, p64 in quantize_p64(table):
        pairs.append(F.lit(p))
        pairs.append(F.lit(p64).cast("bigint"))
    return F.create_map(*pairs)


def viterbi_dp_expr(table: PieceTable, tok_col: str = "tok") -> Column:
    """ARRAY<STRUCT<score, bp, n>> — the forward DP table: element
    ``pos + 1`` holds the best exact segmentation of the token's first
    ``pos`` characters (score = the common-denominator integer above,
    bp = the winning last-piece length, n = its piece count).  One
    map-only fold, MAX_TOK steps, each trying the MAXP last-piece
    lengths with literal-map lookups — the same no-joins economics as
    the greedy fold, with an (MAXP+1)-way max instead of a first-hit
    pick.  Ties prefer the longer last piece."""
    m = _p64_map_col(table)
    t = tok_col

    def step(acc, j):
        # l = 1 is unconditional (single chars are always in the
        # table); longer l replace on >= so the longest tied l wins
        prev1 = F.element_at(acc, j)
        best = F.struct(
            (F.shiftright(prev1["score"], 6)
             * F.element_at(m, F.substring(F.col(t), j, F.lit(1))))
            .alias("score"),
            F.lit(1).alias("bp"),
            (prev1["n"] + 1).alias("n"))
        for l in range(2, MAXP + 1):
            sub = F.substring(F.col(t), j - l + 1, F.lit(l))
            p = F.element_at(m, sub)
            # clamp the lookback index: when j < l the candidate is
            # dead (the guard below rejects it) but element_at must
            # still see a valid 1-based index
            prev = F.element_at(acc, F.greatest(j - l + 1, F.lit(1)))
            cand_score = F.shiftright(prev["score"], 6) * p
            cand = F.struct(cand_score.alias("score"),
                            F.lit(l).alias("bp"),
                            (prev["n"] + 1).alias("n"))
            ok = (j >= l) & p.isNotNull() & (cand_score >= best["score"])
            best = F.when(ok, cand).otherwise(best)
        return F.when(j > F.length(t), acc).otherwise(
            F.concat(acc, F.array(best)))

    init = F.array(F.struct(
        F.lit(VIT_BASE).cast("bigint").alias("score"),
        F.lit(0).alias("bp"), F.lit(0).alias("n")))
    return F.aggregate(F.sequence(F.lit(1), F.lit(MAX_TOK)), init, step)


def viterbi_backtrack_expr(dp_col: str, tok_col: str = "tok") -> Column:
    """ARRAY<STRING> — the Viterbi pieces, reconstructed by walking the
    stored backpointers from the end of the token (a second MAX_TOK
    fold; pass the DP table as a materialized COLUMN, not the raw
    expression, so it evaluates once per row)."""
    t, dp = tok_col, F.col(dp_col)

    def back(acc, _):
        pos = acc["pos"]
        l = F.element_at(dp, pos + 1)["bp"]
        nxt = F.struct(
            (pos - l).alias("pos"),
            F.concat(F.array(F.substring(F.col(t), pos - l + 1, l)),
                     acc["ps"]).alias("ps"))
        return F.when(pos <= 0, acc).otherwise(nxt)

    init = F.struct(F.length(t).cast("int").alias("pos"),
                    F.array().cast("array<string>").alias("ps"))
    return F.aggregate(F.sequence(F.lit(1), F.lit(MAX_TOK)), init, back,
                       lambda acc: acc["ps"])


def viterbi_segment(vocab: DataFrame, table: PieceTable) -> DataFrame:
    """(tok, cnt, dp, pieces): exact Viterbi segmentation of every
    vocabulary token — two map-only folds over a literal table, no
    joins, vocabulary-bounded."""
    _assert_encodable(vocab, table)
    return (vocab
            .withColumn("dp", viterbi_dp_expr(table))
            .withColumn("pieces", viterbi_backtrack_expr("dp")))


def viterbi_token_stats(vocab: DataFrame, table: PieceTable) -> DataFrame:
    """(tok, cnt, n_pieces, score_q6): per-token exact-Viterbi stats —
    piece count and the common-denominator 2^60-scale likelihood
    straight from the DP table's final entry (no backtrack needed)."""
    _assert_encodable(vocab, table)
    fin = F.element_at(F.col("dp"), F.length("tok") + 1)
    return (vocab.withColumn("dp", viterbi_dp_expr(table))
            .select("tok", "cnt",
                    fin["n"].cast("bigint").alias("n_pieces"),
                    fin["score"].cast("bigint").alias("score_q6")))


def encode_token_stats(vocab: DataFrame, table: PieceTable) -> DataFrame:
    """(tok, n_pieces, sum_p_micro): per-token encoding stats under a
    trained piece table — the broadcastable model-sized relation a
    serve job joins against the corpus token stream (the corpus never
    runs the segmentation itself)."""
    _assert_encodable(vocab, table)
    seg = segment_literal(vocab, table)
    p = F.element_at(_piece_map_col(table), F.col("piece"))
    return (seg.select("tok", "cnt", p.alias("p_micro"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pieces"),
                 F.sum("p_micro").cast("bigint").alias("sum_p_micro")))
