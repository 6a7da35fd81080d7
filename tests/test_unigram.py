"""Unigram-LM tokenizer tests: trainer semantics on a constructed
corpus, greedy longest-match behavior, and catalog-entry invariants."""

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators import unigram as ugm

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def toy_vocab(spark):
    # "abab" dominates: the trainer should keep "abab"/"ab" pieces
    return spark.createDataFrame(
        [("abab", 10), ("ab", 5), ("ba", 2), ("c", 1)],
        "tok string, cnt bigint")


def test_candidates_are_occurrence_weighted(spark, toy_vocab):
    cand = {r.piece: r.cnt
            for r in ugm.candidate_pieces(toy_vocab).collect()}
    # "ab" occurs twice in "abab" (10 each), once in "ab" (5) => 25
    assert cand["ab"] == 25
    # "a": twice in abab, once in ab, once in ba => 20 + 5 + 2 = 27
    assert cand["a"] == 27
    assert cand["abab"] == 10 and cand["c"] == 1


def test_greedy_longest_match_and_coverage(spark, toy_vocab):
    table = ugm.train_literal(toy_vocab, rounds=0)  # seed table
    seg = (ugm.segment_literal(toy_vocab, table)
           .groupBy("tok")
           .agg(F.collect_list("piece").alias("ps"))
           .collect())
    by_tok = {r.tok: sorted(r.ps) for r in seg}
    # longest candidate <= MAXP chars wins at position 0
    assert by_tok["abab"] == ["abab"]
    assert by_tok["ab"] == ["ab"]
    # every token fully covered: total piece chars == token length
    chars = {r.tok: sum(len(p) for p in r.ps) for r in seg}
    assert chars == {t: len(t) for t in ("abab", "ab", "ba", "c")}


def test_train_prunes_and_smooths(spark, toy_vocab):
    pieces = {p: (c, pm) for p, c, pm in ugm.train_literal(toy_vocab)}
    # every character survives (coverage guarantee), count >= 1
    for ch in "abc":
        assert ch in pieces and pieces[ch][0] >= 1
    # the dominant token survives as a whole piece with its full count
    assert pieces["abab"][0] == 10
    # unused substrings like "bab"/"aba" are pruned after round 1
    assert "bab" not in pieces and "aba" not in pieces
    # likelihoods are exact micro-integers summing to <= 1e6
    assert sum(pm for _, pm in pieces.values()) <= 1_000_000
    assert all(isinstance(c, int) and isinstance(pm, int)
               for c, pm in pieces.values())


def test_catalog_entries_consistent(spark):
    """Fit output ranked and integer; serve stats satisfy the
    arithmetic invariants (1 <= pieces/token <= MAX_TOK)."""
    from datafusion_monoid_spark import pipeline_queries as qcat

    cat = qcat.catalog()
    fit = cat["unigram_train_pieces"][0](spark, SF).collect()
    assert [r.rk for r in fit] == list(range(1, len(fit) + 1))
    assert all(1 <= len(r.piece) <= ugm.MAXP for r in fit)
    serve = cat["unigram_encode_stats"][0](spark, SF).collect()
    assert serve
    for r in serve:
        assert r.n_pieces >= r.n_tokens  # >= 1 piece per token
        assert 1_000_000 <= r.pieces_per_token_micro \
            <= ugm.MAX_TOK * 1_000_000
        assert 0 <= r.avg_piece_p_micro <= 1_000_000


def _viterbi_py(tok: str, table, m=None) -> tuple[int, int, int]:
    """Pure-Python reference of the exact max-product DP (score, last
    piece length, n pieces) — same tie-break, quantization via the
    production quantizer."""
    m = m if m is not None else dict(ugm.quantize_p64(table))
    best = [(ugm.VIT_BASE, 0, 0)] + [None] * len(tok)
    for j in range(1, len(tok) + 1):
        cand = None
        for l in range(1, min(ugm.MAXP, j) + 1):
            piece = tok[j - l:j]
            if piece not in m:
                continue
            s = (best[j - l][0] >> 6) * m[piece]
            if cand is None or s >= cand[0]:
                cand = (s, l, best[j - l][2] + 1)
        best[j] = cand
    return best[len(tok)]


#: constructed so greedy and Viterbi DISAGREE on "xay": greedy's
#: longest-match takes "xa" first and is stuck with the cheap "y"
#: (score 12 * 1 q6-units); Viterbi pays the short "x" to reach the
#: high-likelihood "ay" (2 * 44) — the exact failure mode Kudo's DP
#: exists to avoid
_DIVERGENT_TABLE = [("ay", 50, 700_000), ("xa", 30, 200_000),
                    ("x", 5, 40_000), ("a", 4, 30_000), ("y", 3, 20_000)]


def test_viterbi_beats_greedy_where_they_diverge(spark):
    voc = spark.createDataFrame([("xay", 7), ("xa", 3), ("a", 1)],
                                "tok string, cnt bigint")
    seg = {r.tok: list(r.pieces)
           for r in ugm.viterbi_segment(voc, _DIVERGENT_TABLE).collect()}
    greedy = {r.tok: list(r.ps) for r in voc.select(
        "tok", ugm.segment_expr(_DIVERGENT_TABLE).alias("ps")).collect()}
    # the constructed divergence: same token, different segmentations
    assert greedy["xay"] == ["xa", "y"]
    assert seg["xay"] == ["x", "ay"]
    # where greedy already matches the optimum, Viterbi agrees
    assert seg["xa"] == greedy["xa"] == ["xa"]
    assert seg["a"] == greedy["a"] == ["a"]
    # and the Viterbi score dominates greedy's path score by definition
    m = dict(ugm.quantize_p64(_DIVERGENT_TABLE))

    def path_score(ps):
        s = ugm.VIT_BASE
        for p in ps:
            s = (s >> 6) * m[p]
        return s

    assert path_score(seg["xay"]) > path_score(greedy["xay"])


def test_viterbi_matches_python_reference_on_real_vocab(spark):
    """The Spark DP fold (score, n, and reconstructed pieces) equals
    the pure-Python DP for EVERY token of the sf0.01 trained model —
    the same cross-impl discipline the oracle applies, but pinned at
    the operator level with full segmentations."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    voc = ugm.token_vocab(docs).localCheckpoint(eager=True)
    table = ugm.train_literal(voc)
    rows = ugm.viterbi_segment(voc, table).collect()
    assert rows
    m = dict(ugm.quantize_p64(table))  # hoisted: one build, not per row
    for r in rows:
        s, _, n = _viterbi_py(r.tok, table, m=m)
        fin = r.dp[len(r.tok)]
        assert (fin["score"], fin["n"]) == (s, n), r.tok
        # reconstruction covers the token exactly and scores the same
        assert "".join(r.pieces) == r.tok
        ps = ugm.VIT_BASE
        for p in r.pieces:
            ps = (ps >> 6) * m[p]
        assert ps == s, r.tok


def test_pieces_with_quotes_and_token_bound(spark):
    """Round-8 review findings: apostrophes in normalized text must not
    crash the literal piece map (it was an interpolated SQL string —
    ParseException on \"it's\"), and tokens longer than MAX_TOK must be
    refused loudly instead of silently losing their tail."""
    voc = spark.createDataFrame([("it's", 3), ("fine", 2)],
                                "tok string, cnt bigint")
    pieces = {p: pm for p, _, pm in ugm.train_literal(voc)}
    assert "'" in pieces and "it's" in pieces
    seg = {r.tok: sorted([r.piece]) for r in
           ugm.segment_literal(voc, ugm.train_literal(voc))
           .where(F.col("tok") == "it's").collect()}
    assert seg  # segmentation of the quoted token works end-to-end
    long_voc = spark.createDataFrame([("a" * (ugm.MAX_TOK + 1), 1)],
                                     "tok string, cnt bigint")
    with pytest.raises(AssertionError, match="MAX_TOK"):
        ugm.train_literal(long_voc)


def test_encode_refuses_out_of_alphabet_tokens(spark):
    """Encoding NEW data containing characters the table
    never saw must fail loudly — the single-char fallback would emit
    out-of-table pieces that this engine (NULL likelihood dropped by
    F.sum) and the SQL oracle (whole token dropped by the inner join)
    account differently.  Same-alphabet new tokens still encode."""
    train = spark.createDataFrame([("abab", 10), ("ab", 5)],
                                  "tok string, cnt bigint")
    table = ugm.train_literal(train)
    new_ok = spark.createDataFrame([("ba", 1)], "tok string, cnt bigint")
    assert ugm.encode_token_stats(new_ok, table).count() == 1
    new_bad = spark.createDataFrame([("abz", 1)], "tok string, cnt bigint")
    with pytest.raises(AssertionError, match="alphabet"):
        ugm.encode_token_stats(new_bad, table)
    with pytest.raises(AssertionError, match="alphabet"):
        ugm.viterbi_token_stats(new_bad, table)
