"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

Everything is a pure Catalyst column expression over the normalized
token array — no Python workers in any hot path, fully partial-agg /
pipeline friendly, and reproducible in ANSI SQL (the DuckDB oracles in
queries.py are line-for-line twins).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators.dedup import md5_long, normalize_text, tokens

# marker stopwords per language — a deterministic n-gram-free heuristic;
# swap for fastText/CLD at quality-critical scale (same plumbing).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "les", "de", "et", "un", "est", "que"),
    "zh": ("de", "le", "shi", "bu", "wo", "you", "zai", "ta"),
}

FINGERPRINT_P = 2147483647  # 2^31 - 1; keeps (acc*31 + h) inside int64


def lang_scores(text_col: Column | str, toks: Column | None = None
                ) -> dict[str, Column]:
    """marker-token hit ratio per language.

    Pass a pre-materialized ``toks`` column to avoid re-tokenizing once
    per language (Catalyst does not CSE across lambda functions — 5
    languages means 5 tokenizations otherwise)."""
    if toks is None:
        toks = tokens(text_col)
    n = F.greatest(F.size(toks), F.lit(1))

    def matcher(markers: tuple[str, ...]):
        # NOTE: pyspark HOF lambdas must take exactly the lambda's formal
        # args — a `_m=markers` default would be mistaken for the index arg.
        return lambda t: t.isin(*markers)

    return {
        lang: F.size(F.filter(toks, matcher(markers))).cast("double") / n
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text_col: Column | str, toks: Column | None = None
            ) -> tuple[Column, Column]:
    """(predicted language, its score) — argmax with a deterministic
    alphabetical-priority CASE chain (ties go to the earlier language),
    so any SQL engine reproduces it exactly."""
    scores = lang_scores(text_col, toks)
    langs = sorted(scores)
    pred = F.lit(langs[0])
    best = scores[langs[0]]
    for lang in langs[1:]:
        cond = scores[lang] > best
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
        best = F.when(cond, scores[lang]).otherwise(best)
    return pred, best


def quality_features(text_col: Column | str) -> dict[str, Column]:
    """Deterministic quality signals: length, alpha/punct/space ratios,
    stopword ratio, mean token length."""
    raw = F.col(text_col) if isinstance(text_col, str) else text_col
    norm = normalize_text(text_col)
    toks = tokens(text_col)
    n_chars = F.length(raw)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    n_toks = F.greatest(F.size(toks), F.lit(1)).cast("double")
    en = LANG_MARKERS["en"]
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": F.size(toks).cast("bigint"),
        "punct_ratio": F.length(F.regexp_replace(norm, r"[a-z0-9 ]", "")) / safe_chars,
        "stopword_ratio": F.size(F.filter(toks, lambda t: t.isin(*en))) / n_toks,
        "mean_token_len": F.length(F.regexp_replace(norm, " ", "")) / n_toks,
    }


def quality_score(text_col: Column | str) -> Column:
    """Composite in [0, 1]: rewards stopword presence and moderate token
    length, penalizes punctuation soup — the classic cheap pre-filter."""
    f = quality_features(text_col)
    length_ok = F.when((f["n_tokens"] >= 5) & (f["n_tokens"] <= 1000), 1.0).otherwise(0.3)
    token_len_ok = F.when((f["mean_token_len"] >= 2) & (f["mean_token_len"] <= 12),
                          1.0).otherwise(0.4)
    return (
        F.lit(0.4) * length_ok
        + F.lit(0.3) * token_len_ok
        + F.lit(0.2) * F.least(f["stopword_ratio"] * 4, F.lit(1.0))
        + F.lit(0.1) * (F.lit(1.0) - F.least(f["punct_ratio"] * 5, F.lit(1.0)))
    )


def token_counts(text_col: Column | str) -> dict[str, Column]:
    """Whitespace tokens and a BPE-ish segmentation (alnum runs +
    individual symbols) — the cheap token-budget estimator."""
    norm = normalize_text(text_col)
    return {
        "ws_tokens": F.size(tokens(text_col)).cast("bigint"),
        "bpe_tokens": F.size(F.regexp_extract_all(norm, F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0))
                       .cast("bigint"),
    }


def fingerprint(text_col: Column | str) -> Column:
    """Order-sensitive polynomial rolling hash over the token stream:
    fold(acc*31 + md5_64(token)) mod (2^31-1).  Unlike the set-based
    dedup keys, this distinguishes permuted documents."""
    return F.aggregate(
        tokens(text_col),
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * 31 + md5_long(t)) % F.lit(FINGERPRINT_P),
    )


# -- PII detection / redaction ------------------------------------------------

#: Java-regex AND RE2-compatible patterns (no lookaround, no backrefs),
#: so the DuckDB oracle evaluates the very same strings.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b555-\d{4}\b",
}


def pii_counts(text_col: Column | str) -> dict[str, Column]:
    """Per-document PII match counts, one ``regexp_count`` per pattern —
    pure Catalyst, codegen'd, no Python in the path.  Swap the pattern
    table for a vendored detector at quality-critical scale; the
    plumbing (scan -> count -> aggregate) is the production shape."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return {name: F.regexp_count(c, F.lit(pat))
            for name, pat in PII_PATTERNS.items()}


def pii_redact(text_col: Column | str) -> Column:
    """Replace every PII span with a ``<KIND>`` placeholder.  Patterns
    apply in sorted-name order (deterministic composition)."""
    out = F.col(text_col) if isinstance(text_col, str) else text_col
    for name in sorted(PII_PATTERNS):
        out = F.regexp_replace(out, PII_PATTERNS[name],
                               f"<{name.upper()}>")
    return out
