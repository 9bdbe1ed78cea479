"""Text-analysis expressions for the training-data pipeline wave.

All pure Column expressions (JVM-side, codegen-friendly): tokenization,
shingling, quality metrics, language-ID heuristic, fingerprinting. No Python
UDFs — at 100 TB the hot path must stay inside Tungsten.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .compat import _col

# Tiny per-language stopword lists for the n-gram/stopword language heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "y", "que", "en", "un"],
    "fr": ["le", "la", "de", "et", "que", "en", "un"],
    "de": ["der", "die", "das", "und", "zu", "in", "ein"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, empty strings removed.

    Higher-order `filter` runs interpreted — in hot paths materialize this
    ONCE (`.select(tokens(...).alias("w"))`) and use the `*_from_tokens`
    variants below; inlining it into several downstream expressions
    re-tokenizes the document for each one.
    """
    return F.filter(F.split(_col(text), r"\s+"), lambda t: t != F.lit(""))


def word_count_from_tokens(toks: Column | str) -> Column:
    return F.size(_col(toks)).cast("long")


def distinct_word_count_from_tokens(toks: Column | str) -> Column:
    return F.size(F.array_distinct(_col(toks))).cast("long")


def word_count(text: Column | str) -> Column:
    return word_count_from_tokens(tokens(text))


def distinct_word_count(text: Column | str) -> Column:
    return distinct_word_count_from_tokens(tokens(text))


def char_count(text: Column | str) -> Column:
    return F.length(_col(text)).cast("long")


def token_estimate(text: Column | str) -> Column:
    """BPE-ish token-count estimate: ceil(chars / 4) — the standard
    chars-per-token heuristic for English-like text."""
    return F.ceil(F.length(_col(text)) / F.lit(4.0)).cast("long")


BPE_PRETOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def regex_token_count(text: Column | str) -> Column:
    """BPE-style pre-tokenization count: alpha runs, digit runs, and lone
    punctuation (the GPT-2-family pre-tokenizer shape, RE2-safe)."""
    return F.size(F.regexp_extract_all(_col(text), F.lit(BPE_PRETOKEN_RE), F.lit(0))).cast("long")


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    t = _col(text)
    stripped = F.regexp_replace(t, r"[A-Za-z0-9\s]", "")
    return (F.length(stripped) / F.greatest(F.length(t), F.lit(1))).cast("double")


def stopword_hits_from_tokens(toks: Column | str, lang: str = "en") -> Column:
    """Count of tokens that are stopwords of `lang`."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(_col(toks), lambda t: F.array_contains(sw, t))).cast("long")


def stopword_ratio_from_tokens(toks: Column | str, lang: str = "en") -> Column:
    toks = _col(toks)
    return (
        stopword_hits_from_tokens(toks, lang)
        / F.greatest(word_count_from_tokens(toks), F.lit(1))
    ).cast("double")


def mean_word_length_from_tokens(toks: Column | str) -> Column:
    """Mean characters per token (Gopher rule input); 0.0 for empty docs.

    The length sum folds to an exact integer before the single division,
    so the value is bit-reproducible across engines.
    """
    toks = _col(toks)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t).cast("long")
    )
    return (total / F.greatest(F.size(toks), F.lit(1))).cast("double")


def alpha_word_ratio_from_tokens(toks: Column | str) -> Column:
    """Fraction of tokens containing at least one ASCII letter (Gopher's
    80%-alphabetic rule; CJK scripts score 0 by construction — the rule is
    a Latin-script filter and should be gated per-language upstream)."""
    toks = _col(toks)
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    return (n_alpha / F.greatest(F.size(toks), F.lit(1))).cast("double")


def symbol_word_ratio(text: Column | str, toks: Column | str) -> Column:
    """(# '#' chars + # '...' runs) per word — Gopher's symbol-to-word
    ratio, counting via length deltas (no regex, engine-identical)."""
    t = _col(text)
    hashes = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    ell = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / F.lit(3)
    return ((hashes + ell) / F.greatest(F.size(_col(toks)), F.lit(1))).cast(
        "double"
    )


def type_token_ratio_from_tokens(toks: Column | str) -> Column:
    """Lexical diversity: distinct words / words."""
    toks = _col(toks)
    return (
        distinct_word_count_from_tokens(toks)
        / F.greatest(word_count_from_tokens(toks), F.lit(1))
    ).cast("double")


def quality_score_from_tokens(text: Column | str, toks: Column | str) -> Column:
    """Composite document-quality score in [0,1]: rewards mid-length docs,
    lexical diversity, and low punctuation noise. Deterministic expression —
    mirrored 1:1 in the DuckDB oracle."""
    toks = _col(toks)
    wc = word_count_from_tokens(toks)
    length_term = F.least(wc / F.lit(50.0), F.lit(1.0))
    diversity_term = type_token_ratio_from_tokens(toks)
    noise_term = F.lit(1.0) - F.least(punct_ratio(text) * F.lit(4.0), F.lit(1.0))
    return ((length_term + diversity_term + noise_term) / F.lit(3.0)).cast("double")


def lang_guess_from_tokens(toks: Column | str) -> Column:
    """Stopword-vote language heuristic: argmax of per-language stopword hits,
    'und' (undetermined) when no stopwords hit. Deterministic tie-break:
    language order en < es < fr < de (first wins)."""
    toks = _col(toks)
    hits = {lang: stopword_hits_from_tokens(toks, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # build reverse order so earlier languages win ties
    for lang in reversed(list(STOPWORDS)):
        expr = F.when((best > 0) & (hits[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def shingles_from_tokens(toks: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED token-array column.

    Empty array when the doc has fewer than n tokens (guarded: Spark's
    `sequence(0, -1)` would descend, and ANSI element_at(0) errors).

    Feed this a real column (`df.select(tokens(...).alias("w"))` first), not
    an inline `tokens(text)` expression: higher-order functions run
    interpreted, and an inline token expression would be re-evaluated for
    every `element_at` of every gram — O(grams·n) re-tokenizations per doc,
    ~10× slower at corpus scale. Catalyst's CollapseProject is
    reference-count aware and will NOT inline the materialized column back.
    """
    toks = _col(toks)
    idx = F.sequence(F.lit(0), F.size(toks) - F.lit(n))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + F.lit(k + 1)).cast("int")) for k in range(n)]),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles straight from raw text. Prefer the two-step
    `tokens(...)` → :func:`shingles_from_tokens` split in hot paths (see its
    docstring for why)."""
    return shingles_from_tokens(tokens(text), n)


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def scrub_emails(text: Column | str) -> Column:
    """Mask email addresses as ``<EMAIL>`` (PII scrubbing). RE2-compatible
    pattern (no backrefs/lookarounds) so the DuckDB oracle applies it
    verbatim."""
    return F.regexp_replace(_col(text), EMAIL_RE, "<EMAIL>")


def scrub_urls(text: Column | str) -> Column:
    """Mask URLs as ``<URL>``."""
    return F.regexp_replace(_col(text), URL_RE, "<URL>")


def normalize_whitespace(text: Column | str) -> Column:
    """Collapse runs of whitespace to single spaces and trim."""
    return F.trim(F.regexp_replace(_col(text), r"\s+", " "))


def canonicalize(text: Column | str) -> Column:
    """Dedup canonical form: lowercase, strip everything but [a-z0-9 ],
    collapse whitespace, trim — the cheap normalization pass that folds
    case/punctuation/spacing variants onto one exact-dedup key before
    hashing (run it BEFORE md5 grouping; near-dup passes then only have
    to handle real content drift). RE2-compatible patterns so the DuckDB
    oracle applies them verbatim."""
    lowered = F.lower(_col(text))
    stripped = F.regexp_replace(lowered, r"[^a-z0-9\s]", "")
    return F.trim(F.regexp_replace(stripped, r"\s+", " "))


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set — robust to token reordering, standard near-dup prefilter."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))
