"""Text-analysis scalar ops for LLM-data pipelines (SURVEY.md §2.11 X-TEXT).

All pure Column expressions — JVM-side, whole-stage-codegen friendly. Each
has an exact ANSI-SQL twin (used by the DuckDB oracle), so semantics are
pinned down engine-independently.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: small multilingual stopword sets for the n-gram language heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "is", "in", "that", "it", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "las"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "du", "que"],
}

#: stopwords for the quality score (English core set)
QUALITY_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "was", "it", "that"]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; ''.split → [''] (size 1) on both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # pattern must be a Column: a bare str is taken as a column NAME here.
    # Measured A/B (round 8, 500k docs): the "cheaper" translate form
    # (length(c) - length(translate(c, '.,;:!?', ''))) is ~40% SLOWER in
    # the full x_text_stats pipeline — translate allocates the stripped
    # copy of every document while regexp_count counts in place. Keep
    # the regex.
    return F.regexp_count(c, F.lit(r"[\.,;:!\?]"))


def stopword_count_from_tokens(
    toks: Column, stopwords: list[str] | None = None
) -> Column:
    """Stopword count over a PRE-TOKENIZED array column — use this form
    when tokens are already projected (quality_features), so the regex
    split is not re-evaluated per derived signal."""
    sw = stopwords or QUALITY_STOPWORDS
    arr = F.array(*[F.lit(s) for s in sw])
    return F.size(F.array_intersect(F.array_distinct(toks), arr))


#: BPE-ish pre-tokenization pattern (GPT-2 style, simplified to the subset
#: expressible identically in Java regex and RE2): a token is an optional
#: leading space followed by a letter run, digit run, or symbol run.
#: Whitespace runs are not counted as tokens.
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-style token count — the cheap JVM-side estimator of LLM
    token cost (a real BPE merge table needs a vocab; this is the
    standard pre-tokenizer split that upper-bounds it)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_ISH_PATTERN))


#: PII patterns, restricted to syntax Java regex and RE2 treat identically.
#: Order matters: SSN before phone (more specific shape first).
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
]


def redact_pii(col: Column | str) -> Column:
    """Replace email/SSN/phone-shaped spans with typed placeholder tokens
    — the standard scrub pass before corpus text reaches a training set.
    Pure chained regexp_replace: JVM-side, no UDF.

    Each replace is guarded by a cheap necessary-condition scan (every
    email contains '@'; every SSN/phone contains 3 consecutive digits),
    so clean documents — the overwhelming majority of a curated corpus —
    pay one substring/char-class scan instead of three full regex
    passes. Guarded and unguarded forms are semantically identical; the
    equivalence is pinned in tests/test_text_redact.py."""
    c = F.col(col) if isinstance(col, str) else col
    email_pat, email_tok = PII_PATTERNS[0]
    out = F.when(
        c.contains("@"), F.regexp_replace(c, email_pat, email_tok)
    ).otherwise(c)
    numbered = out
    for pattern, token in PII_PATTERNS[1:]:
        numbered = F.regexp_replace(numbered, pattern, token)
    return F.when(out.rlike(r"[0-9]{3}"), numbered).otherwise(out)


def distinct_token_ratio(col: Column | str) -> Column:
    """Lexical diversity = distinct tokens / total tokens — the cheap
    repetition signal corpus-quality filters (C4/Gopher-style) cut on:
    boilerplate and generated spam score low."""
    return distinct_token_ratio_from_tokens(tokens(col))


def distinct_token_ratio_from_tokens(toks: Column) -> Column:
    """Lexical diversity over a PRE-TOKENIZED array column (see
    stopword_count_from_tokens for when to prefer this form)."""
    return F.size(F.array_distinct(toks)) / F.size(toks)


def normalized(col: Column | str) -> Column:
    """Canonical text form: lowercase, squeeze whitespace, strip
    non-alnum. Whitespace squeeze comes FIRST: stripping first would
    delete tabs/newlines outright and glue words together ('a\\nb' →
    'ab'), so texts differing only in whitespace kind would fingerprint
    differently.

    The strip step extracts-and-joins the maximal KEEP runs
    (``[a-z0-9 ]+``) rather than replacing the complement class
    (``regexp_replace(out, '[^a-z0-9 ]', '')``) — value-identical by
    construction (deleting every bad char is concatenating the good
    runs in order), but ~32x faster on mostly-clean text (round-12
    micro probes at the 100x corpus: 21.2s -> 0.66s). java.util.regex
    pays ~125 ns/char on the FAILURE path (a negated single-char class
    attempts and fails a match at every good-char position) vs ~5
    ns/char when matches succeed and consume runs — so phrase hot-path
    regexes to MATCH what is common (the keep runs), not what is rare
    (the stripped chars). The whitespace squeeze already matches often;
    it stays a plain replace. DuckDB oracles keep the literal
    complement-replace form and hash-match (RE2 has no such asymmetry)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.lower(c)
    out = F.regexp_replace(out, r"\s+", " ")
    out = F.array_join(F.regexp_extract_all(out, F.lit(r"[a-z0-9 ]+"), 0), "")
    return F.trim(out)


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint = md5 of the normalized text (stable across
    engines; used for near-canonical exact dedup)."""
    return F.md5(normalized(col))


def lang_score(col: Column | str, lang: str) -> Column:
    """# of distinct tokens that are marker words for ``lang``."""
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    toks = F.array_distinct(tokens(F.lower(F.col(col) if isinstance(col, str) else col)))
    return F.size(F.array_intersect(toks, markers))
