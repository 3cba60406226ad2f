"""Text-analysis column builders for LLM data pipelines.

All built-in JVM expressions — tokenization, counting, scoring and
fingerprinting run inside whole-stage codegen with zero Python cost, so
they scale to 100 TB document corpora as plain projections (no shuffle
at all until an aggregation is requested).

The whitespace tokenizer is :func:`tokens` (``TOKEN_RE``) and its DuckDB
twin over a ``text`` column is ``TOKENS_SQL``; builders and oracles
spell it only through them. A source lint in ``tests/test_registry.py``
enforces that and names the one deliberate exception: q311's oracle
tokenizes ``lower(text)``. The 60-bit md5 hash they pair with lives in
``operators/sampling.py`` (``md5_60`` / ``md5_60_sql``) and portable
MinHash/LSH in ``llm/minhash.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = r"\S+"
TOKENS_SQL = "regexp_extract_all(text, '\\S+')"

# Tiny per-language function-word sets for the n-gram/stopword language-ID
# heuristic. Deliberately SQL-expressible so the DuckDB oracle can replay
# the exact same vote.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "et", "un", "une"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization as an array<string> column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(TOKEN_RE), 0)


def token_char_sum(toks: Column) -> Column:
    """Total characters across tokens (exact int fold)."""
    return F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))


def stopword_count(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_scores(toks: Column) -> dict[str, Column]:
    return {lang: stopword_count(toks, words) for lang, words in LANG_STOPWORDS.items()}


def predict_lang(scores: dict[str, Column]) -> Column:
    """Deterministic argmax with fixed tie order en > es > de > fr."""
    s_en, s_es, s_de, s_fr = (scores[k] for k in ("en", "es", "de", "fr"))
    return (
        F.when((s_en == 0) & (s_es == 0) & (s_de == 0) & (s_fr == 0), "unknown")
        .when((s_en >= s_es) & (s_en >= s_de) & (s_en >= s_fr), "en")
        .when((s_es >= s_de) & (s_es >= s_fr), "es")
        .when(s_de >= s_fr, "de")
        .otherwise("fr")
    )


def quality_score(n_tokens: Column, n_distinct: Column, n_stop: Column) -> Column:
    """Composite quality score in [0,1]: length + lexical diversity +
    (1 - stopword density), rounded so the value is cross-engine stable."""
    len_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    ttr = n_distinct / n_tokens
    stop_ratio = n_stop / n_tokens
    return F.round(
        F.lit(0.5) * len_score + F.lit(0.3) * ttr + F.lit(0.2) * (F.lit(1.0) - stop_ratio), 6
    )


def bow_fingerprint(col: Column | str) -> Column:
    """Bag-of-words document fingerprint: md5 over the sorted distinct
    token set — robust to token order/repetition, cheap to group on."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))))


def content_hash(col: Column | str) -> Column:
    """Exact-content hash for byte-identical dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


# GPT-2-style pre-tokenizer shape: contraction suffixes, letter runs,
# digit runs, punctuation runs — each optionally preceded by one space.
# Kept to RE2-compatible syntax (no lookarounds) so the DuckDB oracle
# runs the identical pattern.
BPE_ISH_RE = r"'(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


def subword_tokens(col: Column | str) -> Column:
    """BPE-ish subword pre-tokens (array<string>) — the unit LLM token
    budgeting counts, as opposed to whitespace words."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_RE), 0)


def subword_token_count(col: Column | str) -> Column:
    return F.size(subword_tokens(col))


# Polynomial rolling hash: order-SENSITIVE document fingerprint
# (Rabin-Karp form), vs bow_fingerprint's order-insensitive set hash.
# Token values come from an md5 prefix (not xxhash64) and the modulus
# keeps every intermediate in bigint range under ANSI mode — both
# choices so any SQL engine can replay the fold bit-for-bit.
ROLL_BASE = 131
ROLL_MOD = 1_000_000_007


def _token_val(t: Column) -> Column:
    return F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")


def rolling_fingerprint(col: Column | str) -> Column:
    """Order-sensitive rolling-hash fingerprint of the token stream."""
    toks = tokens(col)
    return F.aggregate(
        F.transform(toks, _token_val),
        F.lit(0).cast("bigint"),
        lambda acc, v: F.pmod(acc * ROLL_BASE + v, F.lit(ROLL_MOD)),
    )
