"""Text-analysis column builders (LLM-data-pipeline surface).

All builders are pure `Column` expressions over built-in
`pyspark.sql.functions` — JVM-side, whole-stage-codegen'd, no Python in
the hot path — and every one has a DuckDB-SQL mirror used by the oracle
queries, so the operators are cross-engine checked.

At 100 TB these run as a single narrow projection over the document
scan: no shuffle, no UDF serialization, fully pipelined.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic marker sets for the language-ID heuristic. The point
# is the *operator shape* (token-level evidence → argmax with stable
# tie-break), mirrored exactly in the oracle SQL.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "es": ("el", "la", "de", "y", "que", "los"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "un"),
    "zh": (),  # no whitespace-token markers; always 0 in this heuristic
}

STOPWORDS: tuple[str, ...] = LANG_MARKERS["en"]


def normalize_text(c: Column | str) -> Column:
    """Whitespace-collapse + lowercase + trim — the dedup normal form."""
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def fingerprint(c: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normal form."""
    return F.md5(normalize_text(c))


def tokens(c: Column | str) -> Column:
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c)).cast("long")


def char_count(c: Column | str) -> Column:
    return F.length(normalize_text(c)).cast("long")


def punct_count(c: Column | str) -> Column:
    return F.length(F.regexp_replace(c, r"[^.,;:!?]", "")).cast("long")


def est_bpe_tokens(c: Column | str) -> Column:
    """BPE-ish token estimate: ceil(chars / 4) — the classic ~4 chars/token."""
    return F.ceil(char_count(c).cast("double") / F.lit(4.0)).cast("long")


def marker_hits(c: Column | str, markers: tuple[str, ...]) -> Column:
    """How many tokens are in the marker set (0 for an empty set)."""
    if not markers:
        return F.lit(0).cast("long")
    toks = tokens(c)
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("long")


def word_ngrams_tokens(toks: Column, n: int) -> Column:
    """n-gram shingles over an already-tokenized array column.

    Pass a *materialized* token-array attribute, not an expression such
    as ``tokens(text)``: an expression captured inside the higher-order
    lambda is re-evaluated per gram position."""
    gram = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(gram)).otherwise(
        F.array().cast("array<string>")
    )
