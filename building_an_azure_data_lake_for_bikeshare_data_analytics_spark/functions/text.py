"""Text-analysis column builders for the training-data pipeline surface
(BASELINE.json north star; not present in the reference, which passes string
columns through untouched — SURVEY.md §2.6 "not present").

All hot-path expressions are native Column functions (JVM, codegen'd):
tokenization is ``split``, shingling is ``transform`` over ``sequence`` —
no Python per row. These run on the ``documents`` table at any scale; the
only data movement is whatever aggregation the caller adds.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny marker vocabularies for the heuristic language guesser
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of"),
    "fr": ("le", "la", "et"),
    "de": ("der", "die", "und"),
    "es": ("el", "los", "y"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and")
#: ``STOPWORDS`` as a SQL ``IN`` list
STOPWORDS_IN_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)


def tokens(text: str | Column = "text") -> Column:
    """Whitespace tokenization of trimmed text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


#: DuckDB-side rendering of ``tokens("text")``
TOKENS_SQL = r"string_split_regex(trim(text), '\s+')"


def token_count(text: str | Column = "text") -> Column:
    return F.size(tokens(text))


def marker_count(toks: Column, markers: tuple[str, ...]) -> Column:
    """How many tokens fall in a marker vocabulary (JVM lambda, no UDF)."""
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lang_guess(toks: Column) -> Column:
    """Argmax over the four marker-set scores, deterministic tie order
    en > fr > de > es."""
    en, fr, de, es = (marker_count(toks, LANG_MARKERS[k]) for k in ("en", "fr", "de", "es"))
    return (
        F.when((en >= fr) & (en >= de) & (en >= es), F.lit("en"))
        .when((fr >= de) & (fr >= es), F.lit("fr"))
        .when(de >= es, F.lit("de"))
        .otherwise(F.lit("es"))
    )


def normalized_text(text: str | Column = "text") -> Column:
    """Whitespace-collapsed, lowercased, trimmed — the canonical form used
    for fingerprinting and exact dedup."""
    c = F.col(text) if isinstance(text, str) else text
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


#: DuckDB-side rendering of ``normalized_text("text")``
NORMALIZED_TEXT_SQL = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"


def fingerprint(text: str | Column = "text") -> Column:
    """md5 hex digest of the normalized text (content-defined doc identity)."""
    return F.md5(normalized_text(text))


#: PII patterns (email, then phone-like digit runs). Kept intentionally
#: simple and shared verbatim with the DuckDB oracle SQL — both engines use
#: RE2-ish syntax where these constructs agree.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9() .-]{6,}[0-9]"


def redact_pii(text: str | Column = "text") -> Column:
    """Replace email addresses and phone-number-shaped digit runs with
    fixed placeholder tokens. Pure JVM ``regexp_replace`` chain — the scan
    stays codegen'd; no Python in the path."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string>.

    Built with ``transform(sequence(...))`` — pure JVM expression; for a doc
    with t tokens yields t-n+1 shingles (empty array when t < n).
    """
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]),
    )
    # guard: < n tokens means no shingles (and sequence(0, negative) would
    # otherwise count downward / index out of bounds under ANSI mode)
    empty = F.array().cast("array<string>")
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(empty)
