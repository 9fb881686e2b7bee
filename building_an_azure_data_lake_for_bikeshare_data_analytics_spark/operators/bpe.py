"""Byte-pair-encoding vocabulary training + encoding — the classic LLM
tokenizer-building operator (Sennrich et al. 2016), Spark-first.

Fit posture mirrors ``similarity.kmeans_fit``: real BPE trainers operate on
the WORD-FREQUENCY table, not the raw corpus, so the distributed part is one
word-count aggregation; the bounded top-``top_words`` rows collect to the
driver and the merge loop runs there in exact integer arithmetic. Encoding
is then a chain of LITERAL string replaces — pure JVM Column expressions,
no UDF — and because every fit step is deterministic string/integer work,
the DuckDB oracle replays the entire fit AND the encode, iteration by
iteration (the q56/q118 replay-the-fit pattern, applied to a tokenizer).

Symbol representation: each symbol is wrapped as ``<s>`` ... ``</``-free
angle tokens ``⟨sym⟩``, so merge patterns ``⟨l⟩⟨r⟩`` match exactly at
symbol boundaries (no prefix ambiguity) and ``replace`` — left-to-right,
non-overlapping, identical semantics in Python ``str.replace``, Spark
``F.replace`` and DuckDB ``replace()`` — applies a merge the same way in
all three engines. Pair counting deliberately counts ALL adjacent pairs
(overlapping, the standard formulation); only the tie-break (count desc,
pair string asc) needs pinning for cross-engine determinism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: symbol delimiters (outside the [a-z0-9] vocabulary alphabet by contract)
L, R = "⟨", "⟩"  # ⟨ ⟩

#: fit bounds — the driver-side word table is top_words rows max
BPE_TOP_WORDS = 1000
BPE_MERGES = 8

#: vocabulary contract: only plain lowercase alphanumeric words train the
#: merges (delimiter characters can then never collide with content); the
#: encodable alphabet of the round-trip validation
ALPHA_RE = "^[a-z0-9]+$"


def _word_counts(docs: DataFrame, top_words: int) -> DataFrame:
    """Distributed word-frequency table: one explode + one hash aggregate,
    then the bounded (freq desc, word asc) head — TakeOrderedAndProject,
    never a full sort."""
    from ..functions.text import tokens

    return (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("word"))
        .where(F.col("word").rlike(ALPHA_RE))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(top_words)
    )


def _sym_string(word: str) -> str:
    return "".join(f"{L}{c}{R}" for c in word)


def bpe_fit(
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    top_words: int = BPE_TOP_WORDS,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus word frequencies.

    Returns [(pair, merged, pair_count), ...] in merge order, where
    ``pair`` is the two-symbol pattern (``⟨l⟩⟨r⟩``) and ``merged`` the
    fused symbol (``⟨lr⟩``). Deterministic: exact integer pair counts,
    ties broken by the pair string ascending — bit-reproducible by the
    DuckDB oracle, which replays every iteration."""
    rows = _word_counts(docs, top_words).collect()
    words = [(_sym_string(r["word"]), int(r["freq"])) for r in rows]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for s, freq in words:
            syms = s.replace(f"{R}{L}", f"{R}\x00{L}").split("\x00")
            if len(syms) < 2 or syms == [""]:
                continue
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq
        if not counts:
            break
        # max count, ties -> lexicographically smallest pair string
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0] + kv[0][1]))
        pair = a + b
        merged = f"{L}{a[1:-1]}{b[1:-1]}{R}"
        merges.append((pair, merged, cnt))
        words = [(s.replace(pair, merged), f) for s, f in words]
    return merges


def bpe_encode(text: Column, merges: list[tuple[str, str, int]]) -> Column:
    """Apply learned merges to a lowercase word string -> symbol string.

    Pure Column expressions: char-split to wrapped symbols, then one
    literal ``replace`` per merge — whole-stage-codegen'd, no UDF, and
    byte-identical to the oracle's replace chain.

    The empty-string filter guards a Spark version seam: Spark >= 3.4
    drops the trailing empty string from ``split(text, '')``
    (SPARK-40194), while 3.2/3.3 emit it — unguarded, an older runtime
    would wrap a spurious empty symbol ``⟨⟩`` per value, inflating every
    token count by one and breaking oracle equality."""
    chars = F.filter(F.split(text, ""), lambda c: c != F.lit(""))
    sym = F.concat_ws(
        "", F.transform(chars, lambda c: F.concat(F.lit(L), c, F.lit(R)))
    )
    for pair, merged, _ in merges:
        sym = F.replace(sym, F.lit(pair), F.lit(merged))
    return sym


def bpe_token_count(text: Column, merges: list[tuple[str, str, int]]) -> Column:
    """Number of BPE symbols after applying the merges (the real
    token-budget counter the ``\\w+``-regex estimator q62 approximates)."""
    encoded = bpe_encode(text, merges)
    # each symbol contributes exactly one R delimiter
    return (F.length(encoded) - F.length(F.replace(encoded, F.lit(R), F.lit("")))).cast("int")


def roundtrip_flags(
    word: Column, merges: list[tuple[str, str, int]]
) -> tuple[Column, Column, Column]:
    """Per-word round-trip validation columns under a learned merge table:
    ``(encodable, rt_ok, n_sym)`` — encodable as 0/1 (word inside the
    ^[a-z0-9]+$ alphabet contract; outside = byte-fallback territory),
    rt_ok as 0/1 (decode(encode(word)) == word, decode = strip the symbol
    delimiters), and the encoded symbol count (0 for non-encodable).
    Used by the q235 batch audit."""
    enc = bpe_encode(word, merges)
    encodable = word.rlike(ALPHA_RE)
    decoded = F.replace(F.replace(enc, F.lit(L), F.lit("")), F.lit(R), F.lit(""))
    n_sym = F.when(
        encodable, F.length(enc) - F.length(F.replace(enc, F.lit(R), F.lit("")))
    ).otherwise(F.lit(0))
    rt_ok = F.when(encodable & (decoded == word), F.lit(1)).otherwise(F.lit(0))
    enc_flag = F.when(encodable, F.lit(1)).otherwise(F.lit(0))
    return enc_flag, rt_ok, n_sym
