"""q235 — tokenizer round-trip validation (r5 verdict item 8): the
standard pre-training intake check that the fertility audit (q227) stops
just short of. Per source: encode -> decode identity rate under the
LEARNED BPE vocabulary (q131's fit), alphabet-OOV / byte-fallback share,
and whole-word vocabulary hit rate.

Why it matters at 100 TB: a tokenizer that does not round-trip loses
bytes silently (the classic failure is a normalizer or delimiter
collision that only some sources trigger), and a source whose tokens fall
outside the tokenizer's alphabet is priced in byte-fallback symbols —
both numbers must be known per source before a token-budgeted mix (q201)
is trusted. The identity check here is real computation on both engines
(encode via the merge chain, decode by stripping symbol delimiters,
string equality), not an assumed constant — a regression anywhere in the
encode path (e.g. the SPARK-40194 empty-split seam operators/bpe.py
guards) shows up as roundtrip_rate < 1 on one engine and a hash mismatch.

Scale shape: the fit is q131's (one word-count hash-agg, bounded
driver-side merge loop); validation is map-only over exploded words (the
8-replace encode chain is pure JVM Column work, no UDF) into one hash
aggregate keyed by source. Registered LAST: registry insertion order is
registration order (plans/evidence.py overflow rule).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .base import _t, _ts, query
from .curation import _bpe_fit_ctes
from ..operators.bpe import ALPHA_RE, L as _L, R as _R

_ENC_SQL = (
    "".join("replace(" for _ in range(8))
    + f"""array_to_string(list_transform(string_split(word, ''),
                 c -> '{_L}' || c || '{_R}'), '')"""
    + "".join(
        f", (SELECT pair FROM m{i}), (SELECT merged FROM m{i}))"
        for i in range(1, 9)
    )
)

_ROUNDTRIP_SQL = rf"""WITH {_bpe_fit_ctes()},
    words AS (
      SELECT source, word FROM (
        SELECT source,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        FROM documents)
      WHERE word <> ''),
    enc AS (
      SELECT source, word,
             regexp_matches(word, '{ALPHA_RE}') AS encodable,
             {_ENC_SQL} AS s
      FROM words),
    scored AS (
      SELECT source, encodable,
             CASE WHEN encodable
                  AND replace(replace(s, '{_L}', ''), '{_R}', '') = word
                  THEN 1 ELSE 0 END AS rt_ok,
             CASE WHEN encodable
                  THEN length(s) - length(replace(s, '{_R}', ''))
                  ELSE 0 END AS n_sym
      FROM enc)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(CASE WHEN encodable THEN 1 ELSE 0 END) AS BIGINT)
               AS n_encodable,
           CAST(sum(CASE WHEN encodable THEN 0 ELSE 1 END) AS BIGINT)
               AS n_fallback,
           round(sum(CASE WHEN encodable THEN 0 ELSE 1 END) / count(*), 6)
               AS fallback_rate,
           CAST(sum(rt_ok) AS BIGINT) AS n_roundtrip_ok,
           round(sum(rt_ok)
                 / sum(CASE WHEN encodable THEN 1 ELSE 0 END), 6)
               AS roundtrip_rate,
           CAST(sum(n_sym) AS BIGINT) AS bpe_symbols,
           round(sum(n_sym)
                 / sum(CASE WHEN encodable THEN 1 ELSE 0 END), 6)
               AS bpe_fertility,
           CAST(sum(CASE WHEN n_sym = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_whole_word,
           round(sum(CASE WHEN n_sym = 1 THEN 1 ELSE 0 END)
                 / sum(CASE WHEN encodable THEN 1 ELSE 0 END), 6)
               AS whole_word_rate
    FROM scored GROUP BY source ORDER BY source"""


@query(
    "q235_tokenizer_roundtrip",
    _ROUNDTRIP_SQL,
    tags=("text", "tokenizer", "bpe", "validation", "intake"),
)
def q235(spark, sf):
    """Per-source tokenizer round-trip validation under the learned BPE
    vocabulary: identity rate of decode(encode(word)) over encodable
    words, byte-fallback share (tokens outside the ^[a-z0-9]+$ alphabet
    contract that a real tokenizer would spell in fallback bytes), exact
    BPE fertility over encodable words (the learned-vocab counterpart of
    q227's O(bytes) regex estimator), and the whole-word vocabulary hit
    rate (words the 8 merges fuse to a single symbol). The DuckDB oracle
    replays the fit (q131's CTE chain) AND the encode/decode, so the
    identity rate is value-checked cross-engine rather than asserted."""
    from ..functions.text import tokens
    from ..operators.bpe import bpe_fit, roundtrip_flags

    d = _t(spark, sf, "documents")
    merges = bpe_fit(d.select("text"))
    # _ts (r12): the per-word roundtrip_flags expressions dominated the
    # head as one task (2.4 s single-task stage profiled) — fan out the
    # scan below the explode
    words = (
        _ts(spark, sf, "documents", "source", "text", fan=True)
        .select("source", F.explode(tokens(F.lower(F.col("text")))).alias("word"))
        .where(F.col("word") != "")
    )
    enc_flag, rt_ok, n_sym = roundtrip_flags(F.col("word"), merges)
    scored = words.select(
        "source",
        enc_flag.alias("enc_flag"),
        rt_ok.alias("rt_ok"),
        n_sym.alias("n_sym"),
    )
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("enc_flag").alias("n_encodable"),
        (F.count(F.lit(1)) - F.sum("enc_flag")).alias("n_fallback"),
        F.sum("rt_ok").alias("n_roundtrip_ok"),
        F.sum("n_sym").alias("bpe_symbols"),
        F.sum(F.when(F.col("n_sym") == 1, F.lit(1)).otherwise(F.lit(0))).alias(
            "n_whole_word"
        ),
    )
    return agg.select(
        "source",
        "n_words",
        "n_encodable",
        "n_fallback",
        F.round(F.col("n_fallback") / F.col("n_words"), 6).alias(
            "fallback_rate"
        ),
        "n_roundtrip_ok",
        F.round(F.col("n_roundtrip_ok") / F.col("n_encodable"), 6).alias(
            "roundtrip_rate"
        ),
        "bpe_symbols",
        F.round(F.col("bpe_symbols") / F.col("n_encodable"), 6).alias(
            "bpe_fertility"
        ),
        "n_whole_word",
        F.round(F.col("n_whole_word") / F.col("n_encodable"), 6).alias(
            "whole_word_rate"
        ),
    ).orderBy("source")
