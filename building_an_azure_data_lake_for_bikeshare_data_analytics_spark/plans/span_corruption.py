"""q266 — fill-in-the-middle (FIM) span corruption: the standard
pretraining data TRANSFORM (Bavarian et al. 2022) that teaches a causal
LM to infill. A hash-selected fraction of documents is rewritten from
``prefix middle suffix`` into the PSM layout ``<PRE> prefix <SUF>
suffix <MID> middle`` with token-level pivot points; the rest pass
through. Everything is deterministic from doc_id — pivots, selection,
layout — so the transform is reproducible shard-by-shard with no RNG
state (the q262 schedule's contract, applied to a transform), and the
DuckDB oracle replays it value-for-value including the md5 of every
transformed token stream.

Scale shape: pure per-row Column expressions over one document scan —
no shuffle at all until the final presentation sort (which a deployment
drops; it writes the transformed text back partition-local). Token
slices are JVM-side ``slice``/``array_join``; no Python anywhere.

Reference scope note: the reference notebook has no training-transform
surface (SURVEY.md §2.6) — training-data-pipeline extension set.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import PRIME_E6, SPLIT_E6_SQL
from ..functions.text import TOKENS_SQL, tokens
from .base import _ts, query

#: fraction of docs FIM-transformed, in 1e-6 units against the e6 doc
#: hash (the q254 mixture-rate granularity): 500000 = half the corpus
_FIM_RATE_E6 = 500_000
#: FIM selection: the e6 doc hash below the rate
_FIM_PRED = f"{SPLIT_E6_SQL.format(x='doc_id')} < {_FIM_RATE_E6}"
#: pivot mixers (distinct odd constants so p1/p2 decorrelate)
_Q1, _Q2 = 2246822519, 3266489917

_FIM_SQL = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS ts,
         CAST(COALESCE(len({TOKENS_SQL}), 0) AS BIGINT) AS n_toks,
         {_FIM_PRED} AS fim
  FROM documents
  WHERE COALESCE(len({TOKENS_SQL}), 0) > 0),
p AS (
  SELECT doc_id, ts, n_toks, fim,
         CAST((((doc_id % {PRIME_E6}) * {_Q1}) % {PRIME_E6}) % (n_toks + 1)
              AS BIGINT) AS p1
  FROM t),
pp AS (
  SELECT doc_id, ts, n_toks, fim, p1,
         p1 + CAST((((doc_id % {PRIME_E6}) * {_Q2}) % {PRIME_E6})
                   % (n_toks - p1 + 1) AS BIGINT) AS p2
  FROM p)
SELECT doc_id, n_toks,
       fim,
       CASE WHEN fim THEN p1 ELSE NULL END AS p1,
       CASE WHEN fim THEN p2 ELSE NULL END AS p2,
       md5(CASE WHEN fim THEN
             '<PRE> ' || COALESCE(array_to_string(ts[1:p1], ' '), '') ||
             ' <SUF> ' || COALESCE(array_to_string(ts[p2 + 1:n_toks], ' '), '') ||
             ' <MID> ' || COALESCE(array_to_string(ts[p1 + 1:p2], ' '), '')
           ELSE array_to_string(ts, ' ') END) AS out_md5
FROM pp
ORDER BY doc_id"""


def fim_transform(docs):
    """The FIM transform over a (doc_id, text) relation: one row per
    tokenized doc — (doc_id, n_toks, fim, p1, p2, out_md5), where
    ``out_md5`` fingerprints the emitted token stream (PSM layout for
    transformed docs, the original stream for pass-through). Pivots:
    ``p1 = mix1(doc_id % p) % (n+1)``, ``p2 = p1 + mix2(doc_id % p) %
    (n-p1+1)`` with ``p = PRIME_E6`` (doc_id modded before the mixer so
    the product never overflows int64 at corpus-scale ids)
    — every split of the token range (including empty prefix/middle/
    suffix) is reachable, and both are pure functions of doc_id."""
    t = docs.select(
        "doc_id",
        tokens("text").alias("ts"),
        F.size(tokens("text")).cast("bigint").alias("n_toks"),
        F.expr(_FIM_PRED).alias("fim"),
    ).where(F.col("n_toks") > 0)
    # mod doc_id FIRST (the split hash's posture): a bare doc_id * mixer
    # overflows int64 past doc_id ~4e9 — a crash under ANSI at corpus
    # scale, silent wrap otherwise
    p1 = (((F.col("doc_id") % PRIME_E6) * F.lit(_Q1)) % PRIME_E6) % (
        F.col("n_toks") + 1
    )
    t = t.withColumn("p1", p1.cast("bigint"))
    p2 = F.col("p1") + (((F.col("doc_id") % PRIME_E6) * F.lit(_Q2)) % PRIME_E6) % (
        F.col("n_toks") - F.col("p1") + 1
    )
    t = t.withColumn("p2", p2.cast("bigint"))
    seg = lambda a, b: F.array_join(  # noqa: E731 — tokens [a, b) 0-based
        F.slice(F.col("ts"), a + F.lit(1), b - a), " "
    )
    psm = F.concat(
        F.lit("<PRE> "),
        seg(F.lit(0), F.col("p1")),
        F.lit(" <SUF> "),
        seg(F.col("p2"), F.col("n_toks")),
        F.lit(" <MID> "),
        seg(F.col("p1"), F.col("p2")),
    )
    out = F.when(F.col("fim"), psm).otherwise(F.array_join(F.col("ts"), " "))
    return t.select(
        "doc_id",
        "n_toks",
        "fim",
        F.when(F.col("fim"), F.col("p1")).alias("p1"),
        F.when(F.col("fim"), F.col("p2")).alias("p2"),
        F.md5(F.encode(out, "UTF-8")).alias("out_md5"),
    ).orderBy("doc_id")


@query(
    "q266_fim_transform",
    _FIM_SQL,
    tags=("training", "transform", "fim", "deterministic"),
)
def q266(spark, sf):
    """Deterministic fill-in-the-middle corpus transform: a hash-gated
    half of the corpus is rewritten token-level into the PSM infilling
    layout (``<PRE> prefix <SUF> suffix <MID> middle``) with pivots
    that are pure functions of doc_id; the other half passes through.
    The oracle replays pivots, selection, layout, and the md5 of every
    emitted token stream, so a green row certifies the transform
    byte-for-byte. Per-row expressions only — the plan's single
    exchange is the presentation sort."""
    # _ts (r12): the span corruption tokenizes + re-slices every text
    return fim_transform(_ts(spark, sf, "documents", "doc_id", "text"))


# --------------------------------------------------------------------------
# q268 — UL2/T5-style multi-span denoising: the k-span sibling of FIM
# --------------------------------------------------------------------------

#: cap on masked spans per doc (k = min(_UL2_MAX_K, max(1, n div 8)))
_UL2_MAX_K = 3
#: mask ~15% of each window (integer percent, exact in both engines)
_UL2_PCT = 15
#: per-span additive mixer (decorrelates span offsets across j)
_Q3 = 7919


def _ul2_sql() -> str:
    """The q268 oracle: per doc, k = min(3, max(1, n//8)) equal windows,
    each masking a deterministic ~15% sub-span; corrupted stream =
    unmasked remainder with <Xj> sentinels, targets stream = sentinels +
    masked spans. All spans derive from integer arithmetic shared
    verbatim with the plan, so the md5s certify the byte streams."""

    def win(j):
        # 0-based window [a_j, b_j), mask [m0_j, m1_j). Integer //
        # throughout — DuckDB casts double->BIGINT by ROUNDING where
        # Spark's cast truncates, so CAST(x / y AS BIGINT) diverges
        a = f"(({j} * n_toks) // k)"
        b = f"((({j} + 1) * n_toks) // k)"
        w = f"({b} - {a})"
        L = f"GREATEST(1, ({w} * {_UL2_PCT}) // 100)"
        m0 = f"({a} + ((doc_id % {PRIME_E6}) * {_Q1} + {j} * {_Q3}) % {PRIME_E6} % ({w} - {L} + 1))"
        m1 = f"({m0} + {L})"
        return a, b, L, m0, m1

    cor, tgt, masked = [], [], []
    for j in range(_UL2_MAX_K):
        a, b, L, m0, m1 = win(j)
        piece = (
            f"COALESCE(array_to_string(ts[{a} + 1:{m0}], ' '), '')"
            f" || ' <X{j}> ' || "
            f"COALESCE(array_to_string(ts[{m1} + 1:{b}], ' '), '')"
        )
        target = f"'<X{j}> ' || array_to_string(ts[{m0} + 1:{m1}], ' ')"
        guard = f"CASE WHEN k > {j} THEN "
        sep = "' ' || " if j else ""
        cor.append(f"{guard}{sep}{piece} ELSE '' END")
        tgt.append(f"{guard}{sep}{target} ELSE '' END")
        masked.append(f"CASE WHEN k > {j} THEN {L} ELSE 0 END")
    return f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS ts,
         CAST(COALESCE(len({TOKENS_SQL}), 0) AS BIGINT) AS n_toks
  FROM documents
  WHERE COALESCE(len({TOKENS_SQL}), 0) > 0),
tk AS (
  SELECT doc_id, ts, n_toks,
         LEAST({_UL2_MAX_K}, GREATEST(1, n_toks // 8)) AS k
  FROM t)
SELECT doc_id, n_toks, k,
       CAST({' + '.join(masked)} AS BIGINT) AS masked_toks,
       md5({' || '.join(cor)}) AS corrupted_md5,
       md5({' || '.join(tgt)}) AS targets_md5
FROM tk
ORDER BY doc_id"""


def ul2_denoise(docs):
    """The q268 transform over a (doc_id, text) relation: per doc,
    ``k = min(3, max(1, n // 8))`` equal token windows each mask a
    deterministic ~15% sub-span; returns (doc_id, n_toks, k,
    masked_toks, corrupted_md5, targets_md5). Per-row Column
    expressions with a FIXED span cap — no explode, no shuffle: the
    window/mask arithmetic unrolls over j < 3 as conditional concat, so
    the text never leaves its scan partition (the q266 scale shape,
    k-span)."""
    t = docs.select(
        "doc_id",
        tokens("text").alias("ts"),
        F.size(tokens("text")).cast("bigint").alias("n_toks"),
    ).where(F.col("n_toks") > 0)
    n = F.col("n_toks")
    k = F.least(F.lit(_UL2_MAX_K), F.greatest(F.lit(1), (n / 8).cast("bigint")))
    t = t.withColumn("k", k)

    def seg(a, b):  # tokens [a, b) 0-based, '' when empty
        return F.array_join(F.slice(F.col("ts"), a + F.lit(1), b - a), " ")

    def win(j):
        a = (F.lit(j) * n / F.col("k")).cast("bigint")
        b = ((F.lit(j) + 1) * n / F.col("k")).cast("bigint")
        w = b - a
        L = F.greatest(F.lit(1), (w * _UL2_PCT / 100).cast("bigint"))
        mix = ((F.col("doc_id") % PRIME_E6) * F.lit(_Q1) + F.lit(j) * F.lit(_Q3)) % PRIME_E6
        m0 = a + mix % (w - L + 1)
        return a, b, L, m0, m0 + L

    cor, tgt, masked = [], [], []
    for j in range(_UL2_MAX_K):
        a, b, L, m0, m1 = win(j)
        piece = F.concat(seg(a, m0), F.lit(f" <X{j}> "), seg(m1, b))
        if j:
            piece = F.concat(F.lit(" "), piece)
        target = F.concat(F.lit(f"<X{j}> "), seg(m0, m1))
        if j:
            target = F.concat(F.lit(" "), target)
        gate = F.col("k") > j
        cor.append(F.when(gate, piece).otherwise(F.lit("")))
        tgt.append(F.when(gate, target).otherwise(F.lit("")))
        masked.append(F.when(gate, L).otherwise(F.lit(0)))
    return t.select(
        "doc_id",
        "n_toks",
        "k",
        sum(masked[1:], masked[0]).cast("bigint").alias("masked_toks"),
        F.md5(F.encode(F.concat(*cor), "UTF-8")).alias("corrupted_md5"),
        F.md5(F.encode(F.concat(*tgt), "UTF-8")).alias("targets_md5"),
    ).orderBy("doc_id")


@query(
    "q268_ul2_denoise",
    _ul2_sql(),
    tags=("training", "transform", "denoising", "deterministic"),
)
def q268(spark, sf):
    """Multi-span denoising corpus prep (the T5/UL2 R-denoising shape):
    every doc masks k = min(3, max(1, n//8)) deterministic ~15% spans —
    one per equal token window, offsets pure functions of (doc_id, j) —
    emitting the corrupted stream (unmasked text + <Xj> sentinels) and
    the targets stream (sentinels + masked spans), both md5-certified
    against the oracle's replay. The k-span generalization of q266's
    single-pivot FIM, same zero-shuffle per-row plan (fixed span cap
    unrolls as conditional concat — no explode, no text movement)."""
    return ul2_denoise(_ts(spark, sf, "documents", "doc_id", "text"))
