"""q242/q243 — corpus-health heads for the intake surface.

* **q242 dedup identity ladder**: how much dup mass each successively
  more aggressive EXACT-dedup identity collapses — the number an intake
  owner reads to pick the identity function for a new feed before
  reaching for (much more expensive) near-dup machinery. Three levels,
  each one hash aggregate on a 32-byte key: ``raw`` (md5 of the bytes),
  ``norm_ws_case`` (md5 of whitespace-collapsed lowercased text —
  q34/q35's identity), ``token_set`` (md5 of the sorted distinct token
  list — bag-of-words identity, collapsing permutations/repetitions).
  On the driver corpus the first two collapse nothing and token_set
  finds real groups — exactly the gap the ladder exists to expose.

* **q243 vocabulary growth (Heaps' law curve)**: distinct-token count as
  a function of corpus prefix (by doc_id decile) — the sublinear-growth
  health check (vocab ~ N^beta) that flags template/boilerplate feeds
  (beta near 0) and OCR-noise feeds (beta near 1). Computed the ONE-PASS
  way that scales: each token's FIRST-occurrence doc position
  (min(doc_id) per token — one shuffle over the token stream), bucketed
  by decile, then a 10-row spine join over the tiny per-decile
  histogram. The naive formulation (re-count distinct tokens per prefix,
  10 passes over the corpus) appears only in spirit in the DuckDB
  oracle; the engine never rescans.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import NORMALIZED_TEXT_SQL, TOKENS_SQL, tokens
from .base import _ts, query

#: the token-set (bag-of-words) identity, shared between engines: sorted
#: distinct lowercase whitespace tokens, space-joined, md5'd
_TOKSET_SQL = (
    "md5(array_to_string(list_sort(list_distinct("
    r"string_split_regex(trim(lower(text)), '\s+'))), ' '))"
)

_LADDER_SQL = f"""WITH fps AS (
      SELECT doc_id,
             md5(text) AS raw,
             md5({NORMALIZED_TEXT_SQL}) AS norm_ws_case,
             {_TOKSET_SQL} AS token_set
      FROM documents),
    lv AS (
      SELECT 'a_raw' AS level, raw AS fp FROM fps
      UNION ALL SELECT 'b_norm_ws_case', norm_ws_case FROM fps
      UNION ALL SELECT 'c_token_set', token_set FROM fps),
    g AS (SELECT level, fp, count(*) AS c FROM lv GROUP BY 1, 2)
    SELECT level,
           CAST(count(*) AS BIGINT) AS n_fingerprints,
           CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_groups,
           CAST(sum(c) - count(*) AS BIGINT) AS dup_docs
    FROM g GROUP BY level ORDER BY level"""


@query(
    "q242_dedup_identity_ladder",
    _LADDER_SQL,
    tags=("dedup", "exact", "normalization", "intake"),
)
def q242(spark, sf):
    """Per identity level: distinct fingerprints, groups with >=2 docs,
    and dup mass (docs minus fingerprints). Levels prefixed a_/b_/c_ so
    the ladder sorts in aggressiveness order in both engines."""
    # _ts (r12): three md5 ladders per text — fan the scan out
    d = _ts(spark, sf, "documents", "doc_id", "text").select(
        "doc_id",
        F.md5("text").alias("a_raw"),
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias(
            "b_norm_ws_case"
        ),
        F.md5(
            F.array_join(
                F.array_sort(
                    F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+"))
                ),
                " ",
            )
        ).alias("c_token_set"),
    )
    levels = [
        d.select(F.lit(lvl).alias("level"), F.col(lvl).alias("fp"))
        for lvl in ("a_raw", "b_norm_ws_case", "c_token_set")
    ]
    lv = levels[0].unionByName(levels[1]).unionByName(levels[2])
    g = lv.groupBy("level", "fp").agg(F.count(F.lit(1)).alias("c"))
    return (
        g.groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum((F.col("c") >= 2).cast("long")).alias("n_dup_groups"),
            (F.sum("c") - F.count(F.lit(1))).alias("dup_docs"),
        )
        .orderBy("level")
    )


_GROWTH_SQL = f"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    tok AS (SELECT doc_id, unnest({TOKENS_SQL}) AS tk FROM documents),
    firsts AS (SELECT tk, min(doc_id) AS first_doc FROM tok GROUP BY 1),
    dhist AS (SELECT CAST(floor(doc_id * 10.0 / (m + 1)) AS BIGINT) AS dec,
                     count(*) AS nd
              FROM documents CROSS JOIN mx GROUP BY 1),
    vhist AS (SELECT CAST(floor(first_doc * 10.0 / (m + 1)) AS BIGINT) AS dec,
                     count(*) AS nv
              FROM firsts CROSS JOIN mx GROUP BY 1),
    spine AS (SELECT unnest(range(1, 11)) AS decile)
    SELECT s.decile,
           CAST(coalesce((SELECT sum(nd) FROM dhist WHERE dec < s.decile), 0)
                AS BIGINT) AS docs_in_prefix,
           CAST(coalesce((SELECT sum(nv) FROM vhist WHERE dec < s.decile), 0)
                AS BIGINT) AS vocab_size,
           CAST(coalesce((SELECT sum(nv) FROM vhist WHERE dec = s.decile - 1), 0)
                AS BIGINT) AS new_tokens
    FROM spine s ORDER BY s.decile"""


@query(
    "q243_vocab_growth",
    _GROWTH_SQL,
    tags=("profiling", "vocabulary", "heaps-law", "intake"),
)
def q243(spark, sf):
    """Cumulative vocabulary curve by corpus decile: (decile,
    docs_in_prefix, vocab_size, new_tokens). Engine path: one min-agg
    over the token stream for first occurrences, two tiny decile
    histograms, a 10-row broadcast spine join (whitelisted scalar BNLJ
    for the max-doc-id bound)."""
    docs = _ts(spark, sf, "documents", "doc_id", "text").select(
        "doc_id", tokens("text").alias("ts")
    )
    mx = docs.agg(F.max("doc_id").alias("m"))

    def dec(col):
        return F.floor(col * 10.0 / (F.col("m") + 1)).cast("long")

    dhist = (
        docs.crossJoin(F.broadcast(mx))
        .groupBy(dec(F.col("doc_id")).alias("dec"))
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    firsts = (
        docs.select("doc_id", F.explode("ts").alias("tk"))
        .groupBy("tk")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    vhist = (
        firsts.crossJoin(F.broadcast(mx))
        .groupBy(dec(F.col("first_doc")).alias("dec"))
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    spine = spark.range(1, 11).select(F.col("id").alias("decile"))
    d = spine.join(
        F.broadcast(dhist), dhist["dec"] < spine["decile"], "left"
    ).groupBy("decile").agg(F.sum("nd").alias("docs_in_prefix"))
    v = spine.join(
        F.broadcast(vhist), vhist["dec"] < spine["decile"], "left"
    ).groupBy("decile").agg(F.sum("nv").alias("vocab_size"))
    nw = spine.join(
        F.broadcast(vhist), vhist["dec"] == spine["decile"] - 1, "left"
    ).groupBy("decile").agg(F.sum("nv").alias("new_tokens"))
    return (
        d.join(v, "decile")
        .join(nw, "decile")
        .select(
            "decile",
            F.coalesce("docs_in_prefix", F.lit(0)).alias("docs_in_prefix"),
            F.coalesce("vocab_size", F.lit(0)).alias("vocab_size"),
            F.coalesce("new_tokens", F.lit(0)).alias("new_tokens"),
        )
        .orderBy("decile")
    )
