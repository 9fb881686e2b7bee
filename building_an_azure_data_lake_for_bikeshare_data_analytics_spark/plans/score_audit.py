"""Scorer-audit heads — q210 Spearman/Pearson length-bias audit of the
quality signal.

No reference counterpart (the bikeshare notebook has zero text or
statistics ops, SURVEY.md §2.6); this is the standard sanity check a
curation pipeline runs on any cheap quality filter before trusting it:
if a scorer's RANKING of documents is largely reproduced by document
length alone, the "quality" gate is a length gate in disguise (the
known failure mode of ratio-based heuristics and of fastText-style
classifiers on short documents). Rank (Spearman) vs linear (Pearson)
agreement are reported side by side — a large gap between them flags a
monotone-but-nonlinear length dependence.

Registered after plans/privacy.py in plans/registry.py: registry
insertion order is registration order, which the gate scheduler's
overflow rule depends on (plans/evidence.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from ..functions.rank import fractional_rank2
from ..functions.text import STOPWORDS, STOPWORDS_IN_SQL, marker_count, tokens
from .base import _ts, query


_DEC38 = DecimalType(38, 0)


@query(
    "q210_score_length_bias",
    rf"""WITH s AS (
         SELECT round(len(list_filter(ts, t -> t IN ({STOPWORDS_IN_SQL}))) / len(ts), 4)
                    AS x,
                n_chars AS y
         FROM (SELECT text, n_chars,
                      string_split_regex(trim(text), '\s+') AS ts
               FROM documents)),
       r AS (SELECT x, y,
                    2 * rank() OVER (ORDER BY x)
                        + count(*) OVER (PARTITION BY x) - 1 AS u,
                    2 * rank() OVER (ORDER BY y)
                        + count(*) OVER (PARTITION BY y) - 1 AS w,
                    CAST(count(*) OVER () AS BIGINT) AS n,
                    CAST(round(x * 10000) AS BIGINT) AS xi
             FROM s),
       m AS (SELECT max(n) AS n,
                    sum(CAST(u - (n + 1) AS HUGEINT)
                        * CAST(w - (n + 1) AS HUGEINT)) AS suw,
                    sum(CAST(u - (n + 1) AS HUGEINT)
                        * CAST(u - (n + 1) AS HUGEINT)) AS suu,
                    sum(CAST(w - (n + 1) AS HUGEINT)
                        * CAST(w - (n + 1) AS HUGEINT)) AS sww,
                    sum(CAST(xi AS HUGEINT)) AS sx,
                    sum(CAST(y AS HUGEINT)) AS sy,
                    sum(CAST(xi AS HUGEINT) * CAST(xi AS HUGEINT)) AS sxx,
                    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
                    sum(CAST(xi AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
             FROM r)
       SELECT CAST(n AS BIGINT) AS n_docs,
              round(CAST(suw AS DOUBLE)
                    / (sqrt(CAST(suu AS DOUBLE)) * sqrt(CAST(sww AS DOUBLE))),
                    6) AS spearman_rho,
              round(CAST(n * sxy - sx * sy AS DOUBLE)
                    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))),
                    6) AS pearson_rho
       FROM m""",
    tags=("statistics", "spearman", "quality", "audit", "rank"),
)
def q210(spark, sf):
    """Length-bias audit of the q32 stopword-ratio quality signal:
    Spearman rank correlation (tie-correct fractional ranks) and Pearson
    linear correlation between the round-4 stopword ratio and n_chars,
    over every document.

    Exactness: both coefficients are computed from EXACT integer moments.
    Doubled fractional ranks 2·avg_rank are integers even under ties
    (``functions/rank.fractional_rank2``); Σu = n(n+1) exactly, so the
    rank mean n+1 is an integer and the CENTERED second moments
    Σũw̃/Σũ²/Σw̃² stay exact integers bounded by n³ — inside
    DECIMAL(38,0) (and DuckDB's HUGEINT) to n ≈ 4·10¹² rows, past any
    document count 100 TB holds. Pearson moments use the scaled integer
    xi = round(10⁴·x) (the 10⁴ cancels in the ratio) uncentered — the
    n·S products stay exact for bounded value domains. Each engine then
    performs the SAME three IEEE ops (divide, two sqrt) on
    identically-rounded doubles, and rounds at 6 dp.

    Scale shape: ranks come from ``fractional_rank2`` — counts per
    DISTINCT value (a map-side-combinable agg), ``distributed_cumsum``
    over the value-cardinality-sized distinct relation (never a
    single-partition pass over rows; x has ≤ 10⁴+1 distinct round-4
    values by construction, y at most the max document length), and a
    broadcast join of the tiny rank map back onto the rows. The 1-row
    count scalar broadcasts (whitelisted BNLJ); the final reduction is
    one global aggregate. The corpus itself never shuffles."""
    # _ts (r12): fan the scan out below the tokenize
    d = _ts(spark, sf, "documents", "text", "n_chars").select(
        tokens("text").alias("ts"), F.col("n_chars").alias("y")
    )
    s = d.select(
        F.round(marker_count(F.col("ts"), STOPWORDS) / F.size("ts"), 4).alias("x"),
        "y",
    )
    ranked = fractional_rank2(s, "x", bucket=F.floor(F.col("x") * 100), out="u")
    ranked = fractional_rank2(ranked, "y", bucket=F.floor(F.col("y") / 64), out="w")
    cnt = s.agg(F.count(F.lit(1)).alias("n"))
    j = ranked.crossJoin(F.broadcast(cnt))
    dec = lambda c: c.cast(_DEC38)  # noqa: E731
    ut = dec(F.col("u") - (F.col("n") + 1))
    wt = dec(F.col("w") - (F.col("n") + 1))
    xi = dec(F.round(F.col("x") * 10000).cast("long"))
    yl = dec(F.col("y"))
    m = j.agg(
        F.max("n").alias("n"),
        F.sum(ut * wt).alias("suw"),
        F.sum(ut * ut).alias("suu"),
        F.sum(wt * wt).alias("sww"),
        F.sum(xi).alias("sx"),
        F.sum(yl).alias("sy"),
        F.sum(xi * xi).alias("sxx"),
        F.sum(yl * yl).alias("syy"),
        F.sum(xi * yl).alias("sxy"),
    )
    nn = dec(F.col("n"))
    return m.select(
        F.col("n").cast("long").alias("n_docs"),
        F.round(
            F.col("suw").cast("double")
            / (
                F.sqrt(F.col("suu").cast("double"))
                * F.sqrt(F.col("sww").cast("double"))
            ),
            6,
        ).alias("spearman_rho"),
        F.round(
            (nn * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (
                F.sqrt((nn * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
                * F.sqrt((nn * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
            ),
            6,
        ).alias("pearson_rho"),
    )
