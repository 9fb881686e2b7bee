"""Advanced language-model curation heads — q206 Kneser-Ney perplexity
scoring, q208 vocabulary coverage curve, q209 CCNet perplexity buckets.

No reference counterpart (the bikeshare notebook has zero text ops,
SURVEY.md §2.6); these extend the q138 bigram-LM quality-filter family
with the smoothing actually used by CCNet-class filters and the
coverage diagnostic used to size tokenizer vocabularies (q131's BPE).

Registered after plans/timeseries.py in plans/registry.py: registry
insertion order is registration order, which the gate scheduler's
overflow rule depends on (plans/evidence.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from ..functions.rank import distributed_row_number, exact_ntile
from ..functions.text import tokens
from ..operators.lm import lm_fit_kn, lm_pairs, lm_score_pairs_kn
from .base import _t, query

#: the q206 model-fit + scoring pipeline as a DuckDB CTE prefix, shared by
#: q206 (per-doc scores) and q209 (bucketed corpus split) so the two oracles
#: can never drift apart.
_KN_SCORED_CTE = r"""WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
                   FROM documents),
       pairs AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
                 FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
                       FROM tok WHERE len(ts) >= 2)),
       bg AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
       fw AS (SELECT w1, sum(c12) AS c1p, count(*) AS n1fw FROM bg GROUP BY 1),
       bw AS (SELECT w2, count(*) AS n1bw FROM bg GROUP BY 1),
       nb AS (SELECT count(*) AS nbig FROM bg),
       term AS (SELECT p.doc_id,
                       CAST(ln(((CAST(c12 AS DOUBLE) - 0.75)
                                + (0.75 * CAST(n1fw AS DOUBLE))
                                  * (CAST(n1bw AS DOUBLE) / CAST(nbig AS DOUBLE)))
                               / CAST(c1p AS DOUBLE)) AS DECIMAL(18,12)) AS lp
                FROM pairs p JOIN bg USING (w1, w2) JOIN fw USING (w1)
                     JOIN bw USING (w2) CROSS JOIN nb),
       scored AS (SELECT doc_id,
                         CAST(count(*) AS INTEGER) AS n_pairs,
                         round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logp_kn
                  FROM term GROUP BY doc_id)"""


def _kn_scores(spark, sf):
    """Per-doc Kneser-Ney scores of the documents under the model fit on
    them: one checkpointed bigram pass feeds both the fit and the scoring
    (the Spark side of ``_KN_SCORED_CTE``)."""
    pairs = lm_pairs(_t(spark, sf, "documents")).localCheckpoint()
    return lm_score_pairs_kn(pairs, *lm_fit_kn(pairs))


@query(
    "q206_kneser_ney_lm_score",
    _KN_SCORED_CTE + "\n       SELECT doc_id, n_pairs, avg_logp_kn FROM scored",
    tags=("text", "quality", "lm", "kneser-ney", "perplexity"),
)
def q206(spark, sf):
    """Interpolated Kneser-Ney bigram scoring — the smoothing CCNet-class
    quality filters actually ship (Chen & Goodman 1999 eq. 4.24,
    D = 0.75): p(w2|w1) backs off to the CONTINUATION probability
    n1+(.,w2)/n1+(..) rather than the raw unigram, so boilerplate tokens
    that follow only one history stop looking probable. Upgrades q138's
    add-one model; same output contract (per-doc mean log-prob).

    Determinism: the q138 discipline plus the decimal-literal trap
    handled — every int count is EXPLICITLY cast to double in both
    engines (DuckDB parses bare 0.75 as DECIMAL(3,2); mixed int-decimal
    arithmetic there would not match Spark's double path), the numerator
    keeps one fixed parenthesization, and the single ln() is quantized
    to DECIMAL(18,12) so per-doc sums are exact integer arithmetic.
    c12 >= 1 implies c12 - D >= 0.25, so the max(.,0) clamp of the
    general formula is a provable no-op for train-on-self scoring.

    Scale shape: ONE pass over the checkpointed pair relation builds the
    bigram table; the three model tables reaggregate that vocab-bounded
    relation (metadata-scale); scoring joins are keyed (w1,w2)/w1/w2 and
    ``nbig`` is the one whitelisted 1-row broadcast scalar. No driver
    state, no per-group sort — the petabyte n-gram-filter shape."""
    return _kn_scores(spark, sf)


@query(
    "q209_perplexity_buckets",
    _KN_SCORED_CTE
    + """,
       b AS (SELECT avg_logp_kn,
                    CAST(ntile(3) OVER (ORDER BY avg_logp_kn DESC, doc_id)
                         AS INTEGER) AS bucket
             FROM scored)
       SELECT bucket,
              CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS label,
              count(*) AS n_docs,
              max(avg_logp_kn) AS max_logp,
              min(avg_logp_kn) AS min_logp,
              round(CAST(sum(CAST(avg_logp_kn AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*), 6) AS mean_logp
       FROM b GROUP BY 1""",
    tags=("text", "quality", "lm", "ccnet", "sampling"),
)
def q209(spark, sf):
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020): score
    every document under the q206 Kneser-Ney model, rank by model fit
    (best log-prob = lowest perplexity first, doc_id tie-break — a total
    order), and cut the ranking into three EQUAL-depth buckets. Head is
    what quality-weighted sampling upsamples; tail is what gets dropped
    or down-weighted. Reports per-bucket depth and score envelope.

    Exactness: the tercile is NOT a window ntile (single-partition sort
    over every scored doc — the scale bug at web-corpus cardinality). It
    is ``functions/rank.exact_ntile`` — q86's machinery, shared and
    property-tested against F.ntile — under (avg_logp_kn DESC, doc_id)
    with the order-consistent coarse bucket floor(-8 * avg_logp_kn):
    distributed rank, then ntile's documented split closed-form from
    (rank, n) — row-identical to the oracle's native ntile by
    construction. The bucket mean sums
    round-6 scores as DECIMAL(18,6) (a round-6 double re-rounds to the
    same 6-digit decimal in both engines — it sits ~1e-12 from it, never
    near a half boundary), so the mean is order-independent.

    Scale shape: q206's one-pass fit + keyed scoring joins, then ONE
    extra vocab... doc-bounded rank (serial pass only over distinct
    coarse buckets) and a 1-row doc-count broadcast (whitelisted). No
    global sort, no all-pairs, nothing quadratic."""
    # three consumers (rank's bucket counts, its join-back, the n scalar)
    # — materialize once or the whole scoring join tree runs three times
    scored = (
        _kn_scores(spark, sf)
        .select("doc_id", "avg_logp_kn")
        .localCheckpoint()
    )
    tiled = exact_ntile(
        scored,
        [F.col("avg_logp_kn").desc(), F.col("doc_id").asc()],
        bucket=F.floor(F.col("avg_logp_kn") * F.lit(-8.0)),
        k=3,
        out="bucket",
    )
    return (
        tiled.select("bucket", "avg_logp_kn")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("avg_logp_kn").alias("max_logp"),
            F.min("avg_logp_kn").alias("min_logp"),
            F.round(
                F.sum(F.col("avg_logp_kn").cast(DecimalType(18, 6))).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("mean_logp"),
        )
        .select(
            "bucket",
            F.when(F.col("bucket") == 1, F.lit("head"))
            .when(F.col("bucket") == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("label"),
            "n_docs",
            "max_logp",
            "min_logp",
            "mean_logp",
        )
    )


@query(
    "q208_vocab_coverage_curve",
    r"""WITH tok AS (SELECT string_split_regex(trim(text), '\s+') AS ts
                   FROM documents),
       t AS (SELECT unnest(ts) AS token FROM tok),
       c AS (SELECT token, count(*) AS c FROM t GROUP BY 1),
       r AS (SELECT c, row_number() OVER (ORDER BY c DESC, token) AS rn FROM c),
       tot AS (SELECT sum(c) AS total FROM c),
       sizes AS (SELECT unnest([4, 16, 64, 256, 4096]) AS k)
       SELECT CAST(s.k AS INTEGER) AS vocab_size,
              CAST(sum(CASE WHEN r.rn <= s.k THEN r.c ELSE 0 END) AS BIGINT)
                  AS covered_tokens,
              CAST(max(tot.total) AS BIGINT) AS total_tokens,
              round(CAST(sum(CASE WHEN r.rn <= s.k THEN r.c ELSE 0 END) AS DOUBLE)
                    / CAST(max(tot.total) AS DOUBLE), 6) AS coverage
       FROM sizes s CROSS JOIN r CROSS JOIN tot
       GROUP BY s.k""",
    tags=("text", "tokenizer", "vocabulary", "coverage"),
)
def q208(spark, sf):
    """Vocabulary coverage curve: what fraction of all corpus tokens the
    top-k most frequent token types cover, for a ladder of candidate
    vocabulary sizes — the diagnostic that sizes a tokenizer vocabulary
    (q131's BPE) and quantifies the OOV tail before training.

    Ranking is (count DESC, token ASC) — a total order, so ranks are
    deterministic. The rank over the token VOCABULARY is data-scale for
    web corpora (billions of shingle types at 100 TB), so it uses
    ``distributed_row_number`` (functions/rank.py): bucket by
    (-count, 4-char prefix), cumulative offsets over distinct buckets
    only, per-bucket windows in parallel — row-for-row identical to the
    single-partition ``row_number`` the oracle runs, with no
    single-partition pass. Coverage sums are exact int64; the one double
    division happens after aggregation, identically in both engines.

    Scale shape: one corpus pass (explode + count), then everything
    downstream is vocab-bounded; the 5-row size spine and 1-row total are
    the whitelisted broadcast scalars (fan-out x5 on the vocab relation,
    never on the corpus)."""
    d = _t(spark, sf, "documents")
    toks = d.select(F.explode(tokens("text")).alias("token"))
    c = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    r = distributed_row_number(
        c,
        [F.col("c").desc(), F.col("token").asc()],
        bucket=F.struct(
            (-F.col("c")).alias("nc"), F.substring("token", 1, 4).alias("p4")
        ),
        out="rn",
    )
    tot = c.agg(F.sum("c").alias("total"))
    sizes = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in (4, 16, 64, 256, 4096)])).alias("k")
    )
    covered = F.sum(
        F.when(F.col("rn") <= F.col("k"), F.col("c")).otherwise(F.lit(0))
    )
    return (
        r.crossJoin(F.broadcast(sizes))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "total")
        .agg(covered.alias("covered_tokens"))
        .select(
            F.col("k").cast("int").alias("vocab_size"),
            F.col("covered_tokens"),
            F.col("total").alias("total_tokens"),
            F.round(
                F.col("covered_tokens").cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("coverage"),
        )
    )
