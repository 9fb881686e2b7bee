"""Model- and index-evaluation heads (q211-q217): the measurement
surface a curation pipeline runs AFTER its classifiers, indexes and
splits exist — AUC and calibration for the q145 quality probe, NDCG for
the q40 ANN index, margin-based mutual mining over embeddings
(Artetxe & Schwenk 2019, the CCMatrix/LASER bitext-mining scorer),
a Zipf-law fit over the token frequency spectrum, an O(n·d) corpus
anisotropy audit, and a purged/embargoed temporal split (the
time-series leakage guard of de Prado-style CV).

No reference counterpart (the bikeshare notebook has zero ML or text
ops, SURVEY.md §2.6) — north-star extension surface, same posture as
plans/profiling.py.

Registered after plans/score_audit.py in plans/registry.py: registry
insertion order is registration order, which the gate scheduler's
overflow rule depends on (plans/evidence.py).

Determinism follows the house discipline: per-row terms quantized to
exact integers (micro/nano units), summed as DECIMAL(38,0) /
HUGEINT (order- and partitioning-independent — partial aggregation
cannot flake them), then both engines perform the SAME short chain of
IEEE double ops and round once at the end. ln()/log2() are the only
libm calls; each is used once per term and floor-quantized before the
exact sum (the q138/q148 discipline — a 1-ulp libm divergence only
matters if it straddles a floor boundary).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import DecimalType

from ..functions.rank import distributed_row_number, fractional_rank2
from ..functions.text import tokens
from ..functions.vectors import dot, norm
from .base import _t, _ts, query
from .extensions import _probe_oracle, q39, q40, q145, _BRUTE_TOPK_ORACLE, _lsh_oracle

_DEC38 = DecimalType(38, 0)


def _dec(c):
    return c.cast(_DEC38)


# --------------------------------------------------------------------------
# q211: probe ROC-AUC by rank-sum (Mann-Whitney)
# --------------------------------------------------------------------------

@query(
    "q211_probe_auc",
    f"""WITH sc AS ({_probe_oracle()}),
    r AS (SELECT label_true,
                 2 * rank() OVER (ORDER BY score)
                     + count(*) OVER (PARTITION BY score) - 1 AS u
          FROM sc),
    m AS (SELECT sum(CASE WHEN label_true = 1 THEN CAST(u AS HUGEINT)
                          ELSE 0 END) AS sup,
                 sum(CAST(label_true AS HUGEINT)) AS np,
                 sum(CAST(1 - label_true AS HUGEINT)) AS nn
          FROM r)
    SELECT CAST(np AS BIGINT) AS n_pos,
           CAST(nn AS BIGINT) AS n_neg,
           round(CAST(sup - np * (np + 1) AS DOUBLE)
                 / CAST(2 * np * nn AS DOUBLE), 6) AS auc
    FROM m""",
    tags=("evaluation", "auc", "classifier", "rank", "fit-replay"),
)
def q211(spark, sf):
    """ROC-AUC of the q145 logistic probe as the Mann-Whitney rank-sum
    statistic: AUC = (Σ_pos rank − n⁺(n⁺+1)/2) / (n⁺·n⁻) with tie-correct
    average ranks — the exact probability a random positive outscores a
    random negative, computed WITHOUT materializing the n⁺·n⁻ pair grid
    and without any threshold sweep.

    Exactness: scores are the probe's round-6 doubles (whole fit replayed
    by the oracle's CTE chain — q145's oracle verbatim as a prefix);
    doubled fractional ranks 2·avg_rank are exact integers even under
    ties (``functions/rank.fractional_rank2``), so the rank-sum, n⁺ and
    n⁻ are exact DECIMAL(38,0)/HUGEINT quantities and AUC is one double
    division both engines perform identically, rounded at 6 dp.

    Scale shape: the rank map comes from ``fractional_rank2`` — per
    DISTINCT score counts (map-side combinable), a cumsum over the
    score-cardinality relation only (≤ 10⁶+1 distinct round-6 sigmoids),
    a broadcast join back, then ONE global aggregate. The corpus never
    shuffles; the pair-grid formulation this replaces is O(n²)."""
    sc = q145(spark, sf).select("label_true", "score")
    ranked = fractional_rank2(
        sc, "score", bucket=F.floor(F.col("score") * 100), out="u"
    )
    m = ranked.agg(
        F.sum(F.when(F.col("label_true") == 1, _dec(F.col("u"))).otherwise(
            _dec(F.lit(0)))).alias("sup"),
        F.sum(_dec(F.col("label_true"))).alias("np"),
        F.sum(_dec(F.lit(1) - F.col("label_true"))).alias("nn"),
    )
    return m.select(
        F.col("np").cast("long").alias("n_pos"),
        F.col("nn").cast("long").alias("n_neg"),
        F.round(
            (F.col("sup") - F.col("np") * (F.col("np") + F.lit(1))).cast("double")
            / (F.lit(2) * F.col("np") * F.col("nn")).cast("double"),
            6,
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# q212: probe calibration bins (reliability diagram + per-bin Brier)
# --------------------------------------------------------------------------

@query(
    "q212_calibration_bins",
    f"""WITH sc AS ({_probe_oracle()}),
    si AS (SELECT label_true,
                  ntile(10) OVER (ORDER BY score, vec_id) AS bin,
                  CAST(round(score * 1000000) AS BIGINT) AS s6
           FROM sc),
    g AS (SELECT bin, count(*) AS n,
                 sum(CAST(s6 AS HUGEINT)) AS ssum,
                 sum(CAST(label_true AS HUGEINT)) AS p,
                 sum(CAST(s6 - 1000000 * label_true AS HUGEINT)
                     * CAST(s6 - 1000000 * label_true AS HUGEINT)) AS se
          FROM si GROUP BY bin)
    SELECT CAST(bin AS INTEGER) AS bin, CAST(n AS BIGINT) AS n,
           round(CAST(ssum AS DOUBLE) / n / 1000000.0, 6) AS mean_score,
           round(CAST(p AS DOUBLE) / n, 6) AS pos_rate,
           round(CAST(se AS DOUBLE) / n / 1000000000000.0, 6) AS brier
    FROM g ORDER BY bin""",
    tags=("evaluation", "calibration", "brier", "classifier", "fit-replay"),
)
def q212(spark, sf):
    """Reliability diagram of the q145 probe: scores bucketed into ten
    EQUAL-FREQUENCY bins (score deciles — fixed-width bins collapse onto
    one bucket for a weak near-0.5 scorer, exactly this corpus); per bin
    the member count, mean predicted score, empirical positive rate
    (their gap is the calibration error) and the bin's Brier
    contribution mean((score−y)²) — the standard check before a quality
    classifier's scores are used as sampling WEIGHTS (q144's DSIR role)
    rather than as a mere ranking.

    Exactness: round-6 scores become exact micro-unit ints s6; the
    decile comes from ``functions/rank.exact_ntile`` over the total
    order (score, vec_id) — value-identical to the window ntile by its
    pinned closed form; score sums, positive counts and squared-error
    sums (s6 − 10⁶y)² are exact integer arithmetic in
    DECIMAL(38,0)/HUGEINT; each output is one or two double divisions
    performed identically by both engines and rounded at 6 dp.

    Scale shape: the decile assignment is ``exact_ntile``'s two-level
    scheme (per-bucket counts, a cumsum over the ~10² distinct coarse
    score buckets, parallel within-bucket windows — never a
    single-partition pass over the corpus); the stats are one
    map-side-combinable groupBy over ten keys; the probe scoring itself
    is map-only against broadcast fitted weights (q145's shape)."""
    from ..functions.rank import exact_ntile

    sc = q145(spark, sf).select("vec_id", "label_true", "score")
    si = exact_ntile(
        sc,
        [F.col("score"), F.col("vec_id")],
        bucket=F.floor(F.col("score") * 100),
        k=10,
        out="bin",
    ).select(
        "label_true",
        F.col("bin"),
        F.round(F.col("score") * 1000000).cast("long").alias("s6"),
    )
    e = F.col("s6") - F.lit(1000000) * F.col("label_true")
    g = si.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(F.col("s6"))).alias("ssum"),
        F.sum(_dec(F.col("label_true"))).alias("p"),
        F.sum(_dec(e) * _dec(e)).alias("se"),
    )
    return g.select(
        "bin",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("ssum").cast("double") / F.col("n") / F.lit(1000000.0), 6
        ).alias("mean_score"),
        F.round(F.col("p").cast("double") / F.col("n"), 6).alias("pos_rate"),
        F.round(
            F.col("se").cast("double") / F.col("n") / F.lit(1000000000000.0), 6
        ).alias("brier"),
    ).orderBy("bin")


# --------------------------------------------------------------------------
# q213: margin-based mutual mining (Artetxe & Schwenk ratio margin)
# --------------------------------------------------------------------------

_MARGIN_K = 4  # neighbors averaged in the margin denominator

_MARGIN_COS = (
    "round(list_sum(list_transform(range(1, len(a.embedding) + 1),"
    " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),"
    " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),"
    " i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 4)"
)


@query(
    "q213_margin_mining",
    f"""WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE label <= 1),
    b AS (SELECT vec_id, embedding FROM embeddings WHERE label >= 8),
    p AS (SELECT a.vec_id AS va, b.vec_id AS vb, {_MARGIN_COS} AS cos
          FROM a, b),
    pi AS (SELECT va, vb, cos,
                  CAST(round(cos * 10000) AS BIGINT) AS c4 FROM p),
    wx AS (SELECT *, row_number() OVER (PARTITION BY va
                                        ORDER BY cos DESC, vb) AS rna
           FROM pi),
    ax AS (SELECT *, sum(CASE WHEN rna <= {_MARGIN_K} THEN c4 ELSE 0 END)
                         OVER (PARTITION BY va) AS ax4
           FROM wx),
    wy AS (SELECT *, row_number() OVER (PARTITION BY vb
                                        ORDER BY cos DESC, va) AS rnb
           FROM ax),
    ay AS (SELECT *, sum(CASE WHEN rnb <= {_MARGIN_K} THEN c4 ELSE 0 END)
                         OVER (PARTITION BY vb) AS ay4
           FROM wy),
    m AS (SELECT va, vb, cos,
                 round(cos / (CAST(ax4 + ay4 AS DOUBLE) / 2 / 10000.0), 6)
                     AS margin
          FROM ay),
    f AS (SELECT *, row_number() OVER (PARTITION BY va
                                       ORDER BY margin DESC, vb) AS rf
          FROM m),
    g AS (SELECT *, row_number() OVER (PARTITION BY vb
                                       ORDER BY margin DESC, va) AS rb
          FROM f)
    SELECT va AS vec_a, vb AS vec_b, cos, margin
    FROM g WHERE rf = 1 AND rb = 1 ORDER BY vec_a""",
    tags=("similarity", "mining", "margin", "alignment", "evaluation"),
)
def q213(spark, sf):
    """Margin-based mutual mining between two embedding populations
    (labels ≤ 1 vs ≥ 8 — the two-language stand-in): the ratio-margin
    scorer of Artetxe & Schwenk 2019 (CCMatrix/LASER bitext mining).
    margin(x,y) = cos(x,y) / ((avgₖ(x) + avgₖ(y)) / 2) with k = 4
    nearest-neighbor cosine averages on each side; a pair is emitted iff
    each member is the other's margin-best partner (mutual top-1) —
    raw-cosine thresholds over-fire in dense "hubness" regions, which is
    exactly what the local-average denominator normalizes away.

    Exactness: cosines are the house round-4 sequential-fold doubles
    (q39's contract); the k-NN averages sum round-4 values as exact
    1e-4-unit ints (sum of 4 longs — no float accumulation), so the
    margin is one identical double division chain both engines round at
    6 dp; every rank carries an id tie-break.

    Scale shape: side A is the bounded alignment batch (the q39
    bounded-query posture — whitelisted BNLJ); all four window passes
    run over the A×B candidate relation partitioned by va/vb. At 100 TB
    the candidate relation comes from the ANN index (q40/q130) instead
    of the exact cross — the margin/mutual logic downstream of candidate
    generation is unchanged."""
    # _ts (r12): the norm fold + pair cosines are per-row heavy
    emb = _ts(spark, sf, "embeddings").select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    a = emb.where(F.col("label") <= 1).select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ae"),
        F.col("nrm").alias("anrm"),
    )
    b = emb.where(F.col("label") >= 8).select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("be"),
        F.col("nrm").alias("bnrm"),
    )
    return _margin_mutual_pairs(a, b)


def _margin_mutual_pairs(a, b):
    """The margin-mining pipeline over prepared sides a(va, ae, anrm) /
    b(vb, be, bnrm)."""
    cos = F.round(
        dot(F.col("ae"), F.col("be")) / (F.col("anrm") * F.col("bnrm")), 4
    )
    pi = (
        b.crossJoin(F.broadcast(a))
        .select("va", "vb", cos.alias("cos"))
        .withColumn("c4", F.round(F.col("cos") * 10000).cast("long"))
    )
    wa = Window.partitionBy("va").orderBy(F.desc("cos"), F.asc("vb"))
    wb = Window.partitionBy("vb").orderBy(F.desc("cos"), F.asc("va"))
    k = _MARGIN_K
    stage = (
        pi.withColumn("rna", F.row_number().over(wa))
        .withColumn(
            "ax4",
            F.sum(F.when(F.col("rna") <= k, F.col("c4")).otherwise(F.lit(0))).over(
                Window.partitionBy("va")
            ),
        )
        .withColumn("rnb", F.row_number().over(wb))
        .withColumn(
            "ay4",
            F.sum(F.when(F.col("rnb") <= k, F.col("c4")).otherwise(F.lit(0))).over(
                Window.partitionBy("vb")
            ),
        )
    )
    m = stage.select(
        "va",
        "vb",
        "cos",
        F.round(
            F.col("cos")
            / ((F.col("ax4") + F.col("ay4")).cast("double") / F.lit(2) / F.lit(10000.0)),
            6,
        ).alias("margin"),
    )
    wf = Window.partitionBy("va").orderBy(F.desc("margin"), F.asc("vb"))
    wg = Window.partitionBy("vb").orderBy(F.desc("margin"), F.asc("va"))
    return (
        m.withColumn("rf", F.row_number().over(wf))
        .withColumn("rb", F.row_number().over(wg))
        .where((F.col("rf") == 1) & (F.col("rb") == 1))
        .select(
            F.col("va").alias("vec_a"),
            F.col("vb").alias("vec_b"),
            "cos",
            "margin",
        )
        .orderBy("vec_a")
    )


# --------------------------------------------------------------------------
# q214: NDCG@5 of the LSH ANN index against the exact ranking
# --------------------------------------------------------------------------

@query(
    "q214_ann_ndcg",
    f"""WITH ex AS ({_BRUTE_TOPK_ORACLE}),
    ap AS ({_lsh_oracle()}),
    terms AS (
      SELECT a.query_id,
             CAST(floor(CAST(coalesce(6 - e.rnk, 0) AS DOUBLE)
                        / log2(CAST(a.rnk + 1 AS DOUBLE))
                        * 1000000000) AS BIGINT) AS t9
      FROM ap a LEFT JOIN ex e
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id),
    dcg AS (SELECT query_id, sum(t9) AS dcg9 FROM terms GROUP BY 1),
    ideal AS (
      SELECT sum(CAST(floor(CAST(6 - p AS DOUBLE)
                            / log2(CAST(p + 1 AS DOUBLE))
                            * 1000000000) AS BIGINT)) AS idcg9
      FROM range(1, 6) t(p)),
    qs AS (SELECT DISTINCT query_id FROM ex)
    SELECT q.query_id,
           round(CAST(coalesce(d.dcg9, 0) AS DOUBLE)
                 / CAST(i.idcg9 AS DOUBLE), 6) AS ndcg_at_5
    FROM qs q LEFT JOIN dcg d ON q.query_id = d.query_id
    CROSS JOIN ideal i
    ORDER BY q.query_id""",
    tags=("similarity", "ann", "ndcg", "evaluation"),
)
def q214(spark, sf):
    """Rank-aware ANN quality: NDCG@5 of the LSH index (q40) against the
    exact cosine top-5 (q39) per sampled query — q154's recall counts
    hits, NDCG also charges the index for returning them in the wrong
    ORDER (graded relevance 5..1 from the exact rank, log2 positional
    discount). The pair is the standard index-quality dashboard:
    recall for coverage, NDCG for ordering.

    Exactness: the q138/q148 log discipline — each DCG term
    rel/log2(pos+1) is floor-quantized to an exact nano-unit int BEFORE
    the sum (the only libm call is one log2 of a small-int double per
    term), the ideal DCG is the same expression over the literal 1..5
    spine, and NDCG is one double division rounded at 6 dp.

    Scale shape: both inputs are per-query top-5 relations (5 rows per
    sampled query regardless of corpus size); the relevance join is
    broadcast-sized, the ideal-DCG scalar is a whitelisted 1-row
    broadcast, and the final aggregate groups by query_id."""
    ex = q39(spark, sf).select(
        "query_id", "neighbor_id", F.col("rnk").alias("rnk_ex")
    )
    ap = q40(spark, sf).select(
        "query_id", "neighbor_id", F.col("rnk").alias("rnk_ap")
    )
    terms = ap.join(F.broadcast(ex), ["query_id", "neighbor_id"], "left_outer").select(
        "query_id",
        F.floor(
            F.coalesce(F.lit(6) - F.col("rnk_ex"), F.lit(0)).cast("double")
            / F.log2((F.col("rnk_ap") + 1).cast("double"))
            * F.lit(1000000000)
        )
        .cast("long")
        .alias("t9"),
    )
    dcg = terms.groupBy("query_id").agg(F.sum("t9").alias("dcg9"))
    spine = spark.range(1, 6).select(F.col("id").alias("p"))
    ideal = spine.agg(
        F.sum(
            F.floor(
                (F.lit(6) - F.col("p")).cast("double")
                / F.log2((F.col("p") + 1).cast("double"))
                * F.lit(1000000000)
            ).cast("long")
        ).alias("idcg9")
    )
    qs = ex.select("query_id").distinct()
    return (
        qs.join(F.broadcast(dcg), "query_id", "left_outer")
        .crossJoin(F.broadcast(ideal))
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("dcg9"), F.lit(0)).cast("double")
                / F.col("idcg9").cast("double"),
                6,
            ).alias("ndcg_at_5"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# q215: Zipf-law fit over the token frequency spectrum
# --------------------------------------------------------------------------

@query(
    "q215_zipf_fit",
    r"""WITH t AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
              FROM documents),
    v AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
    r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rn FROM v),
    q AS (SELECT CAST(floor(ln(CAST(rn AS DOUBLE)) * 1000000000) AS BIGINT) AS x,
                 CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000000) AS BIGINT) AS y
          FROM r),
    m AS (SELECT count(*) AS n,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                 sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
          FROM q)
    SELECT CAST(n AS BIGINT) AS n_terms,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / n / 1000000000.0, 6)
               AS zipf_intercept
    FROM m""",
    tags=("text", "statistics", "zipf", "ols", "vocabulary"),
)
def q215(spark, sf):
    """Zipf-law audit of the corpus vocabulary: OLS fit of ln(frequency)
    on ln(rank) over the full token frequency spectrum. Natural corpora
    sit near slope −1; a synthetic or heavily-duplicated corpus shows up
    immediately as a flat (uniform vocab) or cliff-shaped spectrum — the
    one-number drift check a curation pipeline runs on every ingest
    batch next to q119's per-source token drift.

    Exactness: frequencies and ranks are exact integers; each ln() is
    floor-quantized to nano-units before the DECIMAL(38,0)/HUGEINT
    moment sums (the q138 log discipline), the 1e9 scale cancels in the
    slope ratio, and slope/intercept are the identical closed-form
    double expressions both engines round at 6 dp.

    Scale shape: vocabulary counts are one map-side-combinable groupBy;
    the global rank uses ``functions/rank.distributed_row_number`` with
    the frequency as the order-consistent bucket — the only ordered pass
    runs over DISTINCT frequency values (≪ vocabulary size, Zipf's law
    itself guarantees the long tail collapses onto few counts), never a
    single-partition window over the vocabulary; the moment reduction is
    one global aggregate."""
    toks = _t(spark, sf, "documents").select(
        F.explode(tokens("text")).alias("tok")
    )
    v = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    ranked = distributed_row_number(
        v.withColumn("negc", -F.col("c")),
        [F.col("negc"), F.col("tok")],
        bucket=F.col("negc"),
        out="rn",
    )
    q = ranked.select(
        F.floor(F.log(F.col("rn").cast("double")) * F.lit(1000000000))
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * F.lit(1000000000))
        .cast("long")
        .alias("y"),
    )
    m = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(F.col("x"))).alias("sx"),
        F.sum(_dec(F.col("y"))).alias("sy"),
        F.sum(_dec(F.col("x")) * _dec(F.col("x"))).alias("sxx"),
        F.sum(_dec(F.col("x")) * _dec(F.col("y"))).alias("sxy"),
    )
    nn = _dec(F.col("n"))
    slope = (nn * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        nn * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return m.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n")
            / F.lit(1000000000.0),
            6,
        ).alias("zipf_intercept"),
    )


# --------------------------------------------------------------------------
# q216: corpus anisotropy — O(n·d) mean pairwise cosine via the
# centroid identity
# --------------------------------------------------------------------------

@query(
    "q216_embedding_anisotropy",
    """WITH e AS (
      SELECT vec_id, label, embedding,
             sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                  i -> CAST(embedding[i] AS DOUBLE)
                       * CAST(embedding[i] AS DOUBLE)))) AS nrm
      FROM embeddings),
    q AS (SELECT vec_id, label,
                 list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) / nrm * 1000000)
                               AS BIGINT)) AS qv,
                 CAST(floor(nrm * 1000000) AS BIGINT) AS nq
          FROM e),
    qq AS (SELECT label, nq,
                  list_sum(list_transform(qv, v -> v * v)) AS q2, qv
           FROM q),
    comp AS (SELECT label, i, sum(qv[i]) AS s
             FROM q, range(1, 65) t(i) GROUP BY label, i),
    sl AS (SELECT label,
                  sum(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS sums2
           FROM comp GROUP BY label),
    b AS (SELECT label, count(*) AS n, sum(CAST(q2 AS HUGEINT)) AS sumq2,
                 sum(CAST(nq AS HUGEINT)) AS sumnq
          FROM qq GROUP BY label)
    SELECT b.label, CAST(n AS BIGINT) AS n_vecs,
           round(CAST(sumnq AS DOUBLE) / n / 1000000.0, 6) AS mean_norm,
           round(CAST(sums2 - sumq2 AS DOUBLE)
                 / CAST(n * (n - 1) AS DOUBLE)
                 / 1000000000000.0, 6) AS mean_pairwise_cos
    FROM b JOIN sl USING (label) ORDER BY label""",
    tags=("embedding", "anisotropy", "statistics", "audit"),
)
def q216(spark, sf):
    """Per-label corpus anisotropy: the mean pairwise cosine among all
    n(n−1) ordered vector pairs of each label — the Ethayarajh-style
    representation-degeneration audit (an anisotropic embedding space
    makes every cosine threshold in q43/q100/q146 mean something
    different) — computed in O(n·d) via the centroid identity
    Σᵢ≠ⱼ uᵢ·uⱼ = ‖Σu‖² − Σ‖uᵢ‖², never materializing a single pair.

    Exactness: unit vectors are floor-quantized to exact micro-unit ints
    (one IEEE divide per component, identical both engines — the q140
    discipline), so component sums, ‖Σu‖² and Σ‖uᵢ‖² are exact
    DECIMAL(38,0)/HUGEINT integers; the final expression is two double
    divisions rounded at 6 dp. The mean norm audits the quantization's
    input on the same exact basis.

    Scale shape: posexplode to (label, dim) partial sums — n·d rows into
    a 10·64-key map-side-combinable aggregate — plus a second grouped
    aggregate for the per-vector scalars; the label-keyed join of the
    two 10-row aggregates is trivially broadcast. An all-pairs
    formulation would be n²·d; this is the shape that survives 100 TB."""
    # _ts (r12): the norm fold is per-row heavy — fan the scan out
    e = _ts(spark, sf, "embeddings").select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    q = e.select(
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") / F.col("nrm") * F.lit(1000000)
            ).cast("long"),
        ).alias("qv"),
        F.floor(F.col("nrm") * F.lit(1000000)).cast("long").alias("nq"),
    )
    qq = q.select(
        "label",
        "nq",
        F.aggregate(
            F.transform("qv", lambda v: v * v),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("q2"),
        "qv",
    )
    comp = (
        q.select("label", F.posexplode("qv").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.sum("v").alias("s"))
    )
    sl = comp.groupBy("label").agg(
        F.sum(_dec(F.col("s")) * _dec(F.col("s"))).alias("sums2")
    )
    b = qq.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(F.col("q2"))).alias("sumq2"),
        F.sum(_dec(F.col("nq"))).alias("sumnq"),
    )
    return (
        b.join(F.broadcast(sl), "label")
        .select(
            "label",
            F.col("n").cast("long").alias("n_vecs"),
            F.round(
                F.col("sumnq").cast("double") / F.col("n") / F.lit(1000000.0), 6
            ).alias("mean_norm"),
            F.round(
                (F.col("sums2") - F.col("sumq2")).cast("double")
                / (F.col("n") * (F.col("n") - F.lit(1))).cast("double")
                / F.lit(1000000000000.0),
                6,
            ).alias("mean_pairwise_cos"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q217: purged/embargoed temporal split with an entity leakage guard
# --------------------------------------------------------------------------

_T1 = "2024-01-20 00:00:00"
_T2 = "2024-01-22 00:00:00"


@query(
    "q217_temporal_embargo_split",
    f"""WITH g AS (
      SELECT user_id,
             sum(CASE WHEN ts < TIMESTAMP '{_T1}' THEN 1 ELSE 0 END)
                 AS n_train_events,
             sum(CASE WHEN ts >= TIMESTAMP '{_T1}'
                       AND ts < TIMESTAMP '{_T2}' THEN 1 ELSE 0 END)
                 AS n_embargo_events,
             sum(CASE WHEN ts >= TIMESTAMP '{_T2}' THEN 1 ELSE 0 END)
                 AS n_test_events
      FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(n_train_events AS BIGINT) AS n_train_events,
           CAST(n_embargo_events AS BIGINT) AS n_embargo_events,
           CAST(n_test_events AS BIGINT) AS n_test_events,
           CASE WHEN n_train_events > 0 AND n_test_events > 0
                    THEN 'excluded_leaky'
                WHEN n_train_events > 0 THEN 'train'
                WHEN n_test_events > 0 THEN 'test'
                ELSE 'embargo_only' END AS assignment
    FROM g ORDER BY user_id""",
    tags=("training", "split", "temporal", "leakage", "embargo"),
)
def q217(spark, sf):
    """Purged/embargoed temporal split (the de Prado time-series CV
    guard): events before the cutoff train, events after cutoff+embargo
    test, the embargo window between them is PURGED (features computed
    over trailing windows — q96/q114's shape — would otherwise let train
    rows see test-period signal), and any user active on BOTH sides is
    excluded outright — the entity-level leakage q113 guards for
    near-dup groups, applied to the time axis. Emits the per-user
    verdict with its event counts so the split is auditable, not just
    applied.

    Exactness: pure integer conditional counts against two timestamp
    literals (NTZ comparisons — timezone-free in both engines, the q192
    lesson) and a CASE over those counts; nothing floating anywhere.

    Scale shape: ONE map-side-combinable groupBy over user_id — no
    joins, no windows; the downstream split application is a broadcast
    semi-join of the (bounded) excluded-user set against the fact
    table, same as q113's."""
    ev = _t(spark, sf, "events").select("user_id", "ts")
    t1, t2 = F.lit(_T1).cast("timestamp_ntz"), F.lit(_T2).cast("timestamp_ntz")
    g = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < t1, 1).otherwise(0)).alias("n_train_events"),
        F.sum(
            F.when((F.col("ts") >= t1) & (F.col("ts") < t2), 1).otherwise(0)
        ).alias("n_embargo_events"),
        F.sum(F.when(F.col("ts") >= t2, 1).otherwise(0)).alias("n_test_events"),
    )
    return g.select(
        "user_id",
        F.col("n_train_events").cast("long").alias("n_train_events"),
        F.col("n_embargo_events").cast("long").alias("n_embargo_events"),
        F.col("n_test_events").cast("long").alias("n_test_events"),
        F.when(
            (F.col("n_train_events") > 0) & (F.col("n_test_events") > 0),
            F.lit("excluded_leaky"),
        )
        .when(F.col("n_train_events") > 0, F.lit("train"))
        .when(F.col("n_test_events") > 0, F.lit("test"))
        .otherwise(F.lit("embargo_only"))
        .alias("assignment"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# q218: split-conformal prediction sets over the probe scores
# --------------------------------------------------------------------------

_CONF_ALPHA_NUM = 9  # coverage 1 - alpha = 9/10, kept rational so the
_CONF_ALPHA_DEN = 10  # quantile index is exact integer arithmetic


@query(
    "q218_conformal_probe_sets",
    f"""WITH sc AS ({_probe_oracle()}),
    si AS (SELECT vec_id, label_true,
                  CAST(round(score * 1000000) AS BIGINT) AS s6, score
           FROM sc),
    cal AS (SELECT vec_id,
                   CASE WHEN label_true = 1 THEN 1000000 - s6 ELSE s6 END AS a6
            FROM si WHERE vec_id % 5 = 0),
    r AS (SELECT a6, row_number() OVER (ORDER BY a6, vec_id) AS rn FROM cal),
    nc AS (SELECT count(*) AS n FROM cal),
    qh AS (SELECT a6 AS qhat6 FROM r, nc
           WHERE rn = ((n + 1) * {_CONF_ALPHA_NUM} + {_CONF_ALPHA_DEN} - 1)
                      // {_CONF_ALPHA_DEN})
    SELECT vec_id, score, qhat6,
           CAST(CASE WHEN 1000000 - s6 <= qhat6 THEN 1 ELSE 0 END AS INTEGER)
               AS pos_in_set,
           CAST(CASE WHEN s6 <= qhat6 THEN 1 ELSE 0 END AS INTEGER)
               AS neg_in_set,
           CAST((CASE WHEN 1000000 - s6 <= qhat6 THEN 1 ELSE 0 END)
                + (CASE WHEN s6 <= qhat6 THEN 1 ELSE 0 END) AS INTEGER)
               AS set_size
    FROM si CROSS JOIN qh
    WHERE vec_id % 5 <> 0
    ORDER BY vec_id""",
    tags=("evaluation", "conformal", "classifier", "uncertainty", "fit-replay"),
)
def q218(spark, sf):
    """Split-conformal prediction sets (Vovk; Angelopoulos & Bates 2021)
    over the q145 probe: a deterministic 20% calibration slice
    (vec_id % 5 = 0) supplies nonconformity scores a = 1−ŝ_y; the
    conformal quantile is the ⌈(n+1)(1−α)⌉-th smallest (α = 0.1), and
    every held-out row gets the label SET {y : 1−ŝ_y ≤ q̂} — the
    finite-sample-coverage uncertainty wrapper a curation pipeline puts
    around its quality classifier before auto-dropping documents
    (set_size 2 = "don't trust this score", route to review instead of
    the bin).

    Exactness: round-6 scores become exact micro-unit ints, so
    nonconformity, the order statistic and both set-membership
    comparisons are pure integer arithmetic; the quantile index
    ⌈(n+1)·9/10⌉ is exact ceil-division on integers. Nothing floating
    but the pass-through score column.

    Scale shape: the order statistic uses
    ``functions/rank.distributed_row_number`` bucketed by the bounded
    score domain (a6 ≫ 10-bit coarsening — never a single-partition
    window over the calibration slice); the 1-row q̂ scalar broadcasts
    (whitelisted BNLJ); set assignment is map-only."""
    sc = q145(spark, sf).select("vec_id", "label_true", "score")
    si = sc.select(
        "vec_id",
        "label_true",
        "score",
        F.round(F.col("score") * 1000000).cast("long").alias("s6"),
    )
    cal = si.where(F.col("vec_id") % 5 == 0).select(
        "vec_id",
        F.when(F.col("label_true") == 1, F.lit(1000000) - F.col("s6"))
        .otherwise(F.col("s6"))
        .alias("a6"),
    )
    ranked = distributed_row_number(
        cal, [F.col("a6"), F.col("vec_id")], bucket=F.floor(F.col("a6") / 1024), out="rn"
    )
    n = cal.agg(F.count(F.lit(1)).alias("n"))
    k = F.floor(
        ((F.col("n") + 1) * _CONF_ALPHA_NUM + _CONF_ALPHA_DEN - 1) / _CONF_ALPHA_DEN
    )
    qh = (
        ranked.crossJoin(F.broadcast(n))
        .where(F.col("rn") == k)
        .select(F.col("a6").alias("qhat6"))
    )
    pos = (F.lit(1000000) - F.col("s6")) <= F.col("qhat6")
    neg = F.col("s6") <= F.col("qhat6")
    return (
        si.where(F.col("vec_id") % 5 != 0)
        .crossJoin(F.broadcast(qh))
        .select(
            "vec_id",
            "score",
            "qhat6",
            pos.cast("int").alias("pos_in_set"),
            neg.cast("int").alias("neg_in_set"),
            (pos.cast("int") + neg.cast("int")).alias("set_size"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# q219: per-source population stability index (PSI) drift
# --------------------------------------------------------------------------

@query(
    "q219_source_psi",
    r"""WITH bounds AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi
                   FROM documents),
    binned AS (
      SELECT source,
             least(CAST(floor((n_chars - lo) * 10.0 / (hi - lo + 1)) AS BIGINT),
                   9) AS bin
      FROM documents, bounds),
    spine AS (SELECT DISTINCT d.source, t.b AS bin
              FROM documents d, range(0, 10) t(b)),
    sb AS (SELECT s.source, s.bin,
                  count(b.bin) AS c
           FROM spine s LEFT JOIN binned b
             ON b.source = s.source AND b.bin = s.bin
           GROUP BY s.source, s.bin),
    tot AS (SELECT source, sum(c) AS ns FROM sb GROUP BY source),
    pooled AS (SELECT bin, sum(c) AS cb FROM sb GROUP BY bin),
    gt AS (SELECT sum(c) AS nn FROM sb),
    terms AS (
      SELECT sb.source,
             CAST(floor(((CAST(sb.c + 1 AS DOUBLE) / (tot.ns + 10))
                         - (CAST(pooled.cb + 1 AS DOUBLE) / (gt.nn + 10)))
                        * ln((CAST(sb.c + 1 AS DOUBLE) / (tot.ns + 10))
                             / (CAST(pooled.cb + 1 AS DOUBLE) / (gt.nn + 10)))
                        * 1000000000) AS BIGINT) AS t9
      FROM sb JOIN tot USING (source) JOIN pooled USING (bin) CROSS JOIN gt)
    SELECT source,
           round(CAST(sum(t9) AS DOUBLE) / 1000000000.0, 6) AS psi
    FROM terms GROUP BY source ORDER BY source""",
    tags=("drift", "psi", "statistics", "profiling"),
)
def q219(spark, sf):
    """Population stability index of each source's document-length
    distribution against the pooled corpus — the standard production
    drift gate (PSI < 0.1 stable / 0.1-0.25 watch / > 0.25 shifted)
    that complements q119's token-share drift and q122's windowed value
    drift with a proper distribution-shape statistic:
    PSI = Σ_bins (p_b − q_b)·ln(p_b/q_b) over ten equal-width length
    bins, add-one smoothed so empty bins stay finite.

    Exactness: bin ids are one identical floor-divide both engines;
    counts ride a LEFT JOIN against the full source × bin spine so the
    +1 smoothing applies to EMPTY bins too (dropping them would
    understate drift); p and q are double divisions of exact ints, each
    PSI term is floor-quantized to nano-units before the 10-term sum
    (the q138 ln discipline), and the result is one divide + round.

    Scale shape: one groupBy over (source, bin) — map-side combinable —
    a bounded spine LEFT JOIN (sources × 10 rows), two tiny rollups,
    and 1-row global scalars broadcast (whitelisted BNLJ). The corpus
    is read once and never joined against itself."""
    d = _t(spark, sf, "documents").select("source", "n_chars")
    bounds = d.agg(F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi"))
    binned = d.crossJoin(F.broadcast(bounds)).select(
        "source",
        F.least(
            F.floor(
                (F.col("n_chars") - F.col("lo"))
                * F.lit(10.0)
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("long"),
            F.lit(9).cast("long"),
        ).alias("bin"),
    )
    spine = (
        d.select("source")
        .distinct()
        .crossJoin(F.broadcast(spark.range(0, 10).select(F.col("id").alias("bin"))))
    )
    sb = (
        spine.join(binned.withColumn("hit", F.lit(1)), ["source", "bin"], "left_outer")
        .groupBy("source", "bin")
        .agg(F.count("hit").alias("c"))
        # three consumers (tot/pooled/gt) would each re-execute the corpus
        # scan; the (source x bin) relation is bounded, so pin it once
        .localCheckpoint()
    )
    tot = sb.groupBy("source").agg(F.sum("c").alias("ns"))
    pooled = sb.groupBy("bin").agg(F.sum("c").alias("cb"))
    gt = sb.agg(F.sum("c").alias("nn"))
    p = (F.col("c") + 1).cast("double") / (F.col("ns") + 10)
    q = (F.col("cb") + 1).cast("double") / (F.col("nn") + 10)
    terms = (
        sb.join(F.broadcast(tot), "source")
        .join(F.broadcast(pooled), "bin")
        .crossJoin(F.broadcast(gt))
        .select(
            "source",
            F.floor((p - q) * F.log(p / q) * F.lit(1000000000))
            .cast("long")
            .alias("t9"),
        )
    )
    return (
        terms.groupBy("source")
        .agg(
            F.round(F.sum("t9").cast("double") / F.lit(1000000000.0), 6).alias("psi")
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q220: MMR diversified re-ranking (oracle-replayed greedy)
# --------------------------------------------------------------------------

_MMR_POOL = 30  # candidate pool size (top-N by relevance)
_MMR_K = 10  # picks
# lambda = 0.7 kept rational: mmr score = 7*rel4 - 3*maxsim4 in exact
# 1e-5-unit ints, so the greedy argmax can never flake on float ties
_MMR_LNUM, _MMR_LDEN = 7, 3

_MMR_COS = (
    "round(list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(range(1, len({b}) + 1),"
    " i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))), 4)"
)


def _mmr_oracle() -> str:
    """DuckDB oracle for q220: the ENTIRE greedy unrolled — pool CTE,
    pairwise round-4 sims, then _MMR_K argmax steps each conditioned on the
    running selected set (the _probe_oracle replay-the-fit pattern
    applied to an iterative selection instead of a gradient)."""
    qcos = _MMR_COS.format(a="q.qe", b="e.embedding")
    pcos = _MMR_COS.format(a="a.embedding", b="b.embedding")
    blocks = [
        f"""q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    relq AS (SELECT e.vec_id, e.embedding, {qcos} AS rel
             FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
    pool AS MATERIALIZED (
      SELECT vec_id, embedding, rel,
             CAST(round(rel * 10000) AS BIGINT) AS rel4
      FROM (SELECT *, row_number() OVER (ORDER BY rel DESC, vec_id) AS rn
            FROM relq)
      WHERE rn <= {_MMR_POOL}),
    sims AS MATERIALIZED (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(round({pcos} * 10000) AS BIGINT) AS s4
      FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
    sel1 AS MATERIALIZED (
      SELECT vec_id, rel, CAST(1 AS INTEGER) AS pick,
             {_MMR_LNUM} * rel4 AS s
      FROM pool ORDER BY rel4 DESC, vec_id LIMIT 1),
    all1 AS MATERIALIZED (SELECT * FROM sel1)"""
    ]
    for i in range(2, _MMR_K + 1):
        blocks.append(
            f"""sel{i} AS MATERIALIZED (
      SELECT vec_id, rel, CAST({i} AS INTEGER) AS pick, s FROM (
        SELECT p.vec_id, p.rel,
               {_MMR_LNUM} * p.rel4 - {_MMR_LDEN} * max(sm.s4) AS s
        FROM pool p
        JOIN sims sm ON sm.va = p.vec_id
                    AND sm.vb IN (SELECT vec_id FROM all{i - 1})
        WHERE p.vec_id NOT IN (SELECT vec_id FROM all{i - 1})
        GROUP BY p.vec_id, p.rel, p.rel4)
      ORDER BY s DESC, vec_id LIMIT 1),
    all{i} AS MATERIALIZED (
      SELECT * FROM all{i - 1} UNION ALL SELECT * FROM sel{i})"""
        )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"""
    SELECT pick, vec_id, rel,
           round(CAST(s AS DOUBLE) / 100000.0, 5) AS mmr_score
    FROM all{_MMR_K} ORDER BY pick"""
    )


@query(
    "q220_mmr_rerank",
    _mmr_oracle(),
    tags=("similarity", "mmr", "diversity", "rerank", "fit-replay"),
)
def q220(spark, sf):
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from the top-30 relevance pool for a probe query (vec_id 0),
    greedily pick 10 results maximizing λ·rel(d) − (1−λ)·max_{s∈S}
    sim(d,s), λ = 0.7 — the diversity-aware re-rank a retrieval layer
    (and a diverse-sampling curation stage) runs on ANN candidates so
    ten near-duplicates of the best hit don't fill the result page.
    The ENTIRE greedy is replayed by the oracle, pick by pick.

    Exactness: relevances and pairwise sims are house round-4 cosines
    scaled to exact 1e-4-unit ints; with λ rational the MMR objective is
    7·rel4 − 3·maxsim4 — pure integer arithmetic, so every argmax (id
    tie-break) is exact in both engines and the only float op is the
    final display divide.

    Scale shape: candidate generation is the distributed part (exact
    top-30 here — TakeOrderedAndProject over the broadcast-query scored
    corpus; the 100 TB path swaps in q40/q130 ANN candidates, the MMR
    stage is unchanged); the greedy itself is inherently sequential and
    runs driver-side over the BOUNDED pool (30 vectors, 870 sims — the
    q131 BPE bounded-collect posture), then returns as a small local
    relation. Pool size, not corpus size, is the only driver term."""
    import math

    # _ts (r12): the cosine folds below are per-row heavy — fan out
    emb = _ts(spark, sf, "embeddings", "vec_id", "embedding")
    qrow = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    rel = F.round(
        dot(F.col("qe"), F.col("embedding"))
        / (norm(F.col("qe")) * norm(F.col("embedding"))),
        4,
    )
    pool_rows = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qrow))
        .select("vec_id", "embedding", rel.alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_POOL)
        .collect()
    )

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    def r4(v: float) -> int:
        # half-away round to 1e-4 ints, the engines' round() on doubles
        from decimal import ROUND_HALF_UP, Decimal

        return int(Decimal(repr(v * 10000)).quantize(Decimal("1"), ROUND_HALF_UP))

    ids = [r["vec_id"] for r in pool_rows]
    rels = {r["vec_id"]: r["rel"] for r in pool_rows}
    rel4 = {r["vec_id"]: r4(r["rel"]) for r in pool_rows}
    vecs = {r["vec_id"]: r["embedding"] for r in pool_rows}
    nrm = {i: math.sqrt(fold_dot(vecs[i], vecs[i])) for i in ids}
    s4 = {
        (a, b): r4(fold_dot(vecs[a], vecs[b]) / (nrm[a] * nrm[b]))
        for a in ids
        for b in ids
        if a != b
    }
    picks: list[tuple[int, int, float, int]] = []
    chosen: list[int] = []
    for step in range(1, _MMR_K + 1):
        best = None
        for c in ids:
            if c in chosen:
                continue
            pen = max(s4[(c, s)] for s in chosen) if chosen else 0
            score = _MMR_LNUM * rel4[c] - (_MMR_LDEN * pen if chosen else 0)
            if best is None or (-score, c) < (-best[1], best[0]):
                best = (c, score)
        picks.append((step, best[0], rels[best[0]], best[1]))
        chosen.append(best[0])
    out = spark.createDataFrame(
        picks, schema="pick int, vec_id long, rel double, s long"
    )
    return out.select(
        "pick",
        "vec_id",
        "rel",
        F.round(F.col("s").cast("double") / F.lit(100000.0), 5).alias("mmr_score"),
    ).orderBy("pick")


# --------------------------------------------------------------------------
# q221: excess-loss domain reweighting (DoReMi-flavored mixture update)
# --------------------------------------------------------------------------

_DOREMI_ETA = 5  # multiplicative-weights step on the 1e-6 excess grid


def _doremi_oracle() -> str:
    from .base import REGISTRY as _R  # registered oracles

    lm_sql = _R["q138_doc_lm_score"].oracle
    return f"""WITH lm AS ({lm_sql}),
    d AS (SELECT doc_id, source FROM documents),
    ds AS (SELECT d.source,
                  CAST(round(lm.avg_logp * 1000000) AS BIGINT) AS s6
           FROM lm JOIN d USING (doc_id)),
    per AS (SELECT source, count(*) AS n,
                   sum(CAST(s6 AS HUGEINT)) AS ssum
            FROM ds GROUP BY source),
    g AS (SELECT sum(ssum) AS gs, sum(n) AS gn FROM per),
    x AS (SELECT source, n,
                 round(-(CAST(ssum AS DOUBLE) / n) / 1000000.0, 6) AS mean_nll,
                 round(-(CAST(gs AS DOUBLE) / gn) / 1000000.0, 6) AS g_nll
          FROM per CROSS JOIN g),
    w AS (SELECT source, n, mean_nll,
                 round(mean_nll - g_nll, 6) AS excess,
                 greatest(0, 1000000
                          + CAST(round((round(mean_nll - g_nll, 6)) * 1000000)
                                 AS BIGINT) * {_DOREMI_ETA}) AS w6
          FROM x),
    tot AS (SELECT sum(w6) AS tw FROM w)
    SELECT source, CAST(n AS BIGINT) AS n_docs, mean_nll, excess,
           round(CAST(w6 AS DOUBLE) / tw, 6) AS mix_weight
    FROM w CROSS JOIN tot ORDER BY source"""


@query(
    "q221_excess_loss_reweight",
    _doremi_oracle(),
    tags=("training", "mixture", "doremi", "lm", "fit-replay"),
)
def q221(spark, sf):
    """Excess-loss domain reweighting — the DoReMi signal (Xie et al.
    2023) in its static one-step form: per-source mean NLL under the
    q138 bigram LM, excess over the corpus-wide mean, and a clipped
    multiplicative-weights update w_s ∝ max(0, 1 + η·excess_s)
    normalized into a training mixture — domains the LM finds hard get
    upweighted, exactly the signal DoReMi's proxy-model loop feeds back
    per step. Composes with q201 (temperature mix) and q110 (token
    budget) as the third mixture-design head.

    Exactness: q138's round-6 per-doc scores become exact micro-unit
    ints; per-source and global sums are exact HUGEINT/DECIMAL(38,0)
    (the GLOBAL mean comes from the 20-row per-source relation — one
    corpus scan, not two); mean/excess are the identical double ops
    rounded at 6 dp, the clipped weight is exact integer arithmetic on
    the 1e-6 excess grid, and the normalizer is an exact integer sum —
    no float accumulation over sources in either engine.

    Scale shape: the doc-score relation aggregates per source
    (map-side combinable) and everything after runs on the
    |sources|-row relation; the two 1-row scalars broadcast
    (whitelisted BNLJ). The LM scoring itself is q138's shape."""
    from .extensions import q138

    lm = q138(spark, sf).select("doc_id", "avg_logp")
    d = _t(spark, sf, "documents").select("doc_id", "source")
    ds = lm.join(d, "doc_id").select(
        "source", F.round(F.col("avg_logp") * 1000000).cast("long").alias("s6")
    )
    per = ds.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.sum(_dec(F.col("s6"))).alias("ssum")
    )
    g = per.agg(F.sum("ssum").alias("gs"), F.sum("n").alias("gn"))
    x = per.crossJoin(F.broadcast(g)).select(
        "source",
        "n",
        F.round(-(F.col("ssum").cast("double") / F.col("n")) / F.lit(1000000.0), 6)
        .alias("mean_nll"),
        F.round(-(F.col("gs").cast("double") / F.col("gn")) / F.lit(1000000.0), 6)
        .alias("g_nll"),
    )
    excess = F.round(F.col("mean_nll") - F.col("g_nll"), 6)
    w = x.select(
        "source",
        "n",
        "mean_nll",
        excess.alias("excess"),
        F.greatest(
            F.lit(0).cast("long"),
            F.lit(1000000)
            + F.round(excess * 1000000).cast("long") * F.lit(_DOREMI_ETA),
        ).alias("w6"),
    )
    tot = w.agg(F.sum("w6").alias("tw"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n").cast("long").alias("n_docs"),
            "mean_nll",
            "excess",
            F.round(F.col("w6").cast("double") / F.col("tw"), 6).alias("mix_weight"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q222: two-pass exact heavy hitters (Misra-Gries prune + exact verify)
# --------------------------------------------------------------------------

_MG_K = 32  # counters per partition; threshold freq > n/k


@query(
    "q222_heavy_hitters_exact",
    rf"""WITH t AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
               FROM documents),
    n AS (SELECT count(*) AS total FROM t),
    c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok)
    SELECT tok, CAST(cnt AS BIGINT) AS cnt
    FROM c CROSS JOIN n
    WHERE cnt * {_MG_K} > total
    ORDER BY cnt DESC, tok""",
    tags=("text", "heavy-hitters", "misra-gries", "sketch", "two-pass"),
)
def q222(spark, sf):
    """Exact heavy hitters by the production two-pass pattern: a
    per-partition Misra-Gries sketch (k = 32 counters, bounded state —
    the mergeable-summaries guarantee means any token with global
    frequency > n/k must survive in at least one partition's sketch, by
    pigeonhole over the per-partition bounds) prunes the vocabulary to
    a tiny candidate set; an exact second pass counts ONLY candidates
    and applies the threshold. Output is therefore EXACT — the sketch
    can only over-admit, never lose a qualifying token — unlike q107's
    CMS estimates; this is the shape that finds hot tokens when the
    vocabulary itself cannot fit anywhere.

    Determinism: the MG sketch's content depends on partitioning, but
    the OUTPUT does not — candidates are a superset of the answer under
    any split, and the emitted counts come from the exact pass. That is
    the whole design: sketch for pruning, exact arithmetic for answers.

    Scale shape: pass 1 is mapInPandas with O(k + batch-vocab) state
    per worker and ≤ k rows emitted per partition; the candidate set
    broadcasts into a map-side hash-join filter, so pass 2's groupBy
    aggregates only candidate tokens; the 1-row total broadcasts
    (whitelisted BNLJ)."""
    import pandas as pd  # noqa: F401

    toks = _t(spark, sf, "documents").select(F.explode(tokens("text")).alias("tok"))

    k = _MG_K

    def mg(it):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in it:
            for tok_v, cnt_v in pdf["tok"].value_counts().items():
                counters[tok_v] = counters.get(tok_v, 0) + int(cnt_v)
            if len(counters) > k - 1:
                # mergeable MG reduction: subtract the k-th largest count
                # from everyone, drop the non-positive
                cut = sorted(counters.values(), reverse=True)[k - 1]
                counters = {
                    t2: c2 - cut for t2, c2 in counters.items() if c2 - cut > 0
                }
        yield pd.DataFrame({"tok": list(counters)})

    cands = toks.mapInPandas(mg, "tok string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    exact = (
        toks.join(F.broadcast(cands), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .where(F.col("cnt") * k > F.col("total"))
        .select("tok", F.col("cnt").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
    )


# --------------------------------------------------------------------------
# q223: cross-source quantile normalization of a quality score
# --------------------------------------------------------------------------

@query(
    "q223_quantile_normalize",
    r"""WITH s AS (
      SELECT doc_id, source,
             round(len(list_filter(ts, t -> t IN ('the', 'a', 'of', 'and')))
                   / len(ts), 4) AS x
      FROM (SELECT doc_id, source,
                   string_split_regex(trim(text), '\s+') AS ts
            FROM documents)),
    n AS (SELECT count(*) AS nn FROM s),
    rg AS (SELECT x AS px, row_number() OVER (ORDER BY x, doc_id) AS rn
           FROM s),
    rs AS (SELECT doc_id, source, x,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY x, doc_id) AS r,
                  count(*) OVER (PARTITION BY source) AS ns
           FROM s),
    tgt AS (SELECT doc_id, source, x,
                   CAST(floor((r - 1) * CAST(nn - 1 AS DOUBLE) / (ns - 1))
                        AS BIGINT) + 1 AS tr
            FROM rs CROSS JOIN n)
    SELECT t.doc_id, t.source, t.x AS score, g.px AS norm_score
    FROM tgt t JOIN rg g ON t.tr = g.rn
    ORDER BY t.doc_id""",
    tags=("curation", "normalization", "quantile", "rank"),
)
def q223(spark, sf):
    """Cross-source quantile normalization of the q32 stopword-ratio
    quality score: each document's score is replaced by the POOLED
    distribution's order statistic at the document's within-source
    quantile — after which every source has (as near as the grid
    allows) the same score distribution. This is the harmonization step
    a curation pipeline runs before applying ONE global threshold to
    scores produced over heterogeneous sources (a 0.3 from a forum
    shard and a 0.3 from a books shard do not mean the same thing —
    microarray-style quantile normalization transplanted to corpus
    curation).

    Exactness: within-source ranks and the pooled ranking are exact
    integers with (score, doc_id) total order; the target rank
    ⌊(r−1)(N−1)/(n_s−1)⌋+1 is one identical floor-divide (exact while
    r·N < 2⁵³ — and engine-consistent regardless); the normalized score
    is a VALUE from the pooled relation, no interpolation arithmetic.

    Scale shape: per-source ranks are ordinary windows partitioned by
    source (parallel across sources); the pooled rank uses
    ``functions/rank.distributed_row_number`` bucketed by the bounded
    round-4 score domain — no single-partition pass; the final lookup
    is an equi-join on the integer rank. The 1-row N scalar broadcasts
    (whitelisted BNLJ)."""
    from ..functions.text import STOPWORDS, marker_count

    # _ts (r12): fan the scan out below the tokenize
    d = _ts(spark, sf, "documents", "doc_id", "source", "text").select(
        "doc_id", "source", tokens("text").alias("ts")
    )
    s = d.select(
        "doc_id",
        "source",
        F.round(marker_count(F.col("ts"), STOPWORDS) / F.size("ts"), 4).alias("x"),
    )
    n = s.agg(F.count(F.lit(1)).alias("nn"))
    rg = distributed_row_number(
        s.select(F.col("x").alias("px"), F.col("doc_id").alias("pid")),
        [F.col("px"), F.col("pid")],
        bucket=F.floor(F.col("px") * 100),
        out="rn",
    ).select("px", "rn")
    ws = Window.partitionBy("source").orderBy("x", "doc_id")
    wc = Window.partitionBy("source")
    rs = s.withColumn("r", F.row_number().over(ws)).withColumn(
        "ns", F.count(F.lit(1)).over(wc)
    )
    tgt = rs.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "source",
        "x",
        (
            F.floor(
                (F.col("r") - 1)
                * (F.col("nn") - 1).cast("double")
                / (F.col("ns") - 1)
            ).cast("long")
            + 1
        ).alias("tr"),
    )
    return (
        tgt.join(rg, tgt["tr"] == rg["rn"])
        .select(
            "doc_id",
            "source",
            F.col("x").alias("score"),
            F.col("px").alias("norm_score"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q224: distinct-n generation-diversity profile per source
# --------------------------------------------------------------------------

def _distinct_n_branch_sql(n: int) -> str:
    if n == 1:
        gram = "ts[i]"
    else:
        gram = f"array_to_string(list_slice(ts, i, i + {n - 1}), ' ')"
    return f"""SELECT source, {n} AS n, {gram} AS g
       FROM (SELECT source, ts, unnest(range(1, len(ts) - {n - 1} + 1)) AS i
             FROM tok WHERE len(ts) >= {n})"""


@query(
    "q224_distinct_ngrams",
    rf"""WITH tok AS (SELECT source, string_split_regex(trim(text), '\s+') AS ts
               FROM documents),
    grams AS ({_distinct_n_branch_sql(1)}
       UNION ALL {_distinct_n_branch_sql(2)}
       UNION ALL {_distinct_n_branch_sql(3)}),
    agg AS (SELECT source, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3)
    SELECT source, CAST(n AS INTEGER) AS n,
           CAST(sum(c) AS BIGINT) AS total_ngrams,
           CAST(count(*) AS BIGINT) AS distinct_ngrams,
           round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS distinct_ratio
    FROM agg GROUP BY source, n
    ORDER BY source, n""",
    tags=("text", "diversity", "ngram", "profiling"),
)
def q224(spark, sf):
    """Distinct-n diversity profile (Li et al. 2016's distinct-1/2/3,
    the standard degeneration metric for generated corpora): per source,
    the ratio of DISTINCT uni/bi/trigrams to total n-grams. A
    mode-collapsed or template-heavy source shows up as a low
    distinct-2/3 long before eyeballing does — the corpus-health
    counterpart to q88's within-doc repetition ratio and q215's
    vocabulary-shape audit.

    Exactness: pure integer counting (two-level exact distinct — no
    sketch), one double division rounded at 6 dp.

    Scale shape: each n-gram relation flows into a map-side-combinable
    (source, n, gram) hash-agg and then a |sources|x3-row rollup; no
    joins, no windows. The n-gram explode is the same shingle shape the
    dedup family scans (q37/q163); hot grams skew only the intermediate
    agg, which partial aggregation absorbs (the q97 salting lever
    applies if a gram dominates a source)."""
    d = _t(spark, sf, "documents").select("source", tokens("text").alias("ts"))
    branches = []
    for n in (1, 2, 3):
        if n == 1:
            gram = F.col("ts")[F.col("i") - 1]
        else:
            gram = F.concat_ws(" ", F.slice(F.col("ts"), F.col("i"), n))
        branches.append(
            d.where(F.size("ts") >= n)
            .select(
                "source",
                F.lit(n).alias("n"),
                F.explode(
                    F.sequence(F.lit(1), F.size("ts") - F.lit(n - 1))
                ).alias("i"),
                "ts",
            )
            .select("source", "n", gram.alias("g"))
        )
    grams = branches[0].unionByName(branches[1]).unionByName(branches[2])
    agg = grams.groupBy("source", "n", "g").agg(F.count(F.lit(1)).alias("c"))
    return (
        agg.groupBy("source", "n")
        .agg(
            F.sum("c").cast("long").alias("total_ngrams"),
            F.count(F.lit(1)).cast("long").alias("distinct_ngrams"),
            F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), 6).alias(
                "distinct_ratio"
            ),
        )
        .select(
            "source", F.col("n").cast("int").alias("n"),
            "total_ngrams", "distinct_ngrams", "distinct_ratio",
        )
        .orderBy("source", "n")
    )


# --------------------------------------------------------------------------
# q225: EXACT two-sample KS separation of the probe scores
# --------------------------------------------------------------------------

@query(
    "q225_probe_ks_separation",
    f"""WITH sc AS ({_probe_oracle()}),
    c AS (SELECT score,
                 sum(label_true) AS c1,
                 sum(1 - label_true) AS c0
          FROM sc GROUP BY score),
    n AS (SELECT sum(c1) AS n1, sum(c0) AS n0 FROM c),
    cum AS (SELECT score,
                   sum(c1) OVER (ORDER BY score) AS cum1,
                   sum(c0) OVER (ORDER BY score) AS cum0
            FROM c),
    d AS (SELECT score,
                 abs(CAST(cum1 AS HUGEINT) * n0
                     - CAST(cum0 AS HUGEINT) * n1) AS dnum
          FROM cum CROSS JOIN n)
    SELECT CAST(n.n1 AS BIGINT) AS n_pos,
           CAST(n.n0 AS BIGINT) AS n_neg,
           round(CAST(m.dnum AS DOUBLE) / (CAST(n.n1 AS DOUBLE) * n.n0), 6)
               AS ks_d,
           m.score AS ks_threshold
    FROM (SELECT score, dnum,
                 row_number() OVER (ORDER BY dnum DESC, score) AS rn
          FROM d) m CROSS JOIN n
    WHERE m.rn = 1""",
    tags=("evaluation", "ks-test", "classifier", "statistics", "fit-replay"),
)
def q225(spark, sf):
    """EXACT two-sample Kolmogorov-Smirnov separation of the q145 probe
    scores: D = max over thresholds of |F⁺ − F⁻| plus the threshold
    attaining it — the distribution-level separation statistic
    completing the probe dashboard (q211 AUC = ranking quality, q212 =
    calibration, this = where to CUT). Unlike q187's 256-bucket gridded
    KS over continuous values, the score domain here is already
    discrete (round-6 sigmoids), so the supremum over ALL thresholds is
    computed exactly.

    Exactness: per-score class counts are exact ints; the supremum is
    taken over the cross-multiplied integer form |cum⁺·n⁻ − cum⁻·n⁺|
    (a DECIMAL(38,0)/HUGEINT max — no float enters until the single
    final division), with the smallest attaining score as tie-break, so
    the argmax is exact too.

    Scale shape: one map-side-combinable groupBy(score), then
    ``distributed_cumsum`` over the DISTINCT-score relation only
    (bounded by the 10⁶+1-value sigmoid grid — never a row-scale
    ordered pass), a 1-row class-totals broadcast (whitelisted BNLJ),
    and a 1-row TakeOrdered head."""
    from ..functions.rank import distributed_cumsum

    sc = q145(spark, sf).select("label_true", "score")
    c = sc.groupBy("score").agg(
        F.sum("label_true").alias("c1"),
        F.sum(F.lit(1) - F.col("label_true")).alias("c0"),
    )
    n = c.agg(F.sum("c1").alias("n1"), F.sum("c0").alias("n0"))
    cum = distributed_cumsum(
        c, [F.col("score").asc()], F.floor(F.col("score") * 100), "c1", out="cum1"
    )
    cum = distributed_cumsum(
        cum, [F.col("score").asc()], F.floor(F.col("score") * 100), "c0", out="cum0"
    )
    d = cum.crossJoin(F.broadcast(n)).select(
        "score",
        "n1",
        "n0",
        F.abs(
            _dec(F.col("cum1")) * _dec(F.col("n0"))
            - _dec(F.col("cum0")) * _dec(F.col("n1"))
        ).alias("dnum"),
    )
    return (
        d.orderBy(F.desc("dnum"), F.asc("score"))
        .limit(1)
        .select(
            F.col("n1").cast("long").alias("n_pos"),
            F.col("n0").cast("long").alias("n_neg"),
            F.round(
                F.col("dnum").cast("double")
                / (F.col("n1").cast("double") * F.col("n0")),
                6,
            ).alias("ks_d"),
            F.col("score").alias("ks_threshold"),
        )
    )
