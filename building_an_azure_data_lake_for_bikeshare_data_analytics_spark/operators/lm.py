"""Bigram language-model operators: the corpus-trained perplexity quality
filter (CCNet/Gopher-style; no reference counterpart — SURVEY §2.6 lists no
text ops), used by the batch query (q138).

Determinism contract (the q119 discipline): every per-pair log-prob is one
ln() of an IEEE-identical ratio of exact int64 counts, quantized to
DECIMAL(18,12) so per-doc sums are exact integer arithmetic — order- and
partitioning-independent, replayable by the DuckDB oracle.

Scale shape: the "model" IS two vocab-bounded count tables (the standard
way n-gram filters train over petabyte corpora — one aggregation pass);
scoring joins them keyed on (w1, w2) / w1 with the vocab-size scalar
broadcast. In production the count tables persist once and every ingest
batch scores against them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from ..functions.text import tokens


def lm_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> one row per adjacent token pair (doc_id, w1, w2).
    Map-side: transform-over-indices with O(1) element_at, one generator."""
    d = docs.select("doc_id", tokens("text").alias("ts"))
    return (
        d.where(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1), "
                    "i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )


def lm_fit(
    docs: DataFrame, pairs: DataFrame | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the add-one-smoothed bigram LM: returns (bigram counts
    (w1, w2, c12), unigram counts (w1, c1), vocab-size scalar (vsz)) —
    three vocab-bounded relations; persisting them IS persisting the model.
    Pass a precomputed (possibly checkpointed) ``pairs`` relation to share
    it with downstream scoring (q138 does) — the counts are the ONE
    definition of the model either way."""
    d = docs.select(tokens("text").alias("ts"))
    toks = d.select(F.explode("ts").alias("t"))
    if pairs is None:
        pairs = lm_pairs(docs)
    bg = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ug = toks.groupBy(F.col("t").alias("w1")).agg(F.count(F.lit(1)).alias("c1"))
    v = toks.agg(F.countDistinct("t").alias("vsz"))
    return bg, ug, v


def lm_score_pairs(pairs: DataFrame, bg: DataFrame, ug: DataFrame, v: DataFrame) -> DataFrame:
    """Score a (doc_id, w1, w2) pair relation against trained counts:
    per-doc (doc_id, n_pairs, avg_logp). Pairs whose bigram/unigram is
    absent from the model are dropped by the inner joins — for
    train-on-self scoring (q138) every pair is present; a production
    unseen-pair policy would left-join with a c12=0 default."""
    lp = F.log(
        (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("vsz"))
    ).cast(DecimalType(18, 12))
    term = (
        pairs.join(bg, ["w1", "w2"])
        .join(ug, "w1")
        .crossJoin(F.broadcast(v))
        .select("doc_id", lp.alias("lp"))
    )
    return term.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_pairs"),
        F.round(F.sum("lp").cast("double") / F.count(F.lit(1)), 6).alias("avg_logp"),
    )


def lm_dsir_score_pairs(
    pairs: DataFrame,
    target_model: tuple[DataFrame, DataFrame, DataFrame],
    raw_model: tuple[DataFrame, DataFrame, DataFrame],
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document's
    pair relation under TWO add-one-smoothed bigram LMs — one trained on a
    high-quality *target* slice, one on the *raw* corpus — and emit the
    per-pair mean log importance weight

        dsir_logw = (sum log p_target(pair) - sum log p_raw(pair)) / n_pairs.

    Positive = the target LM finds the doc more probable than the raw LM
    does = target-like; curation pipelines resample with probability
    proportional to exp(logw) (q108's weighted-sample machinery is the
    resampling half).

    Determinism: each per-pair log-prob is one ln() of an IEEE-identical
    ratio of exact int64 counts quantized to DECIMAL(18,12) (the q138
    discipline), so both per-doc sums AND their difference are exact
    integer arithmetic — order- and partitioning-independent — before the
    single double division + round-6.

    Scale shape: ONE pass over the pair relation; all four count tables
    are vocab-bounded equi-join sides and the two vocab scalars broadcast.
    In production both models persist once (the target model is tiny) and
    every ingest batch scores against them."""
    bg_t, ug_t, v_t = target_model
    bg_r, ug_r, v_r = raw_model

    def lp(c12: str, c1: str, vsz: str):
        return F.log(
            (F.coalesce(F.col(c12), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col(c1), F.lit(0)) + F.col(vsz))
        ).cast(DecimalType(18, 12))

    term = (
        pairs.join(bg_t.withColumnRenamed("c12", "c12_t"), ["w1", "w2"], "left")
        .join(ug_t.withColumnRenamed("c1", "c1_t"), "w1", "left")
        .join(bg_r.withColumnRenamed("c12", "c12_r"), ["w1", "w2"], "left")
        .join(ug_r.withColumnRenamed("c1", "c1_r"), "w1", "left")
        .crossJoin(F.broadcast(v_t.withColumnRenamed("vsz", "vsz_t")))
        .crossJoin(F.broadcast(v_r.withColumnRenamed("vsz", "vsz_r")))
        .select(
            "doc_id",
            lp("c12_t", "c1_t", "vsz_t").alias("lp_t"),
            lp("c12_r", "c1_r", "vsz_r").alias("lp_r"),
        )
    )
    n = F.count(F.lit(1))
    return term.groupBy("doc_id").agg(
        n.cast("int").alias("n_pairs"),
        F.round(F.sum("lp_t").cast("double") / n, 6).alias("avg_logp_target"),
        F.round(F.sum("lp_r").cast("double") / n, 6).alias("avg_logp_raw"),
        F.round((F.sum("lp_t") - F.sum("lp_r")).cast("double") / n, 6).alias("dsir_logw"),
    )


def lm_fit_kn(
    pairs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Train the interpolated Kneser-Ney bigram model (Kneser & Ney 1995;
    Chen & Goodman 1999 eq. 4.24, absolute discount D = 0.75): returns

    * ``bg`` (w1, w2, c12)   — the bigram count table every other model
      table derives from. bg has FOUR consumers (fw, bw, nb, the score
      join) but is deliberately NOT localCheckpointed: under AQE the
      four identical (w1, w2) shuffle stages are reused (materialized
      once in shuffle files, read four times), so a checkpoint is a
      redundant second materialization of the corpus's full bigram
      table. Measured at the 1M-doc soak: total shuffle is the SAME
      with and without the checkpoint (1,381 vs 1,389 MB — were bg
      really recomputed per consumer, the no-checkpoint run would
      carry ~3 extra copies of bg's shuffle write),
    * ``fw`` (w1, c1p, n1fw) — per-history pair total and distinct-follower
      count (the forward continuation fan-out),
    * ``bw`` (w2, n1bw)      — distinct-predecessor count (the backward
      continuation count that replaces the raw unigram),
    * ``nb`` (nbig)          — total distinct bigram types (1-row scalar).

    Everything derives from ONE aggregation of the pair relation; the
    model tables are vocab-bounded, so fitting costs a single corpus pass
    + metadata-scale reaggregation — the same shape that lets n-gram
    models train over petabyte corpora.
    """
    bg = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    fw = bg.groupBy("w1").agg(
        F.sum("c12").alias("c1p"), F.count(F.lit(1)).alias("n1fw")
    )
    bw = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("n1bw"))
    nb = bg.agg(F.count(F.lit(1)).alias("nbig"))
    return bg, fw, bw, nb


def lm_score_pairs_kn(
    pairs: DataFrame,
    bg: DataFrame,
    fw: DataFrame,
    bw: DataFrame,
    nb: DataFrame,
) -> DataFrame:
    """Score a (doc_id, w1, w2) pair relation under the fitted KN model:

        p(w2|w1) = (c(w1,w2) - D  +  D * n1+(w1,.) * pcont(w2)) / c(w1,.)
        pcont(w2) = n1+(.,w2) / n1+(..),  D = 0.75

    Determinism (the q138 discipline, with the decimal-literal trap
    handled): every int count is cast to double EXPLICITLY on both
    engines, D = 0.75 is dyadic-exact, and the numerator is evaluated in
    one fixed parenthesization — (c12 - 0.75) + (0.75 * n1fw) *
    (n1bw / nbig) — so both engines round identically at each IEEE step.
    The single ln() is quantized to DECIMAL(18,12) making per-doc sums
    exact integer arithmetic (order-independent), then one double
    division + round-6. Train-on-self scoring keeps the joins inner
    (every pair is in the model); c12 >= 1 means c12 - D >= 0.25 > 0, so
    the max(.,0) clamp of the general formula is a provable no-op here.

    Scale shape: joins keyed (w1, w2) / w1 / w2 against vocab-bounded
    model tables; ``nbig`` broadcast as the one whitelisted 1-row scalar.
    """
    num = (F.col("c12").cast("double") - F.lit(0.75)) + (
        F.lit(0.75) * F.col("n1fw").cast("double")
    ) * (F.col("n1bw").cast("double") / F.col("nbig").cast("double"))
    lp = F.log(num / F.col("c1p").cast("double")).cast(DecimalType(18, 12))
    term = (
        pairs.join(bg, ["w1", "w2"])
        .join(fw, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(nb))
        .select("doc_id", lp.alias("lp"))
    )
    return term.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_pairs"),
        F.round(F.sum("lp").cast("double") / F.count(F.lit(1)), 6).alias("avg_logp_kn"),
    )
