"""Distributed linear-probe classifier over embedding features — the
quality-classifier stage of LLM curation pipelines (the role fastText /
DSIR discriminators play: a cheap linear head scored over every document
or embedding, thresholded into the training mix). No reference
counterpart (SURVEY §2.6 — the reference has no ML ops); this is
north-star extension surface.

Logistic regression by full-batch gradient descent with an ALGEBRAIC
sigmoid ("fast sigmoid" sigma(z) = 0.5 + 0.5*z/(1+|z|)) so every step is
+,*,/,abs — no exp(), whose libm-vs-JVM 1-ulp drift would be the only
non-replayable arithmetic in the fit. The link is a standard logistic
substitute (same monotone S-shape, gradient (sigma - y) * x under the
matching loss), and it makes the ENTIRE fit bit-replayable by the DuckDB
oracle — the q141 replay-the-fit pattern applied to a trained classifier.

Determinism contract (the q140/q142 discipline):
- features are floor-quantized embedding values (exact int64 micro-units
  divided by 1e6 — one IEEE divide both engines);
- each row's per-weight gradient term is floor((sigma(z) - y) * f * 1e9)
  — an exact int64 — summed as DECIMAL(38,0): order- and
  partitioning-independent, so partial aggregation cannot flake it;
- the driver's weight update mirrors the oracle's round(x, 12)
  (half-away) on IEEE-identical doubles.

Scale posture: the model is dim+1 doubles on the driver (bounded state,
like kmeans_fit's centroids); each GD iteration is ONE map-side partial
aggregate over the corpus — the textbook distributed-GD layout (Spark's
own mllib does tree-aggregated gradients the same way). Scoring is
map-only against weight literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from .similarity import QUANT_SCALE

#: number of leading embedding dims used as features (bias term is extra)
PROBE_DIM = 8
#: fixed full-batch GD iteration count (replayed by the oracle)
PROBE_ITERS = 8
#: learning rate
PROBE_LR = 0.5
#: per-row gradient terms are floor-quantized to 1e-9 before the exact sum
GRAD_SCALE = 1_000_000_000


def _half_away(x: float, nd: int) -> float:
    """Round half-away-from-zero — both engines' round(); Python's
    builtin round() is half-even and would diverge at exact boundaries."""
    import math

    p = 10.0 ** nd
    return math.floor(abs(x) * p + 0.5) / p * (1.0 if x >= 0 else -1.0)


def probe_features(emb: DataFrame) -> DataFrame:
    """(vec_id, y, f1..f{PROBE_DIM}): y = 1.0 iff label < 5, features =
    floor-quantized leading embedding dims (exact micro-units / 1e6)."""
    y = F.when(F.col("label") < 5, F.lit(1.0)).otherwise(F.lit(0.0))
    feats = [
        (
            F.floor(F.col("embedding")[j].cast("double") * F.lit(float(QUANT_SCALE)))
            / F.lit(float(QUANT_SCALE))
        ).alias(f"f{j + 1}")
        for j in range(PROBE_DIM)
    ]
    return emb.select(F.col("vec_id"), y.alias("y"), *feats)


def _z(w: list[float]) -> Column:
    """The linear score w0 + w1*f1 + ... as a LEFT-ASSOCIATIVE chain —
    association order is part of the cross-engine contract."""
    z = F.lit(w[0])
    for j in range(1, PROBE_DIM + 1):
        z = z + F.lit(w[j]) * F.col(f"f{j}")
    return z


def _sigma(z: Column) -> Column:
    """Fast sigmoid 0.5 + (0.5*z)/(1+|z|) — pure arithmetic, no exp()."""
    return F.lit(0.5) + (F.lit(0.5) * z) / (F.lit(1.0) + F.abs(z))


def logreg_probe_fit(feats: DataFrame) -> list[float]:
    """Fit the probe by ``PROBE_ITERS`` full-batch GD steps over a
    probe_features relation; returns the PROBE_DIM+1 weights (bias first).

    Each iteration runs ONE distributed aggregate (dim+1 exact decimal
    sums of floor-quantized gradient terms) and collects a single row;
    the weight update runs on the driver in the oracle's arithmetic
    (round-12 half-away on IEEE-identical doubles)."""
    dim, lr = PROBE_DIM, PROBE_LR
    gs = float(GRAD_SCALE)
    n = feats.count()
    w = [0.0] * (dim + 1)
    for _ in range(PROBE_ITERS):
        r = _sigma(_z(w)) - F.col("y")
        aggs = [
            F.sum(F.floor(r * F.lit(gs)).cast(DecimalType(38, 0))).alias("g0")
        ] + [
            F.sum(
                F.floor((r * F.col(f"f{j}")) * F.lit(gs)).cast(DecimalType(38, 0))
            ).alias(f"g{j}")
            for j in range(1, dim + 1)
        ]
        row = feats.agg(*aggs).collect()[0]
        w = [
            _half_away(w[j] - (lr * (float(row[f"g{j}"]) / gs)) / n, 12)
            for j in range(dim + 1)
        ]
    return w


def logreg_probe_score(feats: DataFrame, w: list[float]) -> DataFrame:
    """Score a probe_features relation against fitted weights — map-only:
    (vec_id, label_true, score round-6, pred). pred thresholds the ROUNDED
    score so both engines decide on identical values."""
    score = F.round(_sigma(_z(w)), 6)
    return feats.select(
        "vec_id",
        F.col("y").cast("int").alias("label_true"),
        score.alias("score"),
        F.when(score >= 0.5, F.lit(1)).otherwise(F.lit(0)).alias("pred"),
    )
