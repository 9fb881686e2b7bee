"""Statistical-profiling, sketch-completion and optimizer-support operators
(q169-q194) — the late-r4 batch closing the remaining "engine-private"
seams and adding classic warehouse/curation heads the surface still lacked:

* q169 — an **oracle-replayable HyperLogLog** (the value-checkable answer to
  q46's engine-private HLL registers, completing the sketch family next to
  KMV q134, CMS q107, theta q168 and histogram q136): registers are built
  from the same md5-derived 60-bit integer hashes both engines compute
  identically, and the register *sum* is carried as an exact integer so the
  gate checks the sketch state itself, not a float echo.
* q170 — per-column **data profiling** (null count / distinct / min / max in
  long format): the lakehouse "analyze table" primitive.
* q171 — **Pareto frontier** (2-D skyline) with a bounded-dimension window,
  not an O(n^2) dominance self-join.
* q172 — arbitrary **GROUPING SETS** (one shared ANSI string, both engines),
  completing the family next to q30 ROLLUP / q68 CUBE.
* q173 — first-order **Markov transition matrix** over per-user event
  sequences (product-analytics path analysis).
* q174 — **MAD robust outliers** (modified z-score, Iglewicz-Hoaglin): the
  robust twin of q84's mean/stddev z-score.
* q175 — **chi-square independence** test over a bounded contingency table
  with order-independent exact-decimal summation.
* q176 — **theta-sampled join-cardinality estimation** (the optimizer-stats
  primitive): coordinated hash-sampling of the join key on both sides,
  calibrated against the exact join size in the same result row.
* q177 — **sorted-neighborhood dedup blocking** (Hernandez-Stolfo): the
  third blocking paradigm next to LSH banding (q37) and prefix blocking
  (q90) — global sort key, sliding window of adjacent rows.
* q178 — **Johnson-Lindenstrauss random projection** with exact-int64
  arithmetic (floor-quantized inputs, embedded Rademacher sign matrix):
  the rare case where the fast numpy kernel IS the oracle-checkable path.
* q179 — **last-touch purchase attribution** (30-minute lookback).
* q180 — per-group **Pearson correlation** from exact decimal power sums.
* q181 — **rendezvous (HRW) sharding** with the minimal-movement property
  measured inside the gate row.
* q182 — order-independent **table content checksum** (anti-entropy /
  replication-verification primitive).
* q184 — **bitmap-index exact set intersection** (62-bit words), the
  exact twin of q168's theta estimate.
* q185 — **triangle count** over the SNM dup-candidate graph (shared
  edge CTE with q177).
* q186 — **TF-IDF cosine doc pairs** over a df-pruned shingle inverted
  index.
* q187/q188 — **gridded pairwise KS distance** and per-segment
  **spend Gini**.
* q189 — **decile lift curve** composing the oracle-replayed q145 probe.
* q190 — **incremental JOIN-view maintenance** (delta-join IVM).
* q191/q192 — **CUSUM changepoint** on daily volume and
  **time-to-convert** lag percentiles.
* q193/q194 — **kNN majority-vote classification** (composes q39) and
  credit-conserving **linear multi-touch attribution**.
(q183, trailing-window KMV, lives with the KMV machinery in
analytics_ext.)

The reference notebook has no statistics/sketch surface (SURVEY.md §2.6
"not present") — these are north-star training-pipeline extensions; no
reference cite is possible. All carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from ..functions.hashing import h60
from ..functions.text import NORMALIZED_TEXT_SQL, normalized_text
from ..sources.readers import load_star
from .base import _t, _ts, query

# ---------------------------------------------------------------------------
# q169 — HyperLogLog with value-checkable registers
# ---------------------------------------------------------------------------

_HLL_P = 8  # default precision: 2^8 = 256 registers (the q169 gate shape)


def _hll_alpha(m: int) -> float:
    """Flajolet et al.'s bias-correction constant per register count."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _hll_params(p: int) -> dict:
    """All derived constants for precision p over the 60-bit md5 space.

    The low p bits pick the register, the remaining (60-p) bits feed the
    leading-zero rank, so rho in [1, 61-p]. The exact-integer register sum
    sum(2^(rho_max - M_j)) over all m registers (empty register => M_j=0
    => contributes 2^rho_max) totals at most 2^p * 2^(61-p) = 2^61 < 2^63
    for ANY p — always exact in int64, order-independent."""
    m = 1 << p
    rho_max = 60 - p + 1
    pow0 = 1 << rho_max
    alpha = _hll_alpha(m)
    return {
        "m": m,
        "rho_max": rho_max,
        "pow0": pow0,
        # E_raw = alpha * m^2 / sum(2^-M_j) = (alpha * m^2 * 2^rho_max) / S_int
        "num": alpha * m * m * float(pow0),
        "lc_cut": 2.5 * m,  # below this, linear counting is more accurate
    }


# default-p aliases addressed by the register-replay tests
_HLL_M = _hll_params(_HLL_P)["m"]
_HLL_RHO_MAX = _hll_params(_HLL_P)["rho_max"]


def hll_oracle(p: int = _HLL_P) -> str:
    """DuckDB oracle replaying the sketch value-for-value at any p."""
    c = _hll_params(p)
    return f"""WITH h AS (
         SELECT DISTINCT event_type,
                CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         FROM events),
       b AS (
         SELECT event_type,
                h % {c['m']} AS bucket,
                h // {c['m']} AS rem
         FROM h),
       reg AS (
         SELECT event_type, bucket,
                max(CASE WHEN rem = 0 THEN {c['rho_max']}
                         ELSE {c['rho_max']} - length(bin(rem)) END) AS m_j,
                count(*) AS nu
         FROM b GROUP BY event_type, bucket),
       s AS (
         SELECT event_type,
                CAST(count(*) AS INTEGER) AS n_buckets,
                CAST(sum(CAST(power(2.0, {c['rho_max']} - m_j) AS BIGINT))
                     + ({c['m']} - count(*)) * CAST({c['pow0']} AS BIGINT)
                     AS BIGINT) AS reg_sum,
                CAST(sum(nu) AS BIGINT) AS n_exact
         FROM reg GROUP BY event_type)
       SELECT event_type, n_buckets, reg_sum, n_exact,
              round(CASE WHEN {c['m']} - n_buckets > 0
                          AND {c['num']!r} / CAST(reg_sum AS DOUBLE) <= {c['lc_cut']!r}
                         THEN {float(c['m'])!r} * ln({float(c['m'])!r}
                                  / CAST({c['m']} - n_buckets AS DOUBLE))
                         ELSE {c['num']!r} / CAST(reg_sum AS DOUBLE)
                    END, 4) AS hll_estimate
       FROM s ORDER BY event_type"""


def hll_distinct_users(spark: SparkSession, sf: str, p: int = _HLL_P) -> DataFrame:
    """The HLL sketch body at a caller-chosen precision (the r3 KMV-k
    lesson applied from day one: stderr ~ 1.04/sqrt(2^p) — 13% at p=6,
    6.5% at p=8, 3.3% at p=10; the measured curve is pinned at stress
    scale in tests/test_profiling.py). Plan shape is p-independent: three
    hash-aggs, the last two over at most 2^p rows per group."""
    c = _hll_params(p)
    ev = _t(spark, sf, "events")
    d = ev.select("event_type", h60("user_id").alias("h")).distinct()
    # rem MUST be exact integer division ("h div m"): the double round-trip
    # (h / m).cast("long") loses precision for h >= 2^53 and lands on
    # floor(h/m) +- 1, flipping a register whenever the true remainder sits
    # next to a power of two (review-confirmed divergence on real hashes —
    # rare enough to pass a 1.5k-user gate by luck, certain at scale)
    b = d.select(
        "event_type",
        (F.col("h") % c["m"]).alias("bucket"),
        F.expr(f"h div {c['m']}").alias("rem"),
    )
    rho = F.when(F.col("rem") == 0, F.lit(c["rho_max"])).otherwise(
        F.lit(c["rho_max"]) - F.length(F.bin(F.col("rem")))
    )
    reg = b.groupBy("event_type", "bucket").agg(
        F.max(rho).alias("m_j"), F.count(F.lit(1)).alias("nu")
    )
    pow_term = F.pow(F.lit(2.0), F.lit(c["rho_max"]) - F.col("m_j")).cast("long")
    s = reg.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("int").alias("n_buckets"),
        (
            F.sum(pow_term)
            + (F.lit(c["m"]) - F.count(F.lit(1))) * F.lit(c["pow0"])
        ).cast("long").alias("reg_sum"),
        F.sum("nu").cast("long").alias("n_exact"),
    )
    e_raw = F.lit(c["num"]) / F.col("reg_sum").cast("double")
    v = F.lit(c["m"]) - F.col("n_buckets")
    est = F.when(
        (v > 0) & (e_raw <= F.lit(c["lc_cut"])),
        F.lit(float(c["m"])) * F.log(F.lit(float(c["m"])) / v.cast("double")),
    ).otherwise(e_raw)
    return s.select(
        "event_type", "n_buckets", "reg_sum", "n_exact",
        F.round(est, 4).alias("hll_estimate"),
    ).orderBy("event_type")


@query(
    "q169_hll_distinct",
    hll_oracle(_HLL_P),
    tags=("extension", "sketch", "distinct", "hll"),
)
def q169(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog distinct-count whose register state is VALUE-CHECKABLE
    cross-engine — the deterministic re-build of q46's approx_count_distinct
    (whose HLL register layout is engine-private, forcing a rows-only gate
    row; q134's KMV was the first stand-in, this is the real thing).

    Flajolet et al.'s estimator over md5-derived 60-bit integer hashes: the
    low p=8 bits pick one of m=256 registers, the register keeps
    max(rho) = max leading-zero rank of the remaining 52 bits (computed as
    53 - bit_length via ``length(bin(x))`` — identical string semantics in
    Spark and DuckDB, no float log2 edge cases), and the harmonic-mean
    denominator sum(2^-M_j) is carried as the EXACT integer
    sum(2^(53-M_j)) — order-independent, so the gate hashes the sketch
    state itself. The only float ops are one division (or ln for the
    standard small-range linear-counting branch) and a round(4). n_exact
    rides along as the per-group calibration column.

    Precision is a parameter of ``hll_distinct_users`` (the r3 KMV-k
    lesson, applied from day one); the gate pins p=8, the p-sweep error
    curve is pinned at stress scale in tests/test_profiling.py.

    Scale shape: distinct (type, user) is one hash-agg; registers are a
    second hash-agg to m=256 rows per group; the estimate is a third over
    those bounded rows. No windows, no driver state; at 100 TB the partial
    aggregation tree does all the work map-side — the same shape Spark's own
    approx_count_distinct plans, but with a gate-checkable state."""
    return hll_distinct_users(spark, sf, _HLL_P)


# ---------------------------------------------------------------------------
# q170 — per-column profile (ANALYZE TABLE primitive)
# ---------------------------------------------------------------------------

# (column, is_decimal) — doubles go through the exact DECIMAL(18,2) path so
# the string rendering is engine-independent ('123.45' in both; a raw
# double would format as '1.2345E2' in one engine and '123.45' in the
# other), dates/ints cast to string identically. ONE flag drives BOTH
# engines' rendering so a new column cannot silently diverge them.
_PROFILE_COLS: tuple[tuple[str, bool], ...] = (
    ("o_orderkey", False),
    ("o_custkey", False),
    ("o_orderstatus", False),
    ("o_totalprice", True),
    ("o_orderdate", False),
    ("o_orderpriority", False),
)


def _profile_oracle() -> str:
    parts = []
    for c, is_dec in _PROFILE_COLS:
        tpl = (
            "CAST(CAST({f}({c}) AS DECIMAL(18,2)) AS VARCHAR)"
            if is_dec
            else "CAST({f}({c}) AS VARCHAR)"
        )
        parts.append(
            f"""SELECT '{c}' AS col_name,
                   count(*) AS n_rows,
                   count(*) - count({c}) AS n_null,
                   count(DISTINCT {c}) AS n_distinct,
                   {tpl.format(f='min', c=c)} AS min_val,
                   {tpl.format(f='max', c=c)} AS max_val
            FROM orders"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


@query(
    "q170_column_profile",
    _profile_oracle(),
    tags=("extension", "profiling", "lakehouse"),
)
def q170(spark: SparkSession, sf: str) -> DataFrame:
    """Per-column table profile — the ANALYZE TABLE / data-quality
    primitive every lakehouse runs before trusting a feed: one row per
    column with null count, distinct count and min/max (rendered through
    the exact decimal path for doubles so both engines print the same
    string).

    Scale shape: ONE scan and ONE aggregate compute all 6x4 statistics
    (count/count(col)/count_distinct/min/max per column are independent
    aggregate expressions in the same hash-agg — Spark plans the distincts
    via a single expand), then a ``stack`` unpivots the 1-row wide result
    into long format driver-free. No per-column rescans: profiling a
    100 TB table costs one pass."""
    # _ts (r12): the 6x4-statistic hash-agg (countDistinct expand) is
    # per-row heavy and ran single-task off the one-row-group scan
    o = _ts(spark, sf, "orders", fan=True)
    aggs = []
    for c, is_dec in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__dist"),
        ]
        def _render(col):
            return (
                col.cast(DecimalType(18, 2)).cast("string") if is_dec else col.cast("string")
            )
        aggs += [
            _render(F.min(c)).alias(f"{c}__min"),
            _render(F.max(c)).alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__null, {c}__dist, {c}__min, {c}__max"
        for c, _ in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) "
            "AS (col_name, n_rows, n_null, n_distinct, min_val, max_val)"
        )
    ).orderBy("col_name")


# ---------------------------------------------------------------------------
# q171 — Pareto frontier (2-D skyline)
# ---------------------------------------------------------------------------


@query(
    "q171_pareto_frontier",
    """WITH p AS (
         SELECT o_orderdate AS d, max(o_totalprice) AS pmax
         FROM orders GROUP BY 1),
       r AS (
         SELECT d, pmax,
                max(pmax) OVER (ORDER BY d DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rb
         FROM p)
       SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
       FROM orders o JOIN r ON o.o_orderdate = r.d
       WHERE o.o_totalprice = r.pmax AND (r.rb IS NULL OR r.pmax > r.rb)
       ORDER BY o.o_orderdate, o.o_orderkey""",
    tags=("extension", "skyline", "window"),
)
def q171(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto frontier (skyline): the orders not dominated in
    (newer o_orderdate, higher o_totalprice) — i.e. every order for which
    no other order is at least as recent AND at least as expensive with one
    strict. The classic formulation is an O(n^2) NOT EXISTS dominance
    self-join; this plan is the scalable one: group to per-date maxima
    (parallel hash-agg over the BOUNDED date dimension — ~2.4k rows
    whatever the fact size, so the desc-date running-max window costs
    nothing even though it is single-partition), then one broadcast-able
    join back tags each order. A row survives iff it carries its date's max
    price and that max strictly beats every newer date's max. Ties (two
    orders with identical date+price on the frontier) are both kept —
    neither dominates the other."""
    o = _t(spark, sf, "orders")
    p = o.groupBy(F.col("o_orderdate").alias("d")).agg(F.max("o_totalprice").alias("pmax"))
    w = Window.orderBy(F.col("d").desc()).rowsBetween(Window.unboundedPreceding, -1)
    r = p.withColumn("rb", F.max("pmax").over(w))
    return (
        o.join(F.broadcast(r), o["o_orderdate"] == r["d"])
        .where(
            (F.col("o_totalprice") == F.col("pmax"))
            & (F.col("rb").isNull() | (F.col("pmax") > F.col("rb")))
        )
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# q172 — arbitrary GROUPING SETS (shared ANSI string, both engines)
# ---------------------------------------------------------------------------

_Q172_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
       CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
"""


@query(
    "q172_grouping_sets",
    _Q172_SQL,
    tags=("extension", "grouping-sets", "sql-entry"),
)
def q172(spark: SparkSession, sf: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the general form completing the family
    next to q30's ROLLUP and q68's CUBE: the (status, priority) detail,
    the status subtotal, and the grand total in one aggregate, with
    grouping() flags disambiguating real NULLs from subtotal rows. One
    shared ANSI string runs through both engines (the q57 pattern), so the
    oracle is the identical SQL. Spark plans this as a single
    Expand + hash-aggregate — one scan, one shuffle, regardless of how
    many sets are requested; the decimal path keeps the sums
    order-independent."""
    load_star(spark, sf, tables=("orders",), register_views=True)
    return spark.sql(_Q172_SQL)


# ---------------------------------------------------------------------------
# q173 — Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------


@query(
    "q173_event_transitions",
    """WITH s AS (
         SELECT event_type,
                lead(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS next_type
         FROM events),
       t AS (
         SELECT event_type, next_type, count(*) AS n_transitions
         FROM s WHERE next_type IS NOT NULL
         GROUP BY event_type, next_type)
       SELECT event_type, next_type, n_transitions,
              round(CAST(n_transitions AS DOUBLE)
                    / sum(n_transitions) OVER (PARTITION BY event_type), 6) AS p_next
       FROM t ORDER BY event_type, next_type""",
    tags=("extension", "product-analytics", "markov", "window"),
)
def q173(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams —
    the path-analysis primitive behind "what do users do after X" (next to
    q155's funnel and q156's cohorts): P(next=b | current=a) estimated from
    consecutive event pairs within each user's timeline.

    Scale shape: the lead() window shuffles once on user_id (same exchange
    q47/q48/q126 already pin), the pair count is a hash-agg, and the
    row-probability normalization is a window over the BOUNDED type x type
    matrix (|event_type|^2 rows — trivially small at any fact scale).
    Ordering ties inside a user's timeline are broken by event_id, the
    suite-wide determinism rule; the single division is one IEEE op,
    rounded to 6."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select("event_type", F.lead("event_type").over(w).alias("next_type"))
    t = (
        s.where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wt = Window.partitionBy("event_type")
    return t.select(
        "event_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double") / F.sum("n_transitions").over(wt), 6
        ).alias("p_next"),
    ).orderBy("event_type", "next_type")


# ---------------------------------------------------------------------------
# q174 — MAD robust outliers (modified z-score)
# ---------------------------------------------------------------------------

_MAD_C = 0.6745  # Phi^-1(0.75): scales MAD to sigma-equivalent units
_MAD_CUT = 3.5  # Iglewicz-Hoaglin recommended threshold


@query(
    "q174_mad_outliers",
    f"""WITH med AS (
         SELECT event_type, quantile_cont(value, 0.5) AS med
         FROM events GROUP BY 1),
       dev AS (
         SELECT e.event_type, e.value, m.med
         FROM events e JOIN med m USING (event_type)),
       mad AS (
         SELECT event_type, med, quantile_cont(abs(value - med), 0.5) AS mad
         FROM dev GROUP BY event_type, med)
       SELECT d.event_type,
              round(m.med, 4) AS med,
              round(m.mad, 4) AS mad,
              CAST(sum(CASE WHEN m.mad != 0
                             AND abs(round({_MAD_C!r} * (d.value - m.med) / m.mad, 6))
                                 > {_MAD_CUT!r}
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       FROM dev d JOIN mad m USING (event_type)
       GROUP BY d.event_type, m.med, m.mad
       ORDER BY d.event_type""",
    tags=("extension", "quality", "outlier", "robust"),
)
def q174(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier detection via the modified z-score
    0.6745*(x - median)/MAD > 3.5 (Iglewicz-Hoaglin) — the robust twin of
    q84's mean/stddev z-score, which a single extreme value can drag far
    enough to hide every other outlier; median and MAD have a 50%
    breakdown point. Exact interpolated medians (the q67 percentile
    semantics, quantile_cont oracle); the per-row score is rounded to 6
    before the threshold compare so a boundary value cannot split engines.

    Scale shape: two grouped percentile aggregates (per-group sort — the
    q67 caveat: at 100 TB swap in approx_percentile, this is its
    correctness anchor) and two BROADCAST join-backs of the tiny per-type
    tables; the outlier count is a map-side conditional sum."""
    ev = _t(spark, sf, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type", "med").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias("mad")
    )
    d = ev.join(F.broadcast(mad), "event_type")
    score = F.round(
        F.lit(_MAD_C) * (F.col("value") - F.col("med")) / F.col("mad"), 6
    )
    # nested WHEN so the division is never evaluated when mad == 0 (a
    # constant-valued metric): Spark 4 ANSI throws DIVIDE_BY_ZERO even for
    # doubles, where the oracle's NULL CASE arm counts 0 outliers
    is_out = F.when(F.col("mad") == 0, F.lit(0)).otherwise(
        F.when(F.abs(score) > _MAD_CUT, 1).otherwise(0)
    )
    return (
        d.groupBy("event_type", "med", "mad")
        .agg(F.sum(is_out).cast("long").alias("n_outliers"))
        .select(
            "event_type",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q175 — chi-square independence over a bounded contingency table
# ---------------------------------------------------------------------------


@query(
    "q175_chi_square_independence",
    """WITH cells AS (
         SELECT event_type, dayofweek(ts) + 1 AS dow, count(*) AS o
         FROM events GROUP BY 1, 2),
       tot AS (
         SELECT event_type, dow, o,
                sum(o) OVER (PARTITION BY event_type) AS rt,
                sum(o) OVER (PARTITION BY dow) AS ct,
                sum(o) OVER () AS n
         FROM cells),
       contrib AS (
         SELECT event_type, dow, o, n,
                CAST(round(
                  power(o - CAST(rt AS DOUBLE) * ct / n, 2)
                    / (CAST(rt AS DOUBLE) * ct / n), 12) AS DECIMAL(38,18)) AS c
         FROM tot)
       SELECT round(CAST(sum(c) AS DOUBLE), 6) AS chi_square,
              CAST((count(DISTINCT event_type) - 1)
                   * (count(DISTINCT dow) - 1) AS INTEGER) AS dof,
              CAST(sum(o) AS BIGINT) AS n_events
       FROM contrib""",
    tags=("extension", "statistics", "chi-square"),
)
def q175(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson chi-square test of independence between event_type and
    day-of-week — the drift/bias detector for "is activity mix uniform
    across the week" (complements q119/q122's distribution-drift heads
    with an actual test statistic). Expected counts E = row_tot*col_tot/N
    from the observed margins; chi2 = sum (O-E)^2/E over cells.

    Determinism: every count is an exact integer; each cell's contribution
    is ONE double expression computed identically in both engines, rounded
    to 12 decimals, and summed through DECIMAL(38,18) — order-independent,
    so the statistic hashes equal cross-engine (the exact_sum discipline
    applied to a derived float).

    Scale shape: the only fact-sized work is the cells hash-agg; margins
    and the statistic are windows/aggregates over the BOUNDED
    |event_type| x 7 table (dozens of rows at any fact scale — the
    unpartitioned sum(o) OVER () is over that tiny table, not the facts).
    DuckDB's 0=Sunday dayofweek gets the suite-standard +1."""
    ev = _t(spark, sf, "events")
    cells = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = F.sum("o").over(Window.partitionBy("event_type"))
    ct = F.sum("o").over(Window.partitionBy("dow"))
    n = F.sum("o").over(Window.partitionBy())
    tot = cells.select("event_type", "dow", "o", rt.alias("rt"), ct.alias("ct"), n.alias("n"))
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    contrib = tot.select(
        "event_type",
        "dow",
        "o",
        F.round(F.pow(F.col("o") - e, 2) / e, 12).cast(DecimalType(38, 18)).alias("c"),
    )
    return contrib.agg(
        F.round(F.sum("c").cast("double"), 6).alias("chi_square"),
        ((F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1))
        .cast("int")
        .alias("dof"),
        F.sum("o").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# q176 — theta-sampled join-cardinality estimation
# ---------------------------------------------------------------------------

_JS_RATE = 64  # 1-in-64 coordinated key sample
_JS_THETA = (1 << 60) // _JS_RATE  # hash threshold in the 60-bit md5 space


@query(
    "q176_join_size_estimate",
    f"""WITH a AS (
         SELECT o_custkey AS k, count(*) AS ca,
                CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
         FROM orders GROUP BY 1),
       b AS (
         SELECT user_id AS k, count(*) AS cb
         FROM events GROUP BY 1),
       j AS (
         SELECT a.k, a.h, a.ca * b.cb AS pairs
         FROM a JOIN b USING (k))
       SELECT CAST(sum(pairs) AS BIGINT) AS exact_pairs,
              CAST({_JS_RATE} * sum(CASE WHEN h < {_JS_THETA} THEN pairs ELSE 0 END)
                   AS BIGINT) AS est_pairs,
              round(({_JS_RATE}.0 * sum(CASE WHEN h < {_JS_THETA} THEN pairs ELSE 0 END)
                     - sum(pairs)) / sum(pairs), 6) AS rel_err
       FROM j""",
    tags=("extension", "optimizer", "sketch", "join-estimate"),
)
def q176(spark: SparkSession, sf: str) -> DataFrame:
    """Join-cardinality estimation by coordinated theta-sampling of the
    join key — the statistic a cost-based optimizer (or a pipeline
    capacity-planner) needs BEFORE running a 100 TB join: hash the key with
    the suite's 60-bit md5, keep keys with h < theta (a 1-in-64 universe
    sample — the same key is sampled on BOTH sides because the hash is of
    the key value, the property plain row-sampling lacks), sum
    count_a * count_b over surviving keys and scale by 64. The exact join
    size rides in the same row as calibration (the q153/q154 pattern:
    estimator and ground truth in one gate row), with the signed relative
    error. Every quantity is an exact integer until the one final division.

    Scale shape: per-key counts are partial-aggregated map-side before the
    key shuffle. An estimation-only plan would apply the h < theta filter
    to raw rows on both sides, pruning ~98.4% of keys before the join
    exchange, so the estimate costs a 64th of the join it prices."""
    o = _t(spark, sf, "orders")
    ev = _t(spark, sf, "events")
    a = (
        o.groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("ca"))
        .withColumn("h", h60("k"))
    )
    b = ev.groupBy(F.col("user_id").alias("k")).agg(F.count(F.lit(1)).alias("cb"))
    j = a.join(b, "k").select("h", (F.col("ca") * F.col("cb")).alias("pairs"))
    sampled = F.sum(F.when(F.col("h") < _JS_THETA, F.col("pairs")).otherwise(F.lit(0)))
    return j.agg(
        F.sum("pairs").cast("long").alias("exact_pairs"),
        (F.lit(_JS_RATE) * sampled).cast("long").alias("est_pairs"),
        F.round(
            (F.lit(float(_JS_RATE)) * sampled - F.sum("pairs")) / F.sum("pairs"), 6
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# q177 — sorted-neighborhood dedup blocking
# ---------------------------------------------------------------------------

_SNM_W = 3  # window size: each record pairs with the next w-1 in sort order
_SNM_PREFIX = 40  # chars of normalized text fed to the verify distance
_SNM_MAXDIST = 15  # candidate-pair acceptance threshold


# the SNM candidate-pair CTE chain, shared VERBATIM by the q177 oracle and
# q185's triangle-count oracle (so the edge sets can never diverge)
_SNM_PAIRS_CTE = f"""WITH d AS (
         SELECT doc_id, lang,
                substr({NORMALIZED_TEXT_SQL}, 1, {_SNM_PREFIX}) AS prefix,
                substr({NORMALIZED_TEXT_SQL}, 1, 1) AS blk
         FROM documents),
       w AS (
         SELECT doc_id, lang, blk, prefix,
                lead(doc_id, 1) OVER win AS id1,
                lead(prefix, 1) OVER win AS p1,
                lead(doc_id, 2) OVER win AS id2,
                lead(prefix, 2) OVER win AS p2
         FROM d
         WINDOW win AS (PARTITION BY lang, blk ORDER BY prefix, doc_id)),
       allpairs AS (
         SELECT least(doc_id, id1) AS doc_a, greatest(doc_id, id1) AS doc_b,
                CAST(levenshtein(prefix, p1) AS INTEGER) AS dist
         FROM w WHERE id1 IS NOT NULL
         UNION ALL
         SELECT least(doc_id, id2), greatest(doc_id, id2),
                CAST(levenshtein(prefix, p2) AS INTEGER)
         FROM w WHERE id2 IS NOT NULL),
       pairs AS (
         SELECT doc_a, doc_b, dist FROM allpairs WHERE dist <= {_SNM_MAXDIST})"""


def snm_candidate_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The SNM candidate-pair relation (doc_a < doc_b, dist) — q177's body
    without the output sort, shared with q185's triangle count."""
    d = _t(spark, sf, "documents").select(
        "doc_id",
        "lang",
        F.substring(normalized_text("text"), 1, _SNM_PREFIX).alias("prefix"),
        F.substring(normalized_text("text"), 1, 1).alias("blk"),
    )
    win = Window.partitionBy("lang", "blk").orderBy("prefix", "doc_id")
    w = d.select(
        "doc_id",
        "prefix",
        F.lead("doc_id", 1).over(win).alias("id1"),
        F.lead("prefix", 1).over(win).alias("p1"),
        F.lead("doc_id", 2).over(win).alias("id2"),
        F.lead("prefix", 2).over(win).alias("p2"),
    )
    p1 = w.where(F.col("id1").isNotNull()).select(
        F.least("doc_id", "id1").alias("doc_a"),
        F.greatest("doc_id", "id1").alias("doc_b"),
        F.levenshtein("prefix", "p1").cast("int").alias("dist"),
    )
    p2 = w.where(F.col("id2").isNotNull()).select(
        F.least("doc_id", "id2").alias("doc_a"),
        F.greatest("doc_id", "id2").alias("doc_b"),
        F.levenshtein("prefix", "p2").cast("int").alias("dist"),
    )
    return p1.unionAll(p2).where(F.col("dist") <= _SNM_MAXDIST)


@query(
    "q177_sorted_neighborhood",
    _SNM_PAIRS_CTE + "\n       SELECT doc_a, doc_b, dist FROM pairs ORDER BY doc_a, doc_b",
    tags=("extension", "dedup", "blocking", "sorted-neighborhood"),
)
def q177(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernandez-Stolfo): sort records
    by a blocking key (normalized-text prefix) and emit each record paired
    with the next w-1=2 records in sort order, verified by Levenshtein
    distance — the third candidate-generation paradigm in the dedup family,
    next to LSH banding (q37: hash buckets) and prefix blocking (q90:
    exact-key groups). SNM catches near-dups whose edits fall INSIDE the
    q90 block key (two docs differing at char 5 land in different q90
    blocks but sort adjacently here whenever the first divergent char
    still orders them together).

    Scale shape: the sort window is PARTITIONED by (lang, first normalized
    char) — deterministic blocks that bound each window partition to
    ~1/(langs*alphabet) of the corpus, so no single-partition global sort;
    at 100 TB tighten the block to the first 2-3 chars (the standard SNM
    parallelization; cross-block boundary pairs are the scheme's documented
    miss class, exactly like cross-bucket pairs in LSH). lead() windows are
    one shuffle; the distance verify runs on the bounded 40-char prefix,
    map-side."""
    return snm_candidate_pairs(spark, sf).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# q178 — Johnson-Lindenstrauss random projection (exact-integer kernel)
# ---------------------------------------------------------------------------

_JL_D_IN = 64
_JL_D_OUT = 8
_JL_QSCALE = 1_000_000  # micro-unit floor quantization (the q140 recipe)


def _jl_signs() -> list[tuple[int, int, int]]:
    """Deterministic Rademacher (+1/-1) sign matrix from md5 parity —
    generated once in Python and embedded as LITERALS in both engines, so
    the 'random' projection is value-for-value reproducible anywhere."""
    import hashlib as _hl

    out = []
    for i in range(1, _JL_D_IN + 1):
        for j in range(1, _JL_D_OUT + 1):
            bit = int(_hl.md5(f"jl:{i}:{j}".encode()).hexdigest(), 16) & 1
            out.append((i, j, 1 if bit else -1))
    return out


_JL_SIGN_ROWS = _jl_signs()
_JL_SIGN_VALUES = ", ".join(f"({i},{j},{s})" for i, j, s in _JL_SIGN_ROWS)


@query(
    "q178_jl_projection",
    f"""WITH q AS (
         SELECT vec_id, list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * {_JL_QSCALE}) AS BIGINT)) AS qv
         FROM embeddings),
       ex AS (
         SELECT vec_id, unnest(qv) AS xq, generate_subscripts(qv, 1) AS i
         FROM q),
       sgn(i, j, s) AS (VALUES {_JL_SIGN_VALUES})
       SELECT ex.vec_id, CAST(sgn.j AS INTEGER) AS j,
              CAST(sum(ex.xq * sgn.s) AS BIGINT) AS y
       FROM ex JOIN sgn ON ex.i = sgn.i
       GROUP BY ex.vec_id, sgn.j
       ORDER BY vec_id, j""",
    tags=("extension", "embedding", "dimension-reduction", "jl"),
)
def q178(spark: SparkSession, sf: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64-d -> 8-d with a
    Rademacher (+1/-1) sign matrix (Achlioptas 2003: database-friendly
    random projections) — the cheap dimensionality reducer that sits in
    front of clustering / dedup when even PQ (q118) is too heavy. The JL
    lemma guarantees pairwise distances survive within (1 +- eps) w.h.p.;
    the preserved-geometry property is pinned against numpy in
    tests/test_profiling.py.

    Determinism: embedding components are floor-quantized to exact int64
    micro-units (the q140 covariance recipe) and the sign matrix is
    md5-parity generated ONCE in Python and embedded as literals in both
    engines — so every projected coordinate is an exact integer sum and
    the gate hashes the projection itself. No float ever appears.

    Scale shape: a PURE MAP — an Arrow-batched mapInPandas kernel doing
    one exact-int64 numpy matmul per batch (quantize -> X @ S -> melt);
    because every operand is an integer, the kernel is VALUE-IDENTICAL to
    the relational formulation (pinned in tests), so no fold/kernel twin
    pair is needed — this is the rare case where the fast path IS the
    oracle-checkable path. No explode (a 64x row blow-up), no join, no
    aggregation: projecting a 100 TB embedding table shuffles NOTHING.
    (Measured at sf0.1: posexplode + broadcast sign join + re-agg 8.3 s;
    an unrolled 512-term Column fold 10.4 s — the expression tree falls
    out of whole-stage codegen; this kernel 0.8 s.)"""
    import numpy as np
    import pandas as pd

    S = np.zeros((_JL_D_IN, _JL_D_OUT), dtype=np.int64)
    for i, j, s in _JL_SIGN_ROWS:
        S[i - 1, j - 1] = s
    j_idx = np.arange(1, _JL_D_OUT + 1, dtype=np.int32)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * _JL_QSCALE
            ).astype(np.int64)
            Y = X @ S  # exact: |y| <= 64 * 1e6 * max|x|, far below 2^63
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), _JL_D_OUT),
                    "j": np.tile(j_idx, n),
                    "y": Y.reshape(-1),
                }
            )

    # _ts (r12): fan the one-row-group scan out — per-row vector math
    emb = _ts(spark, sf, "embeddings", "vec_id", "embedding")
    return emb.mapInPandas(kernel, "vec_id BIGINT, j INT, y BIGINT").orderBy(
        "vec_id", "j"
    )


# ---------------------------------------------------------------------------
# q179 — last-touch purchase attribution
# ---------------------------------------------------------------------------

_ATTR_WINDOW = "30"  # minutes


@query(
    "q179_last_touch_attribution",
    f"""WITH l AS (
         SELECT event_type, value, ts,
                lag(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev_type,
                lag(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_ts
         FROM events)
       SELECT CASE WHEN prev_ts IS NOT NULL
                    AND prev_ts >= ts - INTERVAL '{_ATTR_WINDOW} minutes'
                   THEN prev_type ELSE 'direct' END AS attributed_type,
              count(*) AS n_purchases,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_revenue
       FROM l WHERE event_type = 'purchase'
       GROUP BY 1 ORDER BY attributed_type""",
    tags=("extension", "product-analytics", "attribution", "window"),
)
def q179(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    immediately-preceding event IF it happened within a 30-minute lookback,
    else to 'direct' — the marketing-analytics workhorse that q155's funnel
    and q173's transition matrix don't cover (credit assignment, not path
    counting), with decimal-exact revenue rollup per attributed channel.

    Scale shape: one lag() window on the user_id exchange the suite already
    pins (q47/q48/q126/q173 share it — at 100 TB these all reuse one
    shuffle of the events table), then a tiny hash-agg over |event_type|+1
    attribution buckets. The NTZ-safe interval comparison (ts - INTERVAL)
    avoids the illegal long cast (SKILL gotcha)."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    l = ev.select(
        "event_type",
        "value",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    attributed = F.when(
        F.col("prev_ts").isNotNull()
        & (F.col("prev_ts") >= F.col("ts") - F.expr(f"INTERVAL {_ATTR_WINDOW} MINUTES")),
        F.col("prev_type"),
    ).otherwise(F.lit("direct"))
    from ..functions.agg import exact_sum

    return (
        l.where(F.col("event_type") == "purchase")
        .groupBy(attributed.alias("attributed_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            exact_sum("value", "attributed_revenue"),
        )
        .orderBy("attributed_type")
    )


# ---------------------------------------------------------------------------
# q180 — Pearson correlation from exact power sums
# ---------------------------------------------------------------------------


@query(
    "q180_lineitem_correlation",
    """WITH s AS (
         SELECT l_returnflag,
                count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
                CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS syy,
                CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sxy
         FROM lineitem GROUP BY 1)
       SELECT l_returnflag, CAST(n AS BIGINT) AS n_items,
              CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                   THEN round((n * sxy - sx * sy)
                        / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
              END AS corr_qty_price
       FROM s ORDER BY l_returnflag""",
    tags=("extension", "statistics", "correlation"),
)
def q180(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group Pearson correlation (quantity vs extended price) computed
    from EXACT decimal power sums — the q152-OLS discipline applied to the
    five moments corr needs: each product of 2-decimal measures has an
    exact 4-decimal value that the double multiply recovers within half an
    ulp, so the DECIMAL(38,4) casts agree cross-engine and the sums are
    order-independent; corr is then ONE fixed double expression over six
    exact scalars. (Spark's built-in corr() is a streaming float
    accumulation — order-dependent, which is exactly what this avoids.)

    Scale shape: a single partial-aggregated hash-agg — five decimal sums
    and a count per group; nothing else. The same pattern extends to a
    full correlation MATRIX by summing products per column pair (q140's
    covariance does precisely that over embedding coordinates)."""
    li = _t(spark, sf, "lineitem")
    dec2 = lambda c: F.col(c).cast(DecimalType(18, 2))  # noqa: E731
    dec4 = lambda e: e.cast(DecimalType(38, 4))  # noqa: E731
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec2("l_quantity")).cast("double").alias("sx"),
        F.sum(dec2("l_extendedprice")).cast("double").alias("sy"),
        F.sum(dec4(F.col("l_quantity") * F.col("l_quantity"))).cast("double").alias("sxx"),
        F.sum(dec4(F.col("l_extendedprice") * F.col("l_extendedprice")))
        .cast("double")
        .alias("syy"),
        F.sum(dec4(F.col("l_quantity") * F.col("l_extendedprice")))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n").cast("double")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    # zero-variance guard: Spark 4 ANSI throws on double division by zero
    # where the oracle CASE yields NULL — degenerate groups report NULL corr
    corr = F.when(
        (vx > 0) & (vy > 0),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (F.sqrt(vx) * F.sqrt(vy)),
            6,
        ),
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_items"),
        corr.alias("corr_qty_price"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q181 — rendezvous (highest-random-weight) sharding
# ---------------------------------------------------------------------------

_RDV_N = 8  # baseline shard count; the probe measures the N -> N+1 reshuffle


@query(
    "q181_rendezvous_sharding",
    f"""WITH ex AS (
         SELECT doc_id, s,
                CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                        CAST(s AS VARCHAR)), 1, 15) AS BIGINT) AS h
         FROM documents, unnest(range(0, {_RDV_N + 1})) AS u(s)),
       assign AS (
         SELECT doc_id,
                arg_max(CASE WHEN s < {_RDV_N} THEN s END,
                        CASE WHEN s < {_RDV_N} THEN h ELSE -1 END) AS shard8,
                arg_max(s, h) AS shard9
         FROM ex GROUP BY doc_id),
       summary AS (
         SELECT count(*) AS n_docs,
                sum(CASE WHEN shard8 != shard9 THEN 1 ELSE 0 END) AS n_moved
         FROM assign),
       balance AS (
         SELECT min(cnt) AS min_shard_n, max(cnt) AS max_shard_n
         FROM (SELECT count(*) AS cnt FROM assign GROUP BY shard8))
       SELECT CAST(n_docs AS BIGINT) AS n_docs,
              CAST(n_moved AS BIGINT) AS n_moved,
              round(CAST(n_moved AS DOUBLE) / n_docs, 6) AS moved_frac,
              CAST(min_shard_n AS BIGINT) AS min_shard_n,
              CAST(max_shard_n AS BIGINT) AS max_shard_n
       FROM summary CROSS JOIN balance""",
    tags=("extension", "placement", "consistent-hashing"),
)
def q181(spark: SparkSession, sf: str) -> DataFrame:
    """Rendezvous / highest-random-weight sharding (Thaler-Ravishankar):
    each document goes to the shard maximizing md5(doc, shard) — the
    placement scheme whose defining property is MINIMAL MOVEMENT on
    resize: growing 8 -> 9 shards relocates only ~1/9 of documents (every
    other scheme's mod-N would move ~8/9). The query computes both
    assignments and measures the observed moved fraction plus the 8-shard
    balance spread, so the gate value-checks the property itself
    (expectation 0.1111; the measured value and the ~uniform balance are
    also pinned in tests).

    Scale shape: explode to 9 rows per doc (bounded fan-out), one
    max_by/arg_max hash-agg back to one row per doc, then two bounded
    aggregates. At 100 TB this is the shuffle-free way to route a corpus
    into N bucketed outputs — the hash is of the KEY, so routing is
    map-side and deterministic everywhere."""
    docs = _t(spark, sf, "documents").select("doc_id")
    ex = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(_RDV_N))).alias("s")
    ).withColumn(
        "h",
        h60(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("s").cast("string"))),
    )
    in8 = F.col("s") < _RDV_N
    assign = ex.groupBy("doc_id").agg(
        F.max_by(
            F.when(in8, F.col("s")), F.when(in8, F.col("h")).otherwise(F.lit(-1))
        ).alias("shard8"),
        F.max_by("s", "h").alias("shard9"),
    )
    summary = assign.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("shard8") != F.col("shard9")).cast("int")).cast("long").alias("n_moved"),
    )
    balance = (
        assign.groupBy("shard8")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.min("cnt").cast("long").alias("min_shard_n"),
            F.max("cnt").cast("long").alias("max_shard_n"),
        )
    )
    return summary.crossJoin(F.broadcast(balance)).select(
        "n_docs",
        "n_moved",
        F.round(F.col("n_moved").cast("double") / F.col("n_docs"), 6).alias("moved_frac"),
        "min_shard_n",
        "max_shard_n",
    )


# ---------------------------------------------------------------------------
# q182 — order-independent table content checksum (anti-entropy primitive)
# ---------------------------------------------------------------------------

# canonical row renderings reuse the q170-proven cross-engine string casts;
# doubles go through DECIMAL(18,2) (money columns carry 2-decimal data).
# {S} is the engine's string type name: Spark's expression parser wants
# STRING where DuckDB wants VARCHAR — same cast semantics, different keyword.
_CK_TABLES: tuple[tuple[str, str], ...] = (
    (
        "orders",
        "concat_ws('|', CAST(o_orderkey AS {S}), CAST(o_custkey AS {S}), "
        "o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS {S}), "
        "CAST(o_orderdate AS {S}), o_orderpriority)",
    ),
    (
        "customer",
        "concat_ws('|', CAST(c_custkey AS {S}), c_name, "
        "CAST(c_nationkey AS {S}), "
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS {S}), c_mktsegment)",
    ),
    (
        "nation",
        "concat_ws('|', CAST(n_nationkey AS {S}), n_name, "
        "CAST(n_regionkey AS {S}))",
    ),
)
_CK_MOD = 10**18  # fold the exact decimal sum into a BIGINT-safe residue


def _checksum_oracle() -> str:
    parts = [
        f"""SELECT '{t}' AS table_name, count(*) AS n_rows,
                CAST(sum(CAST('0x' || substr(md5({expr.format(S='VARCHAR')}), 1, 15)
                              AS BIGINT))
                     % {_CK_MOD} AS BIGINT) AS checksum
            FROM {t}"""
        for t, expr in _CK_TABLES
    ]
    return " UNION ALL ".join(parts) + " ORDER BY table_name"


@query(
    "q182_table_checksum",
    _checksum_oracle(),
    tags=("extension", "lakehouse", "integrity", "checksum"),
)
def q182(spark: SparkSession, sf: str) -> DataFrame:
    """Order-independent table content checksum — the anti-entropy /
    replication-verification primitive (compare a table across two
    replicas, or before/after a migration, without sorting either side):
    per-row canonical string -> 60-bit md5 integer -> EXACT decimal sum,
    folded mod 1e18 into a BIGINT. Addition is commutative, so the digest
    is independent of row order and partitioning — two lakes agree iff
    (n_rows, checksum) agree, and the gate itself is the cross-engine
    proof (DuckDB computes the identical digest from the same parquet).
    Canonical renderings reuse the q170-proven string casts; doubles pass
    through DECIMAL(18,2) so formatting can't split engines.

    Scale shape: one scan + one partial-aggregated sum per table — the
    checksum of a 100 TB table is a map-side fold with a single tiny
    final merge, and never shuffles data."""
    parts = []
    for t, expr in _CK_TABLES:
        df = _t(spark, sf, t)
        h = h60(F.expr(expr.format(S="STRING")))
        parts.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.sum(h.cast(DecimalType(38, 0))) % F.lit(_CK_MOD))
                .cast("long")
                .alias("checksum"),
            ).select(F.lit(t).alias("table_name"), "n_rows", "checksum")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("table_name")


# ---------------------------------------------------------------------------
# q184 — bitmap-index set intersection (the EXACT twin of q168's theta
# estimate)
# ---------------------------------------------------------------------------

# 62-bit words: DuckDB raises on 1 << 63 (sign-bit overflow), so words use
# bits 0..61 only — both engines stay in non-negative int64 territory and
# bit_count/& semantics cannot diverge.
_BM_BITS = 62


@query(
    "q184_bitmap_intersection",
    f"""WITH m AS (
         SELECT DISTINCT event_type, user_id FROM events),
       bm AS (
         SELECT event_type,
                user_id // {_BM_BITS} AS word_idx,
                bit_or(1::BIGINT << CAST(user_id % {_BM_BITS} AS INTEGER)) AS w
         FROM m GROUP BY 1, 2),
       tot AS (
         SELECT event_type, sum(bit_count(w)) AS n_users
         FROM bm GROUP BY 1),
       inter AS (
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                sum(bit_count(a.w & b.w)) AS n_common
         FROM bm a JOIN bm b
           ON a.word_idx = b.word_idx AND a.event_type < b.event_type
         GROUP BY 1, 2)
       SELECT i.type_a, i.type_b,
              CAST(i.n_common AS BIGINT) AS n_common,
              CAST(ta.n_users AS BIGINT) AS n_a,
              CAST(tb.n_users AS BIGINT) AS n_b,
              round(CAST(i.n_common AS DOUBLE)
                    / (ta.n_users + tb.n_users - i.n_common), 6) AS jaccard
       FROM inter i
       JOIN tot ta ON ta.event_type = i.type_a
       JOIN tot tb ON tb.event_type = i.type_b
       ORDER BY type_a, type_b""",
    tags=("extension", "bitmap", "set-intersection", "index"),
)
def q184(spark: SparkSession, sf: str) -> DataFrame:
    """Bitmap-index set intersection: per-type audience bitmaps (one
    62-bit word per user_id block, built with a bit_or aggregate) joined
    word-by-word, intersection cardinality = sum of popcounts of ANDed
    words — EXACT pairwise audience overlap plus Jaccard, the precise twin
    that calibrates q168's theta-sketch estimate (same question, sketch vs
    index). This is the roaring-bitmap/bitmap-index pattern every
    warehouse uses for segment-overlap queries.

    Scale shape: the bitmap compresses |users| memberships into
    |users|/62 words per type — the word build is one partial-aggregated
    hash-agg (bit_or is associative/commutative, so map-side combine
    applies), and the pairwise AND join touches words, never user rows.
    For a 10^9-user space that is ~16M words per segment: the intersection
    join is over manifest-scale data however large the fact table.
    62-bit words keep both engines off the int64 sign bit (DuckDB raises
    on 1 << 63)."""
    ev = _t(spark, sf, "events")
    m = ev.select("event_type", "user_id").distinct()
    bm = m.groupBy(
        "event_type", F.expr(f"user_id div {_BM_BITS}").alias("word_idx")
    ).agg(
        F.bit_or(
            F.expr(f"shiftleft(1L, CAST(user_id % {_BM_BITS} AS INT))")
        ).alias("w")
    )
    tot = bm.groupBy("event_type").agg(F.sum(F.bit_count("w")).alias("n_users"))
    a, b = bm.alias("a"), bm.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.word_idx") == F.col("b.word_idx"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.sum(F.bit_count(F.col("a.w").bitwiseAND(F.col("b.w")))).alias("n_common"))
    )
    ta = tot.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a"))
    tb = tot.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b"))
    return (
        inter.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# q185 — triangle count over the SNM dup-candidate graph
# ---------------------------------------------------------------------------


@query(
    "q185_dup_graph_triangles",
    _SNM_PAIRS_CTE
    + """,
       e AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
       wedge AS (
         SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
         FROM e e1 JOIN e e2 ON e1.doc_b = e2.doc_a),
       tri AS (
         SELECT w.a, w.b, w.c
         FROM wedge w JOIN e e3 ON w.a = e3.doc_a AND w.c = e3.doc_b)
       SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
              CAST((SELECT count(*) FROM wedge) AS BIGINT) AS n_wedges,
              CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_triangles""",
    tags=("extension", "graph", "triangles"),
)
def q185(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle counting over the SNM dup-candidate graph — the third
    graph-analytics head next to connected components (q73) and PageRank
    (q158): triangle density separates tight dup CLUSTERS (every copy
    near every other — triangles everywhere) from accidental CHAINS
    (A~B~C where A and C are unrelated — wedges without closure), which
    is exactly the signal that decides whether a dup group can be
    collapsed to one canonical doc or needs pairwise review.

    The classic two-join formulation on the oriented edge list (doc_a <
    doc_b, deduped): wedges from E joined with E on the middle vertex,
    closed by a second join probing (a, c) — every triangle counted
    exactly once because vertex order a < b < c is forced by the edge
    orientation. The edge CTE is shared VERBATIM with q177's oracle, so
    the graph can never diverge from the gated pair set.

    Scale shape: both joins shuffle on a vertex key; the skew risk is a
    high-degree hub (a 20-copy dup group is a 20-clique) — bounded here
    by the SNM window (degree <= 2(w-1) = 4 by construction), which is
    the quiet reason SNM graphs triangle-count cheaply where LSH-candidate
    graphs need the q128 salting treatment first. The edge relation is
    materialized once (localCheckpoint, the _gram_hashes lesson) — its
    three self-join legs would otherwise each replay the full SNM
    normalize+window pipeline (measured 10.4 s -> 2.9 s at sf0.1)."""
    e = (
        snm_candidate_pairs(spark, sf)
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    wedge = e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a")).select(
        F.col("e1.doc_a").alias("a"),
        F.col("e1.doc_b").alias("b"),
        F.col("e2.doc_b").alias("c"),
    )
    tri = wedge.join(
        e3,
        (F.col("a") == F.col("e3.doc_a")) & (F.col("c") == F.col("e3.doc_b")),
    )
    n_e = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_w = wedge.agg(F.count(F.lit(1)).cast("long").alias("n_wedges"))
    n_t = tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    return n_e.crossJoin(F.broadcast(n_w)).crossJoin(F.broadcast(n_t))


# ---------------------------------------------------------------------------
# q186 — TF-IDF cosine document similarity (inverted-index sparse dot)
# ---------------------------------------------------------------------------

_TFIDF_DF_MIN = 2  # df=1 terms cannot contribute to any pair
_TFIDF_DF_MAX = 100  # stop-term prune: bounds the per-term pair fan-out
_TFIDF_COS_MIN = 0.5  # emit pairs at or above this pruned-space cosine


@query(
    "q186_tfidf_doc_pairs",
    f"""WITH d AS (
         SELECT doc_id, string_split({NORMALIZED_TEXT_SQL}, ' ') AS ts
         FROM documents),
       toks AS (
         SELECT doc_id,
                unnest(list_transform(range(1, len(ts) - 1),
                       i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS token
         FROM d WHERE len(ts) >= 3),
       tf AS (
         SELECT doc_id, token, count(*) AS tf
         FROM toks GROUP BY 1, 2),
       df AS (
         SELECT token, count(*) AS df FROM tf GROUP BY 1),
       nn AS (SELECT count(*) AS n FROM documents),
       w AS (
         SELECT tf.doc_id, tf.token,
                tf.tf * ln(CAST(nn.n AS DOUBLE) / df.df) AS w
         FROM tf JOIN df USING (token) CROSS JOIN nn
         WHERE df.df BETWEEN {_TFIDF_DF_MIN} AND {_TFIDF_DF_MAX}),
       norms AS (
         SELECT doc_id,
                sqrt(CAST(sum(CAST(round(w * w, 12) AS DECIMAL(38,18))) AS DOUBLE))
                    AS nrm
         FROM w GROUP BY 1),
       dots AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(sum(CAST(round(a.w * b.w, 12) AS DECIMAL(38,18))) AS DOUBLE)
                    AS dot
         FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT d.doc_a, d.doc_b,
              round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
       FROM dots d
       JOIN norms na ON na.doc_id = d.doc_a
       JOIN norms nb ON nb.doc_id = d.doc_b
       WHERE round(d.dot / (na.nrm * nb.nrm), 6) >= {_TFIDF_COS_MIN!r}
       ORDER BY doc_a, doc_b""",
    tags=("extension", "similarity", "tfidf", "inverted-index"),
)
def q186(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF cosine document similarity over a df-pruned inverted index —
    weighted lexical doc-doc similarity next to shingle Jaccard (q36/q163,
    set overlap, unweighted), MinHash (q37), SimHash (q38) and embedding
    cosine (q43); BM25 (q151) ranks docs against a QUERY, this scores doc
    PAIRS. Terms are 3-word shingles, not unigrams: the synthetic corpus
    has a 31-word vocabulary, so every unigram is a stop-term at any real
    scale (measured: the unigram index goes EMPTY under the df cap at
    sf0.1) — and weighted-shingle cosine is also what production dedup
    actually computes.

    The inverted-index self-join is bounded by the stop-term prune
    (df in [2, 100]): a term's pair fan-out is df^2/2, so ubiquitous terms
    — which contribute ~zero idf weight anyway — are exactly the ones
    dropped. Norms are computed over the SAME pruned term space, so the
    score is a well-defined cosine in that space (standard practice; the
    q36 lesson about hot-shingle quadratics applied as a hard df bound
    rather than hope). Determinism: the only order-sensitive sums (dot
    products and squared norms) round each term product to 12 decimals and
    sum through DECIMAL(38,18) — the q175 exact-decimal discipline —
    leaving ln/sqrt/one division as fixed per-row expressions.

    Scale shape: tokenize+tf is one hash-agg; df another; the dot-product
    join shuffles the (doc_id, token, w) relation once on token with
    map-side-combinable partial sums on (doc_a, doc_b). Narrow columns
    through the self-join (the measured q36 negative result)."""
    docs = _t(spark, sf, "documents")
    # cost-based scan fanout (r12 profile: the two tokenize legs ran
    # 8.0 s / 7.5 s as single tasks off the one-row-group scan; re-tuned
    # r13); narrow select first so the exchange ships (doc_id, text)
    # only and ReadSchema stays pruned
    docs_spread = _ts(spark, sf, "documents", "doc_id", "text", fan=True)
    toks = (
        docs_spread.select(
            "doc_id", F.split(normalized_text("text"), " ").alias("ts")
        )
        .where(F.size("ts") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 2), "
                    "i -> concat_ws(' ', slice(ts, i, 3)))"
                )
            ).alias("token"),
        )
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df").between(_TFIDF_DF_MIN, _TFIDF_DF_MAX))
    )
    # int token ids (r13, guide §2.3 "shuffle keys instead of payloads"):
    # the dot-product self-join below is the query's dominant shuffle and
    # it only needs the token for EQUALITY — shipping the ~20-40-byte
    # 3-word shingle strings through both legs was most of the 27.7/43.5
    # MB exchange the r12 profile measured. The df-pruned vocabulary gets
    # a dense int64 id (deterministic, collision-free — same
    # distributed_row_number machinery as the PPJoin dictionary; an
    # order-consistent 8-char-prefix bucket keeps the rank pass
    # vocabulary-scale with no single-partition window), the per-doc
    # weight relation carries (doc_id, tid, w) only, and the token string
    # never rides the checkpoint or the self-join. The id is an injective
    # relabeling of the equi-join key, so pairs/weights — and the oracle
    # hash — are unchanged.
    from ..functions.rank import distributed_row_number

    dic = distributed_row_number(
        df, ["token"], F.substring("token", 1, 8), out="tid"
    )
    nn = docs.agg(F.count(F.lit(1)).alias("n"))
    w = (
        tf.join(dic, "token")
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            "tid",
            (F.col("tf") * F.log(F.col("n").cast("double") / F.col("df"))).alias("w"),
        )
        # three consumers (norms + both self-join legs) — materialize once,
        # the q185/_gram_hashes lesson
        .localCheckpoint()
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(F.round(F.col("w") * F.col("w"), 12).cast(DecimalType(38, 18))).cast(
                "double"
            )
        ).alias("nrm")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.tid") == F.col("b.tid"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.sum(
                F.round(F.col("a.w") * F.col("b.w"), 12).cast(DecimalType(38, 18))
            )
            .cast("double")
            .alias("dot")
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b"))
    cos = F.round(F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")), 6)
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(cos >= _TFIDF_COS_MIN)
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# q187 — pairwise Kolmogorov-Smirnov distance on a shared histogram grid
# ---------------------------------------------------------------------------

_KS_B = 256  # grid buckets; KS error bound = max per-bucket mass


@query(
    "q187_ks_distance_pairs",
    f"""WITH s AS (
         SELECT min(value) AS mn, max(value) AS mx FROM events),
       b AS (
         SELECT e.event_type,
                CASE WHEN s.mx = s.mn THEN 0
                     ELSE CAST(least(floor((e.value - s.mn) / ((s.mx - s.mn) / {_KS_B}.0)),
                               {_KS_B - 1}) AS INTEGER)
                END AS bucket
         FROM events e CROSS JOIN s),
       h AS (
         SELECT event_type, bucket, count(*) AS cnt
         FROM b GROUP BY 1, 2),
       spine AS (
         SELECT t.event_type, g.bucket
         FROM (SELECT DISTINCT event_type FROM h) t
         CROSS JOIN (SELECT unnest(range({_KS_B})) AS bucket) g),
       c AS (
         SELECT sp.event_type, sp.bucket,
                sum(coalesce(h.cnt, 0)) OVER (PARTITION BY sp.event_type
                                              ORDER BY sp.bucket) AS cum,
                sum(coalesce(h.cnt, 0)) OVER (PARTITION BY sp.event_type) AS n
         FROM spine sp LEFT JOIN h
           ON h.event_type = sp.event_type AND h.bucket = sp.bucket)
       SELECT a.event_type AS type_a, b.event_type AS type_b,
              round(max(abs(CAST(a.cum AS DOUBLE) / a.n
                            - CAST(b.cum AS DOUBLE) / b.n)), 6) AS ks_d
       FROM c a JOIN c b
         ON a.bucket = b.bucket AND a.event_type < b.event_type
       GROUP BY 1, 2
       ORDER BY type_a, type_b""",
    tags=("extension", "statistics", "ks-test", "histogram"),
)
def q187(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise two-sample Kolmogorov-Smirnov distance between the value
    distributions of every event-type pair, computed on a SHARED 256-bucket
    histogram grid — the continuous-distribution drift test completing the
    statistics family next to chi-square (q175: categorical independence)
    and the TV-distance drift heads (q119/q122): D = max |F_a - F_b| over
    the grid, with approximation error bounded by the largest per-bucket
    mass (the q136 histogram-quantile trade).

    An EXACT KS needs a total order over both samples merged — a global
    sort per pair, the one shape that does not scale; the gridded variant
    is one fact-sized hash-agg (type, bucket) and then windows/joins over
    the BOUNDED |types| x 256 relation (the dense bucket spine makes the
    cumulative fractions well-defined in empty buckets for both engines
    identically). Every count is exact; per-bucket fractions are one
    deterministic division each; round(6) seals the max."""
    ev = _t(spark, sf, "events")
    s = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    width = (F.col("mx") - F.col("mn")) / float(_KS_B)
    bucket = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("value") - F.col("mn")) / width), F.lit(_KS_B - 1)
        ).cast("int")
    )
    h = (
        ev.crossJoin(F.broadcast(s))
        .select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    types = h.select("event_type").distinct()
    grid = spark.range(_KS_B).select(F.col("id").cast("int").alias("bucket"))
    spine = types.crossJoin(F.broadcast(grid))
    dense = spine.join(h, ["event_type", "bucket"], "left").select(
        "event_type", "bucket", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    w_cum = Window.partitionBy("event_type").orderBy("bucket")
    w_tot = Window.partitionBy("event_type")
    c = dense.select(
        "event_type",
        "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_tot).alias("n"),
    )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("a.cum").cast("double") / F.col("a.n")
                        - F.col("b.cum").cast("double") / F.col("b.n")
                    )
                ),
                6,
            ).alias("ks_d")
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# q188 — Gini concentration of customer spend per market segment
# ---------------------------------------------------------------------------


@query(
    "q188_spend_gini",
    """WITH spend AS (
         SELECT c.c_mktsegment, c.c_custkey,
                sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS x
         FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
         GROUP BY 1, 2),
       r AS (
         SELECT c_mktsegment, x,
                row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY x, c_custkey) AS rk
         FROM spend),
       g AS (
         SELECT c_mktsegment,
                count(*) AS n,
                CAST(sum(x) AS DOUBLE) AS sx,
                CAST(sum(rk * x) AS DOUBLE) AS srx
         FROM r GROUP BY 1)
       SELECT c_mktsegment, CAST(n AS BIGINT) AS n_customers,
              round(2.0 * srx / (n * sx) - (n + 1.0) / n, 6) AS gini
       FROM g ORDER BY c_mktsegment""",
    tags=("extension", "statistics", "gini", "concentration"),
)
def q188(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of customer spend per market segment — the
    revenue-concentration measure ("do 20% of customers carry 80% of
    revenue?") behind quota/priority decisions, from the rank formula
    G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over spend sorted ascending.

    Determinism: per-customer spend is an exact decimal sum; rank is total
    (ties broken by custkey); rank*spend stays decimal-exact through the
    sum, so the only float work is the final closed-form expression,
    rounded to 6. Scale shape: one fact hash-agg to per-customer spend, a
    rank window PARTITIONED by segment (Spark's sort-based window spills
    gracefully; for a truly huge single segment the binned approximation —
    Gini over the q136 histogram — is the fallback), one bounded
    aggregate."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    spend = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(DecimalType(18, 2))).alias("x"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("x", "c_custkey")
    r = spend.withColumn("rk", F.row_number().over(w))
    g = r.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("rk") * F.col("x")).cast("double").alias("srx"),
    )
    gini = 2.0 * F.col("srx") / (F.col("n") * F.col("sx")) - (
        F.col("n") + 1.0
    ) / F.col("n")
    return g.select(
        "c_mktsegment",
        F.col("n").cast("long").alias("n_customers"),
        F.round(gini, 6).alias("gini"),
    ).orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# q189 — lift / calibration curve over the q145 probe scores
# ---------------------------------------------------------------------------


def _lift_oracle() -> str:
    from .extensions import _probe_oracle

    return f"""SELECT CAST(decile AS INTEGER) AS decile,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(label_true) AS BIGINT) AS n_pos,
              round(CAST(sum(label_true) AS DOUBLE) / count(*), 6) AS pos_rate,
              round((CAST(sum(label_true) AS DOUBLE) / count(*))
                    / ((SELECT CAST(sum(CASE WHEN label < 5 THEN 1 ELSE 0 END) AS DOUBLE)
                               / count(*) FROM embeddings)), 6) AS lift
       FROM (SELECT label_true,
                    ntile(10) OVER (ORDER BY score DESC, vec_id) AS decile
             FROM ({_probe_oracle()}) p) d
       GROUP BY decile ORDER BY decile"""


@query(
    "q189_probe_lift_curve",
    _lift_oracle(),
    tags=("extension", "evaluation", "lift", "classifier"),
)
def q189(spark: SparkSession, sf: str) -> DataFrame:
    """Decile lift / calibration curve over the q145 linear-probe scores —
    the model-evaluation head that turns a classifier into a curation
    decision ("keep the top-k score deciles"): rank all scored rows by
    score (ties broken by vec_id for a total order), split into 10
    ntile deciles, and report each decile's positive rate against the
    corpus base rate as lift. Composes the ENTIRE oracle-replayed q145
    fit+score pipeline as a subquery, so the curve is as value-checkable
    as the probe itself.

    Scale shape: everything up to scoring is q145's (per-iteration
    map-side gradient aggregates); the global ntile is the one
    full-order window — at 100 TB replace with percentile-grid decile
    edges (q136) and a broadcast range join, the standard trade. The
    gate corpus's embeddings are near-uniform noise, so lift hovers
    around 1.0 — the gate checks the CURVE arithmetic, not separability
    (q145's own posture)."""
    from .extensions import probe_scored

    emb = _t(spark, sf, "embeddings")
    # r13: read the maintained probe-score artifact (one fit per
    # session/corpus — see extensions.probe_scored) instead of replaying
    # the 9-job GD fit per evaluation head; the oracle replays the fit
    scored = probe_scored(spark, sf)
    base = emb.agg(
        (
            F.sum(F.when(F.col("label") < 5, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("base_rate")
    )
    win = Window.orderBy(F.col("score").desc(), "vec_id")
    d = scored.withColumn("decile", F.ntile(10).over(win))
    return (
        d.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label_true").cast("long").alias("n_pos"),
        )
        .crossJoin(F.broadcast(base))
        .select(
            "decile",
            "n",
            "n_pos",
            F.round(F.col("n_pos").cast("double") / F.col("n"), 6).alias("pos_rate"),
            F.round(
                (F.col("n_pos").cast("double") / F.col("n")) / F.col("base_rate"), 6
            ).alias("lift"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q190 — incremental JOIN-view maintenance (IVM for joins; q112 is the
# aggregate-view case)
# ---------------------------------------------------------------------------

_IVM_CUTOVER = "1996-01-01"  # stored view covers orders before; delta after


@query(
    "q190_incremental_join_view",
    """SELECT c.c_mktsegment, o.o_orderstatus,
              CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
              count(*) AS n_rows
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       GROUP BY 1, 2 ORDER BY c_mktsegment, o_orderstatus""",
    tags=("extension", "incremental", "ivm", "join-view"),
)
def q190(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the join-side counterpart
    of q112's aggregate-view IVM, the mechanism behind declarative
    pipeline engines: for an insert-only delta, the view delta is simply
    delta_orders JOIN customer (the algebraic derivative of the join), so
    a refresh touches only the new fact rows, never the already-enriched
    history. Here the "materialized" half is the pre-1996 enriched view
    (built once, localCheckpoint standing in for the stored table), the
    delta is everything after the cutover, and the maintained view is
    their union. The oracle recomputes the full join from scratch — a
    green row certifies the derivative-based refresh loses nothing.

    Output is the view's per-(segment, status) revenue rollup through the
    exact decimal path (compact, and what a gold view is consumed as).
    Scale shape: the delta branch is a broadcast join over only the new
    partition's rows — with date-partitioned facts the scan prunes to the
    delta partitions, which is the entire point of IVM at 100 TB."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    cut = F.to_date(F.lit(_IVM_CUTOVER))
    enrich_cols = ["c_mktsegment", "o_orderstatus", "o_totalprice"]
    stored = (
        o.where(F.col("o_orderdate") < cut)
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(*enrich_cols)
        .localCheckpoint()  # the previously-materialized view
    )
    delta_view = (
        o.where(F.col("o_orderdate") >= cut)
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(*enrich_cols)
    )
    maintained = stored.unionByName(delta_view)
    return (
        maintained.groupBy("c_mktsegment", "o_orderstatus")
        .agg(
            F.sum(F.col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("c_mktsegment", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# q191 — CUSUM changepoint detection on the daily event-volume series
# ---------------------------------------------------------------------------


def _daily_counts_vs_mean(spark, sf):
    """Daily event counts (day, n), each beside the mean count over all
    days (mean_n, a broadcast 1-row scalar) — the series q191 and q195
    both analyze."""
    ev = _t(spark, sf, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("n"))
    m = daily.agg((F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean_n"))
    return daily.crossJoin(F.broadcast(m))


@query(
    "q191_cusum_changepoint",
    """WITH daily AS (
         SELECT CAST(ts AS DATE) AS day, count(*) AS n
         FROM events GROUP BY 1),
       m AS (
         SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mean_n,
                count(*) AS n_days
         FROM daily),
       c AS (
         SELECT d.day, d.n,
                CAST(sum(CAST(round(d.n - m.mean_n, 6) AS DECIMAL(18,6)))
                     OVER (ORDER BY d.day) AS DOUBLE) AS cusum
         FROM daily d CROSS JOIN m)
       SELECT day AS change_day, n AS day_volume, cusum AS cusum_peak
       FROM c ORDER BY abs(cusum) DESC, day LIMIT 1""",
    tags=("extension", "detection", "changepoint", "cusum"),
)
def q191(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM changepoint detection on daily event volume — the classic
    level-shift detector (Page 1954): the cumulative sum of deviations
    from the global mean peaks in magnitude exactly at the day the series
    changes level, which is the monitoring signal behind "when did this
    source's volume regime change" (complements the distribution-drift
    heads q119/q122/q187 with a WHEN, not just a whether).

    Scale shape: the fact-sized work is one (day) hash-agg; the running
    sum is a window over the BOUNDED day dimension (~2.4k rows at any
    fact scale — the q171/q175 bounded-window argument), and the argmax
    is a LIMIT 1 with a |cusum| sort carrying the day tie-break. Counts
    are exact; each deviation is one deterministic double expression
    rounded to 6 and the running sum accumulates through an exact
    DECIMAL(18,6) window — order-independent, so the argmax cannot flip
    on an engine's window-accumulation strategy."""
    w = Window.orderBy("day")
    # each deviation rounds to 6 and accumulates through an exact decimal
    # window sum (the q175 discipline applied to the running sum) — a raw
    # double prefix sum would lean on both engines associating identically
    dev = F.round(F.col("n") - F.col("mean_n"), 6).cast(DecimalType(18, 6))
    c = _daily_counts_vs_mean(spark, sf).select(
        "day", "n", F.sum(dev).over(w).cast("double").alias("cusum")
    )
    return (
        c.orderBy(F.abs(F.col("cusum")).desc(), "day")
        .limit(1)
        .select(
            F.col("day").alias("change_day"),
            F.col("n").alias("day_volume"),
            F.col("cusum").alias("cusum_peak"),
        )
    )


# ---------------------------------------------------------------------------
# q192 — signup -> first-purchase conversion lag percentiles
# ---------------------------------------------------------------------------


@query(
    "q192_time_to_convert",
    """WITH s AS (
         SELECT user_id, min(ts) AS signup_ts
         FROM events WHERE event_type = 'signup' GROUP BY 1),
       p AS (
         SELECT e.user_id, min(e.ts) AS first_purchase_ts
         FROM events e JOIN s ON s.user_id = e.user_id
         WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
         GROUP BY 1),
       lag_h AS (
         SELECT s.user_id,
                CAST(date_diff('second', s.signup_ts, p.first_purchase_ts)
                     AS DOUBLE) / 3600.0 AS hours
         FROM s JOIN p USING (user_id))
       SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signups,
              CAST(count(*) AS BIGINT) AS n_converted,
              round(CAST(count(*) AS DOUBLE)
                    / (SELECT count(*) FROM s), 6) AS conversion_rate,
              round(quantile_cont(hours, 0.5), 4) AS p50_hours,
              round(quantile_cont(hours, 0.9), 4) AS p90_hours
       FROM lag_h""",
    tags=("extension", "product-analytics", "conversion", "percentile"),
)
def q192(spark: SparkSession, sf: str) -> DataFrame:
    """Time-to-convert: for every user whose first 'signup' is followed by
    a 'purchase', the lag from signup to FIRST subsequent purchase, with
    the overall conversion rate and exact interpolated P50/P90 lag hours —
    the activation metric q155's step-ordered funnel (did they convert)
    does not give (how LONG it took).

    Scale shape: two per-user min() hash-aggs (signup anchor, first
    qualifying purchase) and one join on user_id — no windows over raw
    events; the percentiles run over the converted-user lag relation (one
    row per converted user). The NTZ-safe lag uses unix-second
    subtraction (the SKILL gotcha: no long cast of NTZ), and the only
    float ops are the /3600 and the interpolation, both rounded."""
    ev = _t(spark, sf, "events")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    lag_h = (
        s.join(p, "user_id")
        .select(
            # timestampdiff on NTZ columns is timezone-free (wall-clock),
            # unlike unix_timestamp which reads the session timezone and
            # can be off by ±3600 s across a DST boundary (r4 advice).
            # DuckDB's date_diff('second', ...) counts second-BOUNDARY
            # crossings, so truncate both ends to the second first.
            (
                F.expr(
                    "timestampdiff(SECOND, date_trunc('second', signup_ts),"
                    " date_trunc('second', first_purchase_ts))"
                ).cast("double")
                / 3600.0
            ).alias("hours")
        )
    )
    n_signups = s.agg(F.count(F.lit(1)).cast("long").alias("n_signups"))
    agg = lag_h.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.percentile("hours", 0.5), 4).alias("p50_hours"),
        F.round(F.percentile("hours", 0.9), 4).alias("p90_hours"),
    )
    return agg.crossJoin(F.broadcast(n_signups)).select(
        "n_signups",
        "n_converted",
        F.round(F.col("n_converted").cast("double") / F.col("n_signups"), 6).alias(
            "conversion_rate"
        ),
        "p50_hours",
        "p90_hours",
    )


# ---------------------------------------------------------------------------
# q193 — kNN majority-vote classification over embeddings
# ---------------------------------------------------------------------------


def _knn_oracle() -> str:
    from .base import REGISTRY

    knn = REGISTRY["q39_embedding_topk"].oracle
    return f"""WITH knn AS ({knn}),
       votes AS (
         SELECT k.query_id, e.label, count(*) AS n_votes
         FROM knn k JOIN embeddings e ON e.vec_id = k.neighbor_id
         GROUP BY 1, 2),
       pick AS (
         SELECT query_id, label AS pred_label
         FROM (SELECT query_id, label,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY n_votes DESC, label) AS rn
               FROM votes)
         WHERE rn = 1)
       SELECT p.query_id,
              CAST(p.pred_label AS INTEGER) AS pred_label,
              CAST(t.label AS INTEGER) AS true_label,
              CAST(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END
                   AS INTEGER) AS correct
       FROM pick p JOIN embeddings t ON t.vec_id = p.query_id
       ORDER BY p.query_id"""


@query(
    "q193_knn_classify",
    _knn_oracle(),
    tags=("extension", "classification", "knn", "evaluation"),
)
def q193(spark: SparkSession, sf: str) -> DataFrame:
    """k-nearest-neighbor classification: each held-out query vector
    (the vec_id % 50 sample) is labeled by MAJORITY VOTE of its exact
    top-5 cosine neighbors' labels (ties broken toward the smaller
    label), scored against the true label per row — the non-parametric
    classifier head next to the trained probe (q145/q189): zero fit, the
    index IS the model, which is why kNN-over-ANN is the standard cheap
    baseline for data-labeling pipelines.

    Composes q39's gated exact top-k verbatim (same Spark body, same
    oracle CTE — the q189 composition pattern), so the neighbor relation
    is value-checked once and reused; the vote is a bounded count/argmax
    over 5 rows per query. At scale, swap the q39 baseline for the IVF-PQ
    stack (q125/q129) — the vote plumbing is identical; recall-vs-exact
    for that swap is exactly what q154 measures. The gate corpus is
    near-uniform noise, so accuracy hovers near the 1/|labels| floor —
    the gate checks the vote arithmetic, not separability (the q145
    posture)."""
    from .base import REGISTRY

    knn = REGISTRY["q39_embedding_topk"].fn(spark, sf)
    emb = _t(spark, sf, "embeddings").select("vec_id", "label")
    votes = (
        knn.join(emb, knn["neighbor_id"] == emb["vec_id"])
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), "label")
    pick = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"))
    )
    truth = _t(spark, sf, "embeddings").select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        pick.join(truth, "query_id")
        .select(
            "query_id",
            F.col("pred_label").cast("int").alias("pred_label"),
            F.col("true_label").cast("int").alias("true_label"),
            (F.col("pred_label") == F.col("true_label")).cast("int").alias("correct"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# q194 — linear multi-touch attribution (the q179 last-touch counterpart)
# ---------------------------------------------------------------------------


@query(
    "q194_multi_touch_attribution",
    """WITH p AS (
         SELECT event_id, user_id, ts, value FROM events
         WHERE event_type = 'purchase'),
       touch AS (
         SELECT p.event_id AS purchase_id, t.event_type AS touch_type
         FROM p JOIN events t
           ON t.user_id = p.user_id
          AND t.ts < p.ts
          AND t.ts >= p.ts - INTERVAL '30 minutes'),
       n AS (
         SELECT purchase_id, count(*) AS n_touches
         FROM touch GROUP BY 1),
       credit AS (
         SELECT t.touch_type AS attributed_type,
                CAST(round(1.0 / n.n_touches, 12) AS DECIMAL(38,18)) AS c
         FROM touch t JOIN n USING (purchase_id)
         UNION ALL
         SELECT 'direct', CAST(1 AS DECIMAL(38,18))
         FROM p WHERE NOT EXISTS
           (SELECT 1 FROM touch WHERE touch.purchase_id = p.event_id))
       SELECT attributed_type,
              round(CAST(sum(c) AS DOUBLE), 6) AS credit,
              count(*) AS n_touches
       FROM credit GROUP BY 1 ORDER BY attributed_type""",
    tags=("extension", "product-analytics", "attribution", "multi-touch"),
)
def q194(spark: SparkSession, sf: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits ONE unit of
    credit equally across ALL the user's events in the preceding
    30-minute window (purchases with no preceding touch credit 'direct')
    — the counterpart of q179's winner-takes-all last-touch, and the two
    disagreeing is precisely the attribution-model debate every growth
    team has. Total credit across channels equals the purchase count by
    construction (pinned in tests).

    Determinism: per-touch credit 1/n is one IEEE division rounded to 12
    decimals, summed through DECIMAL(38,18) — order-independent. Scale
    shape: the touch relation is a per-user interval self-join (equi on
    user_id + a time-band predicate — the q58/q160 band-join shape, NOT a
    cross join: the user_id equi-key shuffles once and the band filters
    within), then two bounded aggregates."""
    ev = _t(spark, sf, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    t = ev.select("user_id", F.col("event_type").alias("touch_type"), "ts")
    touch = p.join(
        t,
        (t["user_id"] == p["p_user"])
        & (t["ts"] < p["p_ts"])
        & (t["ts"] >= p["p_ts"] - F.expr("INTERVAL 30 MINUTES")),
    ).select("purchase_id", "touch_type")
    n = touch.groupBy("purchase_id").agg(F.count(F.lit(1)).alias("n_touches"))
    credited = touch.join(n, "purchase_id").select(
        F.col("touch_type").alias("attributed_type"),
        F.round(F.lit(1.0) / F.col("n_touches"), 12)
        .cast(DecimalType(38, 18))
        .alias("c"),
    )
    direct = (
        p.join(touch, "purchase_id", "left_anti")
        .select(
            F.lit("direct").alias("attributed_type"),
            F.lit(1).cast(DecimalType(38, 18)).alias("c"),
        )
    )
    return (
        credited.unionByName(direct)
        .groupBy("attributed_type")
        .agg(
            F.round(F.sum("c").cast("double"), 6).alias("credit"),
            F.count(F.lit(1)).alias("n_touches"),
        )
        .orderBy("attributed_type")
    )


# ---------------------------------------------------------------------------
# q195 — autocorrelation function of the daily volume series
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7


@query(
    "q195_daily_volume_acf",
    f"""WITH daily AS (
         SELECT CAST(ts AS DATE) AS day, count(*) AS n
         FROM events GROUP BY 1),
       m AS (
         SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mean_n FROM daily),
       dev AS (
         SELECT d.day, CAST(round(d.n - m.mean_n, 6) AS DECIMAL(18,6)) AS dv
         FROM daily d CROSS JOIN m),
       den AS (
         SELECT sum(CAST(dv AS DECIMAL(38,12)) * dv) AS s0 FROM dev),
       lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag),
       num AS (
         SELECT l.lag,
                sum(CAST(a.dv AS DECIMAL(38,12)) * b.dv) AS sk,
                count(*) AS n_pairs
         FROM lags l
         JOIN dev a ON TRUE
         JOIN dev b ON b.day = a.day + CAST(l.lag AS INTEGER)
         GROUP BY 1)
       SELECT CAST(num.lag AS INTEGER) AS lag,
              CAST(num.n_pairs AS BIGINT) AS n_pairs,
              round(CAST(num.sk AS DOUBLE) / CAST(den.s0 AS DOUBLE), 6) AS acf
       FROM num CROSS JOIN den
       ORDER BY lag""",
    tags=("extension", "statistics", "time-series", "acf"),
)
def q195(spark: SparkSession, sf: str) -> DataFrame:
    """Autocorrelation function of daily event volume at lags 1..7 — the
    time-series diagnostic that makes weekly seasonality VISIBLE as a
    number (a lag-7 peak) where q42's hourly rollup only tabulates it,
    completing the series toolkit next to CUSUM (q191, level shifts) and
    the drift heads (distribution change). Standard biased-denominator
    ACF: r_k = sum(dv_t * dv_{t+k}) / sum(dv_t^2) over mean-centered
    daily counts.

    Determinism: deviations round to 6 and become exact decimals, so
    every numerator/denominator is an exact decimal product-sum
    (order-independent); one double division per lag, rounded. Scale
    shape: the fact-sized work is one (day) hash-agg; the lag join and
    both sums run over the BOUNDED day dimension (~2.4k rows x 7 lags) —
    the q171/q175/q191 bounded-window argument."""
    dev = _daily_counts_vs_mean(spark, sf).select(
        "day", F.round(F.col("n") - F.col("mean_n"), 6).cast(DecimalType(18, 6)).alias("dv")
    ).localCheckpoint()  # three consumers: denominator + both join legs
    den = dev.agg(
        F.sum(F.col("dv").cast(DecimalType(38, 12)) * F.col("dv")).alias("s0")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    a = dev.select(F.col("day").alias("day_a"), F.col("dv").alias("dv_a"))
    b = dev.select(F.col("day").alias("day_b"), F.col("dv").alias("dv_b"))
    num = (
        F.broadcast(lags)
        .join(a)
        .join(b, F.col("day_b") == F.expr("date_add(day_a, lag)"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("dv_a").cast(DecimalType(38, 12)) * F.col("dv_b")).alias("sk"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("int").alias("lag"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round(F.col("sk").cast("double") / F.col("s0").cast("double"), 6).alias(
                "acf"
            ),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# q196 — Benford first-digit conformance of order totals
# ---------------------------------------------------------------------------


@query(
    "q196_benford_digits",
    """WITH d AS (
         SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                     AS INTEGER) AS digit
         FROM orders WHERE o_totalprice >= 1),
       o AS (
         SELECT digit, count(*) AS n FROM d GROUP BY 1),
       t AS (SELECT sum(n) AS total FROM o)
       SELECT o.digit,
              CAST(o.n AS BIGINT) AS n,
              round(CAST(o.n AS DOUBLE) / t.total, 6) AS observed_p,
              round(log10(1.0 + 1.0 / o.digit), 6) AS benford_p,
              CAST(round(CAST(round(
                    power(o.n - t.total * log10(1.0 + 1.0 / o.digit), 2)
                      / (t.total * log10(1.0 + 1.0 / o.digit)), 12)
                    AS DECIMAL(38,18)), 6) AS DOUBLE) AS chi2_term
       FROM o CROSS JOIN t
       ORDER BY digit""",
    tags=("extension", "statistics", "benford", "fraud"),
)
def q196(spark: SparkSession, sf: str) -> DataFrame:
    """Benford's-law first-digit conformance of order totals — the
    classic forensic-accounting screen (fabricated amounts rarely follow
    log10(1 + 1/d)): observed first-digit frequencies against the Benford
    expectation with the per-digit chi-square contribution, so an analyst
    reads both the distribution and which digits drive any deviation.
    (Synthetic uniform-ish prices are EXPECTED to flunk Benford — the
    gate checks the test arithmetic; the test exists for real ledgers.)

    Determinism: the first digit comes from the integer part's string
    rendering (cross-engine identical for BIGINT), counts are exact, and
    each chi-square term is one fixed double expression rounded to 12
    then carried as decimal (the q175 discipline). Scale shape: one
    hash-agg to 9 digit rows, everything after is bounded."""
    o = _t(spark, sf, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("int")
    d = o.where(F.col("o_totalprice") >= 1).select(digit.alias("digit"))
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = obs.agg(F.sum("n").alias("total"))
    ben = F.log10(1.0 + 1.0 / F.col("digit"))
    e = F.col("total") * ben
    return (
        obs.crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("observed_p"),
            F.round(ben, 6).alias("benford_p"),
            F.round(
                F.round(F.pow(F.col("n") - e, 2) / e, 12).cast(DecimalType(38, 18)), 6
            )
            .cast("double")
            .alias("chi2_term"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# q197 — stratified k-fold assignment (deterministic CV splits)
# ---------------------------------------------------------------------------

_KFOLD = 5


@query(
    "q197_stratified_kfold",
    f"""WITH r AS (
         SELECT vec_id, label,
                row_number() OVER (
                  PARTITION BY label
                  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                                AS BIGINT), vec_id) AS rn
         FROM embeddings),
       f AS (
         SELECT label, CAST((rn - 1) % {_KFOLD} AS INTEGER) AS fold, count(*) AS n
         FROM r GROUP BY 1, 2)
       SELECT label, fold, CAST(n AS BIGINT) AS n
       FROM f ORDER BY label, fold""",
    tags=("extension", "training", "cross-validation", "split"),
)
def q197(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified k-fold assignment for cross-validation: within each
    label stratum, rows are ordered by their 60-bit hash (a deterministic
    'random' order — the q165 sampling trick) and dealt round-robin into
    k=5 folds, so every fold carries each label in proportion |stratum|/k
    +- 1 — the guarantee plain hash-mod splits (q71) lack when a label is
    rare, and the reason sklearn's StratifiedKFold exists. Output is the
    (label, fold) census; balance is pinned in tests.

    Scale shape: one rank window partitioned by label (the stratum
    dimension bounds partition count; within-stratum sort is Spark's
    standard window path), one hash-agg. Assignment of individual rows is
    the same relation before the census agg — a caller joins it back by
    (vec_id)."""
    emb = _t(spark, sf, "embeddings")
    w = Window.partitionBy("label").orderBy(h60("vec_id"), "vec_id")
    r = emb.select("vec_id", "label", F.row_number().over(w).alias("rn"))
    return (
        r.select("label", ((F.col("rn") - 1) % _KFOLD).cast("int").alias("fold"))
        .groupBy("label", "fold")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("label", "fold")
    )


# ---------------------------------------------------------------------------
# q198 — information gain of a categorical feature (decision-tree split score)
# ---------------------------------------------------------------------------


@query(
    "q198_information_gain",
    """WITH cells AS (
         SELECT o_orderpriority AS feat, o_orderstatus AS cls, count(*) AS n
         FROM orders GROUP BY 1, 2),
       tot AS (SELECT sum(n) AS total FROM cells),
       h_cls AS (
         SELECT CAST(sum(CAST(round(
                  -(CAST(cn AS DOUBLE) / total) * ln(CAST(cn AS DOUBLE) / total), 12)
                AS DECIMAL(38,18))) AS DOUBLE) AS h
         FROM (SELECT cls, sum(n) AS cn FROM cells GROUP BY 1) c CROSS JOIN tot),
       h_cond AS (
         SELECT CAST(sum(CAST(round(
                  (CAST(fn AS DOUBLE) / total)
                  * (-(CAST(n AS DOUBLE) / fn) * ln(CAST(n AS DOUBLE) / fn)), 12)
                AS DECIMAL(38,18))) AS DOUBLE) AS h
         FROM cells
         JOIN (SELECT feat, sum(n) AS fn FROM cells GROUP BY 1) f USING (feat)
         CROSS JOIN tot)
       SELECT round(h_cls.h, 6) AS class_entropy,
              round(h_cond.h, 6) AS conditional_entropy,
              round(h_cls.h - h_cond.h, 6) AS information_gain
       FROM h_cls CROSS JOIN h_cond""",
    tags=("extension", "statistics", "entropy", "information-gain"),
)
def q198(spark: SparkSession, sf: str) -> DataFrame:
    """Information gain of order priority with respect to order status —
    the decision-tree split-scoring primitive (ID3/C4.5) and the
    feature-selection measure chi-square (q175) complements with an
    information-theoretic one: IG = H(class) - H(class | feature), both
    entropies in nats from exact counts.

    Determinism: every probability is a ratio of exact integers; each
    -p*ln(p) term rounds to 12 decimals and sums through DECIMAL(38,18)
    (the q175 discipline), so the entropies are order-independent and one
    subtraction apart cross-engine. Scale shape: the only fact-sized work
    is the (feature, class) cell hash-agg; everything downstream runs
    over the bounded 5x3 contingency relation."""
    o = _t(spark, sf, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("feat"), F.col("o_orderstatus").alias("cls")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").alias("total"))
    cls_tot = cells.groupBy("cls").agg(F.sum("n").alias("cn"))
    p_c = F.col("cn").cast("double") / F.col("total")
    h_cls = (
        cls_tot.crossJoin(F.broadcast(tot))
        .select(F.round(-p_c * F.log(p_c), 12).cast(DecimalType(38, 18)).alias("t"))
        .agg(F.sum("t").cast("double").alias("h_cls"))
    )
    feat_tot = cells.groupBy("feat").agg(F.sum("n").alias("fn"))
    p_cf = F.col("n").cast("double") / F.col("fn")
    w_f = F.col("fn").cast("double") / F.col("total")
    h_cond = (
        cells.join(F.broadcast(feat_tot), "feat")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(w_f * (-p_cf * F.log(p_cf)), 12)
            .cast(DecimalType(38, 18))
            .alias("t")
        )
        .agg(F.sum("t").cast("double").alias("h_cond"))
    )
    return h_cls.crossJoin(F.broadcast(h_cond)).select(
        F.round(F.col("h_cls"), 6).alias("class_entropy"),
        F.round(F.col("h_cond"), 6).alias("conditional_entropy"),
        F.round(F.col("h_cls") - F.col("h_cond"), 6).alias("information_gain"),
    )


# --------------------------------------------------------------------------
# q200 — cross-source shingle-overlap matrix (corpus forensics)
# --------------------------------------------------------------------------

@query(
    "q200_source_overlap",
    f"""WITH d AS (
         SELECT source, string_split({NORMALIZED_TEXT_SQL}, ' ') AS ts
         FROM documents),
       sh AS (
         SELECT DISTINCT source,
                unnest(list_transform(range(1, len(ts) - 1),
                       i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS shingle
         FROM d WHERE len(ts) >= 3),
       sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
       inter AS (
         SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
         GROUP BY 1, 2)
       SELECT i.source_a, i.source_b, CAST(i.n_shared AS BIGINT) AS n_shared,
              CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
              round(i.n_shared / (sa.n + sb.n - i.n_shared), 6) AS jaccard
       FROM inter i
       JOIN sizes sa ON i.source_a = sa.source
       JOIN sizes sb ON i.source_b = sb.source
       ORDER BY source_a, source_b""",
    tags=("forensics", "dedup", "source", "jaccard"),
)
def q200(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source content-overlap matrix: per SOURCE pair, how many
    distinct normalized 3-word shingles the two sources share, and the
    set-level Jaccard — the corpus-forensics view behind mixture decisions
    (two crawls of the same site, a mirrored dump, benchmark bleed between
    sources) that doc-pair dedup (q37/q163) and doc-level contamination
    (q76) don't aggregate.

    Scale shape: the DISTINCT (source, shingle) projection first — after
    it, a shingle's fan-out in the self-join is bounded by |sources| (not
    document frequency), so even a boilerplate shingle appearing in every
    document contributes at most C(|sources|, 2) pairs: the hot-shingle
    quadratic that killed q36 is structurally impossible here. Join keyed
    on the shingle; per-pair counts are map-side-combinable partial sums;
    output is |sources|^2-bounded (metadata-scale)."""
    d = _t(spark, sf, "documents").select(
        "source", F.split(normalized_text("text"), " ").alias("ts")
    )
    sh = (
        d.where(F.size("ts") >= 3)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 2), "
                    "i -> concat_ws(' ', slice(ts, i, 3)))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )
