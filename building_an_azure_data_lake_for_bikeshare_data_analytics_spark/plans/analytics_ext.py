"""Extended analytics surface: event-stream analytics (window functions,
sessionization, pivot, JSON), distinct/approx-distinct, semantic dedup over
embeddings, and TPC-H-style multi-aggregate showpieces.

These widen the engine beyond the reference's operator set (SURVEY.md §2.6
lists windows/set-ops/distinct/JSON as absent) into the standard analytics
vocabulary a replacement engine needs, each with a DuckDB oracle unless the
semantics are engine-hash-specific.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.agg import EXACT_AVG_SQL, EXACT_SUM_SQL, exact_avg, exact_sum
from ..functions.hashing import h60
from .base import _t, _ts, query


@query(
    "q42_hourly_event_stats",
    f"""SELECT date_trunc('hour', ts) AS hour_id,
               count(*) AS n_events,
               {EXACT_SUM_SQL.format(c='value')} AS value_sum
        FROM events GROUP BY 1 ORDER BY n_events DESC, hour_id LIMIT 20""",
    tags=("extension", "F2", "A3"),
)
def q42(spark, sf):
    """Hourly event rollup — date_trunc FK pattern (F2, ipynb:L1081) over the
    events table."""
    ev = _t(spark, sf, "events").withColumn("hour_id", F.date_trunc("hour", "ts"))
    return (
        ev.groupBy("hour_id")
        .agg(F.count(F.lit(1)).alias("n_events"), exact_sum("value", "value_sum"))
        .orderBy(F.desc("n_events"), F.asc("hour_id"))
        .limit(20)
    )


# q43's oracle is shared with its BLAS twin q65 — defined once in
# plans/extensions.py (imported before this module by the registry).
from .extensions import _EMB_DUP_PAIRS_ORACLE  # noqa: E402

@query(
    "q43_embedding_dup_pairs",
    _EMB_DUP_PAIRS_ORACLE,
    tags=("dedup", "embedding", "semantic"),
)
def q43(spark, sf):
    """Semantic (embedding-cosine) near-dup pairs, blocked by label.

    Blocking on the cluster label turns the O(n²) all-pairs scan into
    per-block pair enumeration — the standard scale pattern (block via
    KMeans/LSH, verify within block). Join is a label equi-join; cosine in
    sequential-fold double, threshold 0.45."""
    from ..functions.vectors import dot, norm

    # _ts (r12): per-row norm/cosine folds — fan the scan out
    e = _ts(spark, sf, "embeddings", fan=True).select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    a = e.select(
        F.col("label"),
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("label"),
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, on="label").where(F.col("vec_a") < F.col("vec_b"))
    cos = F.round(dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4)
    return pairs.select("vec_a", "vec_b", cos.alias("cos")).where(F.col("cos") >= 0.45)


@query(
    "q44_top_tokens",
    r"""SELECT tok, count(*) AS n
        FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents)
        GROUP BY 1 ORDER BY n DESC, tok LIMIT 50""",
    tags=("text", "F9", "vocab"),
)
def q44(spark, sf):
    """Corpus vocabulary: explode tokens -> count -> top 50. The map-side
    partial agg absorbs the token explosion before the shuffle."""
    from ..functions.text import tokens

    d = _t(spark, sf, "documents").select(F.explode(tokens("text")).alias("tok"))
    return d.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).orderBy(F.desc("n"), F.asc("tok")).limit(50)


@query(
    "q45_distinct_users_by_type",
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
       FROM events GROUP BY 1 ORDER BY event_type""",
    tags=("extension", "distinct-agg"),
)
def q45(spark, sf):
    """Exact distinct aggregation (Spark plans expand+two-phase agg)."""
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@query("q46_approx_distinct_users", None, tags=("extension", "approx", "rows-only"))
def q46(spark, sf):
    """HyperLogLog++ approximate distinct — the 100 TB path where exact
    distinct's expand-shuffle is unaffordable. Sketch values are
    engine-specific => rows-only check (exact twin is q45)."""
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"))
        .orderBy("event_type")
    )


@query(
    "q47_user_running_value",
    """SELECT user_id, event_id,
              sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_value
       FROM events WHERE user_id < 8""",
    tags=("extension", "window", "running"),
)
def q47(spark, sf):
    """Running per-user totals — ordered window frame; deterministic because
    both engines fold the identical prefix sequentially."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        _t(spark, sf, "events")
        .where(F.col("user_id") < 8)
        .select("user_id", "event_id", F.sum("value").over(w).alias("running_value"))
    )


@query(
    "q48_sessionize",
    """WITH g AS (
         SELECT user_id, ts, event_id,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          > INTERVAL 30 MINUTE OR
                          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS is_new
         FROM events),
       s AS (
         SELECT user_id, ts, event_id,
                sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM g)
       SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
              count(*) AS n_events,
              min(ts) AS session_start, max(ts) AS session_end
       FROM s GROUP BY 1, 2""",
    tags=("extension", "window", "session"),
)
def q48(spark, sf):
    """Gap-based sessionization (30-min inactivity): lag -> new-session flag
    -> running sum as session id -> per-session rollup. The batch equivalent
    of the streaming stateful operator; two window passes + one hash agg,
    all partitioned by user_id (one shuffle key throughout — the partitioning
    is reused across both windows and the final groupBy)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev = _t(spark, sf, "events").select("user_id", "ts", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            # interval comparison works for both TIMESTAMP and TIMESTAMP_NTZ
            # (Spark 4 reads the nanos-parquet ts as NTZ and forbids a direct
            # bigint cast) and matches the oracle's `> INTERVAL 30 MINUTE`
            # at full sub-second precision, unlike an epoch-seconds diff.
            | (F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES")),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("is_new").over(wrun))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


_TYPES = ("click", "error", "purchase", "signup", "view")

@query(
    "q49_event_type_pivot",
    f"""SELECT user_id,
               {', '.join(f"count(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in _TYPES)}
        FROM events GROUP BY 1""",
    tags=("extension", "pivot"),
)
def q49(spark, sf):
    """Pivot event counts to one column per type. Spark's pivot needs the
    value list up front at scale (skipping the distinct-discovery job)."""
    return (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .pivot("event_type", list(_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(_TYPES))
    )


@query(
    "q50_props_json_extract",
    f"""SELECT event_type,
               {EXACT_AVG_SQL.format(c="CAST(json_extract_string(props, '$.k') AS INTEGER)")} AS k_avg,
               max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_max
        FROM events GROUP BY 1 ORDER BY event_type""",
    tags=("extension", "json"),
)
def q50(spark, sf):
    """Semi-structured extraction: JSON props column -> typed field -> agg.
    get_json_object is JVM-side (Jackson), no Python in the path."""
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        _t(spark, sf, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(exact_avg("k", "k_avg"), F.max("k").alias("k_max"))
        .orderBy("event_type")
    )


_SUM4 = "CAST(sum(CAST({c} AS DECIMAL(18,4))) AS DOUBLE)"

@query(
    "q51_pricing_summary",
    f"""SELECT l_returnflag, l_linestatus,
               {EXACT_SUM_SQL.format(c='l_quantity')} AS sum_qty,
               {EXACT_SUM_SQL.format(c='l_extendedprice')} AS sum_base_price,
               {_SUM4.format(c='l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {EXACT_AVG_SQL.format(c='l_quantity')} AS avg_qty,
               {EXACT_AVG_SQL.format(c='l_discount')} AS avg_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
        GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""",
    tags=("extension", "tpch", "multi-agg"),
)
def q51(spark, sf):
    """TPC-H Q1-shaped pricing summary: the classic wide multi-aggregate
    scan — predicate pushed to parquet, 6 aggregates in one partial+final
    hash agg pass, no joins."""
    li = _t(spark, sf, "lineitem").where(F.col("l_shipdate") <= F.lit("2001-06-01").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity", "sum_qty"),
            exact_sum("l_extendedprice", "sum_base_price"),
            exact_sum(disc_price, "sum_disc_price", scale=4),
            exact_avg("l_quantity", "avg_qty"),
            exact_avg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q52_segment_shipping",
    f"""SELECT l_orderkey,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               o_orderdate
        FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY 1, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    tags=("extension", "tpch", "3way-join"),
)
def q52(spark, sf):
    """TPC-H Q3-shaped: selective dim filter -> 3-way star join -> grouped
    revenue -> top-k. Customer/orders broadcast against the lineitem fact;
    TakeOrderedAndProject for the top 10."""
    cust = _t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = (
        _t(spark, sf, "orders")
        .where(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf, "lineitem").select(
        F.col("l_orderkey"), (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    j = li.join(
        F.broadcast(orders.join(F.broadcast(cust), "c_custkey")),
        li.l_orderkey == F.col("o_orderkey"),
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate")
        .agg(exact_sum("rev", "revenue", scale=4))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@query(
    "q59_member_users_with_events",
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       INTERSECT SELECT user_id FROM events""",
    tags=("extension", "setop", "intersect"),
)
def q59(spark, sf):
    """INTERSECT (set-op family): member customers that also have event
    activity; Catalyst plans a left-semi hash join after dedup."""
    cust = (
        _t(spark, sf, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    ev = _t(spark, sf, "events").select(F.col("user_id").alias("c_custkey"))
    return cust.intersect(ev)


@query(
    "q60_order_counts_left_outer",
    """SELECT c_custkey, count(o_orderkey) AS n_orders
       FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       GROUP BY 1""",
    tags=("extension", "outer-join"),
)
def q60(spark, sf):
    """LEFT OUTER join (absent from the reference): customers keep a row
    even with zero orders — count(o_orderkey) skips the null, yielding 0."""
    cust = _t(spark, sf, "customer").select("c_custkey")
    orders = _t(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"), "o_orderkey")
    return cust.join(orders, "c_custkey", "left").groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_orders")
    )


@query(
    "q61_customers_with_events_semi",
    """SELECT c_custkey, c_mktsegment FROM customer c
       WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)""",
    tags=("extension", "semi-join"),
)
def q61(spark, sf):
    """LEFT SEMI join: existence filter without row multiplication — the
    right-side build is just the distinct key set (EXISTS subquery oracle)."""
    cust = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    ev = _t(spark, sf, "events").select(F.col("user_id").alias("c_custkey"))
    return cust.join(ev, "c_custkey", "left_semi")


@query(
    "q67_value_percentiles",
    """SELECT event_type,
              quantile_cont(value, 0.5) AS p50,
              quantile_cont(value, 0.9) AS p90,
              quantile_cont(value, 0.99) AS p99
       FROM events GROUP BY 1 ORDER BY event_type""",
    tags=("extension", "percentile"),
)
def q67(spark, sf):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    PERCENTILE_CONT semantics; DuckDB quantile_cont oracle). The exact
    variant sorts per group — at 100 TB use approx_percentile (t-digest)
    instead; this is the correctness anchor for it."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.percentile("value", 0.5).alias("p50"),
            F.percentile("value", 0.9).alias("p90"),
            F.percentile("value", 0.99).alias("p99"),
        )
        .orderBy("event_type")
    )


@query(
    "q68_status_priority_cube",
    f"""SELECT o_orderstatus, o_orderpriority,
               {EXACT_SUM_SQL.format(c='o_totalprice')} AS sum_price,
               count(*) AS n_orders
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    tags=("extension", "cube"),
)
def q68(spark, sf):
    """CUBE grouping sets (all 4 combinations) — completes the grouping-set
    family next to q30's ROLLUP; same expand-then-aggregate plan."""
    return _t(spark, sf, "orders").cube("o_orderstatus", "o_orderpriority").agg(
        exact_sum("o_totalprice", "sum_price"), F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "q70_event_neighbors",
    """SELECT user_id, event_id,
              lag(event_id)  OVER w AS prev_event,
              lead(event_id) OVER w AS next_event,
              first_value(event_id) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS first_event,
              CAST(round(value - lag(value) OVER w, 4) AS DOUBLE) AS value_delta
       FROM events WHERE user_id < 5
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    tags=("extension", "window", "lag-lead"),
)
def q70(spark, sf):
    """Navigation window functions (lag/lead/first_value + delta) — the
    remaining analytic-function family. One shuffle on user_id shared by
    every window (same partitioning + ordering)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        _t(spark, sf, "events")
        .where(F.col("user_id") < 5)
        .select(
            "user_id", "event_id",
            F.lag("event_id").over(w).alias("prev_event"),
            F.lead("event_id").over(w).alias("next_event"),
            F.first("event_id").over(wrun).alias("first_event"),
            F.round(F.col("value") - F.lag("value").over(w), 4).cast("double").alias("value_delta"),
        )
    )


@query(
    "q126_event_gap_seconds",
    """WITH l AS (
         SELECT user_id, event_id, ts,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         FROM events)
       SELECT user_id, event_id,
              CAST(floor(date_part('epoch', ts))
                   - floor(date_part('epoch', prev_ts)) AS BIGINT) AS gap_secs
       FROM l WHERE prev_ts IS NOT NULL""",
    tags=("extension", "F1", "window"),
)
def q126(spark, sf):
    """Timestamp subtraction -> whole seconds (F1, ipynb:L1080
    ``(ended_at - started_at).cast('long')``) as a gate query: each event's
    gap to the user's previous event, via functions.derive.duration_seconds
    (unix_timestamp subtraction — the stable Spark-4 path for the NTZ ts;
    a direct long cast of the interval is version-dependent and illegal on
    NTZ under ANSI). One shuffle on user_id for the lag window; the derived
    column itself is map-side codegen."""
    from ..functions.derive import duration_seconds

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _t(spark, sf, "events").select("user_id", "event_id", "ts")
    d = ev.withColumn("prev_ts", F.lag("ts").over(w)).where(F.col("prev_ts").isNotNull())
    return d.select(
        "user_id", "event_id", duration_seconds("prev_ts", "ts").alias("gap_secs")
    )


@query(
    "q127_order_age_years",
    """SELECT o_orderkey,
              CAST(trunc(datediff('day', CAST(o_orderdate AS DATE),
                                  DATE '2002-12-31') / 365.0) AS INTEGER)
                  AS age_years
       FROM orders""",
    tags=("extension", "F3", "derive"),
)
def q127(spark, sf):
    """datediff/365 whole-year ages (F3, ipynb:L1084 ``age_at_account_start``,
    L1094 ``age_at_ride_time``) as a gate query: each order's age in whole
    years at a fixed 2002-12-31 snapshot, via functions.derive.age_years —
    the reference's (slightly lossy) truncating formula reproduced verbatim.
    Map-only projection; the oracle uses trunc() because DuckDB's
    double->int cast rounds where Spark's truncates."""
    from ..functions.derive import age_years

    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    return o.select(
        "o_orderkey",
        age_years("o_orderdate", "to_date('2002-12-31')").alias("age_years"),
    )


_KMV_K = 64  # default sketch size for the gate query (q134)
_KMV_SPACE = float(1 << 60)  # hash space size; 63 * 2^60 is exact in double


def kmv_oracle(k: int = _KMV_K) -> str:
    """DuckDB oracle for the KMV sketch at any k — replays the sketch
    value-for-value (same md5-derived 60-bit hashes, same k-smallest, same
    single IEEE division)."""
    return f"""WITH h AS (
         SELECT DISTINCT event_type,
                CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         FROM events),
       r AS (
         SELECT event_type, h,
                row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         FROM h),
       k AS (
         SELECT event_type,
                count(*) AS m,
                max(h) AS xk
         FROM r WHERE rn <= {k} GROUP BY event_type)
       SELECT event_type,
              CAST(m AS INTEGER) AS n_retained,
              xk AS kth_hash,
              CASE WHEN m < {k} THEN CAST(m AS DOUBLE)
                   ELSE round({k - 1} * {_KMV_SPACE} / CAST(xk AS DOUBLE), 4)
              END AS kmv_estimate
       FROM k ORDER BY event_type"""


def kmv_distinct_users(spark, sf, k: int = _KMV_K):
    """The KMV sketch body at a caller-chosen k (r3 verdict item 5: k was
    hard-coded at 64). Error ~ 1/sqrt(k-1): 13% at k=64, 6.3% at 256,
    3.1% at 1024 — the property tests pin the measured curve at stress
    scale (tests/test_properties.py). Plan shape is k-independent: the
    rank window plans a map-side WindowGroupLimit partial top-k, so ~k
    rows per group ride the final exchange whatever k is."""
    ev = _t(spark, sf, "events")
    h = h60("user_id")
    d = ev.select("event_type", h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    topk = d.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    agg = topk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("int").alias("n_retained"),
        F.max("h").alias("kth_hash"),
    )
    est = F.when(
        F.col("n_retained") < k, F.col("n_retained").cast("double")
    ).otherwise(
        F.round(F.lit(float(k - 1)) * F.lit(_KMV_SPACE) / F.col("kth_hash").cast("double"), 4)
    )
    return agg.select(
        "event_type", "n_retained", "kth_hash", est.alias("kmv_estimate")
    ).orderBy("event_type")


@query(
    "q134_kmv_distinct_users",
    kmv_oracle(_KMV_K),
    tags=("extension", "sketch", "distinct", "kmv"),
)
def q134(spark, sf):
    """Approximate distinct count that is VALUE-CHECKABLE cross-engine —
    the deterministic alternative to q46's HLL (whose register layout is
    engine-private, forcing a rows-only gate row). K-minimum-values
    (Bar-Yossef et al.): per group keep the k=64 smallest 60-bit md5
    hashes of the distinct keys; estimate = (k-1) * |space| / x_k. Every
    retained hash is an exact integer both engines compute identically;
    the only float op is one IEEE division (and the deterministic
    int->double cast of x_k), so the gate checks the SKETCH itself
    value-for-value, not just row counts.

    Scale shape: distinct (type, hash) is one hash-agg; the per-group
    k-smallest is a rank window with WindowGroupLimit pushdown (map-side
    partial top-k), so only ~k rows per group reach the final exchange —
    the same partial-top-k shape as TakeOrderedAndProject, per group.
    Accuracy ~ 1/sqrt(k-1) ≈ 13% relative at the default k=64; k is a
    parameter of ``kmv_distinct_users`` (r4) and the measured error curve
    at k ∈ {64, 256, 1024} is pinned at stress scale in
    tests/test_properties.py."""
    return kmv_distinct_users(spark, sf, _KMV_K)


# --------------------------------------------------------------------------
# q136 — fixed-grid histogram quantiles: the value-checkable approximate
# percentile (retires q81's engine-private Greenwald-Khanna sketch from the
# gate the same way q134 retired q46's HLL; exact twin stays q67)
# --------------------------------------------------------------------------

_HQ_B = 256  # histogram buckets; error bound = (max-min)/B per group


def _hq_est_sql(q: float) -> str:
    """One quantile's SELECT expression over the cumulated histogram CTE."""
    rank = f"CAST(ceil({q} * n) AS BIGINT)"
    est = (
        f"CASE WHEN mx = mn THEN mn "
        f"ELSE mn + ((mx - mn) / {_HQ_B}.0) * (bucket + ({rank} - cb) / CAST(cnt AS DOUBLE)) END"
    )
    return f"max(CASE WHEN cum >= {rank} AND cb < {rank} THEN round({est}, 6) END)"


@query(
    "q136_histogram_quantiles",
    f"""WITH s AS (
         SELECT event_type, min(value) AS mn, max(value) AS mx, count(*) AS n
         FROM events GROUP BY 1),
       b AS (
         SELECT e.event_type, s.mn, s.mx, s.n,
                CASE WHEN s.mx = s.mn THEN 0
                     ELSE CAST(least(floor((e.value - s.mn) / ((s.mx - s.mn) / {_HQ_B}.0)),
                               {_HQ_B - 1}) AS INTEGER)
                END AS bucket
         FROM events e JOIN s USING (event_type)),
       h AS (
         SELECT event_type, mn, mx, n, bucket, count(*) AS cnt
         FROM b GROUP BY event_type, mn, mx, n, bucket),
       c AS (
         SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
         FROM h),
       c2 AS (SELECT *, cum - cnt AS cb FROM c)
       SELECT event_type,
              {_hq_est_sql(0.5)} AS p50_hist,
              {_hq_est_sql(0.9)} AS p90_hist,
              {_hq_est_sql(0.99)} AS p99_hist
       FROM c2 GROUP BY event_type ORDER BY event_type""",
    tags=("extension", "sketch", "percentile", "histogram"),
)
def q136(spark, sf):
    """Approximate per-group percentiles that are VALUE-CHECKABLE
    cross-engine — the deterministic alternative to q81's percentile_approx
    (whose Greenwald-Khanna sketch state is engine-private, forcing a
    rows-only row; r3 verdict item 4). Fixed-grid histogram: per group,
    min/max/count in one agg, 256 equal-width buckets counted in a second,
    quantile = linear interpolation inside the first bucket whose
    cumulative count reaches ceil(q*n). Every count is an exact int64 and
    the estimate is a short, identical IEEE expression in both engines
    (rounded to 6 dp), so the gate checks the estimator itself.

    Error bound is structural — (max-min)/256 per group, vs q67's exact
    per-group sort (the twin-accuracy test pins estimates within one
    bucket width of q67's exact values). Scale shape: two
    partial+final hash aggs over the fact table (min/max/count, then
    bucket counts — the stats join back via broadcast, never shuffling
    the facts), a <= 256-rows-per-group cumsum window, and a final tiny
    agg — no per-group sort of raw values anywhere, which is exactly why
    histograms beat exact percentiles at 100 TB."""
    ev = _t(spark, sf, "events").select("event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(float(_HQ_B))
    bucket = (
        F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("mn")) / width),
                F.lit(_HQ_B - 1).cast("long"),
            )
        )
        .cast("int")
    )
    hist = (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_type", "mn", "mx", "n", bucket.alias("bucket"))
        .groupBy("event_type", "mn", "mx", "n", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    c = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "cb", F.col("cum") - F.col("cnt")
    )

    def est(q: float):
        rank = F.ceil(F.lit(q) * F.col("n"))
        e = F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
            F.col("mn")
            + width * (F.col("bucket") + (rank - F.col("cb")) / F.col("cnt").cast("double"))
        )
        cond = (F.col("cum") >= rank) & (F.col("cb") < rank)
        return F.max(F.when(cond, F.round(e, 6)))

    return (
        c.groupBy("event_type")
        .agg(
            est(0.5).alias("p50_hist"),
            est(0.9).alias("p90_hist"),
            est(0.99).alias("p99_hist"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q155/q156 — product-analytics staples: ordered funnel, retention cohorts
# --------------------------------------------------------------------------

def _first_after_sql(etype: str, prev: str) -> str:
    """CTE body: per user, the FIRST ``etype`` event strictly after the
    (ts, event_id) anchor carried by relation ``prev`` — lexicographic
    tie-break on event_id so equal timestamps order identically in both
    engines."""
    return f"""
      SELECT user_id, ts, event_id
      FROM (SELECT e.user_id, e.ts, e.event_id,
                   row_number() OVER (PARTITION BY e.user_id
                                      ORDER BY e.ts, e.event_id) AS rn
            FROM events e JOIN {prev} p ON e.user_id = p.user_id
            WHERE e.event_type = '{etype}'
              AND (e.ts > p.ts OR (e.ts = p.ts AND e.event_id > p.event_id)))
      WHERE rn = 1"""


@query(
    "q155_funnel_conversion",
    f"""WITH v AS (
      SELECT user_id, ts, event_id
      FROM (SELECT user_id, ts, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = 'view')
      WHERE rn = 1),
    c AS ({_first_after_sql('click', 'v')}),
    p AS ({_first_after_sql('purchase', 'c')})
    SELECT (SELECT count(*) FROM v) AS users_view,
           (SELECT count(*) FROM c) AS users_view_click,
           (SELECT count(*) FROM p) AS users_view_click_purchase""",
    tags=("analytics", "funnel", "window"),
)
def q155(spark, sf):
    """Ordered funnel: how many users did view -> click -> purchase IN
    THAT ORDER (each stage strictly after the previous stage's first
    qualifying event, (ts, event_id)-lexicographic). The product-analytics
    staple every event engine ships; stage anchors are first-event rows
    found by per-user row_number windows, so the whole funnel is
    deterministic integer counting.

    Scale shape: every stage is keyed by user_id — the event log shuffles
    once per stage on the SAME key, so on a cluster the stages co-partition
    (and with the log bucketed by user_id, zero shuffles); stage anchors
    are one-row-per-user relations, and each later stage joins the
    (already tiny) previous anchor, so the relation sizes only shrink down
    the funnel. No collect, no cross product, fan-out bounded by 1."""
    ev = _t(spark, sf, "events").select("user_id", "ts", "event_id", "event_type")

    def first_per_user(df):
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "ts", "event_id")
        )

    def after(df, anchor):
        a = anchor.select(
            "user_id", F.col("ts").alias("a_ts"), F.col("event_id").alias("a_id")
        )
        return df.join(a, "user_id").where(
            (F.col("ts") > F.col("a_ts"))
            | ((F.col("ts") == F.col("a_ts")) & (F.col("event_id") > F.col("a_id")))
        )

    v = first_per_user(ev.where(F.col("event_type") == "view"))
    c = first_per_user(after(ev.where(F.col("event_type") == "click"), v))
    p = first_per_user(after(ev.where(F.col("event_type") == "purchase"), c))
    counts = [
        v.agg(F.count(F.lit(1)).alias("users_view")),
        c.agg(F.count(F.lit(1)).alias("users_view_click")),
        p.agg(F.count(F.lit(1)).alias("users_view_click_purchase")),
    ]
    return counts[0].crossJoin(counts[1]).crossJoin(counts[2])


@query(
    "q156_retention_cohorts",
    """WITH first_seen AS (
         SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
         FROM events GROUP BY 1)
       SELECT f.cohort_week, date_trunc('week', e.ts) AS activity_week,
              count(DISTINCT e.user_id) AS active_users
       FROM events e JOIN first_seen f ON e.user_id = f.user_id
       GROUP BY 1, 2
       ORDER BY 1, 2""",
    tags=("analytics", "retention", "cohort"),
)
def q156(spark, sf):
    """Retention cohort matrix: users bucketed by first-seen ISO week,
    counted distinct per (cohort_week, activity_week) — the second
    product-analytics staple. Both engines truncate weeks to ISO Monday,
    and every output is an integer count over exact timestamps.

    Scale shape: first_seen is one hash-agg keyed by user_id; the join
    back is user-keyed (co-partitioned with the agg's own shuffle under
    AQE exchange reuse — and shuffle-free on a user-bucketed log); the
    cohort matrix itself is tiny (weeks x weeks). distinct-count is the
    only rekeying shuffle and its key space is bounded by the matrix."""
    ev = _t(spark, sf, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        ev.join(first_seen, "user_id")
        .groupBy("cohort_week", F.date_trunc("week", F.col("ts")).alias("activity_week"))
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "activity_week")
    )


# --------------------------------------------------------------------------
# q159 — KMV sketch MERGE: the mergeability property, value-checked
# --------------------------------------------------------------------------

@query(
    "q159_kmv_merge",
    f"""WITH h AS (
         SELECT DISTINCT event_id % 2 AS shard, event_type,
                CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         FROM events),
       shard_sk AS (
         SELECT shard, event_type, h
         FROM (SELECT shard, event_type, h,
                      row_number() OVER (PARTITION BY shard, event_type
                                         ORDER BY h) AS rn
               FROM h)
         WHERE rn <= {_KMV_K}),
       merged AS (
         SELECT event_type, h
         FROM (SELECT event_type, h,
                      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
               FROM (SELECT DISTINCT event_type, h FROM shard_sk))
         WHERE rn <= {_KMV_K}),
       msk AS (
         SELECT event_type, count(*) AS m, max(h) AS xk
         FROM merged GROUP BY 1),
       direct AS (
         SELECT event_type, count(*) AS m, max(h) AS xk
         FROM (SELECT event_type, h,
                      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
               FROM (SELECT DISTINCT event_type, h FROM h))
         WHERE rn <= {_KMV_K}
         GROUP BY 1)
       SELECT msk.event_type,
              CAST(msk.m AS INTEGER) AS n_retained,
              msk.xk AS kth_hash,
              CASE WHEN msk.m < {_KMV_K} THEN CAST(msk.m AS DOUBLE)
                   ELSE round({_KMV_K - 1} * {_KMV_SPACE} / CAST(msk.xk AS DOUBLE), 4)
              END AS kmv_estimate,
              (msk.m = direct.m AND msk.xk = direct.xk) AS merge_lossless
       FROM msk JOIN direct USING (event_type)
       ORDER BY msk.event_type""",
    tags=("extension", "sketch", "kmv", "merge"),
)
def q159(spark, sf):
    """KMV sketch MERGE — the property that makes sketches distributed
    infrastructure: per-shard sketches (here two disjoint event_id-parity
    shards standing in for two sites/days) merge by unioning retained
    hashes and re-taking the k smallest, and the merged sketch is
    IDENTICAL to the sketch of the union — provable (every global
    k-smallest hash is k-smallest within its own shard) and asserted per
    row by the merge_lossless column, which the oracle value-checks too.

    This is why a 100 TB cardinality job never reshuffles raw keys: each
    partition ships a k-row sketch to one reducer (or a tree of them —
    merge is associative). Plan shape per stage is q134's: map-side
    WindowGroupLimit partial top-k, ~k rows per (shard, group) crossing
    the exchange."""
    ev = _t(spark, sf, "events")
    h = h60("user_id")
    hashes = ev.select(
        (F.col("event_id") % 2).alias("shard"), "event_type", h.alias("h")
    ).distinct()

    def k_smallest(df, part_cols):
        w = Window.partitionBy(*part_cols).orderBy("h")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _KMV_K)
            .drop("rn")
        )

    shard_sk = k_smallest(hashes, ["shard", "event_type"])
    merged = k_smallest(
        shard_sk.select("event_type", "h").distinct(), ["event_type"]
    )
    msk = merged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("int").alias("n_retained"), F.max("h").alias("kth_hash")
    )
    direct = (
        k_smallest(hashes.select("event_type", "h").distinct(), ["event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("int").alias("d_m"), F.max("h").alias("d_xk"))
    )
    est = F.when(
        F.col("n_retained") < _KMV_K, F.col("n_retained").cast("double")
    ).otherwise(
        F.round(
            F.lit(float(_KMV_K - 1)) * F.lit(_KMV_SPACE) / F.col("kth_hash").cast("double"),
            4,
        )
    )
    return (
        msk.join(direct, "event_type")
        .select(
            "event_type",
            "n_retained",
            "kth_hash",
            est.alias("kmv_estimate"),
            (
                (F.col("n_retained") == F.col("d_m"))
                & (F.col("kth_hash") == F.col("d_xk"))
            ).alias("merge_lossless"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q168 — Theta-sketch set intersection (audience overlap)
# --------------------------------------------------------------------------

_THETA_K = 256  # per-set sketch size; relative error ~ 1/sqrt(k-1) ~ 6%
_THETA_SPACE = 1 << 60  # 60-bit md5 hash space (exact in double)


@query(
    "q168_theta_intersection",
    f"""WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
       h AS (SELECT event_type, user_id,
                    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
             FROM d),
       r AS (SELECT event_type, h,
                    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
             FROM h),
       ks AS (SELECT event_type, h FROM r WHERE rn <= {_THETA_K}),
       th AS (SELECT event_type,
                     CASE WHEN count(*) < {_THETA_K} THEN {_THETA_SPACE}
                          ELSE max(h) END AS theta
              FROM ks GROUP BY 1),
       pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                        least(a.theta, b.theta) AS theta
                 FROM th a JOIN th b ON a.event_type < b.event_type),
       common AS (SELECT p.type_a, p.type_b, count(*) AS s
                  FROM pairs p
                  JOIN ks ka ON ka.event_type = p.type_a
                  JOIN ks kb ON kb.event_type = p.type_b AND kb.h = ka.h
                  WHERE ka.h < p.theta
                  GROUP BY 1, 2),
       exact AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                        count(*) AS x
                 FROM d a JOIN d b
                   ON a.user_id = b.user_id AND a.event_type < b.event_type
                 GROUP BY 1, 2)
       SELECT p.type_a AS type_a, p.type_b AS type_b, p.theta AS theta,
              round(coalesce(c.s, 0) * {float(_THETA_SPACE)} / p.theta, 4)
                AS est_common_users,
              CAST(coalesce(e.x, 0) AS BIGINT) AS exact_common_users
       FROM pairs p
       LEFT JOIN common c ON c.type_a = p.type_a AND c.type_b = p.type_b
       LEFT JOIN exact e ON e.type_a = p.type_a AND e.type_b = p.type_b
       ORDER BY p.type_a, p.type_b""",
    tags=("extension", "sketch", "theta", "intersection", "distinct"),
)
def q168(spark, sf):
    """Theta-sketch SET INTERSECTION — the audience-overlap estimator
    (Apache DataSketches theta algebra) that completes the sketch family:
    q134 estimates per-set cardinality (KMV), q159 proves the sketches
    merge losslessly (union), and this estimates |A∩B| for every
    event-type pair WITHOUT a distinct-count over the pair fan-out:
    keep each set's k smallest 60-bit md5 user hashes, set
    theta = min(theta_A, theta_B) (a set smaller than k retains
    everything — its theta is the full hash space), count the common
    retained hashes below theta, and scale by SPACE/theta. The exact
    intersection rides in the same row (the q153 self-calibration
    pattern), so the estimator's error is a gated, queryable relation.

    Deterministic cross-engine: integer hash space end-to-end (the q134
    machinery — no float u, no ln), one IEEE multiply/divide rounded to
    4 dp at the end; DuckDB replays the sketch value-for-value.

    Scale shape: the per-type k-smallest plans as a map-side
    WindowGroupLimit (pinned for q134/q165 — same window); everything
    downstream of the sketch build is k-bounded (|types| x k rows), so
    pair overlap over a 100 TB event log costs one scan + tiny joins —
    versus the exact pair fan-out, which shuffles (type,user) twice and
    grows quadratically with the type count. At cluster scale the
    retained sets are what you persist; new days merge in by re-taking
    the k smallest of the union (q159's lossless-merge theorem)."""
    ev = _t(spark, sf, "events")
    h = h60("user_id")
    d = ev.select("event_type", F.col("user_id")).distinct()
    hashed = d.select("event_type", "user_id", h.alias("h"))
    w = Window.partitionBy("event_type").orderBy("h")
    ks = hashed.select("event_type", "h").withColumn(
        "rn", F.row_number().over(w)
    ).where(F.col("rn") <= _THETA_K).select("event_type", "h")
    th = ks.groupBy("event_type").agg(
        F.when(F.count(F.lit(1)) < _THETA_K, F.lit(_THETA_SPACE))
        .otherwise(F.max("h"))
        .alias("theta")
    )
    ta = th.select(F.col("event_type").alias("type_a"), F.col("theta").alias("tha"))
    tb = th.select(F.col("event_type").alias("type_b"), F.col("theta").alias("thb"))
    pairs = (
        ta.join(tb, F.col("type_a") < F.col("type_b"))
        .select("type_a", "type_b", F.least("tha", "thb").alias("theta"))
    )
    ka = ks.select(F.col("event_type").alias("type_a"), "h")
    kb = ks.select(F.col("event_type").alias("type_b"), "h")
    common = (
        pairs.join(ka, "type_a")
        .join(kb, ["type_b", "h"])
        .where(F.col("h") < F.col("theta"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    da = d.select(F.col("event_type").alias("type_a"), "user_id")
    db = d.select(F.col("event_type").alias("type_b"), "user_id")
    exact = (
        da.join(db, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    est = F.round(
        F.coalesce(F.col("s"), F.lit(0)) * F.lit(float(_THETA_SPACE)) / F.col("theta"), 4
    )
    return (
        pairs.join(common, ["type_a", "type_b"], "left")
        .join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "theta",
            est.alias("est_common_users"),
            F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("exact_common_users"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# q183 — trailing-window KMV: sketch algebra over TIME (the q159 merge
# property applied to a sliding 7-day window)
# --------------------------------------------------------------------------

_RW_DAYS = 7  # trailing window width


@query(
    "q183_rolling_distinct_kmv",
    f"""WITH d AS (
         SELECT DISTINCT CAST(ts AS DATE) AS day,
                CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         FROM events),
       sk AS (
         SELECT day, h
         FROM (SELECT day, h,
                      row_number() OVER (PARTITION BY day ORDER BY h) AS rn
               FROM d)
         WHERE rn <= {_KMV_K}),
       ex_sk AS (
         SELECT DISTINCT CAST(unnest(generate_series(day, day + INTERVAL {_RW_DAYS - 1} DAY,
                                               INTERVAL 1 DAY)) AS DATE) AS wk_day, h
         FROM sk),
       merged AS (
         SELECT wk_day, h
         FROM (SELECT wk_day, h,
                      row_number() OVER (PARTITION BY wk_day ORDER BY h) AS rn
               FROM ex_sk)
         WHERE rn <= {_KMV_K}),
       msk AS (
         SELECT wk_day, count(*) AS m, max(h) AS xk
         FROM merged GROUP BY 1),
       exact AS (
         SELECT wk_day, count(*) AS n_exact
         FROM (SELECT DISTINCT
                      CAST(unnest(generate_series(day, day + INTERVAL {_RW_DAYS - 1} DAY,
                                            INTERVAL 1 DAY)) AS DATE) AS wk_day, h
               FROM d)
         GROUP BY 1),
       bounds AS (SELECT max(day) AS max_day FROM d)
       SELECT msk.wk_day,
              CAST(msk.m AS INTEGER) AS n_retained,
              msk.xk AS kth_hash,
              CASE WHEN msk.m < {_KMV_K} THEN CAST(msk.m AS DOUBLE)
                   ELSE round({_KMV_K - 1} * {_KMV_SPACE} / CAST(msk.xk AS DOUBLE), 4)
              END AS kmv_estimate,
              CAST(exact.n_exact AS BIGINT) AS n_exact
       FROM msk JOIN exact USING (wk_day) CROSS JOIN bounds
       WHERE msk.wk_day <= bounds.max_day
       ORDER BY msk.wk_day""",
    tags=("extension", "sketch", "kmv", "window", "rolling"),
)
def q183(spark, sf):
    """Trailing 7-day distinct-user estimate per day via KMV sketch
    MERGING — q159's mergeability property applied along the time axis,
    which is how a 100 TB pipeline serves "rolling distinct" without ever
    windowing raw keys: keep one k-row sketch PER DAY (tiny, mergeable
    state — the same thing a streaming job would checkpoint), then each
    day's trailing window is the merge of 7 daily sketches.

    The sliding window is implemented as an EXPLODE, not a range join:
    each daily sketch row fans out to the <=7 window anchors it serves
    (sequence(day, day+6)), turning the non-equi interval join a naive
    plan would use (BroadcastNestedLoop at scale) into a plain hash-agg
    on wk_day. Rows are bounded by days*k*7 — manifest-scale whatever the
    fact volume. The merged k-smallest is exactly the sketch of the union
    (q159's lossless-merge argument), and the trailing exact distinct
    (computed on the same 60-bit hashes) rides along per row as
    calibration. Overhanging anchors past the last observed day are
    dropped via one broadcast max-day scalar."""
    ev = _t(spark, sf, "events")
    h = h60("user_id")
    # three consumers (sketch branch, exact branch, max-day bound) — the
    # _gram_hashes lesson: materialize the narrow distinct relation once
    # instead of recomputing 1M md5+conv per branch (sf0.1: 9.6 s
    # unmaterialized -> 2.2 s warm with the checkpoint)
    d = ev.select(F.to_date("ts").alias("day"), h.alias("h")).distinct().localCheckpoint()
    w_day = Window.partitionBy("day").orderBy("h")
    sk = (
        d.withColumn("rn", F.row_number().over(w_day))
        .where(F.col("rn") <= _KMV_K)
        .drop("rn")
    )
    week = F.explode(
        F.sequence(F.col("day"), F.date_add(F.col("day"), _RW_DAYS - 1))
    ).alias("wk_day")
    ex_sk = sk.select(week, "h").distinct()
    w_wk = Window.partitionBy("wk_day").orderBy("h")
    merged = (
        ex_sk.withColumn("rn", F.row_number().over(w_wk))
        .where(F.col("rn") <= _KMV_K)
    )
    msk = merged.groupBy("wk_day").agg(
        F.count(F.lit(1)).cast("int").alias("n_retained"),
        F.max("h").alias("kth_hash"),
    )
    exact = (
        d.select(week, "h")
        .distinct()
        .groupBy("wk_day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    bounds = d.agg(F.max("day").alias("max_day"))
    est = F.when(
        F.col("n_retained") < _KMV_K, F.col("n_retained").cast("double")
    ).otherwise(
        F.round(
            F.lit(float(_KMV_K - 1)) * F.lit(_KMV_SPACE) / F.col("kth_hash").cast("double"),
            4,
        )
    )
    return (
        msk.join(exact, "wk_day")
        .crossJoin(F.broadcast(bounds))
        .where(F.col("wk_day") <= F.col("max_day"))
        .select(
            "wk_day", "n_retained", "kth_hash", est.alias("kmv_estimate"), "n_exact"
        )
        .orderBy("wk_day")
    )
