"""Distribution/quality analytics beyond the reference surface: histograms,
decile binning, grouping sets, set-valued profiles, corpus repetition
scoring, edit-distance near-dup, shuffle-light argmax, and the q167
referential-integrity publish gate (FK/PK/domain/reconciliation checks
as one metadata-scale relation).

The reference's aggregate surface stops at plain groupBy+avg/sum
(SURVEY.md §2.4; "not present" list §2.6 has zero set ops, zero analytic
binning); these queries add the distribution-analysis family a corpus/
training pipeline needs, each with a DuckDB oracle.

Determinism rules (see plans/base.py): money/measure sums go through the
exact-decimal path; every ratio is a single IEEE division of two exact
numbers; every output carries a total order or is order-insensitive
(hash compare).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.agg import exact_sum
from ..functions.rank import exact_ntile
from ..functions.text import NORMALIZED_TEXT_SQL, STOPWORDS_IN_SQL, TOKENS_SQL, normalized_text, tokens
from .base import _t, _ts, query


@query(
    "q85_value_histogram",
    """SELECT CAST(floor(value / 25.0) AS BIGINT) * 25 AS bucket_lo,
              count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
       FROM events GROUP BY 1 ORDER BY bucket_lo""",
    tags=("quality", "histogram"),
)
def q85(spark, sf):
    """Fixed-width value histogram — map-only bucketing + one small
    aggregate, the shape a 100 TB profiler wants (vs q78's range-join
    formulation of the same buckets: no join, no bucket dimension,
    bucket id computed in the scan projection so only (bucket, partial
    agg) rows ever shuffle). floor(value/25) is one IEEE division both
    engines perform identically."""
    bucket = (F.floor(F.col("value") / 25.0) * 25).alias("bucket_lo")
    return (
        _t(spark, sf, "events")
        .select(bucket, "value")
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_events"), exact_sum("value", "value_sum"))
        .orderBy("bucket_lo")
    )


@query(
    "q86_price_deciles",
    """SELECT decile, count(*) AS n_orders,
              min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       FROM (SELECT o_totalprice,
                    CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER)
                        AS decile
             FROM orders)
       GROUP BY 1 ORDER BY decile""",
    tags=("quality", "ntile", "window"),
)
def q86(spark, sf):
    """Equi-depth decile binning — the quantile-bucket operator
    (data-profiling / outlier-capping primitive). The ORDER BY carries
    o_orderkey as total tie-break so both engines assign identical
    buckets.

    r5: no longer a global ntile window (single-partition sort over the
    fact table). The EXACT same assignment now computes distributed via
    functions/rank.exact_ntile (distributed row number under bucket =
    floor(price) — order-consistent, distinct-bucket-sized serial pass —
    then ntile's documented split closed-form from (rank, n); shared
    with q209's perplexity terciles, property-tested against F.ntile).
    Value-identical to the window ntile by construction (same total
    order, same split rule); the oracle keeps DuckDB's native ntile as
    the cross-check. For
    APPROXIMATE quantiles at even lower cost, q67/q81 hold the
    approx_percentile path."""
    orders = _t(spark, sf, "orders")
    tiled = exact_ntile(
        orders.select("o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
        F.floor("o_totalprice"),
        k=10,
        out="decile",
    )
    return (
        tiled.select("o_totalprice", "decile")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            exact_sum("o_totalprice", "sum_price"),
        )
        .orderBy("decile")
    )


@query(
    "q87_user_type_profile",
    """SELECT user_id,
              count(*) AS n_events,
              count(DISTINCT event_type) AS n_types,
              array_to_string(list_sort(list(DISTINCT event_type)), '|') AS profile
       FROM events GROUP BY 1 ORDER BY user_id""",
    tags=("quality", "collect-set", "set-valued"),
)
def q87(spark, sf):
    """Set-valued aggregation: per-user sorted distinct event-type profile
    (collect_set → array_sort → join) — the segmentation fingerprint op.
    collect_set is a hash-set partial aggregate (map-side combine like any
    sum); sorting the tiny per-user array canonicalizes the nondeterministic
    collection order so the output is engine-independent."""
    return (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("event_type").alias("n_types"),
            F.concat_ws("|", F.array_sort(F.collect_set("event_type"))).alias("profile"),
        )
        .orderBy("user_id")
    )


@query(
    "q88_repetition_ratio",
    f"""SELECT lang, count(*) AS n_docs,
               CAST(sum(len({TOKENS_SQL})) AS BIGINT) AS total_tokens,
               CAST(sum(len(list_distinct({TOKENS_SQL}))) AS BIGINT) AS distinct_tokens,
               round(1.0 - sum(len(list_distinct({TOKENS_SQL}))) * 1.0
                         / sum(len({TOKENS_SQL})), 6) AS dup_ratio
        FROM documents GROUP BY 1 ORDER BY lang""",
    tags=("quality", "text", "repetition"),
)
def q88(spark, sf):
    """Gopher-style repetition quality signal: per-language duplicate-token
    fraction. Per-doc token/distinct-token counts are exact ints computed
    in the scan projection (JVM split/array_distinct, no UDF); the ratio
    is formed from the *summed* ints with one final division — order-
    independent, unlike averaging per-doc double ratios."""
    t = tokens("text")
    # _ts (r12): two tokenizations per row — fan the scan out
    return (
        _ts(spark, sf, "documents", "lang", "text")
        .select(
            "lang",
            F.size(t).cast("bigint").alias("nt"),
            F.size(F.array_distinct(t)).cast("bigint").alias("nd"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            F.sum("nd").alias("distinct_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "distinct_tokens",
            F.round(
                1.0 - F.col("distinct_tokens") * 1.0 / F.col("total_tokens"), 6
            ).alias("dup_ratio"),
        )
        .orderBy("lang")
    )


@query(
    "q89_status_priority_sets",
    """SELECT o_orderstatus, o_orderpriority,
              CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
              count(*) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
    tags=("quality", "grouping-sets"),
)
def q89(spark, sf):
    """Explicit GROUPING SETS (two one-column sets + grand total) with
    grouping_id — the irregular-set sibling of q30's ROLLUP and q68's
    CUBE; gid disambiguates a NULL-from-rollup row from a NULL data
    value. One Expand node feeding a single hash aggregate — the three
    groupings share one pass over the fact."""
    return (
        _t(spark, sf, "orders")
        .groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice", "sum_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "sum_price")
    )


@query(
    "q90_edit_distance_pairs",
    f"""WITH d AS (SELECT doc_id, lang,
                         substr({NORMALIZED_TEXT_SQL}, 1, 40) AS prefix,
                         substr({NORMALIZED_TEXT_SQL}, 1, 12) AS block
                  FROM documents)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS dist
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.block = b.block AND a.doc_id < b.doc_id
        ORDER BY doc_a, doc_b""",
    tags=("quality", "dedup", "edit-distance"),
)
def q90(spark, sf):
    """Edit-distance near-dup detection with prefix blocking: candidate
    pairs share (lang, 12-char normalized prefix) — the same block-then-
    verify shape as MinHash-LSH (q37) but with Levenshtein as the verify
    metric. Blocking keeps the join linear-ish in corpus size (only
    same-prefix docs pair) instead of the O(n²) cross join; the 40-char
    cap bounds each distance computation."""
    # _ts (r12): normalized_text regex runs per row — fan the scan out
    d = _ts(spark, sf, "documents", "doc_id", "lang", "text").select(
        "doc_id",
        "lang",
        F.substring(normalized_text("text"), 1, 40).alias("prefix"),
        F.substring(normalized_text("text"), 1, 12).alias("block"),
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.prefix"), F.col("b.prefix")).alias("dist"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q91_top_user_by_type",
    """WITH totals AS (
         SELECT event_type, user_id,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2),
       maxes AS (SELECT event_type, max(total) AS max_total
                 FROM totals GROUP BY 1)
       SELECT t.event_type, min(t.user_id) AS top_user, max_total
       FROM totals t JOIN maxes m
         ON t.event_type = m.event_type AND t.total = m.max_total
       GROUP BY t.event_type, max_total ORDER BY t.event_type""",
    tags=("quality", "argmax", "join-back"),
)
def q91(spark, sf):
    """Argmax without a window: per-type top user by exact total value via
    aggregate → tiny-max join-back. A row_number window would shuffle the
    whole totals relation into per-type sorted partitions; here the fact
    aggregates once and the per-type maxima (|event_type| rows) broadcast
    back — no second large shuffle. Ties break to the smallest user_id;
    equality on the exact-decimal-derived double is engine-safe."""
    totals = (
        _t(spark, sf, "events")
        .groupBy("event_type", "user_id")
        .agg(exact_sum("value", "total"))
    )
    maxes = totals.groupBy("event_type").agg(F.max("total").alias("max_total"))
    return (
        totals.join(
            F.broadcast(maxes),
            (totals.event_type == maxes.event_type) & (totals.total == maxes.max_total),
        )
        .drop(maxes.event_type)
        .groupBy("event_type", "max_total")
        .agg(F.min("user_id").alias("top_user"))
        .select("event_type", "top_user", "max_total")
        .orderBy("event_type")
    )


@query(
    "q92_first_stopword_position",
    f"""WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents),
         p AS (SELECT doc_id, unnest(range(1, len(ts) + 1)) AS i, ts FROM tok),
         f AS (SELECT doc_id, CAST(min(i - 1) AS INTEGER) AS first_stop_pos
               FROM p WHERE ts[i] IN ({STOPWORDS_IN_SQL}) GROUP BY 1)
        SELECT first_stop_pos, count(*) AS n_docs
        FROM f GROUP BY 1 ORDER BY first_stop_pos""",
    tags=("quality", "posexplode", "generator"),
)
def q92(spark, sf):
    """Positional token analysis via posexplode (the ordinality-carrying
    generator): distribution of the first stopword's 0-based position per
    document. Generate stays pipelined with the scan (no shuffle until the
    per-doc min), so the token blow-up never materializes."""
    from ..functions.text import STOPWORDS

    # _ts (r12): fan the scan out below the tokenize
    d = _ts(spark, sf, "documents", "doc_id", "text").select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    first = (
        d.where(F.col("tok").isin(*STOPWORDS))
        .groupBy("doc_id")
        .agg(F.min("pos").alias("first_stop_pos"))
    )
    return (
        first.groupBy("first_stop_pos")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("first_stop_pos")
    )


@query(
    "q93_union_by_name",
    """SELECT src, count(*) AS n_rows,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
       FROM (SELECT user_id, value, 'purchase' AS src FROM events
             WHERE event_type = 'purchase'
             UNION ALL BY NAME
             SELECT 'view' AS src, user_id FROM events
             WHERE event_type = 'view')
       GROUP BY 1 ORDER BY src""",
    tags=("quality", "union-by-name", "schema-evolution"),
)
def q93(spark, sf):
    """Schema-evolving union: two shards with different column orders and a
    missing column, aligned by NAME with null fill (unionByName +
    allowMissingColumns) — how a corpus pipeline unions heterogeneous
    ingest batches without positional-union silent corruption. The union
    is a zero-shuffle plan node; only the final small aggregate moves."""
    ev = _t(spark, sf, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "value", F.lit("purchase").alias("src")
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.lit("view").alias("src"), "user_id"
    )
    return (
        purchases.unionByName(views, allowMissingColumns=True)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n_rows"), exact_sum("value", "value_sum"))
        .orderBy("src")
    )


@query(
    "q94_measure_unpivot",
    """WITH m AS (
         SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
         UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
         UNION ALL SELECT 'l_discount', l_discount FROM lineitem
         UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
       SELECT measure, count(*) AS n_vals,
              CAST(sum(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS val_sum,
              min(val) AS val_min, max(val) AS val_max
       FROM m GROUP BY 1 ORDER BY measure""",
    tags=("quality", "unpivot", "reshape"),
)
def q94(spark, sf):
    """Wide→long reshape (unpivot/melt, the inverse of q49's pivot) over
    the four lineitem measures, then per-measure profile stats. Spark
    plans unpivot as an Expand node — one scan pass emits all four
    (measure, val) streams; the oracle's UNION ALL reads the table four
    times, which is exactly the rewrite unpivot exists to avoid."""
    return (
        _t(spark, sf, "lineitem")
        .unpivot(
            [],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            "measure",
            "val",
        )
        .groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n_vals"),
            exact_sum("val", "val_sum"),
            F.min("val").alias("val_min"),
            F.max("val").alias("val_max"),
        )
        .orderBy("measure")
    )


@query(
    "q95_supplier_revenue_rank",
    """WITH t AS (
         SELECT l_suppkey,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM lineitem GROUP BY 1)
       SELECT s_suppkey, s_nationkey, total,
              round(percent_rank() OVER w, 6) AS pct_rank,
              round(cume_dist() OVER w, 6) AS cum_dist
       FROM t JOIN supplier ON l_suppkey = s_suppkey
       WINDOW w AS (PARTITION BY s_nationkey ORDER BY total)
       ORDER BY s_suppkey""",
    tags=("quality", "window", "percent-rank"),
)
def q95(spark, sf):
    """Relative-standing analytics: per-nation percent_rank and cume_dist
    of each supplier's exact revenue total — rank normalization for
    cross-group comparison. Both functions depend only on the ORDER BY
    *values* (ties share a rank), so no tie-break column is needed for
    determinism; the totals come off the exact-decimal path first. One
    aggregate shuffle on l_suppkey, a broadcast dim join, then one window
    shuffle on s_nationkey."""
    t = (
        _t(spark, sf, "lineitem")
        .groupBy("l_suppkey")
        .agg(exact_sum("l_extendedprice", "total"))
    )
    sup = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    w = Window.partitionBy("s_nationkey").orderBy("total")
    return (
        t.join(F.broadcast(sup), t.l_suppkey == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_nationkey",
            "total",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "q96_trailing_hour_stats",
    """SELECT event_id, user_id,
              CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                  AS trailing_sum,
              CAST(count(*) OVER w AS BIGINT) AS trailing_n
       FROM events WHERE user_id < 5
       WINDOW w AS (PARTITION BY user_id
                    ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
       ORDER BY event_id""",
    tags=("quality", "window", "range-frame"),
)
def q96(spark, sf):
    """Trailing-hour sliding aggregate via a RANGE window frame — the
    time-based frame (value-distance bounds), distinct from q47's
    ROWS-based running total. Frame membership is decided by event-time
    seconds, so rows with equal timestamps share identical frames in any
    engine; the framed sum stays on the exact-decimal path. One shuffle
    on user_id + a per-partition sort, shared by both framed aggregates."""
    from pyspark.sql.types import DecimalType

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return (
        _t(spark, sf, "events")
        .where(F.col("user_id") < 5)
        .select(
            "event_id",
            "user_id",
            F.sum(F.col("value").cast(DecimalType(18, 2))).over(w).cast("double").alias("trailing_sum"),
            F.count(F.lit(1)).over(w).alias("trailing_n"),
        )
        .orderBy("event_id")
    )


@query(
    "q97_salted_flag_totals",
    """SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_price,
              count(*) AS n_items
       FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""",
    tags=("quality", "skew", "salted-agg"),
)
def q97(spark, sf):
    """Skew-resistant two-phase aggregation in the correctness gate: sum
    and count per (returnflag, linestatus) via 16-way salting
    (functions/skew.salted_sum_count) — a hot key's rows split across 16
    reduce partitions, then ≤16 partial rows merge per key. The oracle is
    the PLAIN group-by: over the exact-decimal path the salted plan is
    value-identical to the direct one, which is exactly the property that
    makes salting safe to deploy on a skewed 100 TB fact."""
    from pyspark.sql.types import DecimalType

    from ..functions.skew import salted_sum_count

    out = salted_sum_count(
        _t(spark, sf, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        F.col("l_extendedprice").cast(DecimalType(18, 2)),
        n_salts=16,
        sum_alias="sum_dec",
        count_alias="n_items",
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_dec").cast("double").alias("sum_price"),
        "n_items",
    ).orderBy("l_returnflag", "l_linestatus")


# --------------------------------------------------------------------------
# q167 — referential-integrity / constraint audit (the publish gate)
# --------------------------------------------------------------------------

#: reconciliation tolerance and the exact per-line charge expression: the
#: double product is rounded to 6 dp per LINE and summed as DECIMAL(18,6),
#: so the per-order total is order-independent and bit-identical in both
#: engines (the functions/agg.exact_sum rule applied to a derived column)
_CHARGE_SQL = "CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS DECIMAL(18,6))"


@query(
    "q167_integrity_audit",
    f"""WITH fk AS (
         SELECT count(*) AS v, (SELECT count(*) FROM lineitem) AS n
         FROM lineitem l WHERE NOT EXISTS
           (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
       childless AS (
         SELECT count(*) AS v, (SELECT count(*) FROM orders) AS n
         FROM orders o WHERE NOT EXISTS
           (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)),
       pk AS (
         SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS v,
                (SELECT count(*) FROM lineitem) AS n
         FROM (SELECT count(*) AS c FROM lineitem
               GROUP BY l_orderkey, l_linenumber) g WHERE c > 1),
       dom AS (
         SELECT count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1
                                 OR l_quantity <= 0 OR l_orderkey IS NULL) AS v,
                count(*) AS n
         FROM lineitem),
       recon AS (
         SELECT count(*) FILTER (
                  WHERE abs(CAST(o.o_totalprice AS DECIMAL(18,6)) - s.t) > 0.01) AS v,
                count(*) AS n
         FROM orders o
         JOIN (SELECT l_orderkey, sum({_CHARGE_SQL}) AS t
               FROM lineitem GROUP BY 1) s
           ON o.o_orderkey = s.l_orderkey)
       SELECT 'fk_lineitem_has_order' AS check_name, v AS n_violations, n AS n_checked, v = 0 AS pass FROM fk
       UNION ALL SELECT 'orders_have_lineitems', v, n, v = 0 FROM childless
       UNION ALL SELECT 'pk_lineitem_unique', v, n, v = 0 FROM pk
       UNION ALL SELECT 'domain_lineitem_valid', v, n, v = 0 FROM dom
       UNION ALL SELECT 'reconcile_order_totals', v, n, v = 0 FROM recon
       ORDER BY check_name""",
    tags=("quality", "integrity", "audit", "constraints"),
)
def q167(spark, sf):
    """Referential-integrity and constraint audit — the publish gate a
    lakehouse runs before promoting a table version (dbt tests / Delta
    constraints re-expressed as one relation): FK coverage (every
    lineitem has its order), reverse coverage (childless orders), primary
    key uniqueness on (l_orderkey, l_linenumber), domain checks
    (discount in [0,1], positive quantity, non-null key), and the
    financial reconciliation of o_totalprice against the lineitem-derived
    charge — each as (check_name, n_violations, n_checked, pass).

    On this corpus the audit FAILS usefully: the synthetic generator
    leaves ~2% of orders childless, does not reconcile order totals
    (every total mismatches), and emits genuine duplicate
    (l_orderkey, l_linenumber) pairs — exactly what the gate exists to
    catch, and all pinned as expected-failure facts in tests.

    Scale shape: each check is the cheapest distributed form of its
    constraint — FK/childless are broadcast-friendly anti-join counts
    (AQE picks the build side), PK uniqueness is one hash agg on the key
    pair, domain checks are one conditional-agg scan, and reconciliation
    reuses the q51-style decimal-exact sum (per-line rounding to 6 dp,
    DECIMAL(18,6) accumulation) so the pass/fail bit can never flip with
    partitioning. The audit output is five rows — metadata-scale, like
    q166's plan relation."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    charge = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 6
    ).cast("decimal(18,6)")

    def audit_row(name, v, n, df):
        return df.select(
            F.lit(name).alias("check_name"),
            v.cast("long").alias("n_violations"),
            n.cast("long").alias("n_checked"),
            (v == 0).alias("pass"),
        )

    # FK / reverse coverage as ONE left-outer pass each (existence flag
    # aggregated conditionally) — no separate count job, no driver action
    # distinct: a (hypothetically) duplicated o_orderkey must not fan the
    # left join out — the FK row would inflate n_checked and diverge from
    # the NOT EXISTS oracle (the childless check's lkeys already dedupes)
    okeys = o.select("o_orderkey").distinct().withColumn("__has_o", F.lit(1))
    fk_joined = (
        li.select("l_orderkey")
        .join(okeys, li.l_orderkey == okeys.o_orderkey, "left_outer")
        .agg(F.sum(F.col("__has_o").isNull().cast("long")).alias("v"), F.count(F.lit(1)).alias("n"))
    )
    fk = audit_row("fk_lineitem_has_order", F.col("v"), F.col("n"), fk_joined)
    lkeys = li.select("l_orderkey").distinct().withColumn("__has_l", F.lit(1))
    childless_joined = (
        o.select("o_orderkey")
        .join(lkeys, o.o_orderkey == lkeys.l_orderkey, "left_outer")
        .agg(F.sum(F.col("__has_l").isNull().cast("long")).alias("v"), F.count(F.lit(1)).alias("n"))
    )
    childless = audit_row("orders_have_lineitems", F.col("v"), F.col("n"), childless_joined)
    pk_grouped = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c") - 1)), F.lit(0)).alias("v"),
            F.coalesce(F.sum("c"), F.lit(0)).alias("n"),
        )
    )
    pk = audit_row("pk_lineitem_unique", F.col("v"), F.col("n"), pk_grouped)
    bad_dom = (
        (F.col("l_discount") < 0)
        | (F.col("l_discount") > 1)
        | (F.col("l_quantity") <= 0)
        | F.col("l_orderkey").isNull()
    )
    dom_agg = li.agg(F.sum(bad_dom.cast("long")).alias("v"), F.count(F.lit(1)).alias("n"))
    dom = audit_row("domain_lineitem_valid", F.col("v"), F.col("n"), dom_agg)
    sums = li.groupBy("l_orderkey").agg(F.sum(charge).alias("t"))
    recon_agg = o.join(sums, o.o_orderkey == sums.l_orderkey).agg(
        F.sum(
            (
                F.abs(F.col("o_totalprice").cast("decimal(18,6)") - F.col("t")) > F.lit(0.01)
            ).cast("long")
        ).alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    recon = audit_row("reconcile_order_totals", F.col("v"), F.col("n"), recon_agg)
    return (
        fk.unionByName(childless)
        .unionByName(pk)
        .unionByName(dom)
        .unionByName(recon)
        .orderBy("check_name")
    )
