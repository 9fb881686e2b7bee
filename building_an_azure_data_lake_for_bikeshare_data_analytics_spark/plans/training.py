"""Training-data pipeline surface: deterministic splits, stratified
sampling, duplicate-group resolution, sequence packing, PII redaction,
benchmark contamination, moment statistics, range joins, set algebra.

None of this exists in the reference (SURVEY.md §2.6 "not present" — its
surface stops at star-join aggregates); these are the operations a
100 TB-scale LLM-training corpus pipeline layers on top, built as first-
class registry queries with DuckDB oracles wherever the semantics are
SQL-expressible.

Determinism notes specific to this module:
* every "random" choice (split, sample) is a pure arithmetic hash of the
  row key — identical in any engine, stable under re-partitioning, and
  reproducible run-to-run, which is exactly what a training pipeline needs
  (at real scale swap the toy multiplicative hash for ``xxhash64``; the
  modular structure is the same);
* moment statistics (stddev/corr) are derived from *exact decimal* power
  sums, then finished with an identical double-precision expression tree in
  both engines — order-independent, so partial aggregation can't flake the
  value hash (see functions/agg.py for the general rule).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType
from pyspark.sql.window import Window

from ..functions.agg import exact_sum
from ..functions.text import EMAIL_RE, PHONE_RE, redact_pii, token_count, tokens, word_shingles
from ..operators.graph import connected_components
from ..functions.hashing import BATCH_FROM, SPLIT_SQL, VAL_BELOW, batch_sql, h60, split_case_sql
from .base import _t, _ts, query
from .extensions import _SHINGLES_SQL

@query(
    "q71_hash_split",
    f"""SELECT {split_case_sql("doc_id", 20)} AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1 ORDER BY split""",
    tags=("training", "split", "hash"),
)
def q71(spark, sf):
    """Deterministic train/val/test split (80/10/10) by key hash.

    The assignment is a pure function of doc_id — re-running the pipeline,
    adding executors, or changing partitioning never moves a document
    across splits (unlike ``df.randomSplit``, which is seed- and
    partitioning-dependent). Scale shape: a map-only projection + one
    3-group aggregate."""
    return (
        _t(spark, sf, "documents")
        .select(F.expr(split_case_sql("doc_id", 0)).alias("split"), "n_chars")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("split")
    )


@query(
    "q72_stratified_sample",
    f"""SELECT lang, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE {SPLIT_SQL.format(x="doc_id")} < CASE WHEN lang = 'en' THEN 200 ELSE 600 END
        GROUP BY 1 ORDER BY lang""",
    tags=("training", "sample", "stratified"),
)
def q72(spark, sf):
    """Deterministic stratified sampling: per-language keep rates (en is
    dominant → 20%, the rest 60%) applied via the same key hash as q71 —
    a rebalancing pass a multilingual corpus pipeline runs before
    training. Pure filter: predicate pushes to the scan, no shuffle
    before the final small aggregate."""
    rate = F.when(F.col("lang") == "en", 200).otherwise(600)
    return (
        _t(spark, sf, "documents")
        .where(F.expr(SPLIT_SQL.format(x="doc_id")) < rate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("lang")
    )


@query(
    "q73_dup_components",
    f"""WITH RECURSIVE {_SHINGLES_SQL},
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM sh a JOIN sh b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         je AS (SELECT doc_a, doc_b FROM pairs
                JOIN sizes sa ON doc_a = sa.doc_id
                JOIN sizes sb ON doc_b = sb.doc_id
                WHERE inter / (sa.n + sb.n - inter) >= 0.5),
         e AS (SELECT doc_a AS a, doc_b AS b FROM je
               UNION SELECT doc_b, doc_a FROM je),
         reach AS (SELECT a, b FROM e
                   UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component_id
                  FROM reach GROUP BY a)
        SELECT component_id, count(*) AS n_docs
        FROM comp GROUP BY 1 ORDER BY n_docs DESC, component_id""",
    tags=("training", "dedup", "graph", "iterative"),
)
def q73(spark, sf):
    """Near-duplicate *groups*: connected components over the >=0.5-Jaccard
    pair graph (iterative min-label propagation, operators/graph.py), so a
    dedup pass can keep exactly one representative per group even when
    A~B and B~C but A!~C. The DuckDB oracle walks the same edges with a
    recursive CTE — an independent algorithm converging on the same
    fixpoint.

    r2: edges come from LSH candidates + exact-Jaccard verification on
    candidates only (operators/dedup.lsh_verified_jaccard_pairs) — the
    100 TB-safe composition. The oracle still derives edges from the
    exhaustive quadratic join, so a green row additionally certifies the
    LSH stage captured every >=threshold pair on this corpus (the superset
    property tests/test_dedup_similarity.py pins on the fixture).

    r7: the edge relation is the shared LSH index build
    (dedup_index.dup_pairs_lsh, one build with q98); the CC pass stays
    local to this query — it is the LSH-edges-to-components
    certification, distinct from the index's PPJoin-derived components."""
    from .dedup_index import dup_pairs_lsh

    pairs = dup_pairs_lsh(spark, sf).select("doc_a", "doc_b")
    comps = connected_components(pairs, "doc_a", "doc_b")
    return (
        comps.groupBy(F.col("comp").alias("component_id"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("component_id"))
    )


@query(
    "q74_pack_sequences",
    r"""WITH t AS (SELECT doc_id, source,
                          len(string_split_regex(trim(text), '\s+')) AS n_tok
                   FROM documents),
         c AS (SELECT source, doc_id, n_tok,
                      sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cum
               FROM t)
        SELECT source, CAST(floor((cum - n_tok) / 512) AS INT) AS bin_id,
               count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
        FROM c GROUP BY 1, 2 ORDER BY source, bin_id""",
    tags=("training", "packing", "window"),
)
def q74(spark, sf):
    """Sequence packing: assign documents to fixed token-budget bins (512)
    by contiguous cumulative token count — the batch-shaping step before
    training. Deterministic greedy-contiguous semantics: bin id = floor of
    the tokens *preceding* the doc / budget.

    Scale shape: the running sum is windowed PARTITION BY source, so each
    shard packs independently — no global single-partition sort (the
    classic packing-at-scale mistake)."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # _ts (r12): token_count tokenizes every text — fan the scan out
    t = _ts(spark, sf, "documents", "doc_id", "source", "text").select(
        "doc_id", "source", token_count("text").alias("n_tok")
    )
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    bin_id = F.floor((F.col("cum") - F.col("n_tok")) / 512).cast("int")
    return (
        c.groupBy("source", bin_id.alias("bin_id"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("bin_tokens"))
        .orderBy("source", "bin_id")
    )


@query(
    "q75_pii_scan",
    f"""SELECT source,
               count(*) FILTER (WHERE regexp_replace(regexp_replace(text,
                   '{EMAIL_RE}', '[EMAIL]', 'g'), '{PHONE_RE}', '[PHONE]', 'g')
                   <> text) AS n_redacted,
               CAST(sum(length(text) - length(regexp_replace(regexp_replace(text,
                   '{EMAIL_RE}', '[EMAIL]', 'g'), '{PHONE_RE}', '[PHONE]', 'g')))
                   AS BIGINT) AS chars_removed
        FROM documents GROUP BY 1 ORDER BY source""",
    tags=("training", "pii", "regex"),
)
def q75(spark, sf):
    """PII redaction audit: per source, how many documents change under
    email/phone redaction and how many characters the redaction removes.
    (This corpus is synthetic word soup, so the expected answer is zero —
    the point is the operator: a codegen'd double regexp_replace scan;
    unit tests in tests/test_training.py prove the patterns fire on real
    PII shapes.)"""
    red = redact_pii("text")
    # _ts (r12): the PII regex battery is per-row heavy — fan the scan out
    return (
        _ts(spark, sf, "documents", "source", "text")
        .select("source", "text", red.alias("red"))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("red") != F.col("text"), 1).otherwise(0)).alias("n_redacted"),
            F.sum(F.length("text") - F.length("red")).cast("bigint").alias("chars_removed"),
        )
        .orderBy("source")
    )


@query(
    "q76_benchmark_contamination",
    r"""WITH tok AS (SELECT doc_id, source,
                            string_split_regex(trim(text), '\s+') AS ts
                     FROM documents),
         s0 AS (SELECT doc_id, source, ts,
                       unnest(range(1, len(ts) - 3)) AS i FROM tok),
         s5 AS (SELECT DISTINCT doc_id, source,
                       ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' '
                             || ts[i+3] || ' ' || ts[i+4] AS sh
                FROM s0),
         bench AS (SELECT DISTINCT sh FROM s5 WHERE source = 'src0'),
         cont AS (SELECT DISTINCT s5.doc_id, s5.source
                  FROM s5 JOIN bench USING (sh) WHERE s5.source <> 'src0')
        SELECT source, count(*) AS n_contaminated
        FROM cont GROUP BY 1 ORDER BY source""",
    tags=("training", "contamination", "ngram"),
)
def q76(spark, sf):
    """Benchmark contamination scan: treat source src0 as the held-out
    benchmark; a document from any other source is contaminated if it
    shares a 5-token shingle with any benchmark doc. The benchmark's
    distinct shingle set is small → broadcast, so the corpus-side scan is
    a map-only probe (no shuffle of the big side) — the shape that holds
    at 100 TB with a fixed benchmark suite."""
    # _ts (r12): fan the one-row-group scan out below the tokenize
    d = _ts(spark, sf, "documents", "doc_id", "source", "text").select(
        "doc_id", "source", tokens("text").alias("ts")
    )
    sh = d.select("doc_id", "source", F.explode(word_shingles(F.col("ts"), 5)).alias("sh"))
    bench = sh.where(F.col("source") == "src0").select("sh").distinct()
    cont = (
        sh.where(F.col("source") != "src0")
        .join(F.broadcast(bench), "sh")
        .select("doc_id", "source")
        .distinct()
    )
    return cont.groupBy("source").agg(F.count(F.lit(1)).alias("n_contaminated")).orderBy("source")


_MOM_SUMS_SQL = """
    SELECT event_type,
           CAST(count(value) AS DOUBLE) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(value AS DECIMAL(10,2)) * CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(hour(ts) AS DECIMAL(18,0))) AS DOUBLE) AS sy,
           CAST(sum(CAST(hour(ts) AS DECIMAL(9,0)) * CAST(hour(ts) AS DECIMAL(9,0))) AS DOUBLE) AS syy,
           CAST(sum(CAST(value AS DECIMAL(10,2)) * CAST(hour(ts) AS DECIMAL(9,0))) AS DOUBLE) AS sxy
    FROM events GROUP BY 1"""

@query(
    "q77_moment_stats",
    f"""WITH s AS ({_MOM_SUMS_SQL})
        SELECT event_type,
               CAST(n AS BIGINT) AS n_events,
               round(sx / n, 6) AS avg_value,
               round(sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6) AS stddev_value,
               round((n * sxy - sx * sy)
                     / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
                   AS corr_value_hour
        FROM s ORDER BY event_type""",
    tags=("training", "stats", "stddev", "corr"),
)
def q77(spark, sf):
    """Per-type moment statistics — stddev of value and its correlation
    with hour-of-day — computed from exact decimal power sums (n, Σx, Σx²,
    Σy, Σy², Σxy) finished by one identical double expression tree in both
    engines. Built-in stddev/corr stream doubles in partition order and
    can't hash-match across engines; the power-sum form is
    order-independent and still a single partial+final hash aggregate."""
    v = F.col("value").cast(DecimalType(10, 2))
    h = F.hour("ts").cast(DecimalType(9, 0))
    s = (
        _t(spark, sf, "events")
        .select("event_type", v.alias("v"), h.alias("h"))
        .groupBy("event_type")
        .agg(
            F.count("v").cast("double").alias("n"),
            F.sum(F.col("v").cast(DecimalType(18, 2))).cast("double").alias("sx"),
            F.sum(F.col("v") * F.col("v")).cast("double").alias("sxx"),
            F.sum(F.col("h").cast(DecimalType(18, 0))).cast("double").alias("sy"),
            F.sum(F.col("h") * F.col("h")).cast("double").alias("syy"),
            F.sum(F.col("v") * F.col("h")).cast("double").alias("sxy"),
        )
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy"))
    return s.select(
        "event_type",
        n.cast("bigint").alias("n_events"),
        F.round(sx / n, 6).alias("avg_value"),
        F.round(F.sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6).alias("stddev_value"),
        F.round(
            (n * sxy - sx * sy) / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)), 6
        ).alias("corr_value_hour"),
    ).orderBy("event_type")


@query(
    "q78_value_range_join",
    """SELECT lo AS bucket_lo, count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
       FROM events
       JOIN (SELECT i * 50 AS lo, i * 50 + 50 AS hi FROM range(0, 10) t(i)) b
         ON value >= lo AND value < hi
       GROUP BY 1 ORDER BY bucket_lo""",
    tags=("training", "range-join", "non-equi"),
)
def q78(spark, sf):
    """Non-equi range join: events against a generated bucket dimension on
    value ∈ [lo, hi). The bucket side is tiny and broadcast, so Spark
    plans a broadcast nested-loop join — the general pattern for interval
    dims (rate cards, SLA windows) where no equi-key exists. (For fixed-
    width buckets specifically, floor(value/width) is the shuffle-free
    scale path — q78 exists to exercise the general non-equi plan.)"""
    buckets = spark.range(0, 10).select(
        (F.col("id") * 50).alias("lo"), (F.col("id") * 50 + 50).alias("hi")
    )
    ev = _t(spark, sf, "events")
    j = ev.join(
        F.broadcast(buckets), (ev.value >= F.col("lo")) & (ev.value < F.col("hi"))
    )
    return (
        j.groupBy(F.col("lo").alias("bucket_lo"))
        .agg(F.count(F.lit(1)).alias("n_events"), exact_sum("value", "value_sum"))
        .orderBy("bucket_lo")
    )


@query(
    "q79_purchasers_clean_union",
    """SELECT * FROM (
         (SELECT user_id FROM events WHERE event_type = 'purchase'
          EXCEPT
          SELECT user_id FROM events WHERE event_type = 'error')
         UNION
         SELECT user_id FROM events WHERE event_type = 'signup')""",
    tags=("training", "setop", "except", "union"),
)
def q79(spark, sf):
    """Set algebra completing the set-op family next to q59's INTERSECT:
    (purchasers EXCEPT error-users) UNION signup-users, all with DISTINCT
    set semantics. Catalyst plans EXCEPT as a left-anti join after
    aggregation-dedup, UNION-distinct as union + hash dedup."""
    ev = _t(spark, sf, "events")
    t = lambda typ: ev.where(F.col("event_type") == typ).select("user_id")  # noqa: E731
    return t("purchase").subtract(t("error")).union(t("signup")).distinct()


@query(
    "q80_activity_full_outer",
    """SELECT COALESCE(o.k, e.k) AS entity_id,
              COALESCE(n_orders, 0) AS n_orders,
              COALESCE(n_events, 0) AS n_events
       FROM (SELECT o_custkey AS k, count(*) AS n_orders FROM orders GROUP BY 1) o
       FULL JOIN (SELECT user_id AS k, count(*) AS n_events FROM events GROUP BY 1) e
         ON o.k = e.k""",
    tags=("training", "outer-join", "full"),
)
def q80(spark, sf):
    """FULL OUTER join (the last join family missing from the surface):
    per-entity order and event activity, keeping entities present on
    either side only. Aggregate-then-join keeps both join inputs small
    (one row per key) — at scale this is two partial-agg shuffles plus a
    key-colocated join instead of a fact×fact row explosion."""
    o = (
        _t(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    e = (
        _t(spark, sf, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    j = o.alias("o").join(e.alias("e"), F.col("o.k") == F.col("e.k"), "full_outer")
    return j.select(
        F.coalesce(F.col("o.k"), F.col("e.k")).alias("entity_id"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
    )


@query(
    "q82_gap_fill_forward",
    """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                         date_trunc('hour', max(ts)) AS hi FROM events),
        spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_id FROM b),
        u AS (SELECT DISTINCT user_id FROM events WHERE user_id < 3),
        h AS (SELECT user_id, date_trunc('hour', ts) AS hour_id,
                     CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vs
              FROM events WHERE user_id < 3 GROUP BY 1, 2),
        g AS (SELECT u.user_id, s.hour_id, h.vs
              FROM u CROSS JOIN spine s
              LEFT JOIN h ON h.user_id = u.user_id AND h.hour_id = s.hour_id)
       SELECT user_id, hour_id,
              COALESCE(last_value(vs IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY hour_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       0.0) AS value_filled
       FROM g""",
    tags=("training", "timeseries", "gap-fill", "window"),
)
def q82(spark, sf):
    """Time-series gap filling: dense hourly spine per user (explode-
    sequence, the reference's date-dimension pattern F8/F9) left-joined to
    hourly sums, missing hours forward-filled with the last observation
    (``last(ignorenulls)`` over an ordered frame), leading gaps → 0.

    The hypertable-rollup shape: the spine bounds come from a 1-row
    aggregate *joined in plan* (no driver round-trip, unlike the
    reference's execute-then-plan f-string at ipynb:L1185-L1195), and the
    fill window partitions by user — shuffle on user_id only."""
    ev = _t(spark, sf, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour_id")
    )
    small = ev.where(F.col("user_id") < 3)
    users = small.select("user_id").distinct()
    hourly = (
        small.withColumn("hour_id", F.date_trunc("hour", "ts"))
        .groupBy("user_id", "hour_id")
        .agg(exact_sum("value", "vs"))
    )
    grid = users.crossJoin(F.broadcast(spine)).join(hourly, ["user_id", "hour_id"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fill = F.coalesce(F.last("vs", ignorenulls=True).over(w), F.lit(0.0))
    return grid.select("user_id", "hour_id", fill.alias("value_filled"))


@query(
    "q83_tfidf_top_terms",
    r"""WITH tk AS (SELECT doc_id,
                           unnest(string_split_regex(trim(text), '\s+')) AS tok
                    FROM documents),
        tf AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        dfreq AS (SELECT tok, count(DISTINCT doc_id) AS d FROM tk GROUP BY 1),
        n AS (SELECT count(*) AS nd FROM documents),
        sc AS (SELECT doc_id, tok, c * ln(CAST(nd AS DOUBLE) / d) AS score
               FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
        r AS (SELECT doc_id, tok, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, tok) AS rn
              FROM sc)
       SELECT doc_id, tok AS top_term, round(score, 6) AS tfidf
       FROM r WHERE rn = 1 AND doc_id < 100 ORDER BY doc_id""",
    tags=("training", "text", "tfidf", "window"),
)
def q83(spark, sf):
    """Most characteristic term per document by TF-IDF (tf × ln(N/df)),
    rank-1 via row_number with a term tie-break. Corpus stats (df, N) are
    tiny aggregates broadcast back over the term-frequency table; the
    double expression tree is identical in both engines so ordering and
    rounding agree exactly."""
    # _ts (r12): fan the one-row-group scan out below the tokenize
    tk = _ts(spark, sf, "documents", "doc_id", "text").select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    tf = tk.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    dfreq = tk.distinct().groupBy("tok").agg(F.count(F.lit(1)).alias("d"))
    n = _t(spark, sf, "documents").agg(F.count(F.lit(1)).alias("nd"))
    sc = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (F.col("c") * F.log(F.col("nd").cast("double") / F.col("d"))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("doc_id") < 100))
        .select("doc_id", F.col("tok").alias("top_term"), F.round("score", 6).alias("tfidf"))
        .orderBy("doc_id")
    )


@query(
    "q84_value_outliers",
    f"""WITH s AS ({_MOM_SUMS_SQL}),
        st AS (SELECT event_type, sx / n AS mean,
                      sqrt((n * sxx - sx * sx) / (n * (n - 1))) AS std
               FROM s)
       SELECT e.event_type, count(*) AS n_outliers
       FROM events e JOIN st ON e.event_type = st.event_type
       WHERE value > mean + 2 * std
       GROUP BY 1 ORDER BY 1""",
    tags=("training", "quality", "outlier"),
)
def q84(spark, sf):
    """Z-score outlier detection (value > μ + 2σ per event type) — the
    data-quality filtering step of a corpus pipeline. Per-type moments
    from exact power sums (same machinery as q77) broadcast back over the
    fact: one aggregate pass + one map-side filtered pass, no fact
    shuffle. The μ+2σ threshold is the same double in both engines, so
    the boundary comparison can't disagree."""
    v = F.col("value").cast(DecimalType(10, 2))
    s = (
        _t(spark, sf, "events")
        .select("event_type", v.alias("v"))
        .groupBy("event_type")
        .agg(
            F.count("v").cast("double").alias("n"),
            F.sum(F.col("v").cast(DecimalType(18, 2))).cast("double").alias("sx"),
            F.sum(F.col("v") * F.col("v")).cast("double").alias("sxx"),
        )
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    st = s.select(
        "event_type",
        (sx / n).alias("mean"),
        F.sqrt((n * sxx - sx * sx) / (n * (n - 1))).alias("std"),
    )
    ev = _t(spark, sf, "events")
    return (
        ev.join(F.broadcast(st), "event_type")
        .where(F.col("value") > F.col("mean") + 2 * F.col("std"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
        .orderBy("event_type")
    )


@query("q81_approx_value_percentiles", None, tags=("training", "approx", "rows-only"))
def q81(spark, sf):
    """Approximate per-group percentiles (Greenwald-Khanna sketch,
    ``percentile_approx``) — the 100 TB path where q67's exact per-group
    sort is unaffordable; mergeable sketches keep it one partial+final
    aggregate. Sketch results are engine-specific => rows-only check
    (exact anchor is q67)."""
    ev = _t(spark, sf, "events")
    pct = F.percentile_approx("value", [0.5, 0.9, 0.99], 10000)
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            F.col("p")[0].alias("p50_approx"),
            F.col("p")[1].alias("p90_approx"),
            F.col("p")[2].alias("p99_approx"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Corpus curation: per-source quotas, pre-shuffle join pruning, incremental
# dedup — the round-2 additions to the training surface
# --------------------------------------------------------------------------

_QUOTA = 10

@query(
    "q101_source_quota_cap",
    f"""SELECT doc_id, source, n_chars, CAST(rn AS INTEGER) AS rn
        FROM (SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id) AS rn
              FROM documents) t
        WHERE rn <= {_QUOTA}""",
    tags=("training", "curation", "quota", "window"),
)
def q101(spark, sf):
    """Per-source document quota (domain capping): keep at most N docs per
    source, preferring the longest — the standard guard against a single
    domain (boilerplate mills, mirrors) dominating a web-scale corpus.

    Scale shape: one hash-partition window keyed on source; the sort is
    per-source, not global. The deterministic (n_chars DESC, doc_id)
    tie-break makes the kept set re-run- and partitioning-stable. A
    pathologically hot source makes its one partition sort large — the
    skew remedy at 100 TB is a two-phase cap (per-(source, shard) pre-cap
    with a hash shard, then the exact window on survivors ≤ shards*N per
    source), same trick as q97's salted aggregate."""
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        _t(spark, sf, "documents")
        .select("doc_id", "source", "n_chars")
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= _QUOTA)
    )


@query(
    "q102_bloom_prefilter_join",
    # plain-join oracle: value equality proves the bloom prefilter is
    # result-transparent (false positives removed by the exact join,
    # false negatives impossible)
    """SELECT o_orderstatus,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
              count(*) AS n_orders
       FROM orders JOIN customer ON o_custkey = c_custkey
       WHERE c_mktsegment = 'BUILDING'
       GROUP BY 1 ORDER BY o_orderstatus""",
    tags=("training", "join", "bloom", "prune"),
)
def q102(spark, sf):
    """Fact pruning before the join shuffle via an explicit Bloom filter
    (operators/prune.py): build a key-count-sized bitmap (~16 bits/key)
    from the filtered dim's keys, plant it as a literal predicate in the
    fact scan, then run the exact join on survivors.

    At 100 TB this is the difference between shuffling every fact row and
    shuffling ~the matching fraction (+FP rate) when the dim is too large
    to broadcast — the explicit form of Spark's runtime row-level bloom
    rewrite, usable across multiple facts from one build. Here the dim
    also broadcasts (it is small at test SF), which keeps the exact-join
    stage shuffle-free; the bloom still demonstrates scan-stage pruning
    (predicate visible in the scan's Filter, see PLANS.md)."""
    from ..operators.prune import bloom_bitmap, bloom_might_contain

    cust = _t(spark, sf, "customer")
    keys = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bitmap = bloom_bitmap(keys, "c_custkey")
    orders = _t(spark, sf, "orders")
    pruned = orders.where(bloom_might_contain(F.col("o_custkey"), bitmap))
    return (
        pruned.join(F.broadcast(keys), pruned["o_custkey"] == keys["c_custkey"])
        .groupBy("o_orderstatus")
        .agg(
            exact_sum("o_totalprice", "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q103_incremental_dedup",
    # exhaustive cross-set oracle (same shape as q98's): a green row
    # certifies the banded cross-side candidate stage lost no >=0.5 pair
    f"""WITH {_SHINGLES_SQL},
         hsplit AS (SELECT doc_id, {SPLIT_SQL.format(x="doc_id")} AS hh FROM documents),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS ca, b.doc_id AS nb, count(*) AS i
                   FROM sh a JOIN hsplit ha ON a.doc_id = ha.doc_id
                        JOIN sh b ON a.shingle = b.shingle
                        JOIN hsplit hb ON b.doc_id = hb.doc_id
                   WHERE ha.hh < {BATCH_FROM} AND hb.hh >= {BATCH_FROM}
                   GROUP BY 1, 2),
         dropped AS (SELECT DISTINCT nb FROM inter
                     JOIN sizes sa ON ca = sa.doc_id
                     JOIN sizes sb ON nb = sb.doc_id
                     WHERE i / (sa.n + sb.n - i) >= 0.5)
        SELECT d.doc_id, CAST(s.n AS INTEGER) AS n_shingles
        FROM hsplit d JOIN sizes s ON d.doc_id = s.doc_id
        WHERE d.hh >= {BATCH_FROM} AND d.doc_id NOT IN (SELECT nb FROM dropped)""",
    tags=("training", "dedup", "incremental", "lsh"),
)
def q103(spark, sf):
    """Incremental near-dedup: treat the 20% hash-split tail as today's new
    batch and the 80% head as the already-deduped corpus; drop batch docs
    with Jaccard >= 0.5 against ANY corpus doc (operators/dedup.
    incremental_near_dedup — LSH band candidates restricted to cross-side
    pairs, exact verify on candidates only).

    The production point: re-deduping an append-only corpus from scratch is
    O((N+B)^2)-ish; checking batch-vs-corpus through the persisted LSH
    index is O(B x collisions). Since r9 the corpus side's signatures come
    from the MAINTAINED index artifact (plans/dedup_index.
    corpus_signatures — the q245 stored-table lever as the default path),
    so the batch pays batch-side signature compute only; the recompute
    path remains incremental_near_dedup's fallback. The oracle is the
    EXHAUSTIVE cross-set Jaccard, so the gate row also certifies
    cross-side LSH recall through the stored-table candidates."""
    from ..operators.dedup import incremental_near_dedup
    from .dedup_index import corpus_signatures

    docs = _t(spark, sf, "documents").select("doc_id", tokens("text").alias("ts"))
    return incremental_near_dedup(
        docs,
        F.expr(batch_sql("doc_id")),
        threshold=0.5,
        corpus_banded=corpus_signatures(spark, sf),
    )


@query(
    "q105_dup_group_canonical",
    f"""WITH RECURSIVE {_SHINGLES_SQL},
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM sh a JOIN sh b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         je AS (SELECT doc_a, doc_b FROM pairs
                JOIN sizes sa ON doc_a = sa.doc_id
                JOIN sizes sb ON doc_b = sb.doc_id
                WHERE inter / (sa.n + sb.n - inter) >= 0.5),
         e AS (SELECT doc_a AS a, doc_b AS b FROM je
               UNION SELECT doc_b, doc_a FROM je),
         reach AS (SELECT a, b FROM e
                   UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component_id
                  FROM reach GROUP BY a),
         m AS (SELECT c.component_id, d.doc_id, d.n_chars
               FROM comp c JOIN documents d USING (doc_id)),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY component_id
                                                 ORDER BY n_chars DESC, doc_id) AS rn
                    FROM m)
        SELECT component_id, count(*) AS n_docs,
               CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS rep_doc_id,
               CAST(max(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS rep_chars,
               CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
                   AS dropped_chars
        FROM ranked GROUP BY 1 ORDER BY component_id""",
    tags=("training", "dedup", "graph", "canonical"),
)
def q105(spark, sf):
    """Canonical-representative selection: the finishing step of near-dedup.
    Components come from the scale-safe LSH-verified pair pipeline (same
    edges as q73); within each duplicate group the KEPT document is the
    longest one (ties -> lowest doc_id), and the query reports what each
    group kept and dropped.

    Scale shape: the rep is chosen with a single ``max(struct(n_chars,
    -doc_id))`` aggregate — partial-aggregation-friendly (map-side combine
    works), ONE shuffle on component id, no window over the full corpus.
    The oracle re-derives components from the exhaustive quadratic join
    and picks the rep with row_number, so a green row certifies both the
    index pair recall and the tie-break.

    r7: the component table comes from the MAINTAINED dedup index
    (plans/dedup_index.dup_components — built once per session, persisted,
    shared with q113/q226/q163): at 100 TB the pair/component relation is
    a table you maintain, not a subtree every head recomputes."""
    from .dedup_index import dup_components

    docs = _t(spark, sf, "documents").select("doc_id", "n_chars")
    comps = dup_components(spark, sf)
    # lexicographic struct max == (max n_chars, then min doc_id): the
    # argmax travels through partial aggregation as one 16-byte value
    best = F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg")))
    return (
        comps.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy(F.col("comp").alias("component_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            best.alias("best"),
            F.sum("n_chars").alias("__tot"),
        )
        .select(
            "component_id",
            "n_docs",
            (-F.col("best.neg")).alias("rep_doc_id"),
            F.col("best.n_chars").alias("rep_chars"),
            (F.col("__tot") - F.col("best.n_chars")).alias("dropped_chars"),
        )
        .orderBy("component_id")
    )


#: 60 md5 bits as the shuffle sort key — decorrelated from doc_id, identical
#: in both engines (the MinHash base-hash pattern, operators/dedup.py)
_SHUF_HASH = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"


@query(
    "q106_corpus_shuffle",
    f"""WITH h AS (SELECT doc_id, {_SHUF_HASH} AS oh FROM documents)
        SELECT CAST(oh % 8 AS INTEGER) AS shard,
               CAST(row_number() OVER (PARTITION BY oh % 8
                                       ORDER BY oh, doc_id) AS INTEGER) AS pos,
               doc_id
        FROM h""",
    tags=("training", "shuffle", "deterministic"),
)
def q106(spark, sf):
    """Deterministic global shuffle for training-example order: every doc
    gets (shard, pos) from an md5-derived sort key — reproducible across
    runs, engines, and partitionings, unlike ``df.orderBy(rand())``.

    Scale shape: NO global sort. Shard = hash % 8 is a map-only
    projection; position is a row_number within shard, i.e. one shuffle on
    the shard key and 8 independent local sorts — the layout a 100 TB
    corpus writer wants (one output file group per shard, each internally
    hash-ordered). Epoch reshuffles = salt the md5 input with the epoch
    number."""
    oh = h60("doc_id")
    w = Window.partitionBy("shard").orderBy("oh", "doc_id")
    return (
        _t(spark, sf, "documents")
        .select("doc_id", oh.alias("oh"))
        .withColumn("shard", (F.col("oh") % 8).cast("int"))
        .select(
            "shard",
            F.row_number().over(w).cast("int").alias("pos"),
            "doc_id",
        )
    )


_MIX_BUDGET = 20_000
#: per-doc md5 uniform order key, salted 'mix:' — decorrelated from q106's
_MIX_HASH = "CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"


@query(
    "q110_token_budget_mix",
    f"""WITH tc AS (SELECT doc_id, source,
                         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                             AS n_tok,
                         {_MIX_HASH} AS oh
                  FROM documents),
         c AS (SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY oh, doc_id
                                          ROWS UNBOUNDED PRECEDING) - n_tok
                       AS cum_before
               FROM tc)
        SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens
        FROM c WHERE cum_before < {_MIX_BUDGET} GROUP BY 1 ORDER BY source""",
    tags=("training", "curation", "mixture", "token-budget"),
)
def q110(spark, sf):
    """Token-budget mixture sampling: fill each source's slice of the
    training mix up to a per-source TOKEN budget (not a document count —
    sources with long docs contribute fewer docs), taking documents in
    deterministic pseudo-random order (md5 order key) so the kept subset
    is unbiased and re-run-stable. The boundary doc that crosses the
    budget is kept (greedy fill).

    This is how mixture weights ("20% code, 40% web, ...") become concrete
    document sets at 100 TB. Scale shape: one window per source (running
    sum, per-source sort only), then a small per-source aggregate; no
    global sort, no driver state."""
    oh = F.conv(
        F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("oh", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = _t(spark, sf, "documents").select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tok"), oh.alias("oh")
    )
    return (
        d.withColumn("cum_before", F.sum("n_tok").over(w) - F.col("n_tok"))
        .where(F.col("cum_before") < _MIX_BUDGET)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("sum_tokens"))
        .orderBy("source")
    )


@query(
    "q111_salted_revenue_join",
    # plain-join oracle: value equality proves the salted rewrite is
    # result-transparent (every big row meets exactly its salt's replica)
    """SELECT o_orderstatus,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
              count(*) AS n_items
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY 1 ORDER BY o_orderstatus""",
    tags=("training", "skew", "join", "salted"),
)
def q111(spark, sf):
    """Skew-salted large-to-large join (functions/skew.salted_join):
    lineitem rows carry pmod(xxhash64(orderkey, linenumber), 8) and orders
    is replicated 8x, so a pathologically hot orderkey spreads over 8
    reduce partitions instead of pinning one. The merge hint forces the
    sort-merge regime the salt exists for (at test SF the planner would
    otherwise broadcast orders and no salting would be needed — broadcast
    remains the first choice when the small side fits).

    The oracle is the PLAIN join: a green row certifies the salted rewrite
    changed the physical distribution and nothing else."""
    from ..functions.skew import salted_join

    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus").hint("merge")
    joined = salted_join(
        li,
        orders,
        "l_orderkey",
        "o_orderkey",
        F.xxhash64("l_orderkey", "l_linenumber"),
        n_salts=8,
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(exact_sum("l_extendedprice", "revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("o_orderstatus")
    )


@query(
    "q112_incremental_gold_refresh",
    # full-recompute oracle: value equality proves the partial-merge
    # refresh is lossless (store (sum, count), never the finished avg)
    """SELECT o_orderstatus,
              CAST(year(o_orderdate) AS INT) AS yr,
              CAST(month(o_orderdate) AS INT) AS mo,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
              count(*) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                  AS avg_price
       FROM orders GROUP BY 1, 2, 3 ORDER BY o_orderstatus, yr, mo""",
    tags=("training", "incremental", "gold", "partial-agg"),
)
def q112(spark, sf):
    """Incremental gold refresh: the stored gold table keeps MERGEABLE
    partials (decimal sum, row count) per group; a new batch contributes
    its own partials; refresh = union + re-aggregate, and finished
    measures (avg) are derived only after the merge. Here the "stored"
    side is orders before 1996-01-01 and the "batch" is everything after —
    the oracle recomputes from scratch, so a green row certifies the merge
    loses nothing.

    The 100 TB point: a daily refresh touches one day of fact data plus a
    gold-sized partial table instead of re-scanning years of history. The
    exact decimal sums are what make this safe — float partials would
    drift from the recompute as batch boundaries move (functions/agg.py's
    rule). Never store a finished average: avg partials don't merge."""
    base = _t(spark, sf, "orders").select(
        "o_orderstatus",
        "o_orderdate",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        "o_totalprice",
    )
    keys = ["o_orderstatus", "yr", "mo"]

    def partials(df):
        return df.groupBy(*keys).agg(
            F.sum(F.col("o_totalprice").cast(DecimalType(18, 2))).alias("ps"),
            F.count(F.lit(1)).alias("pc"),
        )

    stored = partials(base.where(F.col("o_orderdate") < "1996-01-01"))
    batch = partials(base.where(F.col("o_orderdate") >= "1996-01-01"))
    s = F.sum("ps")
    return (
        stored.unionByName(batch)
        .groupBy(*keys)
        .agg(
            s.cast("double").alias("revenue"),
            F.sum("pc").alias("n_orders"),
            (s.cast("double") / F.sum("pc")).alias("avg_price"),
        )
        .orderBy(*keys)
    )


@query(
    "q113_leakage_safe_split",
    f"""WITH RECURSIVE {_SHINGLES_SQL},
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM sh a JOIN sh b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         je AS (SELECT doc_a, doc_b FROM pairs
                JOIN sizes sa ON doc_a = sa.doc_id
                JOIN sizes sb ON doc_b = sb.doc_id
                WHERE inter / (sa.n + sb.n - inter) >= 0.5),
         e AS (SELECT doc_a AS a, doc_b AS b FROM je
               UNION SELECT doc_b, doc_a FROM je),
         reach AS (SELECT a, b FROM e
                   UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component_id
                  FROM reach GROUP BY a),
         g AS (SELECT d.doc_id, d.n_chars,
                      coalesce(c.component_id, d.doc_id) AS gid
               FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
         s AS (SELECT *, CASE WHEN {SPLIT_SQL.format(x="gid")} < {BATCH_FROM}
                              THEN 'train'
                              WHEN {SPLIT_SQL.format(x="gid")} < {VAL_BELOW}
                              THEN 'val' ELSE 'test' END AS split
               FROM g)
        SELECT split, count(*) AS n_docs, count(DISTINCT gid) AS n_groups,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM s GROUP BY 1 ORDER BY split""",
    tags=("training", "split", "dedup", "leakage"),
)
def q113(spark, sf):
    """Leakage-safe train/val/test split: the split is a hash of the
    near-dup GROUP id (connected component; singletons group with
    themselves), so two near-duplicate documents can never land on
    opposite sides of the train/test boundary — the quiet eval-inflation
    bug a doc-id hash split (q71) cannot prevent.

    Scale shape: the split itself is a map-only projection off a LEFT
    join against the (small) component table. The oracle re-derives
    groups exhaustively, so a green row certifies group-atomicity of the
    split end to end.

    r7: components come from the MAINTAINED dedup index
    (plans/dedup_index.dup_components), shared with q105/q226/q163 —
    one build per session instead of one per head."""
    from .dedup_index import dup_components

    docs = _t(spark, sf, "documents").select("doc_id", "n_chars")
    comps = dup_components(spark, sf)
    gid = F.coalesce(F.col("comp"), F.col("doc_id"))
    split = F.expr(split_case_sql("coalesce(comp, doc_id)", 0))
    return (
        docs.select("doc_id", "n_chars")
        # broadcast: comps holds only docs that belong to a dup group (tiny
        # vs the corpus), but it comes out of the CC localCheckpoint as an
        # RDD scan with no stats, so without the hint the planner falls back
        # to a sort-merge join that shuffles the whole corpus by doc_id.
        .join(F.broadcast(comps), "doc_id", "left")
        .select(split.alias("split"), gid.alias("gid"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("gid").alias("n_groups"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# q165 — weighted sampling without replacement (Efraimidis-Spirakis)
# --------------------------------------------------------------------------

_ES_K = 20          # sample size per source stratum
#: md5-uniform denominator. 52 bits, NOT 60: (1<<52)+1 is exactly
#: representable as a double (< 2^53), so u = (b1+1)/denom is truly in
#: (0, 1) EXCLUSIVE — with a 60-bit prefix, float((1<<60)+1) rounds back
#: to 2^60 and the all-ones prefix would yield u == 1.0 exactly
#: (es_key 0, an always-selected sentinel), falsifying the invariant.
_ES_DENOM = (1 << 52) + 1

_ES_U_SQL = (
    "(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) + 1)"
    f" / {float(_ES_DENOM)}"
)


@query(
    "q165_weighted_sample",
    f"""WITH keyed AS (
         SELECT source, doc_id, n_chars,
                round(-ln({_ES_U_SQL}) / n_chars, 6) AS es_key
         FROM documents WHERE n_chars > 0),
       ranked AS (
         SELECT source, doc_id, n_chars, es_key,
                row_number() OVER (PARTITION BY source
                                   ORDER BY es_key, doc_id) AS rank
         FROM keyed)
       SELECT source, rank, doc_id, n_chars, es_key
       FROM ranked WHERE rank <= {_ES_K}
       ORDER BY source, rank""",
    tags=("training", "sample", "weighted", "without-replacement", "stratified"),
)
def q165(spark, sf):
    """STRATIFIED weighted sampling without replacement, k per source —
    the third member of the sampling family: q72 draws per-stratum
    UNweighted, q108 draws weighted but GLOBAL (one top-100 via
    TakeOrderedAndProject); a training mixture wants both at once — k
    docs per source, long docs proportionally more likely within each.
    Efraimidis-Spirakis exponential keys: key = -ln(u)/w with w =
    n_chars; the k smallest keys per stratum are exactly a
    weight-proportional sample without replacement (the -ln(u)/w form is
    order-equivalent to q108's u^(1/w) priorities — smallest exp-key =
    largest priority).

    Deterministic cross-engine: u is md5-derived from doc_id (the q37
    trick) and the key is rounded to 6 dp BEFORE ranking with a doc_id
    tie-break — q108's rule, so JVM-vs-libm ln() ulp differences can't
    flip a selection boundary and both engines draw the IDENTICAL
    sample (re-running the pipeline reproduces it exactly — the
    auditability property a production corpus build needs).

    Scale shape: one map-side key computation (md5 + ln, pure JVM), one
    window per stratum — and because only the k smallest ranks survive,
    Spark plans the window as a map-side WindowGroupLimit before the
    shuffle (the q134 KMV shape, pinned in test_plans): each partition
    forwards at most k rows per stratum, so the exchange carries
    O(k * n_sources * n_partitions) rows regardless of corpus size —
    where q108's global-top-k shape would need a second pass to balance
    sources."""
    docs = _t(spark, sf, "documents").where(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10).cast("long")
        + 1
    ) / F.lit(float(_ES_DENOM))
    keyed = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.round(-F.log(u) / F.col("n_chars"), 6).alias("es_key"),
    )
    w = Window.partitionBy("source").orderBy("es_key", "doc_id")
    return (
        keyed.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _ES_K)
        .select("source", "rank", "doc_id", "n_chars", "es_key")
        .orderBy("source", "rank")
    )
