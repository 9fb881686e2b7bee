"""Lakehouse table-maintenance and analytics extensions
(q149-q152, q160-q162, q164, q166, q199).

The reference pipeline rebuilds its gold tables with full overwrites
(SURVEY.md §2.1 S2/S3 — ``mode("overwrite")`` per notebook cell); a
production lake at 100 TB cannot afford that, so this module adds the
incremental-maintenance operators a real deployment layers on top:

* q149 — CDC MERGE (upsert): apply a small change batch to a large fact
  without shuffling the fact. The Delta-style ``MERGE INTO`` is
  re-expressed as two broadcast hash joins (matched-update via left-outer,
  insert detection via broadcast anti on the *matched key set*, never the
  base table) — zero Exchange on the base relation.
* q150 — SCD Type-2 history build: effective-dated attribute versions from
  an event log via lag/lead windows (one shuffle, keyed by the entity).
* q151 — BM25 ranking: the classic lexical retrieval scorer over the
  documents table (Robertson/Spärck Jones k1/b form), extending the TF-IDF
  family (q83) with document-length normalization.
* q152 — per-group OLS trend: closed-form slope/intercept of value over
  time from exact decimal power sums (the q77/q84 moment machinery applied
  to regression) — deterministic cross-engine, unlike streaming
  ``regr_slope`` whose float accumulation is order-dependent.
* q160 — temporal join: facts assigned to the SCD2 version whose validity
  interval contains their timestamp — a range join made an equi-join by
  the entity key.
* q161/q164/q166 — the maintenance-planning trio, all metadata-scale
  relations: zone-map stats decide what a scan SKIPS, the z-order layout
  decides how files CLUSTER, the compaction plan decides which small
  files get REWRITTEN together.
* q162 — change-data-feed as a snapshot diff (insert/update/delete).
* q199 — reciprocal-rank fusion of the BM25 lexical ranking and a vector
  cosine ranking (the hybrid-retrieval head of a RAG corpus pipeline).

All carry full DuckDB value oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType
from pyspark.sql.window import Window

from ..functions.vectors import DOT_SQL
from .base import _t, _ts, query

# --------------------------------------------------------------------------
# q149 — CDC merge/upsert without shuffling the base table
# --------------------------------------------------------------------------

# Deterministic change batch derived from the orders table itself so every
# scale factor exercises both MERGE arms: keys ≡ 0 (mod 7) become updates
# (status -> 'R', 5% price uplift); keys ≡ 3 (mod 11) spawn inserts under
# fresh negative keys (base keys are non-negative at every SF, so the
# insert arm never collides with a real key).
_MERGE_ORACLE = """
WITH upd AS (
  SELECT o_orderkey AS k, 'R' AS u_status, o_totalprice * 1.05 AS u_price
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT -o_orderkey - 1 AS k, 'N' AS u_status, o_totalprice AS u_price
  FROM orders WHERE o_orderkey % 11 = 3),
merged AS (
  SELECT b.o_orderkey AS k,
         COALESCE(u.u_status, b.o_orderstatus) AS status,
         COALESCE(u.u_price, b.o_totalprice) AS price,
         CASE WHEN u.k IS NOT NULL THEN 'update' ELSE 'keep' END AS action
  FROM orders b LEFT JOIN upd u ON b.o_orderkey = u.k
  UNION ALL
  SELECT u.k, u.u_status, u.u_price, 'insert' AS action
  FROM upd u LEFT JOIN orders b ON u.k = b.o_orderkey
  WHERE b.o_orderkey IS NULL)
SELECT k AS o_orderkey, status, price, action FROM merged"""


def _merge_updates(spark, sf):
    """The deterministic change batch (see _MERGE_ORACLE header comment)."""
    o = _t(spark, sf, "orders")
    upd = o.where(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("R").alias("u_status"),
        (F.col("o_totalprice") * F.lit(1.05)).alias("u_price"),
    )
    ins = o.where(F.col("o_orderkey") % 11 == 3).select(
        (-F.col("o_orderkey") - 1).alias("k"),
        F.lit("N").alias("u_status"),
        F.col("o_totalprice").alias("u_price"),
    )
    return upd.unionByName(ins)


@query(
    "q149_merge_upsert",
    _MERGE_ORACLE,
    tags=("lakehouse", "merge", "cdc", "broadcast"),
)
def q149(spark, sf):
    """Delta-style MERGE INTO as a zero-base-shuffle broadcast plan.

    The naive distributed MERGE is a full-outer join — at 100 TB that
    shuffles the entire base table to apply a batch that is typically
    <0.1% of it. This plan never moves the base:

    1. matched-arm: ``base LEFT OUTER broadcast(changes)`` — a broadcast
       hash join, base partitioning untouched; COALESCE picks updated
       columns, the action tag distinguishes update vs keep.
    2. insert-arm: the key set that DID match is computed as
       ``changes ⋈ broadcast? no — base ⋈ broadcast(change keys)`` (an
       inner broadcast join whose output is at most |changes| rows), and
       inserts are ``changes ANTI broadcast(matched_keys)`` — both sides
       of the anti join are change-batch-sized, so the existence check
       never touches base partitioning either.

    The union of the two arms is the merged table. (A real Delta MERGE
    additionally prunes base *files* via the same broadcast inner join —
    arm 2's matched-key relation is exactly the file-pruning driver.)
    """
    base = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    upd = _merge_updates(spark, sf)

    matched = (
        base.select(F.col("o_orderkey").alias("k"))
        .join(F.broadcast(upd.select("k")), "k")
        .select("k")
    )
    upserted = base.join(F.broadcast(upd), base.o_orderkey == upd.k, "left_outer").select(
        F.col("o_orderkey"),
        F.coalesce("u_status", "o_orderstatus").alias("status"),
        F.coalesce("u_price", "o_totalprice").alias("price"),
        F.when(F.col("k").isNotNull(), F.lit("update")).otherwise(F.lit("keep")).alias("action"),
    )
    inserts = upd.join(F.broadcast(matched), "k", "left_anti").select(
        F.col("k").alias("o_orderkey"),
        F.col("u_status").alias("status"),
        F.col("u_price").alias("price"),
        F.lit("insert").alias("action"),
    )
    return upserted.unionByName(inserts)


# --------------------------------------------------------------------------
# q150 — SCD Type-2 effective-dated history
# --------------------------------------------------------------------------

def scd2_versions(ev):
    """The SCD2 build over an (user_id, event_type, ts, event_id) event
    relation (q150's body)."""
    w_scan = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w_scan).alias("prev_type"),
        )
        .where(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    )
    # event_id tie-break: two change points can share a timestamp, and
    # lead/row_number must close intervals in the same order in both engines
    w_ver = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w_ver).alias("valid_to"),
        F.row_number().over(w_ver).cast("int").alias("version"),
    ).select(
        "user_id",
        "event_type",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
        "version",
    )


@query(
    "q150_scd2_history",
    """WITH ordered AS (
         SELECT user_id, event_type, ts, event_id,
                lag(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev_type
         FROM events WHERE user_id < 200),
       changes AS (
         SELECT user_id, event_type, ts AS valid_from, event_id
         FROM ordered
         WHERE prev_type IS NULL OR event_type <> prev_type),
       versioned AS (
         SELECT user_id, event_type, valid_from,
                lead(valid_from) OVER (PARTITION BY user_id
                                       ORDER BY valid_from, event_id) AS valid_to,
                CAST(row_number() OVER (PARTITION BY user_id
                                        ORDER BY valid_from, event_id) AS INTEGER) AS version
         FROM changes)
       SELECT user_id, event_type, valid_from, valid_to,
              (valid_to IS NULL) AS is_current, version
       FROM versioned""",
    tags=("lakehouse", "scd2", "window"),
)
def q150(spark, sf):
    """Slowly-changing-dimension Type 2: compress an event log into
    effective-dated attribute versions. A change point is any row whose
    event_type differs from the entity's previous row (ordered by ts with
    the event_id tie-break); valid_to closes at the next change's
    valid_from, the open row is current.

    Scale shape: one Exchange keyed by user_id feeds BOTH window passes
    (lag to find change points, lead/row_number to close intervals — the
    second window re-sorts within the same partitioning, no second
    shuffle), then a narrow filter. This is the standard 100 TB history
    build: cost ∝ one shuffle of the event log, state ∝ nothing. The
    build body is ``scd2_versions``."""
    return scd2_versions(_t(spark, sf, "events").where(F.col("user_id") < 200))


# --------------------------------------------------------------------------
# q151 — BM25 lexical ranking
# --------------------------------------------------------------------------

#: fixed query-term set (drawn from the synthetic corpus vocabulary) and the
#: standard Robertson parameters
_BM25_TERMS = ("merge", "window", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1, b = _BM25_K1, _BM25_B
    return rf"""
WITH tk AS (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\s+')) AS tok
            FROM documents),
dl AS (SELECT doc_id, count(*) AS len FROM tk GROUP BY 1),
stats AS (SELECT count(*) AS nd, sum(len) AS total_len FROM dl),
tf AS (SELECT doc_id, tok, count(*) AS f
       FROM tk WHERE tok IN ({terms}) GROUP BY 1, 2),
dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
scored AS (
  -- per-term contribution rounded to 6dp then summed as an exact decimal:
  -- the <=|terms|-element float sum would otherwise be order-dependent
  SELECT tf.doc_id,
         CAST(sum(CAST(round(
             ln(1 + (nd - df + 0.5) / (df + 0.5))
             * (f * ({k1} + 1))
             / (f + {k1} * (1 - {b} + {b} * len
                            / (CAST(total_len AS DOUBLE) / nd))), 6)
             AS DECIMAL(18,6))) AS DOUBLE) AS score
  FROM tf
  JOIN dfreq USING (tok)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id)
SELECT doc_id, round(score, 6) AS bm25
FROM (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM scored)
WHERE rnk <= 20
ORDER BY bm25 DESC, doc_id"""


def _bm25_parts(tf, dl):
    """The corpus statistics (nd, total_len) of the doc lengths ``dl``,
    the document frequencies of the term frequencies ``tf``, and the
    per-doc score aggregate over their join. Per-term contribution
    rounded to 6dp, summed through an exact decimal (order-independent —
    the q77/exact_sum rule applied to a float product)."""
    stats = dl.agg(
        F.count(F.lit(1)).alias("nd"), F.sum("len").alias("total_len")
    )
    dfreq = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    avglen = F.col("total_len").cast("double") / F.col("nd")
    idf = F.log(1 + (F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tfpart = (F.col("f") * (_BM25_K1 + 1)) / (
        F.col("f") + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("len") / avglen)
    )
    score = F.sum(F.round(idf * tfpart, 6).cast(DecimalType(18, 6))).cast("double")
    return stats, dfreq, score.alias("score")


def _bm25_scores(spark, sf):
    """(doc_id, score) for every document matching >= 1 fixed query term —
    q151's scorer, shared with the q199 RRF fusion."""
    from ..functions.text import tokens

    tk = _t(spark, sf, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    dl = tk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    tf = (
        tk.where(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    stats, dfreq, score = _bm25_parts(tf, dl)
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(score)
    )


@query("q151_bm25_topk", _bm25_oracle(), tags=("retrieval", "bm25", "text"))
def q151(spark, sf):
    """BM25 top-20 documents for a fixed query-term set — the lexical
    retrieval scorer (Robertson k1/b form) a RAG corpus pipeline runs
    next to the embedding ANN family (q39/q40/q56).

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
    score(d) = Σ_t idf · f·(k1+1) / (f + k1·(1 - b + b·len/avglen)).

    Scale shape: the inverted-index term-frequency table is filtered to
    the query terms AT THE AGGREGATE (tf rows exist only for query terms,
    so the big relation after the explode is |docs|·|terms| bounded); df
    and the corpus length stats are tiny broadcast aggregates; per-doc
    score is one hash agg; the global top-20 is TakeOrderedAndProject
    (map-side partial top-k, no full sort). The double expression tree
    (counts and one division chain) is identical cross-engine. BM25 is
    untyped in the reference (no text ops exist there, SURVEY §2.6) —
    pure north-star surface like q83."""
    return (
        _bm25_scores(spark, sf).orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
    )


# --------------------------------------------------------------------------
# q152 — per-group OLS trend from exact power sums
# --------------------------------------------------------------------------

_TREND_EPOCH = "2024-01-01"  # fixed day-number origin shared by both engines


@query(
    "q152_value_trend_ols",
    f"""WITH s AS (
         SELECT event_type,
                CAST(count(*) AS DOUBLE) AS n,
                CAST(sum(x) AS DOUBLE) AS sx,
                CAST(sum(x * x) AS DOUBLE) AS sxx,
                CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sv,
                CAST(sum(x * CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sxv
         FROM (SELECT event_type,
                      date_diff('day', DATE '{_TREND_EPOCH}', CAST(ts AS DATE)) AS x,
                      CAST(value AS DECIMAL(10,2)) AS v
               FROM events)
         GROUP BY 1)
       SELECT event_type,
              round((n * sxv - sx * sv) / (n * sxx - sx * sx), 6) AS slope,
              round((sv - ((n * sxv - sx * sv) / (n * sxx - sx * sx)) * sx) / n, 6)
                  AS intercept
       FROM s ORDER BY event_type""",
    tags=("analytics", "regression", "trend"),
)
def q152(spark, sf):
    """Per-event-type linear trend of value over time: closed-form OLS
    slope/intercept from exact power sums (x = integer day number from a
    fixed origin, v = value as DECIMAL(10,2); Σx, Σx², Σv, Σxv aggregate
    as exact integers/decimals and cast to double once). Spark's own
    ``regr_slope`` accumulates doubles in stream order — nondeterministic
    across partitionings and engines — so a gate-checkable regression has
    to go through the q77/q84 exact-moment machinery instead.

    Scale shape: one partial+final hash aggregate over the fact table (five
    sums, all associative), then a few-row projection — the cheapest
    possible distributed regression, and the per-group fan-out version of
    the global probe fit (q145) family."""
    x = F.datediff(F.col("ts").cast("date"), F.lit(_TREND_EPOCH).cast("date")).cast("long")
    v = F.col("value").cast(DecimalType(10, 2))
    s = (
        _t(spark, sf, "events")
        .select("event_type", x.alias("x"), v.alias("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("x").cast("double").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
            F.sum(F.col("v").cast(DecimalType(18, 2))).cast("double").alias("sv"),
            F.sum(F.col("x") * F.col("v").cast(DecimalType(18, 2))).cast("double").alias("sxv"),
        )
    )
    n, sx, sxx, sv, sxv = (F.col(c) for c in ("n", "sx", "sxx", "sv", "sxv"))
    slope = (n * sxv - sx * sv) / (n * sxx - sx * sx)
    return s.select(
        "event_type",
        F.round(slope, 6).alias("slope"),
        F.round((sv - slope * sx) / n, 6).alias("intercept"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q160 — temporal join: assign facts to their SCD2 validity interval
# --------------------------------------------------------------------------

_SCD2_VERSIONS_SQL = """
  SELECT user_id, event_type AS attr, valid_from, valid_to, version
  FROM (SELECT user_id, event_type, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from, event_id) AS valid_to,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY valid_from, event_id) AS INTEGER) AS version
        FROM (SELECT user_id, event_type, ts AS valid_from, event_id
              FROM (SELECT user_id, event_type, ts, event_id,
                           lag(event_type) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id) AS prev_type
                    FROM events WHERE user_id < 200)
              WHERE prev_type IS NULL OR event_type <> prev_type))"""


@query(
    "q160_temporal_version_join",
    f"""WITH v AS ({_SCD2_VERSIONS_SQL})
       SELECT e.user_id, v.version, v.attr,
              count(*) AS n_events,
              CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
       FROM events e
       JOIN v ON e.user_id = v.user_id
             AND e.ts >= v.valid_from
             AND (v.valid_to IS NULL OR e.ts < v.valid_to)
       WHERE e.user_id < 200
       GROUP BY 1, 2, 3
       ORDER BY 1, 2""",
    tags=("lakehouse", "scd2", "temporal-join", "range"),
)
def q160(spark, sf):
    """Temporal join — the consumer of q150's SCD2 build: every event is
    assigned to the dimension version whose half-open validity interval
    [valid_from, valid_to) contains its timestamp, then aggregated per
    (entity, version). This is how a lakehouse queries "state as of the
    fact's own time" without snapshotting the dimension per day.

    Containment is ts-granular and the intervals tile each user's
    timeline ([first_event, null) partitioned at change points), so every
    event lands in EXACTLY one version — pinned by a coverage test
    (Σ n_events == the user-filtered event count).

    Scale shape: this is a RANGE join, but never a nested-loop one — the
    entity key makes it an equi-join on user_id with the interval
    predicate as a cheap post-filter, and per-user version counts are
    bounded (attribute change points, not events). Both sides hash by the
    SAME key the SCD2 build already shuffled on, so on a cluster the
    exchange is reused (and zero extra shuffles on a user-bucketed lake).
    Compare q78, the keyless range join, where binning is the rescue —
    here the key IS the bin."""
    versions = q150(spark, sf).select(
        "user_id",
        F.col("event_type").alias("attr"),
        "valid_from",
        "valid_to",
        "version",
    )
    ev = _t(spark, sf, "events").where(F.col("user_id") < 200)
    contained = (F.col("ts") >= F.col("valid_from")) & (
        F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))
    )
    return (
        ev.join(versions, "user_id")
        .where(contained)
        .groupBy("user_id", "version", "attr")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DecimalType(18, 2))).cast("double").alias("value_sum"),
        )
        .orderBy("user_id", "version")
    )


# --------------------------------------------------------------------------
# q161 — zone-map data-skipping report
# --------------------------------------------------------------------------

_SKIP_THRESHOLD = 990.0  # the selective predicate: value > threshold


@query(
    "q161_zone_map_pruning",
    f"""WITH z AS (
         SELECT CAST(ts AS DATE) AS day,
                count(*) AS n_rows,
                min(value) AS mn,
                max(value) AS mx
         FROM events GROUP BY 1)
       SELECT day, n_rows, mn, mx,
              (mx <= {_SKIP_THRESHOLD}) AS prunable
       FROM z ORDER BY day""",
    tags=("lakehouse", "zone-map", "data-skipping", "stats"),
)
def q161(spark, sf):
    """Zone-map (min/max statistics) data-skipping report: per
    day-partition of the event log, the column statistics Delta/Iceberg
    keep in table metadata, plus whether the partition is PRUNABLE for the
    selective predicate ``value > 990`` — i.e. its max proves no row can
    qualify, so a stats-aware scan skips the whole file without opening
    it. This relation IS the data-skipping decision: at 100 TB the
    difference between scanning 2 partitions and 300 is this query run
    against metadata instead of data.

    Scale shape: one partial+final hash agg over the fact (in a real lake
    the stats already exist in the manifest — the agg is the bootstrap /
    audit path), and the prune flag is a pure projection over the tiny
    stats relation. Pairs with q149: a MERGE's matched-key relation tells
    you which partitions' zone maps must be refreshed."""
    ev = _t(spark, sf, "events")
    z = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    )
    return z.select(
        "day",
        "n_rows",
        "mn",
        "mx",
        (F.col("mx") <= F.lit(_SKIP_THRESHOLD)).alias("prunable"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# q162 — change-data-feed: the diff between two table versions
# --------------------------------------------------------------------------

@query(
    "q162_version_diff_cdf",
    f"""WITH v1 AS (
      SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
      FROM orders),
    m AS ({_MERGE_ORACLE.strip()}),
    v2 AS (SELECT o_orderkey AS k, status, price FROM m WHERE status <> 'F'
           -- deletion arm: the merge result minus status-'F' rows, so the
           -- diff exercises all three change types
           ),
    d AS (
      SELECT COALESCE(a.k, b.k) AS k,
             a.status AS before_status, a.price AS before_price,
             b.status AS after_status,  b.price AS after_price,
             CASE WHEN a.k IS NULL THEN 'insert'
                  WHEN b.k IS NULL THEN 'delete'
                  ELSE 'update' END AS change_type
      FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k
      WHERE a.k IS NULL OR b.k IS NULL
         OR a.status <> b.status OR a.price <> b.price)
    SELECT k AS o_orderkey, change_type,
           before_status, before_price, after_status, after_price
    FROM d""",
    tags=("lakehouse", "cdf", "diff", "versioning"),
)
def q162(spark, sf):
    """Change-data-feed between two table versions — Delta CDF re-expressed
    as a snapshot diff: v1 = the orders base, v2 = the q149 MERGE result
    minus its status-'F' rows (so inserts, updates AND deletes all appear).
    Emits (key, change_type, before, after) — the relation a downstream
    incremental consumer (q112-style gold refresh, streaming SCD2) reads
    instead of re-scanning the table.

    Scale shape: the one operator here that legitimately shuffles both
    sides — a full-outer join on the key (unchanged rows are filtered
    post-join). On a lake where both snapshots are bucketed by the key
    the exchange disappears entirely; a log-backed CDF (Delta) avoids the
    diff altogether by recording changes at write time — which is exactly
    the q149 MERGE's action column, and the test pins that this diff
    agrees with it."""
    v1 = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    v2 = (
        q149(spark, sf)
        .where(F.col("status") != "F")
        .select(F.col("o_orderkey").alias("k"), "status", "price")
    )
    a = v1.alias("a")
    b = v2.alias("b")
    ak, bk = F.col("a.k"), F.col("b.k")
    changed = (
        ak.isNull()
        | bk.isNull()
        | (F.col("a.status") != F.col("b.status"))
        | (F.col("a.price") != F.col("b.price"))
    )
    return (
        a.join(b, ak == bk, "full_outer")
        .where(changed)
        .select(
            F.coalesce(ak, bk).alias("o_orderkey"),
            F.when(ak.isNull(), F.lit("insert"))
            .when(bk.isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("change_type"),
            F.col("a.status").alias("before_status"),
            F.col("a.price").alias("before_price"),
            F.col("b.status").alias("after_status"),
            F.col("b.price").alias("after_price"),
        )
    )


# --------------------------------------------------------------------------
# q164 — Z-order clustering: multi-dimensional data-skipping layout
# --------------------------------------------------------------------------

_Z_BITS = 8           # 8 bits per dimension -> 16-bit z-value, 1024 buckets
_Z_BUCKET_SHIFT = 6   # bucket = z >> 6: up to 2^10 z-range buckets
#: the 2-D probe is RELATIVE to the data range so it stays selective at
#: every scale factor (the events value/user domains grow with sf):
#: user_id < mn_u + 0.25*(span_u), value > mn_v + 0.8*(span_v)
_Z_U_FRAC = 0.25
_Z_V_FRAC = 0.8

#: bit-interleave terms, generated once and shared verbatim by the Spark
#: Column expression and the DuckDB oracle (same arithmetic, same operators)
_Z_TERMS_SQL = " + ".join(
    f"(((bx >> {i}) & 1) << {2 * i + 1}) + (((by >> {i}) & 1) << {2 * i})"
    for i in range(_Z_BITS)
)

_Z_GRID_SQL = f"""
    stats AS (SELECT min(user_id) AS mn_u, max(user_id) AS mx_u,
                     min(value)   AS mn_v, max(value)   AS mx_v,
                     min(user_id) + {_Z_U_FRAC} * (max(user_id) - min(user_id) + 1) AS u_thresh,
                     min(value) + {_Z_V_FRAC} * (max(value) - min(value)) AS v_thresh
              FROM events),
    g AS (SELECT user_id, value, u_thresh, v_thresh,
                 CAST(((user_id - mn_u) * 256) // (mx_u - mn_u + 1) AS BIGINT) AS bx,
                 LEAST(255, CAST(floor((value - mn_v) * 256 / greatest(mx_v - mn_v, 1e-12)) AS BIGINT)) AS by
          FROM events, stats),
    z AS (SELECT user_id, value, u_thresh, v_thresh,
                 ({_Z_TERMS_SQL}) >> {_Z_BUCKET_SHIFT} AS zbucket FROM g)"""


@query(
    "q164_zorder_layout",
    f"""WITH {_Z_GRID_SQL}
       SELECT zbucket,
              count(*) AS n_rows,
              min(user_id) AS mn_user, max(user_id) AS mx_user,
              min(value) AS mn_value, max(value) AS mx_value,
              (max(value) <= min(v_thresh) OR min(user_id) >= min(u_thresh)) AS prunable
       FROM z GROUP BY 1 ORDER BY 1""",
    tags=("lakehouse", "zorder", "zone-map", "data-skipping", "layout"),
)
def q164(spark, sf):
    """Z-order clustering report — the MULTI-dimensional data-skipping
    layout q161's one-dimensional day zone maps cannot give: each event's
    (user_id, value) is quantized to an 8-bit-per-dimension grid cell, the
    cell coordinates are bit-interleaved into a 16-bit Morton z-value, and
    rows are bucketed by z-range (bucket = z >> 6 — what OPTIMIZE ZORDER BY
    does with a range-partition over the z-key before writing files). Per
    bucket: the min/max stats of BOTH dimensions plus whether the bucket is
    prunable for the 2-D probe ``user_id < lo-quartile AND value >
    80th-percentile-of-range`` (thresholds derived from the same stats
    aggregate, so the probe stays selective at every sf) — prunable iff
    its stats prove no row can satisfy both conjuncts. Because z-order
    keeps both dimensions locally tight, far more buckets are prunable
    than under any single-dimension sort (pinned against the day layout in
    tests/test_lakehouse.py).

    Scale shape: the grid bounds are one scalar aggregate broadcast-cross-
    joined onto the fact (never collected to the driver); z-values are
    pure JVM bit arithmetic inside whole-stage codegen; the report is one
    partial+final hash agg on the bucket key. At 100 TB this relation IS
    the OPTIMIZE decision: rewrite data files in z-bucket order and the
    manifest stats make every 2-D probe skip ~all files. The interleave
    terms are generated ONCE (`_Z_TERMS_SQL`) and evaluated by both
    engines verbatim, so the oracle checks the layout bit-for-bit."""
    ev = _t(spark, sf, "events")
    stats = ev.agg(
        F.min("user_id").alias("mn_u"),
        F.max("user_id").alias("mx_u"),
        F.min("value").alias("mn_v"),
        F.max("value").alias("mx_v"),
        (F.min("user_id") + F.lit(_Z_U_FRAC) * (F.max("user_id") - F.min("user_id") + 1)).alias(
            "u_thresh"
        ),
        (F.min("value") + F.lit(_Z_V_FRAC) * (F.max("value") - F.min("value"))).alias("v_thresh"),
    )
    g = ev.crossJoin(F.broadcast(stats)).select(
        "user_id",
        "value",
        "u_thresh",
        "v_thresh",
        F.expr("CAST(((user_id - mn_u) * 256) DIV (mx_u - mn_u + 1) AS BIGINT)").alias("bx"),
        # greatest(.., 1e-12): a constant-value slice must degrade to one
        # by=0 grid row, not a 0/0 NaN that ANSI floor->BIGINT rejects
        # (the user dimension's +1 denominator already guards its axis)
        F.least(
            F.lit(255),
            F.floor(
                (F.col("value") - F.col("mn_v"))
                * 256
                / F.greatest(F.col("mx_v") - F.col("mn_v"), F.lit(1e-12))
            ),
        ).cast("long").alias("by"),
    )
    z = g.select(
        "user_id",
        "value",
        "u_thresh",
        "v_thresh",
        F.expr(f"({_Z_TERMS_SQL}) >> {_Z_BUCKET_SHIFT}").alias("zbucket"),
    )
    return (
        z.groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("user_id").alias("mn_user"),
            F.max("user_id").alias("mx_user"),
            F.min("value").alias("mn_value"),
            F.max("value").alias("mx_value"),
            F.min("u_thresh").alias("ut"),
            F.min("v_thresh").alias("vt"),
        )
        .select(
            "zbucket",
            "n_rows",
            "mn_user",
            "mx_user",
            "mn_value",
            "mx_value",
            ((F.col("mx_value") <= F.col("vt")) | (F.col("mn_user") >= F.col("ut"))).alias(
                "prunable"
            ),
        )
        .orderBy("zbucket")
    )


# --------------------------------------------------------------------------
# q166 — OPTIMIZE compaction planner: bin-pack small files from metadata
# --------------------------------------------------------------------------

_COMPACT_BINS = 8  # target bin capacity = ceil(total_rows / 8)


@query(
    "q166_compaction_plan",
    f"""WITH files AS (
         SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows
         FROM events GROUP BY 1),
       cap AS (SELECT CAST(ceil(sum(n_rows) / {_COMPACT_BINS}.0) AS BIGINT) AS c
               FROM files),
       packed AS (
         SELECT day, n_rows, c,
                sum(n_rows) OVER (ORDER BY n_rows DESC, day
                                  ROWS UNBOUNDED PRECEDING) - n_rows AS cum_before
         FROM files, cap)
       SELECT day, n_rows,
              CAST(cum_before // c AS BIGINT) AS bin,
              round(CAST(n_rows AS DOUBLE) / c, 6) AS fill_frac
       FROM packed ORDER BY bin, n_rows DESC, day""",
    tags=("lakehouse", "compaction", "bin-packing", "maintenance"),
)
def q166(spark, sf):
    """OPTIMIZE file-compaction planner — the third leg of the lakehouse
    maintenance story (q161 zone maps decide what to SKIP, q164 z-order
    decides how to CLUSTER, this decides which small files to REWRITE
    together): treat each day-partition of the event log as a data file
    (day, n_rows), set the target bin capacity to ceil(total/8), and
    assign files to rewrite groups by next-fit-decreasing — files sorted
    by size descending, bin = floor(cumulative_rows_before / capacity).
    The streaming relaxation of first-fit-decreasing: deterministic, one
    window, each bin overfills by less than one file (the bound a
    compaction job plans around), versus FFD's sequential driver state.

    Scale shape: the input is MANIFEST-scale metadata (one row per file —
    thousands of rows at 100 TB, from table metadata, not data), so the
    single-partition window over it is a deliberate, bounded driver-side
    decision — the same posture as Delta's own OPTIMIZE planner. The
    expensive part (the rewrite itself) is what this relation schedules,
    never what it performs."""
    ev = _t(spark, sf, "events")
    files = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    cap = files.agg(
        F.ceil(F.sum("n_rows") / F.lit(float(_COMPACT_BINS))).cast("long").alias("c")
    )
    w = Window.orderBy(F.desc("n_rows"), F.asc("day")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = (
        files.crossJoin(F.broadcast(cap))
        .withColumn("cum_before", F.sum("n_rows").over(w) - F.col("n_rows"))
    )
    return packed.select(
        "day",
        "n_rows",
        F.floor(F.col("cum_before") / F.col("c")).alias("bin"),
        F.round(F.col("n_rows").cast("double") / F.col("c"), 6).alias("fill_frac"),
    ).orderBy("bin", F.desc("n_rows"), "day")


# --------------------------------------------------------------------------
# q199 — reciprocal-rank fusion of lexical (BM25) and vector retrieval
# --------------------------------------------------------------------------

_RRF_K = 60  # the standard Cormack/Clarke/Buettcher constant
_RRF_DEPTH = 100  # per-system candidate depth fused


def _rrf_oracle() -> str:
    bm25 = _bm25_oracle()
    scored_cte = bm25[bm25.index("WITH ") + 5 : bm25.index(")\nSELECT doc_id") + 1]
    dot_qe = DOT_SQL.format(a="qe", b="e.embedding")
    nq = DOT_SQL.format(a="qe", b="qe")
    ne = DOT_SQL.format(a="e.embedding", b="e.embedding")
    return f"""
WITH {scored_cte},
lexr AS (SELECT doc_id, CAST(rnk AS INTEGER) AS bm25_rank
         FROM (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
               FROM scored)
         WHERE rnk <= {_RRF_DEPTH}),
qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cosd AS (SELECT e.vec_id,
                round({dot_qe} / (sqrt({nq}) * sqrt({ne})), 4) AS cos
         FROM embeddings e, qv WHERE e.vec_id <> 0),
vecr AS (SELECT vec_id AS doc_id, CAST(rnk AS INTEGER) AS cos_rank
         FROM (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rnk
               FROM cosd)
         WHERE rnk <= {_RRF_DEPTH}),
fused AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
                 round(COALESCE(1.0 / ({_RRF_K} + l.bm25_rank), 0)
                       + COALESCE(1.0 / ({_RRF_K} + v.cos_rank), 0), 6) AS rrf,
                 COALESCE(l.bm25_rank, 0) AS bm25_rank,
                 COALESCE(v.cos_rank, 0) AS cos_rank
          FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id)
SELECT doc_id, rrf, bm25_rank, cos_rank FROM fused
ORDER BY rrf DESC, doc_id LIMIT 20"""


@query("q199_rrf_fusion", _rrf_oracle(), tags=("retrieval", "rrf", "hybrid", "vector"))
def q199(spark, sf):
    """Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009) of
    the BM25 lexical ranking (q151's scorer, same fixed term set) and a
    vector ranking (cosine of every corpus embedding against the fixed
    query vector vec_id=0, the q39 cosine discipline: round-4 + id
    tie-break) — rrf(d) = sum over systems of 1/(60 + rank_d), ranks
    capped at depth 100, absent-from-a-system contributing 0 (rank
    reported as 0). The standard RAG-corpus retrieval head a training
    pipeline runs next to q151/q39/q40.

    Scale shape: each system's candidate list is produced by
    TakeOrderedAndProject (distributed partial top-k — the global
    row_number windows below run over the ALREADY-LIMITED <=100-row
    relations, never the corpus); the fusion is a full-outer join of two
    <=100-row relations, broadcastable by construction. At 100 TB the
    lexical side is bounded by the term-filtered tf relation (q151) and
    the vector side by the ANN index probe (q40/q56 replace brute force;
    brute cosine here is the oracle vehicle, the q39 posture)."""
    from ..functions.vectors import dot, norm

    lex100 = (
        _bm25_scores(spark, sf)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
    )
    wl = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lexr = lex100.select(
        "doc_id", F.row_number().over(wl).cast("int").alias("bm25_rank")
    )
    # _ts (r12): per-row norm folds — fan the scan out
    emb = _ts(spark, sf, "embeddings", "vec_id", "embedding").select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    qv = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("nrm").alias("qn")
    )
    cos = F.round(dot(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm")), 4)
    vec100 = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(_RRF_DEPTH)
    )
    wv = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    vecr = vec100.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wv).cast("int").alias("cos_rank"),
    )
    fused = lexr.join(vecr, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(F.lit(1.0) / (_RRF_K + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("cos_rank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
        F.coalesce("bm25_rank", F.lit(0)).cast("int").alias("bm25_rank"),
        F.coalesce("cos_rank", F.lit(0)).cast("int").alias("cos_rank"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(20)
