"""q250 — maintained corpus census: the stored-artifact lifecycle
(q239/q245 dedup, q246/q247 vectors, q248 retrieval, q249 benchmarks)
applied to corpus STATISTICS, with mergeable sketch state.

A 100 TB corpus's health census (per-source doc counts, byte volumes,
id ranges, distinct-content estimates) cannot be recomputed per ingest
batch — the census must be a maintained table whose per-batch update is
algebraic. That requires every statistic to be stored as MERGEABLE
state, not a finished value:

* counts / sums / min / max — trivially algebraic (the q112 partial-agg
  posture, here across store versions instead of within one run);
* the distinct-content estimate — stored as the KMV sketch's RETAINED
  ROWS (per source: the k smallest 60-bit hashes of distinct texts),
  because bottom-k sets are a mergeable summary:
  ``bottomk(A ∪ B) = bottomk(bottomk(A) ∪ bottomk(B))``. q134 pins the
  sketch math and q159 pins within-run merge; this head makes the sketch
  a STORED artifact merged across versions.

Lifecycle:

1. **v1 build** — census state of the existing corpus (80% doc-hash
   split): a stats table (source, n_docs, sum_chars, min/max doc_id)
   and a kmv table (source, h — ≤k rows per source). One corpus pass.
2. **per-batch merge** — the batch's state is computed over the batch
   ALONE (O(batch)), then merged: stats by union + re-aggregate (sums
   add, min/max combine), kmv by union + distinct + per-source rank ≤ k.
   Written as v2. The corpus text is never re-read.
3. **query** — finalize the census from the stored v2 tables: join
   stats to the sketch aggregate (n_retained, kth_hash, the (k-1)·S/x_k
   estimate). Zero corpus-side work.

The merge identities make v1 ∘ batch == from-scratch EXACTLY (set
algebra, not approximation — the sketch rows themselves are equal), so
the DuckDB oracle is the from-scratch census over the full corpus and a
green row certifies the maintained state value-for-value, including
every retained hash's integer identity via kth_hash.

Scale shape: two hash-aggs over the batch, a union + re-agg over the
(tiny: |sources|-row) stats table, a union + WindowGroupLimit rank over
the (≤ |sources|·k row) kmv table — per-batch cost is O(batch) + O(k)
state. No driver collects; the store tables ARE the state.

Reference scope note: the reference notebook has no maintenance surface
(SURVEY.md §2.6) — training-data-pipeline extension set.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import H60_SQL, batch_sql, h60
from ..functions.text import TOKENS_SQL, token_count
from .analytics_ext import _KMV_SPACE
from .base import _ts, query

_CK = 64  # sketch size; same k as the q134 gate sketch


def _census_state(side):
    """One side's census state (corpus at v1, the batch at merge):
    the algebraic stats row per source and the KMV retained rows
    (k smallest 60-bit hashes of DISTINCT texts per source)."""
    stats = side.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(token_count("text")).cast("long").alias("sum_toks"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )
    w = Window.partitionBy("source").orderBy("h")
    kmv = (
        side.select("source", h60("text").alias("h"))
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _CK)
        .select("source", "h")
    )
    return stats, kmv


def _merge_stats(a, b):
    """sums add, min/max combine — the classic algebraic merge."""
    return (
        a.unionByName(b)
        .groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_chars").cast("long").alias("sum_chars"),
            F.sum("sum_toks").cast("long").alias("sum_toks"),
            F.min("min_doc_id").alias("min_doc_id"),
            F.max("max_doc_id").alias("max_doc_id"),
        )
    )


def _merge_kmv(a, b):
    """bottomk(bottomk(A) ∪ bottomk(B)) — distinct first: the same text
    can appear on both sides of the split, and KMV is a DISTINCT-hash
    summary."""
    w = Window.partitionBy("source").orderBy("h")
    return (
        a.unionByName(b)
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _CK)
        .select("source", "h")
    )


_CENSUS_SQL = f"""WITH s AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(len({TOKENS_SQL})) AS BIGINT) AS sum_toks,
             min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      FROM documents GROUP BY 1),
    h AS (SELECT DISTINCT source, {H60_SQL.format(x="text")} AS h
          FROM documents),
    r AS (SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM h),
    k AS (SELECT source, count(*) AS m, max(h) AS xk
          FROM r WHERE rn <= {_CK} GROUP BY 1)
    SELECT s.source, s.n_docs, s.sum_chars, s.sum_toks,
           CAST(k.m AS INTEGER) AS n_retained,
           k.xk AS kth_hash,
           CASE WHEN k.m < {_CK} THEN CAST(k.m AS DOUBLE)
                ELSE round({_CK - 1} * {_KMV_SPACE} / CAST(k.xk AS DOUBLE), 4)
           END AS distinct_text_est,
           s.min_doc_id, s.max_doc_id
    FROM s JOIN k USING (source) ORDER BY s.source"""


@query(
    "q250_corpus_census_maintenance",
    _CENSUS_SQL,
    tags=("profiling", "sketch", "kmv", "incremental", "versioned"),
)
def q250(spark, sf):
    """Per-source corpus census finalized from the MAINTAINED state
    tables after the v1-build + batch-merge lifecycle. Columns: source,
    n_docs, sum_chars, sum_toks, n_retained, kth_hash,
    distinct_text_est, min_doc_id, max_doc_id. ``sum_toks`` makes the
    stored census the rate source for the q256 mixture derivation —
    the mix is re-derived from maintained state, zero corpus rescans. Like the other maintenance heads, plan
    construction is eager — the store is the subject. The oracle is the
    from-scratch census over the full corpus (the doc-hash split
    recomposed): equality certifies the merge identities value-for-value
    down to each retained hash."""
    from ..sources.versioned import (
        read_current,
        session_store,
        vacuum,
        write_version,
    )

    # _ts (r12): the census state md5-hashes every text — fan the scan out
    docs = _ts(spark, sf, "documents", "doc_id", "source", "text", "n_chars")
    is_new = F.expr(batch_sql("doc_id"))
    store = session_store(spark, "census")
    stats_store, kmv_store = store + "_stats", store + "_kmv"

    from ..functions.parallelism import run_parallel

    # 1) v1: census state of the existing corpus — ONE pass. r12: the
    # stats/kmv artifacts live in different stores — overlap their
    # driver-blocking writes (guide §2.6; contents unchanged), and the
    # same for the two per-batch merges below
    stats_v1, kmv_v1 = _census_state(docs.where(~is_new))
    run_parallel(
        lambda: write_version(stats_v1, stats_store),
        lambda: write_version(kmv_v1, kmv_store),
    )

    # 2) per-batch: state over the batch ALONE, merged algebraically
    stats_b, kmv_b = _census_state(docs.where(is_new))
    run_parallel(
        lambda: write_version(
            _merge_stats(read_current(spark, stats_store), stats_b), stats_store
        ),
        lambda: write_version(
            _merge_kmv(read_current(spark, kmv_store), kmv_b), kmv_store
        ),
    )
    vacuum(stats_store, keep=2)
    vacuum(kmv_store, keep=2)

    # 3) query: finalize from stored state — zero corpus-side work
    stats = read_current(spark, stats_store)
    sk = (
        read_current(spark, kmv_store)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_retained"),
            F.max("h").alias("kth_hash"),
        )
    )
    est = F.when(
        F.col("n_retained") < _CK, F.col("n_retained").cast("double")
    ).otherwise(
        F.round(
            F.lit(float(_CK - 1)) * F.lit(_KMV_SPACE)
            / F.col("kth_hash").cast("double"),
            4,
        )
    )
    return (
        stats.join(sk, "source")
        .select(
            "source",
            "n_docs",
            "sum_chars",
            "sum_toks",
            "n_retained",
            "kth_hash",
            est.alias("distinct_text_est"),
            "min_doc_id",
            "max_doc_id",
        )
        .orderBy("source")
    )
