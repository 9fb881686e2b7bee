"""q259 — schema evolution on a maintained store: a statistic added
AFTER the store was built rides in on an O(batch) evolved append, not an
O(corpus) rewrite.

The census stats store (q250) is the natural subject: a deployment that
decides to start tracking token totals should not have to re-read the
whole corpus — the OLD state rows simply don't carry the new column.
Lifecycle:

1. **v1 build (old schema)** — per-source (n_docs, sum_chars) over the
   existing corpus: the store as an earlier deployment wrote it.
2. **evolved batch append** — the batch's state computed with the NEW
   schema (+ ``sum_toks``), landed through
   ``append_version(allow_new_columns=True)``: O(batch) IO, older parts
   untouched; reads null-fill the new column in pre-evolution rows
   (``unionByName(allowMissingColumns=True)``), and column REMOVALS
   stay loud at write time (contract pinned in tests/test_versioned.py).
3. **finalize** — the algebraic merge: sums over all rows for the old
   statistics; the new statistic's SUM skips nulls, so it reports
   exactly the post-evolution coverage (the batch), with its partial
   nature explicit in the column name.

The oracle recomputes all three from the corpus (the new statistic over
the batch's doc-hash side only), so a green row certifies the
null-filled evolved state value-for-value.

Scale shape: two hash-aggs (one per side), an O(batch) evolved append,
a |sources|-row finalize. Zero corpus re-reads for the evolution itself.

Reference scope note: the reference notebook has no maintenance surface
(SURVEY.md §2.6) — training-data-pipeline extension set.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import batch_sql
from ..functions.text import TOKENS_SQL, token_count
from .base import _ts, query

_EVOLUTION_SQL = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(coalesce(sum(CASE WHEN {batch_sql('doc_id')}
                              THEN len({TOKENS_SQL}) END), 0) AS BIGINT)
           AS sum_toks_batch
FROM documents GROUP BY source ORDER BY source"""


@query(
    "q259_census_schema_evolution",
    _EVOLUTION_SQL,
    tags=("profiling", "incremental", "versioned", "schema-evolution"),
)
def q259(spark, sf):
    """Census finalized from a store whose schema EVOLVED mid-lifecycle:
    v1 carries (source, n_docs, sum_chars), the batch append adds
    sum_toks behind allow_new_columns=True. Columns: source, n_docs,
    sum_chars, sum_toks_batch. Like the other maintenance heads, plan
    construction is eager — the store is the subject."""
    from ..sources.versioned import (
        append_version,
        read_current,
        session_store,
        vacuum,
        write_version,
    )

    # _ts (r12): same fanout as q250 — the state rows hash every text
    docs = _ts(spark, sf, "documents", "doc_id", "source", "text", "n_chars")
    is_new = F.expr(batch_sql("doc_id"))
    store = session_store(spark, "census_evo")

    # 1) v1: the store as an earlier deployment wrote it — no sum_toks
    old = docs.where(~is_new).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    write_version(old, store)

    # 2) the batch's state in the NEW schema, landed as an evolved append
    new = docs.where(is_new).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(token_count("text")).cast("long").alias("sum_toks"),
    )
    append_version(new, store, allow_new_columns=True)
    vacuum(store, keep=2)

    # 3) finalize: old stats over every row; the new statistic's SUM
    # skips the null-filled pre-evolution rows — batch coverage exactly
    return (
        read_current(spark, store)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("sum_chars").cast("bigint").alias("sum_chars"),
            F.coalesce(F.sum("sum_toks"), F.lit(0))
            .cast("bigint")
            .alias("sum_toks_batch"),
        )
        .orderBy("source")
    )
