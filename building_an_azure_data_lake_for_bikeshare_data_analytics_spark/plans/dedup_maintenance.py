"""q239 — versioned dedup-index maintenance (r6 verdict item 3,
operationalizing the q103 posture end-to-end): the pair/component
relation as a MAINTAINED TABLE in the versioned store
(``sources/versioned.py``), built once over the existing corpus,
incrementally updated with an ingest batch, and read back by the census
head — with the maintained result value-oracled against DuckDB's
from-scratch exhaustive rebuild.

Lifecycle the query executes (the actual 100 TB deployment shape):

1. **v1 build** — components over the EXISTING corpus only (the 80%
   hash-split side, q71's split arithmetic), edges from the PPJoin exact
   kernel; written to the store as version 1. Alongside it, the corpus's
   banded SIGNATURE table (doc_id, band, sig) is written to a sibling
   store — the q245 artifact, persisted with the index so no later batch
   ever recomputes corpus-side signatures.
2. **incremental update** — today's batch (the 20% side) contributes
   ONLY (a) cross-side batch-vs-corpus verified pairs, candidates from
   the (band, sig) equi-join of batch signatures against the STORED
   signature table (``operators/dedup.incremental_cross_pairs`` with
   ``corpus_banded`` — the r9 default; batch-side signature compute
   only, O(batch x collisions), never corpus x corpus) and (b)
   batch-internal pairs. Old connectivity
   enters as the v1 table's STAR EDGES ``(doc_id, comp)`` — the component
   summary replaces the full historical pair relation, which is what
   makes maintenance cheaper than rebuild: the old-edge side shrinks to
   one row per already-indexed doc. CC over (star ∪ cross ∪ within)
   provably yields the same partition as CC over all exhaustive edges,
   because star edges preserve exactly the v1 connectivity classes.
   Written as version 2; the census reads ``read_current`` — the
   returned rows literally flow through the store.

The DuckDB oracle re-derives components from scratch over the FULL
corpus with the exhaustive quadratic join + recursive CTE, so a green
row certifies that incremental maintenance converged to the from-scratch
answer — the invariant that lets a production pipeline never rebuild.

Measured CHEAPER, not just correct (SCALE_NOTES "Maintenance lifecycle
soak (r9)"): with the stored signature table as the default candidate
source, at 1M docs the per-batch update costs **0.19x the rebuild's
write bytes** (4.1 vs 21.7 GB wr; the pre-r9 recompute fallback paid
0.40x) with byte exponent 1.03 across 100k -> 1M — batch-proportional.
The signature table build (3.8 GB wr) is paid ONCE with the index. The
sub-phase decomposition shows the signature kernel exactly linear
(0.99-1.00) and the residual in the pair-structure stages
(verify/within/CC, 1.10-1.18) — O(pairs), not O(corpus).

Like the other iterative/CC queries, plan construction is eager (CC
rounds localCheckpoint; the store versions are written during
construction) — the subject of the query IS the materialization.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import batch_sql
from ..functions.text import tokens
from .base import query
from .extensions import _SHINGLES_SQL

_MAINT_SQL = f"""WITH RECURSIVE {_SHINGLES_SQL},
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
        SELECT component_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN {batch_sql('doc_id')} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_batch_docs
        FROM comp GROUP BY 1 ORDER BY component_id"""


@query(
    "q239_dedup_index_maintenance",
    _MAINT_SQL,
    tags=("dedup", "incremental", "versioned", "lakehouse", "graph"),
)
def q239(spark, sf):
    """Maintained component census: (component_id, n_docs, n_batch_docs)
    read from the versioned store AFTER the v1-build + incremental-update
    lifecycle, equal by value to DuckDB's from-scratch exhaustive CC over
    the full corpus. See module docstring for the star-edge argument."""
    from ..operators.dedup import (
        _CKPT_LEVEL,
        incremental_cross_pairs,
        prefix_filter_jaccard_pairs,
        shingle_sets,
    )
    from ..operators.graph import connected_components
    from ..sources.versioned import (
        read_current,
        session_store,
        vacuum,
        write_version,
    )

    from ..operators.dedup import banded_signature_table

    from ..functions.parallelism import run_parallel
    from .base import _ts

    # cost-based scan fanout below the tokenize (r12, re-tuned r13) so
    # the shared shingle checkpoint builds wide
    docs = _ts(spark, sf, "documents", "doc_id", "text", fan=True).select(
        "doc_id", tokens("text").alias("ts")
    )
    is_new = F.expr(batch_sql("doc_id"))
    corpus, batch = docs.where(~is_new), docs.where(is_new)
    store = session_store(spark, "dedup_index")
    sig_store = store + "_sigs"

    # the (doc_id, shingle) relation feeds THREE pair kernels below
    # (corpus-internal, cross-side, batch-internal); tokenize + explode +
    # distinct ONCE and hand each kernel its filtered view — at 100 TB
    # this is the shingle table you'd keep next to the index
    sh_all = shingle_sets(docs, 3).localCheckpoint(storageLevel=_CKPT_LEVEL)
    # same predicate as is_new, re-evaluated over the shingle relation's
    # doc_id — ONE source of truth (hashing.batch_sql) so the shingle-side filter
    # can never drift from the document-side split (r7 advice)
    sh_new = F.expr(batch_sql("doc_id"))

    # 1) v1: the existing corpus's component table, plus the corpus's
    #    banded SIGNATURE table in a sibling store (the q245 artifact —
    #    persisted with the index, paid once, so step 2 never recomputes
    #    corpus-side signatures; r8 verdict item 2).
    #    r12 optimization (guide §2.6): the three step-1-era artifacts —
    #    the v1 component store, the signature store, and the
    #    batch-internal pair relation step 2 consumes — have independent
    #    lineages off the one shared shingle checkpoint (different
    #    stores / no store at all), so their driver-blocking actions
    #    overlap in a thread pool instead of running serially. Store
    #    contents, versions, and the census are unchanged.
    def _v1_comps():
        pairs_v1 = prefix_filter_jaccard_pairs(
            corpus, threshold=0.5, shingles=sh_all.where(~sh_new)
        )
        comps_v1 = connected_components(
            pairs_v1.select("doc_a", "doc_b"), "doc_a", "doc_b"
        ).select(F.col("id").alias("doc_id"), "comp")
        write_version(comps_v1, store)

    def _v1_sigs():
        write_version(
            banded_signature_table(shingles=sh_all.where(~sh_new)),
            sig_store,
            partition_by=["band"],
        )

    def _within():
        return prefix_filter_jaccard_pairs(
            batch, threshold=0.5, shingles=sh_all.where(sh_new)
        ).select("doc_a", "doc_b").localCheckpoint(storageLevel=_CKPT_LEVEL)

    *_, within = run_parallel(_v1_comps, _v1_sigs, _within)

    # 2) incremental: star edges from the stored v1 + cross + within-batch;
    #    cross candidates probe the STORED signature table — the update's
    #    only signature compute is the batch's
    old = read_current(spark, store)
    star = old.select(F.col("doc_id").alias("doc_a"), F.col("comp").alias("doc_b"))
    cross = incremental_cross_pairs(
        docs,
        is_new,
        threshold=0.5,
        shingles=sh_all,
        corpus_banded=read_current(spark, sig_store),
    ).select("doc_a", "doc_b")
    comps_v2 = connected_components(
        star.unionByName(cross).unionByName(within), "doc_a", "doc_b"
    ).select(F.col("id").alias("doc_id"), "comp")
    write_version(comps_v2, store)
    # bound the stores: every plan construction appends versions
    # (write_version is eager) — same growth-control as q245 (r8 advice);
    # keep=2 retains the v1/v2 pair the lifecycle tests read
    vacuum(store, keep=2)
    vacuum(sig_store, keep=2)

    # 3) census off the maintained table (read_current = the v2 snapshot)
    maintained = read_current(spark, store)
    batch_flag = F.expr(batch_sql("doc_id")).cast("int")
    return (
        maintained.select(F.col("comp").alias("component_id"), batch_flag.alias("b"))
        .groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("b").alias("n_batch_docs"),
        )
        .orderBy("component_id")
    )
