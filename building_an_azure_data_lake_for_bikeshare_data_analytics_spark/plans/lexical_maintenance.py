"""q248 — maintained lexical (inverted) index: the stored-artifact
lifecycle (q239/q245 dedup, q246/q247 vectors) applied to BM25 retrieval.

A search deployment never re-tokenizes its corpus per batch or per
query — it maintains the inverted index (the Lucene/Elasticsearch
posture, here in Spark-table form):

1. **v1 build** — the existing corpus (80% doc-hash split) is tokenized
   ONCE; the full term-frequency relation (doc_id, tok, f) and the
   doc-length table (doc_id, len) are written to the versioned store.
   This is the expensive full-corpus pass, paid with the index.
2. **per-batch append** — today's batch (20% side) is tokenized alone —
   O(batch), zero corpus-side work — and its tf/len rows are APPENDED.
   Term statistics are additive (df = distinct-doc count per term over
   the union; N/avgdl from the union length table), so the maintained
   index equals a from-scratch build exactly, by set algebra rather
   than by luck.
3. **query** — the per-batch retrieval question a crawl pipeline asks:
   score the NEW docs against CORPUS-WIDE statistics (df/N/avgdl read
   from the maintained index — the batch alone could not provide them)
   and return the batch's top 20 by BM25 (q151's Robertson k1/b scorer,
   same fixed query-term set). Zero tokenization at query time: every
   input relation is a stored-table aggregate.

Oracle: from-scratch BM25 over the FULL corpus (q151's CTE machinery —
tokenize everything, global df/N/avgdl) with the final ranking
restricted to batch docs — so a green row certifies both the maintained
statistics and the batch scoring, end to end through stored parquet.

Scale shape: tf/len appends are map-side (tokenize + two hash aggs over
the BATCH only); df and the corpus stats are tiny broadcast aggregates
over the stored index filtered to the query terms; the doc-length table
is O(corpus) so it is filtered to the batch docs being scored and
equi-joined, never broadcast; the top-20 is TakeOrderedAndProject. At 100 TB the stored tf relation IS the inverted
index (partitioned by term prefix in a real lake); the point this head
pins is that no stage ever re-reads the corpus text.

Reference scope note: the reference notebook has no text surface at all
(SURVEY.md §2.6) — training-data-pipeline extension set.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import BATCH_FROM, SPLIT_SQL, batch_sql
from ..functions.text import tokens
from .base import _ts, query
from .lakehouse import _BM25_B, _BM25_K1, _BM25_TERMS, _bm25_parts


#: token-prefix partition fan-out of the stored tf relation. The bucket
#: is the first character's codepoint mod this — computable driver-side
#: for a literal query-term set (``_tok_bucket``), so a stored-index read
#: filters on the PARTITION column with literals and parquet partition
#: pruning skips every unprobed bucket directory.
_TOK_BUCKETS = 16


def _tok_bucket_col() -> F.Column:
    return F.pmod(F.ascii(F.col("tok")), F.lit(_TOK_BUCKETS))


def _tok_bucket(term: str) -> int:
    """Driver-side twin of ``_tok_bucket_col`` for literal terms."""
    return (ord(term[0]) if term else 0) % _TOK_BUCKETS


def _hb_col() -> F.Column:
    """Doc-hash century (0..9): the dl store's partition key. The batch
    predicate (``hashing.batch_sql``) is exactly ``hb IN (8, 9)``, so a
    batch-side read of the stored doc-length table prunes to 2 of 10
    partition directories instead of scanning the O(corpus) table."""
    return F.floor(F.expr(SPLIT_SQL.format(x="doc_id")) / F.lit(100)).cast("int")


def index_rows(side):
    """Tokenize ONE side (corpus at v1 build, the batch at append) into
    the two inverted-index relations: term frequencies
    (doc_id, tok, f, tok_bucket) and doc lengths (doc_id, len, hb).
    Map-side tokenize + two hash aggs over that side only — the whole
    point of the maintained index is that this never runs over the
    corpus per batch.

    The trailing columns are the stores' hive-partition keys (emitted
    LAST so builder output and partitioned read-back keep identical
    column order): ``tok_bucket`` = token-prefix bucket of the tf store,
    ``hb`` = doc-hash century of the dl store."""
    return index_rows_from_tokens(side.select("doc_id", tokens("text").alias("ts")))


def index_rows_from_tokens(side_ts):
    """``index_rows`` from a PRE-TOKENIZED (doc_id, ts) relation — the
    shared-scan entry point (q252's composed ingest tokenizes the batch
    once and derives every artifact's rows from that one relation)."""
    tk = side_ts.select("doc_id", F.explode("ts").alias("tok"))
    tf = tk.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("f")).withColumn(
        "tok_bucket", _tok_bucket_col()
    )
    dl = tk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len")).withColumn("hb", _hb_col())
    return tf, dl


def batch_bm25_from_tables(tf_all, dl_all):
    """Top-20 BATCH docs by BM25 under corpus-wide statistics, computed
    entirely from the tf/dl relations (stored parquet in q248; freshly
    derived in the soak's no-index twin). No tokenization here.

    Scale shape: dfreq (|query terms| rows) and stats (1 row) broadcast;
    dl is O(corpus) so it is filtered to the batch docs being scored and
    equi-joined, never broadcast. When the relations carry their
    partition keys (tok_bucket / hb — always true for ``index_rows``
    output, stored or fresh), the term filter and the batch filter are
    ALSO expressed on those keys with literals, so a stored-index read
    prunes to the probed token-bucket and batch-century directories
    instead of scanning the whole store (the r9 verdict's last
    corpus-proportional read term)."""
    tf = tf_all.where(F.col("tok").isin(*_BM25_TERMS))
    if "tok_bucket" in tf_all.columns:
        buckets = sorted({_tok_bucket(t) for t in _BM25_TERMS})
        tf = tf.where(F.col("tok_bucket").isin(*buckets))
    batch_dl = dl_all.where(F.expr(batch_sql("doc_id")))
    if "hb" in dl_all.columns:
        batch_dl = batch_dl.where(F.col("hb").isin(*range(BATCH_FROM // 100, 10)))
    stats, dfreq, score = _bm25_parts(tf, dl_all)
    scored = (
        tf.where(F.expr(batch_sql("doc_id")))
        .join(F.broadcast(dfreq), "tok")
        .join(batch_dl.select("doc_id", "len"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(score)
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
    )


def _batch_bm25_oracle() -> str:
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
  WHERE {batch_sql("tf.doc_id")}
  GROUP BY tf.doc_id)
SELECT doc_id, round(score, 6) AS bm25
FROM (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM scored)
WHERE rnk <= 20
ORDER BY bm25 DESC, doc_id"""


@query(
    "q248_lexical_index_maintenance",
    _batch_bm25_oracle(),
    tags=("retrieval", "bm25", "text", "incremental", "versioned"),
)
def q248(spark, sf):
    """Top-20 BATCH docs by BM25 under corpus-wide maintained statistics,
    read entirely from the stored inverted index after the v1-build +
    batch-append lifecycle. Like the other maintenance heads, plan
    construction is eager — the store IS the subject."""
    from ..sources.versioned import (
        append_version,
        read_current,
        session_store,
        vacuum,
        write_version,
    )

    # _ts (r12): downstream index_rows_from_tokens tokenizes per row
    docs = _ts(spark, sf, "documents", "doc_id", "text")
    is_new = F.expr(batch_sql("doc_id"))
    store = session_store(spark, "lex_index")
    tf_store, dl_store = store + "_tf", store + "_dl"

    # 1) v1: tokenize the existing corpus ONCE; tf + len tables to store,
    #    hive-partitioned on their probe keys (token-prefix bucket /
    #    doc-hash century) so stored-index reads prune to the probed
    #    directories instead of scanning the corpus-sized table
    from ..functions.parallelism import run_parallel

    # r12: tf/dl live in different stores — overlap the driver-blocking
    # v1 writes and the two batch appends (guide §2.6; contents unchanged)
    tf_v1, dl_v1 = index_rows(docs.where(~is_new))
    run_parallel(
        lambda: write_version(tf_v1, tf_store, partition_by=["tok_bucket"]),
        lambda: write_version(dl_v1, dl_store, partition_by=["hb"]),
    )

    # 2) per-batch: tokenize the batch ALONE; append_version physically
    #    writes ONLY the batch's rows (the new version is a manifest over
    #    the v1 files + the delta part — O(batch) IO, not an O(corpus)
    #    copy-on-write rewrite; the r9 lexical soak measured the rewrite
    #    as the bulk of the append wall)
    tf_b, dl_b = index_rows(docs.where(is_new))
    run_parallel(
        lambda: append_version(tf_b, tf_store, partition_by=["tok_bucket"]),
        lambda: append_version(dl_b, dl_store, partition_by=["hb"]),
    )
    vacuum(tf_store, keep=2)
    vacuum(dl_store, keep=2)

    # 3) query: batch docs scored with MAINTAINED corpus-wide statistics —
    #    every relation reads stored parquet; no tokenization here
    return batch_bm25_from_tables(
        read_current(spark, tf_store), read_current(spark, dl_store)
    )
