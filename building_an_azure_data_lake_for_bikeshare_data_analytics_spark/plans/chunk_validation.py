"""q236 — chunker round-trip integrity audit: the context-window sibling
of q235's tokenizer round-trip. q66 produces the overlapping token-window
chunks a RAG/pre-training pipeline feeds downstream; this audit proves,
per source, that the chunk STRINGS alone reconstruct the original
(whitespace-normalized) document — stitch the first STEP tokens of every
non-last chunk plus the full last chunk, in chunk_idx order, and demand
string equality with the token stream. A chunker bug anywhere (window
arithmetic, the SPARK-40194 empty-split seam, delimiter handling, a lost
tail) shows up as roundtrip_rate < 1 — and because both engines compute
the reassembly from their own chunk relations, a divergence also breaks
the oracle hash.

Also reported: the measured token duplication factor (chunk tokens over
document tokens — what the overlap actually costs the token budget;
bounded above by CHUNK/STEP) and chunks per doc.

Scale shape: chunking is q66's map-only generator; the reassembly is one
per-doc window max + one per-doc ordered aggregation (collect_list is
bounded by chunks-per-DOC, never corpus-sized), then a hash aggregate by
source. Registered LAST (after tokenizer_validation) — registry
insertion order is registration order.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .base import _t, query
from ..functions.text import TOKENS_SQL
from .extensions import _CHUNK, _STEP

_CHUNK_RT_SQL = rf"""WITH ch AS (
      SELECT doc_id, source,
             CAST(len(ts) AS BIGINT) AS n_tokens,
             array_to_string(ts, ' ') AS orig,
             CAST((start - 1) // {_STEP} AS INTEGER) AS chunk_idx,
             array_to_string(ts[start:start + {_CHUNK} - 1], ' ') AS chunk,
             len(ts[start:start + {_CHUNK} - 1]) AS n_chunk_tokens
      FROM (SELECT doc_id, source, ts,
                   unnest(range(1, len(ts) + 1, {_STEP})) AS start
            FROM (SELECT doc_id, source, {TOKENS_SQL} AS ts FROM documents))),
    st AS (
      SELECT *, max(chunk_idx) OVER (PARTITION BY doc_id) AS last_idx
      FROM ch),
    perdoc AS (
      SELECT doc_id, source, n_tokens, orig,
             count(*) AS n_chunks,
             sum(n_chunk_tokens) AS chunk_tokens,
             string_agg(CASE WHEN chunk_idx < last_idx
                             THEN array_to_string(
                                 string_split(chunk, ' ')[1:{_STEP}], ' ')
                             ELSE chunk END,
                        ' ' ORDER BY chunk_idx) AS reassembled
      FROM st GROUP BY doc_id, source, n_tokens, orig)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
           round(sum(n_chunks) / count(*), 6) AS chunks_per_doc,
           CAST(sum(CASE WHEN reassembled = orig THEN 1 ELSE 0 END)
                AS BIGINT) AS n_roundtrip_ok,
           round(sum(CASE WHEN reassembled = orig THEN 1 ELSE 0 END)
                 / count(*), 6) AS roundtrip_rate,
           CAST(sum(chunk_tokens) AS BIGINT) AS chunk_tokens,
           CAST(sum(n_tokens) AS BIGINT) AS doc_tokens,
           round(sum(chunk_tokens) / sum(n_tokens), 6) AS dup_factor
    FROM perdoc GROUP BY source ORDER BY source"""


@query(
    "q236_chunk_roundtrip",
    _CHUNK_RT_SQL,
    tags=("text", "chunking", "validation", "intake"),
)
def q236(spark, sf):
    """Per-source chunker round-trip audit over q66's overlapping
    token-window chunks: reassembling the chunk strings (first STEP
    tokens of each non-last chunk + the full last chunk, in order) must
    reproduce the whitespace-normalized document. Reports the identity
    rate, chunks per doc, and the measured token duplication factor the
    overlap costs a token budget. Both engines rebuild the reassembly
    from their own chunk relations, so the identity is value-checked
    cross-engine rather than asserted."""
    from ..functions.text import tokens

    # no scan fanout (r13): the r12 unconditional spread regressed this
    # head at 32 cores (0.65 -> 1.12 s — the chunk/reassemble arithmetic
    # is too cheap per row to amortize 32 tasks); routed through THIS
    # module's ``_t`` name so the property test's table monkeypatch
    # (tests/test_properties.py) still intercepts the read
    d = _t(spark, sf, "documents")
    base = d.select(
        "doc_id",
        "source",
        tokens("text").alias("ts"),
    ).select(
        "doc_id",
        "source",
        "ts",
        F.size("ts").alias("n_tokens"),
        F.concat_ws(" ", "ts").alias("orig"),
    )
    ch = base.select(
        "doc_id",
        "source",
        "n_tokens",
        "orig",
        "ts",
        F.posexplode(F.expr(f"sequence(1, size(ts), {_STEP})")).alias(
            "chunk_idx", "start"
        ),
    )
    sl = F.expr(f"slice(ts, start, {_CHUNK})")
    chunks = ch.select(
        "doc_id",
        "source",
        "n_tokens",
        "orig",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", sl).alias("chunk"),
        F.size(sl).alias("n_chunk_tokens"),
    )
    st = chunks.withColumn(
        "last_idx", F.max("chunk_idx").over(Window.partitionBy("doc_id"))
    )
    stitched = F.when(
        F.col("chunk_idx") < F.col("last_idx"),
        F.concat_ws(" ", F.slice(F.split(F.col("chunk"), " "), 1, _STEP)),
    ).otherwise(F.col("chunk"))
    perdoc = (
        st.select(
            "doc_id",
            "source",
            "n_tokens",
            "orig",
            "chunk_idx",
            stitched.alias("stitched"),
            "n_chunk_tokens",
        )
        .groupBy("doc_id", "source", "n_tokens", "orig")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").alias("chunk_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("chunk_idx", "stitched"))
                    ),
                    lambda x: x["stitched"],
                ),
            ).alias("reassembled"),
        )
    )
    rt = F.when(F.col("reassembled") == F.col("orig"), F.lit(1)).otherwise(
        F.lit(0)
    )
    agg = perdoc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chunks").alias("n_chunks"),
        F.sum(rt).alias("n_roundtrip_ok"),
        F.sum("chunk_tokens").alias("chunk_tokens"),
        F.sum("n_tokens").alias("doc_tokens"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_chunks",
        F.round(F.col("n_chunks") / F.col("n_docs"), 6).alias(
            "chunks_per_doc"
        ),
        "n_roundtrip_ok",
        F.round(F.col("n_roundtrip_ok") / F.col("n_docs"), 6).alias(
            "roundtrip_rate"
        ),
        "chunk_tokens",
        "doc_tokens",
        F.round(F.col("chunk_tokens") / F.col("doc_tokens"), 6).alias(
            "dup_factor"
        ),
    ).orderBy("source")
