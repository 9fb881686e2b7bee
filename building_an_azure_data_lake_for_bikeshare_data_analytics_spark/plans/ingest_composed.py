"""q252 — composed shared-scan ingest: ONE batch updates EVERY maintained
artifact off ONE tokenize/shingle pass (r9 verdict item 4).

The lifecycle heads (q245 signatures, q248 lexical tf/dl, q249
decontamination, q250 census, q246 IVF) each tokenize/shingle/hash the
ingest batch independently — correct in isolation, but a real ingest
pipeline pays the batch scan ONCE and fans the derived relations out to
every index it maintains. This head executes that composed lifecycle:

* the documents table is read once and tokenized once
  (``localCheckpoint`` — the materialized (doc_id, source, text,
  n_chars, ts) relation is the shared scan every text artifact derives
  from: 3-shingles for the signature store, exploded tokens for tf/dl,
  multi-size word shingles for the decontamination screen, text hashes
  for the census state);
* the embeddings table is read once for the vector side (assignment
  through the STORED centroids, the q246 posture);
* v1 builds land from the corpus side of the shared relation, the batch
  update from the batch side — write_version + append_version manifest
  commits, each store hive-partitioned on its probe key exactly as its
  standalone head writes it;
* the OUTPUT is the per-artifact update census — (artifact, n) — where
  every appended-store row count is read BACK THROUGH THE STORE
  (version_k count minus version_{k-1} count), so the returned numbers
  literally flow through the maintained artifacts.

Artifact semantics (one row each, ordered by artifact):

* ``census_kmv_batch_state`` / ``census_stats_batch_state`` — the KMV /
  stats state rows the batch contributes to the q250 merge (Σ_source
  min(k, distinct text hashes) and the batch's source count).
* ``decon_contaminated`` — total contaminated (source × benchmark)
  doc count when the batch is screened against the STORED q249
  benchmark table.
* ``ivf_rows_appended`` — batch vectors assigned through the stored
  quantizer and appended to the cell store (q246).
* ``lexical_tf_appended`` / ``lexical_dl_appended`` — term-frequency and
  doc-length rows appended to the q248 stores.
* ``packed_seqs_appended`` — contribution rows appended to the q258
  packed-sequence store (one per (shard, seq) the batch touches, with
  each shard's cumsum continued from the stored offsets; the oracle
  replays the arrival-order pack — corpus first, then batch — as
  ``ORDER BY isnew, doc_id`` in the window). Token counts come from the
  SHARED tokenized scan (``size(ts)``), not a re-tokenize.
* ``signature_rows_appended`` — banded signature rows appended to the
  q245 store (batch docs with ≥1 shingle × bands).
* ``span_rows_appended`` — loader-facing span rows appended to the q260
  span store (one per (doc × sequence) crossing of the batch under the
  same arrival-order pack), the SEVENTH artifact class — the composed
  ingest maintains everything a training loader reads, down to the
  exact token slices.

The DuckDB oracle recomputes each count from scratch (including the
full q249 N-pass screen as a subquery), so a green row certifies the
composed lifecycle end-to-end: shared-scan derivation, stored-quantizer
assignment, manifest appends, and store read-back all agree with the
independent from-scratch definitions.

Measured CHEAPER than the sum of independent updates (SCALE_NOTES r10):
the shared scan pays tokenize once instead of four times.

Reference scope note: the reference notebook has no maintenance surface
(SURVEY.md §2.6) — training-data-pipeline extension set.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import H60_SQL, batch_sql
from ..functions.text import TOKENS_SQL, tokens
from .base import _ts, query
from .census_maintenance import _CK, _census_state
from .packing import _NSHARDS, _SEQ_CAP
from .decontamination import _MAINT_DECON_SQL

#: must match ``banded_signature_table``'s defaults — the oracle's
#: signature-row arithmetic is docs-with-≥1-shingle × bands
_BANDS = 16

_COMPOSED_SQL = f"""WITH tk AS (
      SELECT doc_id, unnest({TOKENS_SQL}) AS tok
      FROM documents WHERE {batch_sql('doc_id')}),
    kmv AS (
      SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM (SELECT DISTINCT source, {H60_SQL.format(x="text")} AS h
            FROM documents WHERE {batch_sql('doc_id')})),
    pk AS (
      SELECT shard, isnew, doc_id,
             unnest(generate_series(tok_start // {_SEQ_CAP},
                                    (tok_start + n_toks - 1) // {_SEQ_CAP})) AS seq
      FROM (
        SELECT shard, isnew, doc_id, n_toks,
               CAST(COALESCE(SUM(n_toks) OVER (
                      PARTITION BY shard ORDER BY isnew, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS tok_start
        FROM (
          SELECT doc_id, {batch_sql('doc_id')} AS isnew,
                 CAST(doc_id % {_NSHARDS} AS INTEGER) AS shard,
                 CAST(COALESCE(len({TOKENS_SQL}), 0)
                      AS BIGINT) AS n_toks
          FROM documents
          WHERE COALESCE(len({TOKENS_SQL}), 0) > 0)))
    SELECT 'census_kmv_batch_state' AS artifact,
           CAST(count(*) AS BIGINT) AS n FROM kmv WHERE rn <= {_CK}
    UNION ALL
    SELECT 'census_stats_batch_state',
           CAST(count(DISTINCT source) AS BIGINT)
    FROM documents WHERE {batch_sql('doc_id')}
    UNION ALL
    SELECT 'decon_contaminated', CAST(sum(n_contaminated) AS BIGINT)
    FROM ({_MAINT_DECON_SQL})
    UNION ALL
    SELECT 'ivf_rows_appended', CAST(count(*) AS BIGINT)
    FROM embeddings WHERE {batch_sql('vec_id')}
    UNION ALL
    SELECT 'lexical_dl_appended', CAST(count(DISTINCT doc_id) AS BIGINT) FROM tk
    UNION ALL
    SELECT 'lexical_tf_appended', CAST(count(*) AS BIGINT)
    FROM (SELECT DISTINCT doc_id, tok FROM tk)
    UNION ALL
    SELECT 'packed_seqs_appended', CAST(count(*) AS BIGINT)
    FROM (SELECT DISTINCT shard, seq FROM pk WHERE isnew)
    UNION ALL
    SELECT 'signature_rows_appended',
           CAST({_BANDS} * count(*) AS BIGINT)
    FROM documents
    WHERE {batch_sql('doc_id')}
      AND len({TOKENS_SQL}) >= 3
    UNION ALL
    SELECT 'span_rows_appended', CAST(count(*) AS BIGINT)
    FROM pk WHERE isnew
    ORDER BY artifact"""


def _n(df) -> any:
    return df.agg(F.count(F.lit(1)).cast("long").alias("n"))


def _delta_n(spark, store, v_prev: int, v_new: int):
    """rows_added as DataFrame arithmetic over the STORE's versions —
    the count flows through the maintained artifact, not the input."""
    from ..sources.versioned import read_version

    a = _n(read_version(spark, store, v_new)).withColumnRenamed("n", "n2")
    b = _n(read_version(spark, store, v_prev)).withColumnRenamed("n", "n1")
    return a.crossJoin(b).select(
        (F.col("n2") - F.col("n1")).cast("long").alias("n")
    )


@query(
    "q252_composed_ingest_update",
    _COMPOSED_SQL,
    tags=("incremental", "versioned", "ingest", "dedup", "retrieval",
          "similarity", "decontamination", "census"),
)
def q252(spark, sf):
    """Per-artifact update census after ONE ingest batch updates every
    maintained store off one shared tokenize/shingle pass. Eager plan
    construction (store versions are written during construction), like
    every lifecycle head — the composed maintenance run IS the subject."""
    from ..operators.dedup import _CKPT_LEVEL, banded_signature_table, shingle_sets
    from ..operators.similarity import assign_cells, kmeans_fit
    from ..plans.ann_maintenance import _split_embeddings
    from ..plans.decontamination import (
        BENCHMARKS,
        bench_shingle_table,
        corpus_shingles,
        probe_matrix,
    )
    from ..plans.lexical_maintenance import index_rows_from_tokens
    from ..sources.versioned import (
        append_version,
        read_current,
        session_store,
        vacuum,
        write_version,
    )

    from .packing import packing_manifest

    root = session_store(spark, "ingest")
    sig_s, tf_s, dl_s = root + "_sig", root + "_tf", root + "_dl"
    dec_s, ivf_s, cen_s = root + "_decon", root + "_ivf", root + "_cents"
    pk_s, sp_s = root + "_packed", root + "_spans"

    # THE shared scan: documents read + tokenized once, materialized;
    # every text-side relation below derives from this checkpoint.
    # Cost-based scan fanout BELOW the tokenize (r12, re-tuned r13) so
    # the shared tokenize pass runs wide, not as one task
    from ..functions.parallelism import run_parallel
    from .base import _ts

    # keyless REBALANCE between the wide tokenize and the checkpoint
    # (r13): the fanout runs the tokenize map-side at full width, but
    # checkpointing its 32 partitions directly pinned every downstream
    # consumer stage at 32 tiny tasks (an ExistingRDD's partitioning is
    # invisible to AQE — q252's profile showed six 32-task stages over
    # the 3 MB checkpoint). The rebalance lets AQE size the checkpointed
    # relation from its actual bytes (~3-4 partitions at sf0.1, wide at
    # deployment scale), so the seven store builds below read it at a
    # sane width.
    d = (
        _ts(spark, sf, "documents", "doc_id", "source", "text", "n_chars", fan=True)
        .select("doc_id", "source", "text", "n_chars", tokens("text").alias("ts"))
        .hint("rebalance")
        .localCheckpoint(storageLevel=_CKPT_LEVEL)
    )
    is_new = F.expr(batch_sql("doc_id"))
    corpus_d, batch_d = d.where(~is_new), d.where(is_new)
    _, vec_corpus, vec_batch = _split_embeddings(spark, sf)
    from .packing import packing_spans

    # ---- v1 builds (corpus side of the shared relation; paid once).
    # r12 optimization (guide §2.6): the seven v1 artifacts live in
    # SEPARATE stores with independent lineages off the one shared
    # checkpoint, yet each write_version is a driver-blocking action —
    # serially, the head paid every job's planning/commit tail with 31
    # cores idle. run_parallel overlaps them; store contents, versions,
    # and the returned census are unchanged. The batch's tagged shingle
    # checkpoint joins the same pool (it depends only on d).
    tf1, dl1 = index_rows_from_tokens(corpus_d.select("doc_id", "ts"))

    def _b_sig():
        write_version(
            banded_signature_table(
                shingles=shingle_sets(corpus_d.select("doc_id", "ts"), 3)
            ),
            sig_s,
            partition_by=["band"],
        )

    def _b_tf():
        write_version(tf1, tf_s, partition_by=["tok_bucket"])

    def _b_dl():
        write_version(dl1, dl_s, partition_by=["hb"])

    def _b_dec():
        write_version(
            bench_shingle_table(d.select("doc_id", "source", "ts"), BENCHMARKS),
            dec_s,
            partition_by=["benchmark"],
        )

    def _b_pk():
        # packed-sequence store (q258's artifact): v1 pack of the corpus
        # side, token counts from the SHARED tokenized scan (size(ts) —
        # no re-tokenize)
        write_version(
            packing_manifest(
                corpus_d.select("doc_id", F.size("ts").alias("n_toks")),
                with_doc_bounds=True,
            ),
            pk_s,
            partition_by=["shard"],
        )

    def _b_sp():
        # span store (q260's artifact, the SEVENTH class): same shared
        # token counts, same arrival-order pack — the loader-facing slices
        write_version(
            packing_spans(corpus_d.select("doc_id", F.size("ts").alias("n_toks"))),
            sp_s,
            partition_by=["shard"],
        )

    def _b_ivf():
        cents = kmeans_fit(vec_corpus)
        write_version(
            assign_cells(vec_corpus, cents), ivf_s, partition_by=["cell"]
        )
        write_version(
            spark.createDataFrame(
                [(i, c) for i, c in enumerate(cents)],
                "cell int, centroid array<bigint>",
            ),
            cen_s,
        )

    def _b_tagged():
        # The batch's multi-size tagged shingle relation is ALSO shared:
        # corpus_shingles carries every requested n-gram size, and its
        # n=3 slice IS shingle_sets' relation (same word_shingles
        # expression, per-doc distinct) — one shingle explode feeds both
        # the signature append and the decontamination screen
        return corpus_shingles(batch_d.select("doc_id", "source", "ts")).localCheckpoint(
            storageLevel=_CKPT_LEVEL
        )

    *_, tagged_b = run_parallel(
        _b_sig, _b_tf, _b_dl, _b_dec, _b_pk, _b_sp, _b_ivf, _b_tagged
    )

    # ---- the composed batch update: every append derives from the ONE
    #      shared batch-side relation (plus one embeddings-batch scan).
    #      The six appends hit six DIFFERENT stores — same independence
    #      argument as the v1 pool, so they overlap too. ----
    tf_b, dl_b = index_rows_from_tokens(batch_d.select("doc_id", "ts"))

    def _a_sig():
        return append_version(
            banded_signature_table(
                shingles=tagged_b.where(F.col("n") == 3).select(
                    "doc_id", F.col("sh").alias("shingle")
                )
            ),
            sig_s,
            partition_by=["band"],
        )

    def _a_tf():
        return append_version(tf_b, tf_s, partition_by=["tok_bucket"])

    def _a_dl():
        return append_version(dl_b, dl_s, partition_by=["hb"])

    def _a_ivf():
        stored_cents = [
            [int(x) for x in r["centroid"]]
            for r in read_current(spark, cen_s).orderBy("cell").collect()
        ]
        return append_version(
            assign_cells(vec_batch, stored_cents),
            ivf_s,
            partition_by=["cell"],
        )

    # packed/span stores: the batch's contribution rows continue each
    # shard's cumsum from the STORED offsets through the race-safe derived
    # append (expected_base CAS + bounded re-derive). require_monotone=
    # False: THIS head's arrival order is corpus-then-batch by a doc HASH
    # split (the oracle packs ORDER BY isnew, doc_id), so batch doc_ids
    # legitimately interleave the corpus's — the pack is of arrival
    # order, exactly what the oracle certifies. Two more independent
    # stores — same overlap pool as the other appends.
    from .packed_store import packed_append, span_append

    def _a_pk():
        return packed_append(
            spark,
            pk_s,
            batch_d.select("doc_id", F.size("ts").alias("n_toks")),
            require_monotone=False,
        )

    def _a_sp():
        return span_append(
            spark,
            sp_s,
            batch_d.select("doc_id", F.size("ts").alias("n_toks")),
            require_monotone=False,
        )

    v_sig, v_tf, v_dl, v_ivf, v_pk, v_sp = run_parallel(
        _a_sig, _a_tf, _a_dl, _a_ivf, _a_pk, _a_sp
    )
    # census state the batch contributes to the q250 merge
    stats_b, kmv_b = _census_state(batch_d.select("doc_id", "source", "text", "n_chars"))
    # decon: the batch screened against the STORED benchmark table,
    # reading the SAME tagged shingle checkpoint
    matrix = probe_matrix(spark, tagged_b, read_current(spark, dec_s), batch_d)
    for p in (sig_s, tf_s, dl_s, ivf_s, pk_s, sp_s):
        vacuum(p, keep=2)

    # ---- the update census, read back through the stores ----
    def tag(name, n_df):
        return n_df.select(F.lit(name).alias("artifact"), F.col("n"))

    out = (
        tag("census_kmv_batch_state", _n(kmv_b))
        .unionByName(tag("census_stats_batch_state", _n(stats_b)))
        .unionByName(
            tag(
                "decon_contaminated",
                matrix.agg(
                    F.sum("n_contaminated").cast("long").alias("n")
                ),
            )
        )
        .unionByName(tag("ivf_rows_appended", _delta_n(spark, ivf_s, v_ivf - 1, v_ivf)))
        .unionByName(tag("lexical_dl_appended", _delta_n(spark, dl_s, v_dl - 1, v_dl)))
        .unionByName(tag("lexical_tf_appended", _delta_n(spark, tf_s, v_tf - 1, v_tf)))
        .unionByName(
            tag("packed_seqs_appended", _delta_n(spark, pk_s, v_pk - 1, v_pk))
        )
        .unionByName(
            tag("signature_rows_appended", _delta_n(spark, sig_s, v_sig - 1, v_sig))
        )
        .unionByName(
            tag("span_rows_appended", _delta_n(spark, sp_s, v_sp - 1, v_sp))
        )
    )
    return out.orderBy("artifact")
