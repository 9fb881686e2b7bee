"""q258 — the packed-sequence manifest as a MAINTAINED store: the
batch-assembly layer's artifact (where every training sequence falls)
physically written, shard-partitioned, and append-friendly.

q253 computes the packing manifest; a loader needs it STORED — one row
per (shard, seq_id) with the doc count and exact token fill — and a
live corpus keeps growing, so the store must take batches without
repacking the corpus. Per-shard GPT-style packing is naturally
append-friendly because a new batch only extends each shard's token
stream: the manifest is kept as MERGEABLE state (the census posture),
where per (shard, seq_id) both ``n_docs`` and ``fill`` are additive.

Lifecycle:

1. **v1 build** — pack the existing corpus (`packing_manifest`), write
   the rows via ``write_version`` partitioned by ``shard`` — probes for
   one shard's sequences prune to one partition directory.
2. **per-batch append** — read the per-shard packed token offsets from
   the STORE (``sum(fill)`` per shard: |shards| stored rows, zero
   corpus rescan), pack the batch ALONE continuing each shard's cumsum
   from its stored offset (``packing_manifest(base=…)``), and land the
   batch's contribution rows through ``append_version``'s manifest
   commit — O(batch) physical IO. A shard's tail sequence is never
   rewritten: the batch contributes an ADDITIONAL row for that
   (shard, seq_id), summed at read.
3. **read** — ``read_current`` + groupBy (shard, seq_id) summing
   n_docs/fill finalizes the manifest.

Because batch docs FOLLOW existing docs in the per-shard order (arrival
order in a deployment; the monotone doc_id split here), the continued
cumsum reproduces the union's offsets exactly, so
v1-state + batch-contribution == from-scratch pack of the union —
value-for-value, not modulo a tail rewrite. The oracle is therefore
q253's from-scratch packing SQL verbatim, and the chain identity is
pinned in tests/test_packing.py.

Two deployment hazards of that identity are ENFORCED at write time
(r11 verdict item 2), not merely documented:

* **Monotone arrival** — an out-of-order batch (backfill, replayed old
  shard) would silently produce a manifest that no longer equals the
  scratch pack. The store carries per-row ``min_doc``/``max_doc``
  bounds (dropped by the finalizer, so the gated heads' schemas are
  unchanged); the append rejects any batch whose per-shard min doc_id
  does not exceed the stored per-shard max — one small aggregate over
  rows the offset read already scans.
* **Concurrent derived appends** — the contribution rows are derived
  FROM the store state (continued offsets), so two appends racing from
  the same base would double-fill the same (shard, seq_id) and the
  summing finalizer would hide it. The append pins the version it read
  as ``append_version(expected_base=…)``; a lost race raises
  ``ConcurrentWriteError`` and ``packed_append``/``span_append``
  re-derive from the new current with bounded retries.

Scale shape: the append path shuffles per-doc METADATA only (~9 B/row,
q253's contract), reads |shards| stored rows for the offsets, and
writes O(batch) manifest rows. The one bounded driver collect is the
doc_id split threshold (1 row, max aggregate).

Reference scope note: the reference notebook has no training-assembly
surface (SURVEY.md §2.6) — training-data-pipeline extension set.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .base import _ts, query
from ..functions.text import TOKENS_SQL
from .packing import (
    _NSHARDS,
    _PACKING_SQL,
    _SEQ_CAP,
    _SPANS_SQL,
    _stage_ctes,
    packing_manifest,
    packing_spans,
)

#: bounded re-derive attempts of a packed/span append that loses a race
_APPEND_ATTEMPTS = 3


def _finalize(manifest):
    """Merge the store's state rows: per (shard, seq_id), n_docs and
    fill are additive across the v1 snapshot and batch contributions."""
    return (
        manifest.groupBy("shard", "seq_id")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("fill").cast("bigint").alias("fill"),
        )
        .orderBy("shard", "seq_id")
    )


def _monotone_guard(contrib_lo, state_hi, store: str) -> None:
    """Write-time validation of the monotone-arrival contract: every
    batch doc must FOLLOW the stored docs in per-shard doc_id order, or
    the continued cumsum silently stops equaling the scratch pack.
    ``contrib_lo`` is the batch's per-shard (shard, lo) minimum,
    ``state_hi`` the stored per-shard (shard, hi) high-water mark.
    Bounded: |shards| rows on both sides."""
    viol = (
        contrib_lo.join(state_hi, "shard")
        .where(F.col("lo") <= F.col("hi"))
        .select("shard", "lo", "hi")
        .take(3)
    )
    if viol:
        detail = ", ".join(
            f"shard {r['shard']}: batch min doc {r['lo']} <= stored max {r['hi']}"
            for r in viol
        )
        raise ValueError(
            f"packed store at {store}: out-of-order batch rejected — the "
            f"continued-cumsum append requires every batch doc to follow "
            f"the stored docs per shard ({detail}); backfills need a "
            "from-scratch rebuild (write_version of the full pack)"
        )


def packed_append(
    spark, store: str, batch, require_monotone: bool = True
) -> int:
    """Race-safe batch append to the packed-sequence store: read the
    per-shard offsets AND high-water doc_id from the current version,
    derive the batch's contribution rows continuing each shard's cumsum,
    validate monotone arrival, and commit with the read version pinned
    as ``expected_base`` — a concurrent commit raises inside
    ``append_version`` and the derivation retries from the new current
    (bounded), so a lost race can never silently double-fill a
    (shard, seq_id). ``batch`` is a (doc_id, text) or (doc_id, n_toks)
    relation.

    ``require_monotone=False`` opts out of the arrival guard for
    deployments that deliberately pack in arrival order with
    non-monotone doc_ids — the store is then a valid pack OF THAT ORDER
    but no longer equals the doc_id-ordered scratch pack (the identity
    every oracle here certifies), so the default is loud."""
    from ..sources.versioned import (
        ConcurrentWriteError,
        append_version,
        current_version,
        read_version,
    )

    for attempt in range(_APPEND_ATTEMPTS):
        base_v = current_version(store)
        state = (
            read_version(spark, store, base_v)
            .groupBy("shard")
            .agg(F.sum("fill").alias("base_toks"), F.max("max_doc").alias("hi"))
        )
        contrib = packing_manifest(
            batch, base=state.select("shard", "base_toks"), with_doc_bounds=True
        )
        if require_monotone:
            _monotone_guard(
                contrib.groupBy("shard").agg(F.min("min_doc").alias("lo")),
                state.select("shard", "hi"),
                store,
            )
        try:
            return append_version(
                contrib, store, partition_by=["shard"], expected_base=base_v
            )
        except ConcurrentWriteError:
            if attempt == _APPEND_ATTEMPTS - 1:
                raise
    raise AssertionError("unreachable")


def packed_store_lifecycle(spark, store: str, corpus, batch):
    """v1 build + one batch append against ``store`` (shard-partitioned,
    versioned). ``corpus`` and ``batch`` are (doc_id, text) relations
    where every batch doc_id exceeds every corpus doc_id per shard (the
    append VALIDATES this, it is no longer assumed). Shared by the gated
    head and tests."""
    from ..sources.versioned import read_current, write_version

    write_version(
        packing_manifest(corpus, with_doc_bounds=True), store, partition_by=["shard"]
    )
    packed_append(spark, store, batch)
    return read_current(spark, store)


@query(
    "q258_packed_store_maintenance",
    _PACKING_SQL,
    tags=("training", "packing", "incremental", "versioned"),
)
def q258(spark, sf):
    """Packed-sequence manifest finalized from the MAINTAINED store after
    the v1-build + batch-append lifecycle (batch = the top doc_id
    quintile, the monotone-arrival split). Columns: shard, seq_id,
    n_docs, fill. The oracle is q253's from-scratch packing SQL over the
    full corpus: a green row certifies the continued-cumsum append
    reproduces the scratch pack value-for-value. Like the other
    maintenance heads, plan construction is eager — the store is the
    subject."""
    from ..sources.versioned import session_store, vacuum

    # _ts (r12): token counts tokenize every text — fan the scan out
    docs = _ts(spark, sf, "documents", "doc_id", "text")
    # monotone split: batch docs follow corpus docs in every shard's
    # doc_id order (arrival order in a deployment). Bounded collect: 1 row.
    thr = docs.agg((F.max("doc_id") * 4).cast("bigint")).first()[0] // 5
    store = session_store(spark, "packed")
    cur = packed_store_lifecycle(
        spark,
        store,
        docs.where(F.col("doc_id") < thr),
        docs.where(F.col("doc_id") >= thr),
    )
    vacuum(store, keep=2)
    return _finalize(cur)


def span_append(
    spark, store: str, batch, require_monotone: bool = True
) -> int:
    """``packed_append`` for the span store: span rows carry ``doc_id``
    natively, so the high-water mark needs no extra column — the same
    aggregate that reads the per-shard offsets reads ``max(doc_id)``.
    Monotone guard + expected_base CAS + bounded re-derive, as above."""
    from ..sources.versioned import (
        ConcurrentWriteError,
        append_version,
        current_version,
        read_version,
    )

    for attempt in range(_APPEND_ATTEMPTS):
        base_v = current_version(store)
        state = (
            read_version(spark, store, base_v)
            .groupBy("shard")
            .agg(F.sum("n_span").alias("base_toks"), F.max("doc_id").alias("hi"))
        )
        contrib = packing_spans(batch, base=state.select("shard", "base_toks"))
        if require_monotone:
            _monotone_guard(
                contrib.groupBy("shard").agg(F.min("doc_id").alias("lo")),
                state.select("shard", "hi"),
                store,
            )
        try:
            return append_version(
                contrib, store, partition_by=["shard"], expected_base=base_v
            )
        except ConcurrentWriteError:
            if attempt == _APPEND_ATTEMPTS - 1:
                raise
    raise AssertionError("unreachable")


def span_store_lifecycle(spark, store: str, corpus, batch):
    """q260's v1 build + one batch append: the loader-facing span table
    (shard, seq_id, doc_id, seq_off, doc_off, n_span), shard-partitioned.
    Span rows are per-doc facts, so the batch's rows (offsets continued
    from the stored per-shard totals: sum(n_span) == packed tokens per
    shard) are purely additive — no row is ever rewritten, not even the
    boundary sequence's."""
    from ..sources.versioned import read_current, write_version

    write_version(packing_spans(corpus), store, partition_by=["shard"])
    span_append(spark, store, batch)
    return read_current(spark, store)


@query(
    "q260_packed_spans_store",
    _SPANS_SQL,
    tags=("training", "packing", "incremental", "versioned"),
)
def q260(spark, sf):
    """The packed-sequence SPAN table from the maintained store after the
    v1-build + batch-append lifecycle — the relation a data loader
    actually reads to materialize sequence (shard, seq_id): which doc,
    which token slice, in what order. Columns: shard, seq_id, doc_id,
    seq_off, doc_off, n_span. Oracle: the from-scratch span SQL over the
    full corpus — a green row certifies every stored slice boundary
    value-for-value through the append. Same monotone doc_id split and
    eager store construction as q258."""
    from ..sources.versioned import session_store, vacuum

    docs = _ts(spark, sf, "documents", "doc_id", "text")
    thr = docs.agg((F.max("doc_id") * 4).cast("bigint")).first()[0] // 5
    store = session_store(spark, "spans")
    cur = span_store_lifecycle(
        spark,
        store,
        docs.where(F.col("doc_id") < thr),
        docs.where(F.col("doc_id") >= thr),
    )
    vacuum(store, keep=2)
    return cur.orderBy("shard", "seq_id", "doc_id")


# --------------------------------------------------------------------------
# q261 — the loader-side READ path: prove the span store produces the
# training bytes, not just offsets consistent with the manifest
# --------------------------------------------------------------------------

#: the shard q261 materializes — one shard is exactly a loader worker's
#: slice of the corpus, and the filter partition-prunes the span store
_LOADER_SHARD = 3


def materialize_sequences(spark, span_store: str, docs, shard: int):
    """What a data loader actually executes against the q260 span store:
    take one shard's span rows, join each to its document, slice
    ``tokens[doc_off : doc_off + n_span]``, and concatenate the slices in
    doc_id order into the full training sequence. Returns one row per
    (shard, seq_id): ``n_parts`` (docs spliced), ``n_tokens`` (must equal
    the manifest's ``fill`` — the oracle certifies it from scratch), and
    ``seq_md5`` — the fingerprint of the materialized token stream, so a
    green row certifies the BYTES, not just the arithmetic.

    Scale shape: the shard filter partition-prunes the span store scan
    (store is shard-partitioned); the document scan is pruned with the
    derived ``pmod(doc_id, nshards) = shard`` predicate before the join,
    so both sides carry only the loader's slice. This is the one packing
    relation that legitimately shuffles TEXT — it is the materialization
    step; everything upstream stayed metadata-only. The per-group state
    is bounded by the sequence cap (256 tokens), and the doc_id-ordered
    concatenation is a JVM-side ``array_sort(collect_list(struct(...)))``
    — no Python in the path."""
    from ..functions.text import tokens
    from ..sources.versioned import read_current

    spans = read_current(spark, span_store).where(F.col("shard") == shard)
    shard_docs = docs.where(
        F.pmod(F.col("doc_id"), F.lit(_NSHARDS)) == shard
    ).select("doc_id", tokens("text").alias("ts"))
    pieces = spans.join(shard_docs, "doc_id").select(
        "shard",
        "seq_id",
        "doc_id",
        "n_span",
        F.array_join(
            F.slice(F.col("ts"), F.col("doc_off") + F.lit(1), F.col("n_span")), " "
        ).alias("piece"),
    )
    return (
        pieces.groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("n_span").cast("bigint").alias("n_tokens"),
            F.md5(
                F.encode(
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("doc_id", "piece"))
                            ),
                            lambda s: s["piece"],
                        ),
                        " ",
                    ),
                    "UTF-8",
                )
            ).alias("seq_md5"),
        )
        .orderBy("shard", "seq_id")
    )


_LOADER_SQL = f"""WITH {_stage_ctes("documents")},
sp AS (
  SELECT shard, CAST(seq AS BIGINT) AS seq_id, doc_id,
         CAST(GREATEST(tok_start, seq * {_SEQ_CAP}) - tok_start AS BIGINT)
             AS doc_off,
         CAST(LEAST(tok_start + n_toks, (seq + 1) * {_SEQ_CAP})
              - GREATEST(tok_start, seq * {_SEQ_CAP}) AS BIGINT) AS n_span
  FROM s WHERE shard = {_LOADER_SHARD}),
pieces AS (
  SELECT sp.shard, sp.seq_id, sp.doc_id, sp.n_span,
         array_to_string(
             {TOKENS_SQL}[sp.doc_off + 1 : sp.doc_off + sp.n_span], ' ') AS piece
  FROM sp JOIN documents d ON sp.doc_id = d.doc_id)
SELECT shard, seq_id,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(n_span) AS BIGINT) AS n_tokens,
       md5(string_agg(piece, ' ' ORDER BY doc_id)) AS seq_md5
FROM pieces GROUP BY shard, seq_id ORDER BY shard, seq_id"""


@query(
    "q261_packed_loader_read",
    _LOADER_SQL,
    tags=("training", "packing", "loader", "versioned"),
)
def q261(spark, sf):
    """Materialized training sequences for one loader shard, read from
    the MAINTAINED span store after the v1-build + batch-append
    lifecycle: per (shard, seq_id) the spliced doc count, the token
    total, and the md5 of the concatenated token stream. The oracle
    re-derives the same slices from scratch in DuckDB (identical
    tokenizer, slice bounds, and doc_id concat order), so a green row
    certifies the store's span arithmetic produces byte-identical
    training sequences — the contract a loader actually exercises
    (r11 verdict item 5). Same monotone doc_id split and eager store
    construction as q258/q260."""
    from ..sources.versioned import session_store, vacuum

    docs = _ts(spark, sf, "documents", "doc_id", "text")
    thr = docs.agg((F.max("doc_id") * 4).cast("bigint")).first()[0] // 5
    store = session_store(spark, "loader")
    span_store_lifecycle(
        spark,
        store,
        docs.where(F.col("doc_id") < thr),
        docs.where(F.col("doc_id") >= thr),
    )
    vacuum(store, keep=2)
    return materialize_sequences(spark, store, docs, _LOADER_SHARD)
