"""q262/q263 — the loader SCHEDULE: deterministic epoch shuffling of
packed sequences into global training steps.

After q258 (where every sequence lives), q260 (its exact token slices)
and q261 (the materialized bytes), the remaining loader question is
ORDER: every data-parallel worker must agree, for epoch e and step s,
on which sequences form the global batch — with a different
pseudo-random order each epoch, reproducible from the seed alone (the
Megatron/GPT loader contract: a crashed run resumed at step s must see
the identical schedule).

The schedule is a pure function of the packing manifest:

1. per sequence, a deterministic hash ``h = (shard*P1 + seq_id*P2 +
   epoch*P3) mod P`` — the epoch seed permutes the order, no RNG state;
2. the global order is ``ORDER BY (h % NB), h, shard, seq_id`` — the
   leading bucket term is what makes the rank computation DISTRIBUTED:
   Spark ranks within each of the NB hash buckets (a partitioned
   window, no single-partition global sort), then adds per-bucket
   offsets (NB rows, broadcast) to get the exact global rank;
3. ``step = rank div B``, ``slot = rank mod B`` — B sequences per
   global step (the data-parallel world size x per-worker batch).

The DuckDB oracle computes the identical order with a plain global
``row_number()`` — single-node exhaustive where the Spark plan is the
bucketed two-phase rank — so a green row certifies the distributed
rank arithmetic exactly.

Scale shape: the manifest is metadata (one row per 256-token sequence);
the only shuffles are the NB-bucket window sort and the final order-by.
No text moves. q263 rolls the schedule up per (epoch, step) — batch
fill totals a loader uses to pre-allocate — one hash-agg over the same
relation.

Reference scope note: the reference notebook has no training-assembly
surface (SURVEY.md §2.6) — training-data-pipeline extension set.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .base import _ts, query
from ..functions.text import TOKENS_SQL
from .packing import (
    _SEQ_CAP,
    _stage_ctes,
    packing_manifest,
    packing_spans,
)

#: sequences per global step (data-parallel world x per-worker batch)
_STEP_B = 16
#: hash buckets for the distributed rank (a deployment sizes this to
#: cores; the ORDER is defined over the bucket, so it is part of the
#: schedule's identity and must match between engines)
_NB = 64
#: the two training epochs the head emits (reshuffle evidence)
_EPOCHS = (0, 1)
_P1, _P2, _P3, _P = 2654435761, 40503, 69069, 999983


def _sched_hash(epoch: int) -> F.Column:
    return (
        F.col("shard") * F.lit(_P1)
        + F.col("seq_id") * F.lit(_P2)
        + F.lit(epoch) * F.lit(_P3)
    ) % F.lit(_P)


def loader_schedule(manifest, epoch: int):
    """One epoch's schedule over a (shard, seq_id, …) packing manifest:
    (epoch, shard, seq_id, step, slot), globally ranked by the seeded
    hash order WITHOUT a global sort — rank within hash bucket
    (partitioned window) plus broadcast per-bucket offsets."""
    s = manifest.select(
        "shard",
        "seq_id",
        _sched_hash(epoch).cast("bigint").alias("h"),
    ).withColumn("b", F.pmod(F.col("h"), F.lit(_NB)).cast("int"))
    w = Window.partitionBy("b").orderBy("h", "shard", "seq_id")
    ranked = s.withColumn("r_in_b", F.row_number().over(w))
    # per-bucket offsets: NB rows — the exclusive cumsum of bucket sizes
    # in bucket order, broadcast back
    sizes = ranked.groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    off_w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "b", F.coalesce(F.sum("n").over(off_w), F.lit(0)).alias("off")
    )
    cap = F.lit(_STEP_B)
    return (
        ranked.join(F.broadcast(offsets), "b")
        .select(
            F.lit(epoch).cast("bigint").alias("epoch"),
            "shard",
            "seq_id",
            ((F.col("off") + F.col("r_in_b") - 1) / cap)
            .cast("bigint")
            .alias("step"),
            F.pmod(F.col("off") + F.col("r_in_b") - 1, cap)
            .cast("bigint")
            .alias("slot"),
        )
    )


def _sched_sql_epoch(e: int) -> str:
    """The oracle's single-node twin of one epoch's schedule: a plain
    global row_number over the same (bucket, hash, shard, seq_id) order."""
    return f"""
    SELECT CAST({e} AS BIGINT) AS epoch, shard, seq_id,
           CAST((rnk - 1) // {_STEP_B} AS BIGINT) AS step,
           CAST((rnk - 1) % {_STEP_B} AS BIGINT) AS slot
    FROM (
      SELECT shard, seq_id,
             row_number() OVER (ORDER BY h % {_NB}, h, shard, seq_id) AS rnk
      FROM (
        SELECT shard, seq_id,
               (shard * {_P1} + seq_id * {_P2} + {e} * {_P3}) % {_P} AS h
        FROM man))"""


_MAN_CTE = (
    _stage_ctes("documents")
    + f""",
man AS (
  SELECT shard, CAST(seq AS BIGINT) AS seq_id
  FROM s GROUP BY shard, seq)"""
)

_SCHEDULE_SQL = (
    "WITH "
    + _MAN_CTE
    + "\n"
    + " UNION ALL ".join(_sched_sql_epoch(e) for e in _EPOCHS)
    + "\nORDER BY epoch, step, slot"
)

_STEP_STATS_SQL = (
    "WITH "
    + _MAN_CTE
    + f""",
manfill AS (
  SELECT shard, CAST(seq AS BIGINT) AS seq_id,
         CAST(SUM(LEAST(tok_start + n_toks, (seq + 1) * {_SEQ_CAP})
                  - GREATEST(tok_start, seq * {_SEQ_CAP})) AS BIGINT) AS fill
  FROM s GROUP BY shard, seq),
sched AS ("""
    + " UNION ALL ".join(_sched_sql_epoch(e) for e in _EPOCHS)
    + f""")
SELECT sched.epoch, sched.step,
       CAST(count(*) AS BIGINT) AS n_seqs,
       CAST(sum(manfill.fill) AS BIGINT) AS step_toks
FROM sched JOIN manfill
  ON sched.shard = manfill.shard AND sched.seq_id = manfill.seq_id
GROUP BY sched.epoch, sched.step
ORDER BY epoch, step"""
)


@query(
    "q262_loader_schedule",
    _SCHEDULE_SQL,
    tags=("training", "loader", "packing", "deterministic-shuffle"),
)
def q262(spark, sf):
    """Two epochs of the deterministic loader schedule over the corpus's
    packing manifest: (epoch, shard, seq_id, step, slot). The oracle
    replays the identical seeded order with a single-node row_number, so
    a green row certifies the DISTRIBUTED two-phase rank (bucketed
    window + broadcast offsets) reproduces the exact global order —
    every data-parallel worker can derive its slice independently."""
    # _ts (r12): the manifest tokenizes every text — fan the scan out
    docs = _ts(spark, sf, "documents", "doc_id", "text")
    man = packing_manifest(docs)
    out = loader_schedule(man, _EPOCHS[0])
    for e in _EPOCHS[1:]:
        out = out.unionByName(loader_schedule(man, e))
    return out.orderBy("epoch", "step", "slot")


@query(
    "q263_loader_step_stats",
    _STEP_STATS_SQL,
    tags=("training", "loader", "packing"),
)
def q263(spark, sf):
    """Per-(epoch, step) batch statistics of the loader schedule —
    sequences per step and total tokens (every step carries exactly
    B x 256 tokens except each epoch's tail, since packing fills every
    non-tail sequence to the cap): the numbers a loader uses to
    pre-allocate device batches. One hash-agg over the q262 relation
    joined to the manifest fills."""
    docs = _ts(spark, sf, "documents", "doc_id", "text")
    man = packing_manifest(docs)
    sched = loader_schedule(man, _EPOCHS[0])
    for e in _EPOCHS[1:]:
        sched = sched.unionByName(loader_schedule(man, e))
    return (
        sched.join(man.select("shard", "seq_id", "fill"), ["shard", "seq_id"])
        .groupBy("epoch", "step")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_seqs"),
            F.sum("fill").cast("bigint").alias("step_toks"),
        )
        .orderBy("epoch", "step")
    )


# --------------------------------------------------------------------------
# q264 — the composed loader FETCH: schedule -> spans -> bytes for the
# first training steps of an epoch (the loader's actual per-step read)
# --------------------------------------------------------------------------

#: the epoch q264 fetches from (the reshuffled one, so the batch
#: composition differs from insertion order) and how many leading steps
_FETCH_EPOCH = 1
_FETCH_STEPS = 4


def fetch_steps(docs, epoch: int, nsteps: int):
    """Materialize the training batches for the first ``nsteps`` global
    steps of ``epoch``: the q262 schedule names (step, slot) -> (shard,
    seq_id); the q260 span relation names each sequence's exact token
    slices; the documents supply the bytes. One row per schedule slot:
    (epoch, step, slot, shard, seq_id, n_parts, n_tokens, seq_md5), the
    md5 over the doc_id-ordered concatenated token stream — q261's
    byte-level contract, now addressed BY TRAINING STEP.

    Scale shape: the step filter reduces the schedule to ``nsteps x B``
    key rows, which BROADCAST against the span relation — the span join
    is a broadcast-hash probe, not a shuffle — and the surviving span
    rows (bounded by B x nsteps x docs-per-sequence) broadcast again
    against the document scan, so text is tokenized and sliced ONLY for
    the fetched docs. At deployment scale the span side is the
    shard-partitioned q258/q260 STORE (the store-backed read path is
    q261's evidence); here the from-scratch relation keeps the head's
    oracle self-contained. Nothing in the plan is proportional to the
    corpus except the manifest-building metadata pass the schedule
    itself needs (no text moves in it)."""
    from ..functions.text import tokens

    man = packing_manifest(docs)
    keys = (
        loader_schedule(man, epoch)
        .where(F.col("step") < nsteps)
        .select("step", "slot", "shard", "seq_id")
    )
    spans = packing_spans(docs)
    batch = spans.join(F.broadcast(keys), ["shard", "seq_id"])
    # broadcast the (bounded) batch side against the raw document scan
    # and tokenize AFTER the join — only fetched docs pay tokenize+slice
    pieces = F.broadcast(batch).join(docs, "doc_id").select(
        "step",
        "slot",
        "shard",
        "seq_id",
        "doc_id",
        "n_span",
        F.array_join(
            F.slice(tokens("text"), F.col("doc_off") + F.lit(1), F.col("n_span")),
            " ",
        ).alias("piece"),
    )
    return (
        pieces.groupBy("step", "slot", "shard", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("n_span").cast("bigint").alias("n_tokens"),
            F.md5(
                F.encode(
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("doc_id", "piece"))),
                            lambda s: s["piece"],
                        ),
                        " ",
                    ),
                    "UTF-8",
                )
            ).alias("seq_md5"),
        )
        .select(
            F.lit(_FETCH_EPOCH).cast("bigint").alias("epoch"),
            "step",
            "slot",
            "shard",
            "seq_id",
            "n_parts",
            "n_tokens",
            "seq_md5",
        )
        .orderBy("step", "slot")
    )


_STEP_FETCH_SQL = (
    "WITH "
    + _MAN_CTE
    + f""",
sched AS ({_sched_sql_epoch(_FETCH_EPOCH)}),
keys AS (
  SELECT step, slot, shard, seq_id FROM sched WHERE step < {_FETCH_STEPS}),
sp AS (
  SELECT shard, CAST(seq AS BIGINT) AS seq_id, doc_id,
         CAST(GREATEST(tok_start, seq * {_SEQ_CAP}) - tok_start AS BIGINT)
             AS doc_off,
         CAST(LEAST(tok_start + n_toks, (seq + 1) * {_SEQ_CAP})
              - GREATEST(tok_start, seq * {_SEQ_CAP}) AS BIGINT) AS n_span
  FROM s),
pieces AS (
  SELECT k.step, k.slot, sp.shard, sp.seq_id, sp.doc_id, sp.n_span,
         array_to_string(
             {TOKENS_SQL}[sp.doc_off + 1 : sp.doc_off + sp.n_span], ' ') AS piece
  FROM sp
  JOIN keys k ON sp.shard = k.shard AND sp.seq_id = k.seq_id
  JOIN documents d ON sp.doc_id = d.doc_id)
SELECT CAST({_FETCH_EPOCH} AS BIGINT) AS epoch, step, slot, shard, seq_id,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(n_span) AS BIGINT) AS n_tokens,
       md5(string_agg(piece, ' ' ORDER BY doc_id)) AS seq_md5
FROM pieces
GROUP BY step, slot, shard, seq_id
ORDER BY step, slot"""
)


@query(
    "q264_loader_step_fetch",
    _STEP_FETCH_SQL,
    tags=("training", "loader", "packing", "deterministic-shuffle"),
)
def q264(spark, sf):
    """The end-to-end loader FETCH: materialized training batches for
    the first {_FETCH_STEPS} steps of epoch {_FETCH_EPOCH}, composing
    the q262 schedule (which sequences form each step), the q260 span
    arithmetic (their exact token slices) and the document bytes — per
    schedule slot, the spliced doc count, token total, and md5 of the
    concatenated token stream. The oracle re-derives schedule AND slices
    from scratch single-node, so a green row certifies that a worker
    resolving (epoch, step) through the distributed plan reads exactly
    the bytes the seeded global order names."""
    docs = _ts(spark, sf, "documents", "doc_id", "text")
    return fetch_steps(docs, _FETCH_EPOCH, _FETCH_STEPS)
