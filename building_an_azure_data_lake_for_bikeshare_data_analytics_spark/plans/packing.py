"""q253-q256 — the batch-assembly operators between a curated corpus
and a training run: sequence packing and the mixture family
(downsampling rates q254, upsampling epochs q255, census-fed rate
derivation q256).

**q253 sequence packing** — pretraining consumes fixed-length token
sequences, not documents. The standard assembly (GPT-style
concatenate-and-chunk) concatenates each shard's documents in a
deterministic order and slices the token stream into capacity-C
sequences, letting documents span sequence boundaries. The operator's
whole output is derivable from one prefix sum: a doc occupying token
offsets [start, start + n) contributes to sequences
floor(start/C) .. floor((start+n-1)/C), with an exact per-sequence token
contribution. Output: one row per (shard, seq_id) with the number of
contributing docs and the sequence's filled token count (== C except
each shard's tail sequence) — the packing manifest a loader reads.

Scale shape: the prefix sum is a window cumsum PER SHARD (shard =
doc_id mod NSHARDS), so the only shuffle is hash-partitioning by shard
and the in-shard sort — exactly how a real pipeline packs (each worker
packs its shard independently; a GLOBAL document order would serialize
the corpus through one task, which is why the shard key is part of the
operator's contract, not a test convenience). The boundary explode is
map-side (sequence() spans are 1-2 elements for typical docs); the final
per-sequence agg shuffles on (shard, seq_id). NSHARDS scales with the
cluster at 100 TB; it is fixed here so the packing layout is
deterministic and oracle-checkable.

**q254 mixture sampling** — a training mix reweights sources
(upsample curated, downsample crawl). Deterministic realization: per
source, a token budget share target_s = floor(T * w_s / W) (weights
integer, T = half the corpus's tokens), realized by hash-threshold
sampling — keep doc iff hash6(doc_id) < rate_e6_s where rate_e6_s =
min(1e6, floor(target_s * 1e6 / tokens_s)). Every step is integer
arithmetic, so the sampled set is exactly reproducible (and
APPEND-STABLE: a doc's membership never changes as the corpus grows,
the same property the q41 split and the q249 batch predicate rely on).
Output per source: the realized rate and the sampled doc/token counts.

Scale shape: one hash-agg for per-source token totals (|sources| rows),
the rate table derived from it with a broadcast of the 1-row global
aggregate, then a broadcast semi-side join of the rate table onto the
corpus scan and one final hash-agg. Two corpus scans total at worst —
and q256 replaces the first with a read of the maintained census store
(q250's stats table stores per-source sum_toks), so re-deriving a mix
costs |sources| stored rows plus one filtered realization scan.

Reference scope note: the reference notebook has no training-assembly
surface (SURVEY.md §2.6) — training-data-pipeline extension set.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import SPLIT_E6_SQL, batch_sql
from ..functions.text import TOKENS_SQL, token_count
from .base import _t, _ts, query

#: tokens per packed training sequence
_SEQ_CAP = 256
#: independent packing shards (one per worker at deployment scale)
_NSHARDS = 8

#: mixture weight per source: deterministic from the source name so the
#: head needs no side-channel weight table — last character mod 3 + 1
#: gives weights in {1,2,3} across the testdata's src0..src19
_W_SQL = "CAST(ascii(substr(source, -1, 1)) % 3 + 1 AS BIGINT)"


def _w_col() -> F.Column:
    return (F.ascii(F.substring(F.col("source"), -1, 1)) % 3 + 1).cast("bigint")


#: the e6 doc hash: the [0, 1000) split hash is too coarse for rates
_HASH6_SQL = SPLIT_E6_SQL.format(x="doc_id")


def _stage_ctes(src: str) -> str:
    """The shared t/c/s packing CTEs (tokenize -> per-shard cumsum ->
    boundary explode) over source relation ``src`` — the SQL twin of
    ``_span_stage``, shared by the manifest (q253/q257/q258) and span
    (q260) finals."""
    return f"""t AS (
  SELECT doc_id,
         CAST(doc_id % {_NSHARDS} AS INTEGER) AS shard,
         CAST(COALESCE(len({TOKENS_SQL}), 0) AS BIGINT) AS n_toks
  FROM {src}
  WHERE COALESCE(len({TOKENS_SQL}), 0) > 0),
c AS (
  SELECT shard, doc_id, n_toks,
         CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS tok_start
  FROM t),
s AS (
  SELECT shard, doc_id, n_toks, tok_start,
         unnest(generate_series(tok_start // {_SEQ_CAP},
                                (tok_start + n_toks - 1) // {_SEQ_CAP})) AS seq
  FROM c)"""


def _packing_body(src: str) -> str:
    """The q253 packing SQL (CTEs + final select) over source relation
    ``src`` — templated so composed heads (q257's mix -> pack) can run
    the identical arithmetic over a derived CTE."""
    return f"""{_stage_ctes(src)}
SELECT shard,
       CAST(seq AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(LEAST(tok_start + n_toks, (seq + 1) * {_SEQ_CAP})
                - GREATEST(tok_start, seq * {_SEQ_CAP})) AS BIGINT) AS fill
FROM s GROUP BY shard, seq ORDER BY shard, seq_id"""


def _spans_body(src: str) -> str:
    """The q260 span SQL (CTEs + final select): one row per
    (doc x sequence) crossing with the exact token slice."""
    return f"""{_stage_ctes(src)}
SELECT shard,
       CAST(seq AS BIGINT) AS seq_id,
       doc_id,
       CAST(GREATEST(tok_start, seq * {_SEQ_CAP}) - seq * {_SEQ_CAP} AS BIGINT)
           AS seq_off,
       CAST(GREATEST(tok_start, seq * {_SEQ_CAP}) - tok_start AS BIGINT)
           AS doc_off,
       CAST(LEAST(tok_start + n_toks, (seq + 1) * {_SEQ_CAP})
            - GREATEST(tok_start, seq * {_SEQ_CAP}) AS BIGINT) AS n_span
FROM s ORDER BY shard, seq_id, doc_id"""


_PACKING_SQL = "WITH " + _packing_body("documents")
_SPANS_SQL = "WITH " + _spans_body("documents")


def packing_manifest(docs, base=None, with_doc_bounds: bool = False):
    """The q253 plan body over an arbitrary (doc_id, text) relation —
    shared by the gated head, the maintained stores and the composed
    ingest.

    ``base`` (optional): a (shard, base_toks) relation of per-shard token
    offsets already packed — each shard's cumsum then CONTINUES from its
    stored offset instead of zero, so the rows are a batch's additive
    CONTRIBUTION to an existing packing manifest (the q258 maintained
    store's append path): per (shard, seq_id), n_docs and fill are sums,
    and stored-state + batch-contribution == from-scratch pack of the
    union exactly, because batch docs follow existing docs in the
    per-shard order. Broadcast join — |shards| rows.

    ``with_doc_bounds``: additionally carry ``min_doc``/``max_doc`` per
    (shard, seq_id) — the doc_id range contributing to the row. The
    maintained store writes with bounds so its append path can VALIDATE
    the monotone-arrival contract above at write time (batch min vs
    stored max per shard, see ``packed_store.packed_append``) instead of
    trusting it; the finalized relation drops them, so the gated heads'
    schemas are unchanged."""
    cap = F.lit(_SEQ_CAP)
    s = _span_stage(docs, base)
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.least(F.col("tok_start") + F.col("n_toks"), (F.col("seq") + 1) * cap)
            - F.greatest(F.col("tok_start"), F.col("seq") * cap)
        ).alias("fill"),
    ]
    if with_doc_bounds:
        aggs += [
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ]
    return (
        s.groupBy("shard", F.col("seq").alias("seq_id"))
        .agg(*aggs)
        .orderBy("shard", "seq_id")
    )


def _span_stage(docs, base):
    """The shared (doc x sequence) crossing stage of the packing family:
    per-shard doc_id-ordered token cumsum, then the boundary explode —
    one row per sequence a doc touches, carrying (shard, doc_id, n_toks,
    tok_start, seq). packing_manifest aggregates it per sequence;
    packing_spans projects the loader-facing span columns from it."""
    # NULL text guard: size(split(NULL)) is -1 under legacy sizeOfNull and
    # NULL under ANSI — either would make the boundary sequence() DESCEND
    # and emit phantom manifest rows while the DuckDB twin (len = NULL)
    # silently skips the doc. Clamp to 0 and drop token-less docs BEFORE
    # the window (they contribute 0 to every cumsum, so exclusion is
    # offset-neutral), keeping the twins aligned for NULL/empty text.
    # A relation already carrying ``n_toks`` (the composed ingest's shared
    # tokenized scan — q252 passes size(ts)) skips the re-tokenize; the
    # same clamp applies.
    n_toks = (
        F.coalesce(F.col("n_toks").cast("bigint"), F.lit(0))
        if "n_toks" in docs.columns
        else F.greatest(F.coalesce(token_count("text"), F.lit(0)), F.lit(0)).cast(
            "bigint"
        )
    )
    t = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(_NSHARDS)).cast("int").alias("shard"),
        F.greatest(n_toks, F.lit(0)).alias("n_toks"),
    ).where(F.col("n_toks") > 0)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.select(
        "shard",
        "doc_id",
        "n_toks",
        F.coalesce(F.sum("n_toks").over(w), F.lit(0)).alias("tok_start"),
    )
    if base is not None:
        c = (
            c.join(F.broadcast(base), "shard", "left")
            .withColumn(
                "tok_start",
                F.col("tok_start") + F.coalesce(F.col("base_toks"), F.lit(0)),
            )
            .drop("base_toks")
        )
    cap = F.lit(_SEQ_CAP)
    return c.select(
        "shard",
        "doc_id",
        "n_toks",
        "tok_start",
        F.explode(
            F.sequence(
                F.floor(F.col("tok_start") / cap),
                F.floor((F.col("tok_start") + F.col("n_toks") - 1) / cap),
            )
        ).alias("seq"),
    )


def packing_spans(docs, base=None):
    """The LOADER-facing packing relation: one row per (doc x sequence)
    crossing with the exact token slice — (shard, seq_id, doc_id,
    seq_off: where in the sequence the slice starts, doc_off: where in
    the doc it starts, n_span: its length). A data loader materializing
    sequence ``(shard, seq_id)`` reads its span rows, fetches each doc,
    and concatenates ``text_tokens[doc_off : doc_off + n_span]`` in
    doc_id order — ``sum(n_span) == the manifest's fill`` per sequence
    (same arithmetic, pinned by the shared ``_span_stage``). Span rows
    are PER-DOC facts, so a batch's spans (continued offsets, ``base``)
    are purely additive — the q260 store appends them with no row ever
    rewritten."""
    cap = F.lit(_SEQ_CAP)
    cut_lo = F.greatest(F.col("tok_start"), F.col("seq") * cap)
    cut_hi = F.least(F.col("tok_start") + F.col("n_toks"), (F.col("seq") + 1) * cap)
    return (
        _span_stage(docs, base)
        .select(
            "shard",
            F.col("seq").cast("bigint").alias("seq_id"),
            "doc_id",
            (cut_lo - F.col("seq") * cap).cast("bigint").alias("seq_off"),
            (cut_lo - F.col("tok_start")).cast("bigint").alias("doc_off"),
            (cut_hi - cut_lo).cast("bigint").alias("n_span"),
        )
        .orderBy("shard", "seq_id", "doc_id")
    )


@query(
    "q253_sequence_packing",
    _PACKING_SQL,
    tags=("training", "packing", "window", "one-scan"),
)
def q253(spark, sf):
    """Concatenate-and-chunk packing manifest: per (shard, seq_id), how
    many docs contribute and the exact token fill. Every sequence except
    each shard's tail must fill to _SEQ_CAP — pinned in
    tests/test_packing.py; here the manifest itself is the output."""
    # NO scan fanout (r12): test_plans pins q253's single-data-shuffle
    # contract (one hashpartitioning + the output rangepartitioning) —
    # the conditional fanout exchange would break the pinned plan shape
    return packing_manifest(_t(spark, sf, "documents").select("doc_id", "text"))


#: the q254 rate-derivation CTEs (tok, g, rate) — shared verbatim by the
#: mixture summary and the composed mix -> pack head (q257)
_RATE_CTES = f"""tok AS (
  SELECT source, {_W_SQL} AS w,
         CAST(SUM(len({TOKENS_SQL})) AS BIGINT) AS toks
  FROM documents GROUP BY source),
g AS (SELECT SUM(w) AS sw, SUM(toks) AS st FROM tok),
rate AS (
  SELECT source, toks,
         CASE WHEN (st // 2) * w // sw >= toks THEN 1000000
              ELSE (st // 2) * w // sw % toks * 1000000 // toks
         END AS rate_e6
  FROM tok, g)"""

_MIXTURE_SQL = f"""
WITH {_RATE_CTES},
kept AS (
  SELECT d.source, len({TOKENS_SQL}) AS n_toks
  FROM documents d JOIN rate r ON d.source = r.source
  WHERE {_HASH6_SQL} < r.rate_e6)
SELECT r.source,
       CAST(r.rate_e6 AS BIGINT) AS rate_e6,
       CAST(coalesce(count(k.source), 0) AS BIGINT) AS n_docs,
       CAST(coalesce(SUM(k.n_toks), 0) AS BIGINT) AS n_tokens
FROM rate r LEFT JOIN kept k ON r.source = k.source
GROUP BY r.source, r.rate_e6 ORDER BY r.source"""


def mixture_rates(docs, tok):
    """The q254 rate table (source, rate_e6) — the _RATE_CTES twin.
    ``tok`` is the per-source (source, toks) totals relation, or None to
    derive it from ``docs``: q256 passes the MAINTAINED census stats table here, which removes
    the rate derivation's corpus scan (|sources| stored rows instead).

    Integer floor division throughout (expr: DIV) — the SQL twin's //.
    Remainder form (target % toks), as in q255: target can approach half
    the corpus token total, and target * 1e6 would wrap int64 once the
    corpus exceeds ~1.8e13 tokens — inside the 100 TB envelope. With the
    remainder the multiplicand is bounded by ONE source's tokens; when
    target >= toks the source is kept whole (rate 1e6), identical to the
    former LEAST(1e6, …) value at every scale that doesn't overflow."""
    if tok is None:
        tok = (
            docs.select("source", token_count("text").cast("bigint").alias("n_toks"))
            .groupBy("source")
            .agg(F.sum("n_toks").alias("toks"))
        )
    tok = tok.withColumn("w", _w_col())
    g = tok.agg(F.sum("w").alias("sw"), F.sum("toks").alias("st"))
    return tok.crossJoin(F.broadcast(g)).select(
        "source",
        F.expr(
            "CASE WHEN (st DIV 2) * w DIV sw >= toks THEN 1000000 "
            "ELSE (st DIV 2) * w DIV sw % toks * 1000000 DIV toks END"
        ).alias("rate_e6"),
    )


def mixture_kept(docs):
    """The realized sampled corpus: ``docs`` rows kept by the q254 hash
    threshold, original columns intact — the relation a deployment
    actually feeds downstream (q257 packs it). One corpus scan, plus the
    rate derivation's."""
    rate = mixture_rates(docs, None)
    return (
        docs.join(F.broadcast(rate), "source")
        .where(F.expr(_HASH6_SQL) < F.col("rate_e6"))
        .drop("rate_e6")
    )


def mixture_summary(docs, tok=None):
    """The q254 plan body over an arbitrary (doc_id, source, text)
    relation — shared by the q254 head and q256, which passes rates
    from the maintained census store as ``tok``."""
    d = docs.select(
        "doc_id", "source", token_count("text").cast("bigint").alias("n_toks")
    )
    rate = mixture_rates(docs, tok)
    kept = (
        d.join(F.broadcast(rate), "source")
        .where(F.expr(_HASH6_SQL) < F.col("rate_e6"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("n_tokens"))
    )
    return (
        rate.join(kept, "source", "left")
        .select(
            "source",
            F.col("rate_e6").cast("bigint").alias("rate_e6"),
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
        )
        .orderBy("source")
    )


@query(
    "q254_mixture_sampling",
    _MIXTURE_SQL,
    tags=("training", "sample", "mixture", "deterministic"),
)
def q254(spark, sf):
    """Deterministic mixture realization: per source, the integer-exact
    hash threshold that meets its weighted share of a half-corpus token
    budget, plus the doc/token counts the threshold actually keeps.
    Columns: source, rate_e6, n_docs, n_tokens."""
    return mixture_summary(
        _ts(spark, sf, "documents", "doc_id", "source", "text")
    )


_REPETITION_SQL = f"""
WITH tok AS (
  SELECT source, {_W_SQL} AS w,
         CAST(SUM(len({TOKENS_SQL})) AS BIGINT) AS toks
  FROM documents GROUP BY source),
g AS (SELECT SUM(w) AS sw FROM tok),
plan AS (
  SELECT source, toks,
         (2 * (SELECT SUM(toks) FROM tok)) * w // sw AS target
  FROM tok, g),
rate AS (
  SELECT source, toks, target,
         target // toks AS epochs,
         (target % toks) * 1000000 // toks AS rem_rate_e6
  FROM plan),
rem AS (
  SELECT d.source, len({TOKENS_SQL}) AS n_toks
  FROM documents d JOIN rate r ON d.source = r.source
  WHERE {_HASH6_SQL} < r.rem_rate_e6)
SELECT r.source,
       CAST(r.epochs AS BIGINT) AS epochs,
       CAST(r.rem_rate_e6 AS BIGINT) AS rem_rate_e6,
       CAST(coalesce(count(m.source), 0) AS BIGINT) AS n_docs_rem,
       CAST(r.epochs * r.toks + coalesce(SUM(m.n_toks), 0) AS BIGINT)
           AS n_tokens_planned
FROM rate r LEFT JOIN rem m ON r.source = m.source
GROUP BY r.source, r.epochs, r.rem_rate_e6, r.toks ORDER BY r.source"""


def repetition_plan(docs):
    """The q255 plan body over an arbitrary (doc_id, source, text)
    relation — the data-constrained (upsampling) half of the mixture
    family: when a source's weighted target EXCEEDS its available
    tokens, the mix repeats the source whole ``epochs`` times and
    realizes the remainder with q254's hash threshold. Same integer
    arithmetic, same append-stability."""
    d = docs.select(
        "doc_id", "source", token_count("text").cast("bigint").alias("n_toks")
    )
    tok = d.groupBy("source").agg(F.sum("n_toks").alias("toks")).withColumn(
        "w", _w_col()
    )
    g = tok.agg(F.sum("w").alias("sw"), F.sum("toks").alias("st"))
    rate = tok.crossJoin(F.broadcast(g)).select(
        "source",
        "toks",
        F.expr("2 * st * w DIV sw DIV toks").alias("epochs"),
        F.expr("(2 * st * w DIV sw) % toks * 1000000 DIV toks").alias(
            "rem_rate_e6"
        ),
    )
    rem = (
        d.join(F.broadcast(rate), "source")
        .where(F.expr(_HASH6_SQL) < F.col("rem_rate_e6"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs_rem"), F.sum("n_toks").alias("rem_toks"))
    )
    return (
        rate.join(rem, "source", "left")
        .select(
            "source",
            F.col("epochs").cast("bigint").alias("epochs"),
            F.col("rem_rate_e6").cast("bigint").alias("rem_rate_e6"),
            F.coalesce(F.col("n_docs_rem"), F.lit(0)).cast("bigint").alias("n_docs_rem"),
            (F.col("epochs") * F.col("toks") + F.coalesce(F.col("rem_toks"), F.lit(0)))
            .cast("bigint")
            .alias("n_tokens_planned"),
        )
        .orderBy("source")
    )


@query(
    "q255_repetition_mixture",
    _REPETITION_SQL,
    tags=("training", "sample", "mixture", "upsampling", "deterministic"),
)
def q255(spark, sf):
    """Upsampling mixture plan under a 2x-corpus token budget: per
    source, whole-corpus repetition epochs plus the integer-exact
    remainder threshold — the data-constrained mix (sources repeat when
    their weighted target exceeds their tokens). Columns: source,
    epochs, rem_rate_e6, n_docs_rem, n_tokens_planned."""
    return repetition_plan(
        _ts(spark, sf, "documents", "doc_id", "source", "text")
    )


@query(
    "q256_mixture_from_census",
    _MIXTURE_SQL,
    tags=("training", "sample", "mixture", "incremental", "versioned"),
)
def q256(spark, sf):
    """q254's mixture realization with the rate table derived from the
    MAINTAINED corpus census (q250's lifecycle: v1 corpus state +
    batch-merge, stored sum_toks per source) instead of a corpus scan —
    the maintained artifacts COMPOSING: re-deriving a training mix costs
    |sources| stored rows for the rates plus exactly one filtered corpus
    scan for the realization. The oracle is q254's from-scratch SQL
    verbatim, so a green row certifies that the stored census totals
    reproduce the scan-derived mix value-for-value through the merge."""
    from ..sources.versioned import (
        read_current,
        session_store,
        vacuum,
        write_version,
    )
    from .census_maintenance import _census_state, _merge_stats

    docs = _ts(spark, sf, "documents", "doc_id", "source", "text", "n_chars")
    is_new = F.expr(batch_sql("doc_id"))
    store = session_store(spark, "census_mix")

    # the q250 stats lifecycle: v1 corpus state, batch state merged in
    stats_v1, _ = _census_state(docs.where(~is_new))
    write_version(stats_v1, store)
    stats_b, _ = _census_state(docs.where(is_new))
    write_version(_merge_stats(read_current(spark, store), stats_b), store)
    vacuum(store, keep=2)

    # rates from MAINTAINED state; realization = the only corpus scan
    tok = read_current(spark, store).select(
        "source", F.col("sum_toks").alias("toks")
    )
    return mixture_summary(docs.select("doc_id", "source", "text"), tok=tok)


_MIX_PACK_SQL = (
    "WITH "
    + _RATE_CTES
    + f""",
kept AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN rate r ON d.source = r.source
  WHERE {_HASH6_SQL} < r.rate_e6),
"""
    + _packing_body("kept")
)


@query(
    "q257_mixture_packing",
    _MIX_PACK_SQL,
    tags=("training", "packing", "mixture", "composed"),
)
def q257(spark, sf):
    """The deployment batch-assembly pipeline end to end: pack the
    SAMPLED set — q254's mixture realization (broadcast rate table,
    hash-threshold keep) feeds q253's packing manifest directly,
    composing the two existing bodies (``mixture_kept`` ->
    ``packing_manifest``). This also exercises the packing window on a
    filtered, source-skewed input — the realistic shape: per-shard doc
    order stays doc_id (append-stable), only the kept docs occupy token
    offsets. The oracle composes the two SQL twins verbatim (rate CTEs
    -> kept CTE -> window cumsum). Columns: shard, seq_id, n_docs,
    fill."""
    docs = _ts(spark, sf, "documents", "doc_id", "source", "text")
    return packing_manifest(mixture_kept(docs).select("doc_id", "text"))


# --------------------------------------------------------------------------
# q267 — the attention-boundary annotation of packed sequences: the last
# metadata a trainer needs before it can consume the packed batches
# --------------------------------------------------------------------------

_BOUNDARIES_SQL = f"""WITH {_stage_ctes("documents")},
sp AS (
  SELECT shard, CAST(seq AS BIGINT) AS seq_id, doc_id,
         CAST(GREATEST(tok_start, seq * {_SEQ_CAP}) - seq * {_SEQ_CAP}
              AS BIGINT) AS seq_off,
         CAST(LEAST(tok_start + n_toks, (seq + 1) * {_SEQ_CAP})
              - GREATEST(tok_start, seq * {_SEQ_CAP}) AS BIGINT) AS n_span
  FROM s)
SELECT shard, seq_id,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(n_span) AS BIGINT) AS fill,
       string_agg(CAST(seq_off AS VARCHAR), ',' ORDER BY doc_id)
           AS boundaries_csv
FROM sp GROUP BY shard, seq_id ORDER BY shard, seq_id"""


def packed_boundaries(docs):
    """Per packed sequence, the ordered SEGMENT LAYOUT: the seq_off at
    which each document piece begins, comma-joined in splice (doc_id)
    order. Packing concatenates unrelated documents into one sequence;
    a trainer must not attend (or compute loss) across those seams —
    the standard mechanism is a block-diagonal attention mask derived
    from exactly these boundary offsets. One hash-agg over the span
    relation; the layout ships as a CSV string so the cross-engine
    value compare is exact (no list-typed hashing)."""
    return boundaries_from_spans(packing_spans(docs))


def boundaries_from_spans(spans):
    """The q267 aggregation over ANY span relation — the from-scratch
    one (gated head) or the MAINTAINED q260 store's current version
    (the deployment path: metadata-only read, no text scan; pinned
    equal in tests/test_packing.py)."""
    return (
        spans.groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("n_span").cast("bigint").alias("fill"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "seq_off"))),
                    lambda s: s["seq_off"].cast("string"),
                ),
            ).alias("boundaries_csv"),
        )
        .orderBy("shard", "seq_id")
    )


@query(
    "q267_packed_boundaries",
    _BOUNDARIES_SQL,
    tags=("training", "packing", "loader", "attention-mask"),
)
def q267(spark, sf):
    """The attention-boundary table of the corpus's packed sequences:
    per (shard, seq_id), how many document pieces it splices (n_parts),
    its token fill, and the ordered seq_off layout of the seams
    (boundaries_csv) — the input from which a trainer builds the
    block-diagonal attention/loss mask over packed batches. Derived
    from the same span arithmetic the q260 store maintains (a
    deployment computes it from the STORED spans — metadata-only, no
    text scan); the from-scratch head keeps the oracle self-contained.
    First boundary is always 0; consecutive-diff of the layout plus
    the tail equals the per-piece n_span list, so fill reconciles
    exactly — both pinned in tests."""
    return packed_boundaries(_ts(spark, sf, "documents", "doc_id", "text"))
