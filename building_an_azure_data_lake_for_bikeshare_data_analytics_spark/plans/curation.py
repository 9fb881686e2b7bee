"""Corpus-curation and batch-shaping operators (q114-q124): time-decayed
example weighting, length-bucketed batch assembly, ANN hard-negative mining,
a composite Gopher-style document filter gate, PQ/ADC compressed-domain
top-k (fold oracle vehicle q118, BLAS twin q120, ADC-prune -> exact
re-rank q123), per-source TV-distance
distribution drift (q119 tokens-by-source, q122 values-by-time-window),
the end-to-end composed pipeline (q121), and closed-form curriculum
ordering (q124).

These extend the training-pipeline surface (BASELINE.json north star; the
reference notebook has none of this — SURVEY.md §2.6 "not present" list)
with the curation steps an LLM data pipeline runs between dedup
(q35-q38, q73) and packing (q74): weight, bucket, mine, filter, compress,
monitor — and q121 chains gate -> dedup -> split -> bucket as one job.

Determinism rules (plans/base.py): every ratio is one IEEE division of two
exact integers or an exactly-representable product; weighted sums go through
the fixed-decimal path; every window carries a total tie-break.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType
from pyspark.sql.window import Window

from ..functions.hashing import split_case_sql
from ..functions.text import STOPWORDS, STOPWORDS_IN_SQL, fingerprint, marker_count, tokens
from ..functions.vectors import DOT_SQL, EMBEDDING_DIM, dot, norm
from ..operators.bpe import BPE_MERGES, BPE_TOP_WORDS
from ..operators.similarity import (
    IVF_PQ_RERANK_FROM,
    KMEANS_TRAIN_ROWS,
    PQ_ITERS,
    PQ_KSUB,
    PQ_M,
)
from .base import _t, _ts, query
from .extensions import (
    _Q_FILTER,
    _ivf_oracle,  # q130 carries its fold twin q56's oracle
    _query_sample,
    _topk_inputs,
)

# ---------------------------------------------------------------------------
# q114 — half-life-decayed per-user activity (sampling-weight primitive)
# ---------------------------------------------------------------------------

#: fixed "as of" anchor one day past the events table's span (2024-01-01 →
#: 2024-01-30 at every sf) so ages are small positive ints at any scale.
_ANCHOR = "2024-01-31"
_HALF_LIFE_WEEKS_SQL = (
    "pow(0.5, floor(datediff('day', CAST(ts AS DATE), DATE '{a}') / 7.0))".format(a=_ANCHOR)
)


def half_life_weight(ts_col: Column, anchor: Column, half_life_days: int = 7) -> Column:
    """Exponential half-life decay weight: 0.5 ** floor(age_days / H).

    The integer-week exponent keeps the weight an exact binary fraction
    (2^-k), so ``value * weight`` is a single exact IEEE multiply — the
    weighted sum can then ride the fixed-decimal exact-sum path and stay
    order-independent (bit-identical across engines and shuffle orders),
    which a raw ``exp(-age/tau)`` double-sum cannot guarantee."""
    age_weeks = F.floor(F.datediff(anchor, F.to_date(ts_col)) / half_life_days)
    return F.pow(F.lit(0.5), age_weeks)


@query(
    "q114_decayed_user_activity",
    f"""SELECT user_id,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
               CAST(sum(CAST(value * {_HALF_LIFE_WEEKS_SQL} AS DECIMAL(18,6)))
                    AS DOUBLE) AS decayed_value
        FROM events GROUP BY 1""",
    tags=("curation", "decay", "weighting"),
)
def q114(spark, sf):
    """Time-decayed per-user activity score (half-life = 1 week): the
    recency-weighted mixture/sampling-weight primitive. Weight is computed
    in the scan projection, so only (user_id, partial sums) rows shuffle —
    map-side combine absorbs the fan-in exactly like a plain groupBy; at
    100 TB this is one shuffle of |users| rows regardless of event count."""
    ev = _t(spark, sf, "events")
    wt = half_life_weight(F.col("ts"), F.lit(_ANCHOR).cast("date"), 7)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DecimalType(18, 2))).cast("double").alias("value_sum"),
        F.sum((F.col("value") * wt).cast(DecimalType(18, 6)))
        .cast("double")
        .alias("decayed_value"),
    )


# ---------------------------------------------------------------------------
# q115 — length-bucketed batch assembly (padding-waste minimizer)
# ---------------------------------------------------------------------------

_BATCH = 8

_BUCKET_SQL = """CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
                      WHEN n_tok <= 64 THEN 64 ELSE 128 END"""


def _bucket(n_tok: Column) -> Column:
    return (
        F.when(n_tok <= 16, 16)
        .when(n_tok <= 32, 32)
        .when(n_tok <= 64, 64)
        .otherwise(128)
    )


@query(
    "q115_length_bucket_batches",
    f"""WITH d AS (SELECT doc_id,
                          CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tok
                   FROM documents),
         b AS (SELECT doc_id, n_tok,
                      CAST({_BUCKET_SQL} AS INTEGER) AS bucket
               FROM d),
         r AS (SELECT bucket, n_tok,
                      CAST(floor((row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1)
                                 / {_BATCH}) AS INTEGER) AS batch_id
               FROM b)
        SELECT bucket, batch_id,
               count(*) AS n_docs,
               CAST(max(n_tok) AS INTEGER) AS max_len,
               CAST(sum(n_tok) AS BIGINT) AS token_sum,
               round(1.0 - sum(n_tok) * 1.0 / (count(*) * bucket), 6) AS pad_frac
        FROM r GROUP BY 1, 2 ORDER BY bucket, batch_id""",
    tags=("curation", "batching", "window"),
)
def q115(spark, sf):
    """Length-bucketed batch assembly: pad-to-bucket batching that bounds
    padding FLOPs (the training-loader counterpart of q74's greedy packing —
    fixed shapes per bucket instead of concat-to-max-len). Docs land in
    power-of-two token buckets, get a deterministic row_number within the
    bucket, and batches of 8 report their padding waste.

    Scale note: row_number over 4 bucket partitions serializes at 100 TB;
    a cluster path would salt the window key to (bucket, hash(doc_id) % K)
    — batches stay intra-salt-group and shapes are unchanged, only batch
    ids renumber. The oracle pins the canonical single-partition
    numbering."""
    d = _t(spark, sf, "documents").select(
        "doc_id", F.size(tokens("text")).alias("n_tok")
    )
    b = d.select("doc_id", "n_tok", _bucket(F.col("n_tok")).alias("bucket"))
    w = Window.partitionBy("bucket").orderBy("doc_id")
    r = b.select(
        "bucket",
        "n_tok",
        F.floor((F.row_number().over(w) - 1) / _BATCH).cast("int").alias("batch_id"),
    )
    return (
        r.groupBy("bucket", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tok").alias("max_len"),
            F.sum("n_tok").alias("token_sum"),
        )
        .select(
            "bucket",
            "batch_id",
            "n_docs",
            "max_len",
            "token_sum",
            F.round(
                1.0 - F.col("token_sum") / (F.col("n_docs") * F.col("bucket")), 6
            ).alias("pad_frac"),
        )
        .orderBy("bucket", "batch_id")
    )


# ---------------------------------------------------------------------------
# q116 — ANN hard-negative mining (contrastive-training primitive)
# ---------------------------------------------------------------------------


@query(
    "q116_hard_negatives",
    f"""WITH q AS (SELECT vec_id AS query_id, label AS query_label, embedding AS qe
                   FROM embeddings WHERE {_Q_FILTER}),
         p AS (SELECT query_id, query_label,
                      e.vec_id AS neighbor_id, e.label AS neighbor_label,
                      round({DOT_SQL.format(a='qe', b='e.embedding')}
                            / (sqrt({DOT_SQL.format(a='qe', b='qe')})
                               * sqrt({DOT_SQL.format(a='e.embedding', b='e.embedding')})),
                            4) AS cos
               FROM embeddings e, q WHERE e.label <> query_label)
        SELECT query_id, query_label, neighbor_id, neighbor_label, cos,
               CAST(rnk AS INTEGER) AS rnk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, neighbor_id) AS rnk
              FROM p)
        WHERE rnk <= 5""",
    tags=("curation", "similarity", "negative-mining"),
)
def q116(spark, sf):
    """Hard-negative mining: for each query vector, the top-5 most-similar
    vectors with a *different* label — the highest-loss negatives a
    contrastive trainer wants. Same broadcast shape as q39 (queries are the
    small side, corpus never shuffles) with the positive-pair anti-filter
    pushed into the join condition, so same-label candidates never
    materialize. At 100 TB the candidate stage swaps to the LSH-bucketed
    join (q40) before the label filter; the brute-force form is the oracle."""
    # _ts (r12): per-row norm/cosine folds — fan the scan out
    emb = _ts(spark, sf, "embeddings").select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    q = emb.where(F.expr(_Q_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = emb.join(F.broadcast(q), F.col("label") != F.col("query_label"))
    cos = F.round(dot(F.col("qe"), F.col("embedding")) / (F.col("qnrm") * F.col("nrm")), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            cos.alias("cos"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
    )


# ---------------------------------------------------------------------------
# q117 — composite Gopher-style document filter gate
# ---------------------------------------------------------------------------


#: shared gate-stats CTE chain (ends in ``s(doc_id, n_tok, stop_n,
#: most_common_n, mean_len)``) and the keep-rule predicate — one source of
#: truth for q117 (the auditable gate) and q121 (the composed pipeline).
_GATE_CTES = f"""t AS (SELECT doc_id, text,
                          string_split_regex(trim(text), '\\s+') AS ts
                   FROM documents),
         mc AS (SELECT doc_id, max(c) AS most_common_n
                FROM (SELECT doc_id, tok, count(*) AS c
                      FROM (SELECT doc_id, unnest(ts) AS tok FROM t)
                      GROUP BY 1, 2)
                GROUP BY 1),
         s AS (SELECT t.doc_id,
                      CAST(len(ts) AS INTEGER) AS n_tok,
                      CAST(len(list_filter(ts, x -> x IN ({STOPWORDS_IN_SQL}))) AS INTEGER)
                          AS stop_n,
                      CAST(mc.most_common_n AS INTEGER) AS most_common_n,
                      length(replace(text, ' ', '')) * 1.0 / len(ts) AS mean_len
               FROM t JOIN mc ON t.doc_id = mc.doc_id)"""

_OK_LEN_SQL = "(n_tok BETWEEN 20 AND 80)"
_OK_WORD_LEN_SQL = "(mean_len >= 3.8 AND mean_len <= 5.0)"
_OK_STOP_SQL = "(stop_n >= 2)"
_OK_MCW_SQL = "(most_common_n * 1.0 / n_tok <= 0.125)"
_KEEP_SQL = f"({_OK_LEN_SQL} AND {_OK_WORD_LEN_SQL} AND {_OK_STOP_SQL} AND {_OK_MCW_SQL})"


def _gate_stats(t: "DataFrame") -> "DataFrame":
    """(doc_id, text, ts) -> per-doc gate stats (the Spark twin of the
    ``s`` CTE in ``_GATE_CTES``)."""
    mc = (
        t.select("doc_id", F.explode("ts").alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").cast("int").alias("most_common_n"))
    )
    n = F.size("ts")
    return t.select(
        "doc_id",
        n.alias("n_tok"),
        marker_count(F.col("ts"), STOPWORDS).cast("int").alias("stop_n"),
        (F.length(F.regexp_replace("text", " ", "")) / n).alias("mean_len"),
    ).join(mc, "doc_id")


def _gate_rules() -> dict[str, Column]:
    """The four keep rules over _gate_stats columns (Spark twins of the
    *_SQL predicates above)."""
    return {
        "ok_len": F.col("n_tok").between(20, 80),
        "ok_word_len": (F.col("mean_len") >= 3.8) & (F.col("mean_len") <= 5.0),
        "ok_stop": F.col("stop_n") >= 2,
        "ok_mcw": F.col("most_common_n") / F.col("n_tok") <= 0.125,
    }


@query(
    "q117_corpus_filter_gate",
    f"""WITH {_GATE_CTES}
        SELECT doc_id, n_tok, stop_n, most_common_n,
               {_OK_LEN_SQL} AS ok_len,
               {_OK_WORD_LEN_SQL} AS ok_word_len,
               {_OK_STOP_SQL} AS ok_stop,
               {_OK_MCW_SQL} AS ok_mcw,
               {_KEEP_SQL} AS keep
        FROM s""",
    tags=("curation", "quality", "filter-gate"),
)
def q117(spark, sf):
    """Composite document filter gate, Gopher-rule style: token-count
    bounds, mean-word-length band, minimum stopword evidence, and
    most-common-word dominance — each as an auditable boolean plus the
    final ``keep`` conjunction (filter *decisions*, where q32/q88 stop at
    scores). Thresholds chosen to split this corpus on every rule.

    The dominance rule needs the per-doc modal token count: explode →
    (doc, tok) partial-count → per-doc max — two shuffles both keyed by
    doc_id, with map-side combine absorbing the token fan-out; the
    per-doc scalar then joins back to the scan-side stats on doc_id."""
    t = _t(spark, sf, "documents").select(
        "doc_id", "text", tokens("text").alias("ts")
    )
    s = _gate_stats(t)
    r = _gate_rules()
    keep = r["ok_len"] & r["ok_word_len"] & r["ok_stop"] & r["ok_mcw"]
    return s.select(
        "doc_id",
        "n_tok",
        "stop_n",
        "most_common_n",
        r["ok_len"].alias("ok_len"),
        r["ok_word_len"].alias("ok_word_len"),
        r["ok_stop"].alias("ok_stop"),
        r["ok_mcw"].alias("ok_mcw"),
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# q118 — product-quantization ADC top-k (IVF-PQ's compression half)
# ---------------------------------------------------------------------------


def _pq_ctes() -> str:
    """CTE chain replaying all PQ_M per-subspace integer Lloyd codebook
    fits (init = PQ_KSUB lowest-id subvectors, exact 2*dot-|c|^2
    assignment, floor-mean updates) and re-encoding the corpus: ``sv{s},
    c{s}_0 ... c{s}_{PQ_ITERS}, e{s}`` (e{s} = subspace-s code per corpus
    vector). Expects ``pts`` (vec_id, qv) and ``ptr`` (lowest-id training
    sample) to be defined by the caller; shared by q118/q123's oracle and
    the composed IVF-PQ oracle (q125)."""
    m, ksub, iters = PQ_M, PQ_KSUB, PQ_ITERS
    sub = EMBEDDING_DIM // m

    def dot_vc(v: str, c: str) -> str:
        return f"list_sum(list_transform(range(1, {sub + 1}), j -> {v}[j] * {c}[j]))"

    def nsq(c: str) -> str:
        return f"list_sum(list_transform({c}, x -> x * x))"

    blocks = []
    for s in range(m):
        lo = s * sub + 1
        blocks.append(
            f"""sv{s} AS MATERIALIZED (
      SELECT vec_id, list_transform(range({lo}, {lo + sub}), j -> qv[j]) AS v
      FROM ptr),
    c{s}_0 AS (
      SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell, v AS c
      FROM sv{s} ORDER BY vec_id LIMIT {ksub})"""
        )
        for i in range(1, iters + 1):
            blocks.append(
                f"""a{s}_{i} AS MATERIALIZED (
      SELECT vec_id, v, cell FROM (
        SELECT p.vec_id, p.v, c.cell,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY (2 * {dot_vc('p.v', 'c.c')} - {nsq('c.c')}) DESC,
                                           c.cell) AS rn
        FROM sv{s} p CROSS JOIN c{s}_{i - 1} c)
      WHERE rn = 1),
    c{s}_{i} AS MATERIALIZED (
      SELECT cell, list_transform(range(1, {sub + 1}), j ->
               CAST(floor(CAST(list_sum(list_transform(list(v), x -> x[j])) AS DOUBLE)
                          / count(*)) AS BIGINT)) AS c
      FROM a{s}_{i} GROUP BY cell
      UNION ALL
      SELECT cell, c FROM c{s}_{i - 1}
      WHERE cell NOT IN (SELECT cell FROM a{s}_{i}))"""
            )
        blocks.append(
            f"""e{s} AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT p.vec_id, c.cell,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY (2 * {dot_vc('p.v', 'c.c')} - {nsq('c.c')}) DESC,
                                           c.cell) AS rn
        FROM (SELECT vec_id, list_transform(range({lo}, {lo + sub}), j -> qv[j]) AS v
              FROM pts) p
        CROSS JOIN c{s}_{iters} c)
      WHERE rn = 1)"""
        )
    return ",\n    ".join(blocks)


def _pq_adc_pair_sql(qref: str = "q") -> tuple[str, str, str]:
    """SQL fragments for scoring (query, neighbor) pairs over the _pq_ctes
    chain — returns ``(adc_terms, enc_joins, cb_joins)``: the exact integer
    ADC sum expression, the encoded-corpus joins, and the codebook joins.
    ``qref`` is the alias holding the query's quantized vector (column qv)."""
    m, iters = PQ_M, PQ_ITERS
    sub = EMBEDDING_DIM // m
    adc_terms = " + ".join(
        f"list_sum(list_transform(range(1, {sub + 1}), j -> {qref}.qv[{s * sub} + j] * k{s}.c[j]))"
        for s in range(m)
    )
    enc_joins = "\n      ".join(
        f"JOIN e{s} ON e{s}.vec_id = e0.vec_id" for s in range(1, m)
    )
    cb_joins = "\n      ".join(
        f"JOIN c{s}_{iters} k{s} ON k{s}.cell = e{s}.cell" for s in range(m)
    )
    return adc_terms, enc_joins, cb_joins


def _pq_oracle(rerank_from: int | None = None) -> str:
    """DuckDB oracle for q118/q123: replays all m per-subspace integer Lloyd
    fits, re-encodes the corpus, and scores every (query, neighbor) pair by
    the exact integer ADC sum — the same replay-the-fit pattern as q56's
    IVF oracle, minus doubles even in the assignment scores."""
    adc_terms, enc_joins, cb_joins = _pq_adc_pair_sql()
    return f"""WITH pts AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings),
    ptr AS MATERIALIZED (SELECT vec_id, qv FROM pts ORDER BY vec_id LIMIT {KMEANS_TRAIN_ROWS}),
    {_pq_ctes()},
    q AS (SELECT vec_id AS query_id, qv FROM pts WHERE {_Q_FILTER}),
    p AS (
      SELECT q.query_id, e0.vec_id AS neighbor_id, ({adc_terms}) AS adc
      FROM q
      JOIN e0 ON e0.vec_id <> q.query_id
      {enc_joins}
      {cb_joins})
    {_pq_oracle_tail(rerank_from)}"""


def _pq_oracle_tail(rerank_from: int | None) -> str:
    """Final stage of the PQ oracle: top 5 by exact integer ADC (q118), or
    prune to ``rerank_from`` ADC candidates and re-rank the top 5 by exact
    cosine over the raw embeddings (q123 — the deployment shape)."""
    if rerank_from is None:
        return f"""SELECT query_id, neighbor_id,
           round(CAST(adc AS DOUBLE) / 1000000000000.0, 6) AS adc_dot,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc DESC, neighbor_id) AS rnk
          FROM p)
    WHERE rnk <= 5"""
    cos = (
        f"round({DOT_SQL.format(a='qe.embedding', b='ne.embedding')}"
        f" / (sqrt({DOT_SQL.format(a='qe.embedding', b='qe.embedding')})"
        f" * sqrt({DOT_SQL.format(a='ne.embedding', b='ne.embedding')})), 4)"
    )
    return f""",
    cand AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY adc DESC, neighbor_id) AS crnk
            FROM p)
      WHERE crnk <= {rerank_from}),
    x AS (
      SELECT c.query_id, c.neighbor_id, {cos} AS cos
      FROM cand c
      JOIN embeddings qe ON qe.vec_id = c.query_id
      JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rnk
          FROM x)
    WHERE rnk <= 5"""


# fixture: superseded fold — q120_pq_adc_topk_vectorized carries this
# oracle verbatim; scheduler/bench skip it (r5 verdict item 6)
@query(
    "q118_pq_adc_topk",
    _pq_oracle(),
    tags=("curation", "similarity", "pq", "ann"),
    fixture=True,
)
def q118(spark, sf):
    """Product-quantization ADC top-k — the compression half of the IVF-PQ
    stack (q56 holds the IVF half): per-subspace integer Lloyd codebooks,
    corpus stored as m small codes, queries scored by table lookups that
    never touch the original floats. Ranking runs on the exact integer ADC
    score, so the DuckDB oracle (which replays all m fits iteration by
    iteration) matches rank-for-rank; approximation quality vs exact top-k
    is measured on the stress corpus in SCALE_NOTES, not here."""
    from ..operators.similarity import pq_adc_topk, pq_fit

    emb, q = _topk_inputs(spark, sf)
    books = pq_fit(emb)
    return pq_adc_topk(emb, q, books, k=5)


# ---------------------------------------------------------------------------
# q119 — per-source token-distribution drift (total-variation distance)
# ---------------------------------------------------------------------------


@query(
    "q119_source_token_drift",
    r"""WITH tok AS (
          SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents),
        sc AS (SELECT source, tok, count(*) AS cnt_st FROM tok GROUP BY 1, 2),
        ct AS (SELECT tok, sum(cnt_st) AS cnt_t FROM sc GROUP BY 1),
        st AS (SELECT source, sum(cnt_st) AS tot_s FROM sc GROUP BY 1),
        g AS (SELECT CAST(sum(cnt_st) AS BIGINT) AS tot_c FROM sc),
        terms AS (
          SELECT sc.source,
                 CAST(abs(cnt_st * 1.0 / tot_s - cnt_t * 1.0 / tot_c)
                      AS DECIMAL(18,12)) AS d,
                 CAST(cnt_t * 1.0 / tot_c AS DECIMAL(18,12)) AS p_t
          FROM sc JOIN ct USING (tok) JOIN st USING (source) CROSS JOIN g)
        SELECT source,
               CAST(st.tot_s AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               round(CAST(0.5 * (sum(d) + (1.0 - sum(p_t))) AS DOUBLE), 6)
                   AS tv_drift
        FROM terms JOIN st USING (source)
        GROUP BY source, st.tot_s ORDER BY source""",
    tags=("curation", "drift", "distribution"),
)
def q119(spark, sf):
    """Per-source distribution-drift score: total-variation distance between
    each source's token distribution and the whole corpus's — the
    corpus-monitoring primitive that flags a crawl source going off-mix.

    TV is chosen over KL/PSI deliberately: it needs no transcendental
    functions, so every term is a ratio of exact int64 counts (identical
    IEEE doubles in any engine) quantized to DECIMAL(18,12) for an
    order-independent sum — the whole score is oracle-checkable to the
    last bit, which a log-based divergence cannot be (libm vs JVM ulps).
    Tokens absent from a source are handled in closed form (their
    contribution is the missing corpus mass, 1 - sum of present p_t), so
    no source x vocabulary full-outer join ever materializes — at 100 TB
    the shuffles stay keyed on (source, token) and token only.

    The (source, token) counts relation feeds four consumers (per-token
    totals, per-source totals, the corpus scalar, and the terms join);
    localCheckpoint materializes the explode+count once instead of
    re-scanning the corpus per consumer (same pattern as the LSH
    pipeline's shingle relation; the pinned plan has zero parquet
    re-scans). The materialized relation is |sources x vocab| counts —
    tiny relative to the corpus."""
    # _ts (r12): fan the scan out below the tokenize
    tok = _ts(spark, sf, "documents", "source", "text").select(
        "source", F.explode(tokens("text")).alias("tok")
    )
    sc = (
        tok.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt_st"))
        .localCheckpoint()
    )
    ct = sc.groupBy("tok").agg(F.sum("cnt_st").alias("cnt_t"))
    st = sc.groupBy("source").agg(F.sum("cnt_st").alias("tot_s"))
    g = sc.agg(F.sum("cnt_st").cast("bigint").alias("tot_c"))
    d = F.abs(
        F.col("cnt_st") / F.col("tot_s") - F.col("cnt_t") / F.col("tot_c")
    ).cast(DecimalType(18, 12))
    p_t = (F.col("cnt_t") / F.col("tot_c")).cast(DecimalType(18, 12))
    terms = (
        sc.join(ct, "tok")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(g))
        .select("source", "tot_s", d.alias("d"), p_t.alias("p_t"))
    )
    return (
        terms.groupBy("source", "tot_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum("d").alias("sd"),
            F.sum("p_t").alias("sp"),
        )
        .select(
            "source",
            F.col("tot_s").cast("bigint").alias("n_tokens"),
            "n_distinct",
            F.round(
                (0.5 * (F.col("sd") + (1.0 - F.col("sp")))).cast("double"), 6
            ).alias("tv_drift"),
        )
        .orderBy("source")
    )


@query(
    "q120_pq_adc_topk_vectorized",
    _pq_oracle(),  # the fold twin's (q118) oracle verbatim — every ADC
    # score is the same exact int64 in both formulations (r3 verdict item 1)
    tags=("curation", "similarity", "pq", "vectorized"),
)
def q120(spark, sf):
    """q118 through the numpy ADC kernel (mapInPandas, integer gathers) —
    the deployment-speed path, bit-identical to the fold formulation by
    exact int64 arithmetic. Same twin contract as q109<->q104; carries
    q118's fit-replay oracle verbatim."""
    from ..operators.similarity import pq_adc_topk_vectorized, pq_fit

    emb, q = _topk_inputs(spark, sf)
    books = pq_fit(emb)
    return pq_adc_topk_vectorized(emb, q, books, k=5)


# ---------------------------------------------------------------------------
# q121 — the curation pipeline composed end-to-end
# ---------------------------------------------------------------------------

@query(
    "q121_curation_pipeline",
    f"""WITH {_GATE_CTES},
         kept AS (SELECT s.doc_id, t.text, s.n_tok
                  FROM s JOIN t ON s.doc_id = t.doc_id
                  WHERE {_KEEP_SQL}),
         fp AS (SELECT min(doc_id) AS keep_id
                FROM (SELECT doc_id,
                             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
                      FROM kept)
                GROUP BY f),
         ded AS (SELECT k.doc_id, k.n_tok
                 FROM kept k JOIN fp ON fp.keep_id = k.doc_id),
         sp AS (SELECT {split_case_sql('doc_id', 22)} AS split,
                       CAST({_BUCKET_SQL} AS INTEGER) AS bucket,
                       n_tok
                FROM ded)
        SELECT split, bucket,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS token_sum,
               CAST(max(n_tok) AS INTEGER) AS max_len
        FROM sp GROUP BY 1, 2 ORDER BY split, bucket""",
    tags=("curation", "pipeline", "composition"),
)
def q121(spark, sf):
    """The curation pipeline a corpus run actually executes, composed
    end-to-end from this module's pieces: filter gate (q117 rules) ->
    exact dedup keep-lowest (q35 shape) -> deterministic hash split
    (q71 shape) -> length buckets (q115 shape), reported as per
    (split, bucket) doc/token totals.

    Every stage shares its SQL/Column definitions with the standalone
    query it composes (one source of truth, so the composite oracle
    cannot drift from the pieces). Plan shape: the gate's two doc_id
    shuffles -> one fp-keyed dedup shuffle -> map-only split/bucket ->
    one small aggregate; nothing wider than (doc_id, n_tok, fp) moves
    after the gate."""
    t = _t(spark, sf, "documents").select(
        "doc_id", "text", tokens("text").alias("ts")
    )
    r = _gate_rules()
    keep = r["ok_len"] & r["ok_word_len"] & r["ok_stop"] & r["ok_mcw"]
    kept = (
        _gate_stats(t)
        .where(keep)
        .join(t.select("doc_id", "text"), "doc_id")
        .select("doc_id", "n_tok", fingerprint("text").alias("f"))
    )
    keeps = kept.groupBy("f").agg(F.min("doc_id").alias("keep_id"))
    ded = kept.join(
        keeps, kept["doc_id"] == keeps["keep_id"]
    ).select("doc_id", "n_tok")
    split = F.expr(split_case_sql("doc_id", 0))
    return (
        ded.select(split.alias("split"), _bucket(F.col("n_tok")).alias("bucket"), "n_tok")
        .groupBy("split", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("token_sum"),
            F.max("n_tok").alias("max_len"),
        )
        .orderBy("split", "bucket")
    )


# ---------------------------------------------------------------------------
# q122 — numeric-distribution drift between time windows (per event type)
# ---------------------------------------------------------------------------

_DRIFT_CUT = "2024-01-15"


@query(
    "q122_value_drift_by_window",
    f"""WITH b AS (
          SELECT event_type,
                 CAST(floor(value / 25.0) AS BIGINT) * 25 AS bucket,
                 CASE WHEN CAST(ts AS DATE) < DATE '{_DRIFT_CUT}' THEN 1 ELSE 0 END AS is_ref
          FROM events),
        c AS (SELECT event_type, bucket,
                     sum(is_ref) AS cnt_ref,
                     sum(1 - is_ref) AS cnt_cur
              FROM b GROUP BY 1, 2),
        t AS (SELECT event_type,
                     CAST(sum(cnt_ref) AS BIGINT) AS tot_ref,
                     CAST(sum(cnt_cur) AS BIGINT) AS tot_cur
              FROM c GROUP BY 1),
        terms AS (
          SELECT c.event_type,
                 CAST(abs(cnt_ref * 1.0 / tot_ref - cnt_cur * 1.0 / tot_cur)
                      AS DECIMAL(18,12)) AS d
          FROM c JOIN t USING (event_type))
        SELECT event_type,
               t.tot_ref AS n_ref, t.tot_cur AS n_cur,
               round(CAST(0.5 * sum(d) AS DOUBLE), 6) AS tv_drift
        FROM terms JOIN t USING (event_type)
        GROUP BY event_type, t.tot_ref, t.tot_cur
        ORDER BY event_type""",
    tags=("curation", "drift", "histogram"),
)
def q122(spark, sf):
    """Per-event-type numeric drift: total-variation distance between the
    value histograms of a reference window (before {cut}) and the current
    window — q119's monitor for numeric columns. Bucketing reuses q85's
    fixed-width histogram; because both periods' counts land in ONE
    (type, bucket) aggregate row (conditional sums, no second scan), a
    bucket present in either period contributes its full |p_ref - p_cur|
    term and no union/full-outer join ever materializes. Terms are ratios
    of exact int64 counts quantized to DECIMAL(18,12): order-independent,
    engine-exact. Scale shape: ONE parquet scan (pinned) — per-type totals
    come from a window over the already-aggregated (type, bucket) rows
    (hundreds of rows), not a second aggregate joined back, which would
    re-scan the fact table."""
    ev = _t(spark, sf, "events")
    is_ref = (F.to_date("ts") < F.lit(_DRIFT_CUT).cast("date")).cast("long")
    b = ev.select(
        "event_type",
        (F.floor(F.col("value") / 25.0) * 25).alias("bucket"),
        is_ref.alias("is_ref"),
    )
    c = b.groupBy("event_type", "bucket").agg(
        F.sum("is_ref").alias("cnt_ref"),
        F.sum(1 - F.col("is_ref")).alias("cnt_cur"),
    )
    wt = Window.partitionBy("event_type")
    ct = c.select(
        "event_type",
        "cnt_ref",
        "cnt_cur",
        F.sum("cnt_ref").over(wt).cast("bigint").alias("tot_ref"),
        F.sum("cnt_cur").over(wt).cast("bigint").alias("tot_cur"),
    )
    d = F.abs(
        F.col("cnt_ref") / F.col("tot_ref") - F.col("cnt_cur") / F.col("tot_cur")
    ).cast(DecimalType(18, 12))
    return (
        ct.select("event_type", "tot_ref", "tot_cur", d.alias("d"))
        .groupBy("event_type", "tot_ref", "tot_cur")
        .agg(F.round((0.5 * F.sum("d")).cast("double"), 6).alias("tv_drift"))
        .select(
            "event_type",
            F.col("tot_ref").alias("n_ref"),
            F.col("tot_cur").alias("n_cur"),
            "tv_drift",
        )
        .orderBy("event_type")
    )


@query(
    "q123_pq_adc_rerank",
    _pq_oracle(rerank_from=50),
    tags=("curation", "similarity", "pq", "rerank"),
)
def q123(spark, sf):
    """PQ ADC prune -> exact re-rank, the shape a 100 TB ANN deployment
    runs (q118 is the pure compressed-domain ranking; this recovers exact
    ordering among the ADC survivors — 0.951 recall@5 vs 0.506 on the
    stress corpus, SCALE_NOTES). The oracle replays the fits, prunes by
    exact integer ADC, and re-ranks by the same fold cosine as q39.

    r12 optimization (guide §4): the ADC prune runs through the
    bit-identical numpy kernel (``pq_adc_topk_vectorized`` — exact int64 scores,
    same tie rules, the q104<->q109 twin contract), which also skips the
    ~4,000-literal encode fold's driver plan-analysis cost."""
    from ..operators.similarity import pq_adc_rerank_topk, pq_fit

    emb, q = _topk_inputs(spark, sf)
    books = pq_fit(emb)
    return pq_adc_rerank_topk(emb, q, books, k=5, rerank_from=50)


# ---------------------------------------------------------------------------
# q124 — curriculum ordering (short-to-long, source-interleaved, no global sort)
# ---------------------------------------------------------------------------


@query(
    "q124_curriculum_order",
    r"""WITH d AS (SELECT doc_id, source,
                          CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tok
                   FROM documents),
        sr AS (SELECT source,
                      CAST(dense_rank() OVER (ORDER BY source) AS BIGINT) AS source_rank,
                      CAST(count(*) OVER () AS BIGINT) AS n_sources
               FROM (SELECT DISTINCT source FROM d)),
        p AS (SELECT doc_id, d.source, n_tok,
                     CAST(row_number() OVER (PARTITION BY d.source
                                             ORDER BY n_tok, doc_id) AS BIGINT)
                         AS pos_in_source
              FROM d)
        SELECT doc_id, p.source, n_tok, pos_in_source,
               (pos_in_source - 1) * n_sources + source_rank AS curriculum_pos
        FROM p JOIN sr ON p.source = sr.source""",
    tags=("curation", "curriculum", "ordering"),
)
def q124(spark, sf):
    """Curriculum ordering: shortest-first within each source, sources
    interleaved round-robin — the classic length-curriculum the training
    loader consumes (sorted by ``curriculum_pos``).

    The scale design is the point: the global position is CLOSED FORM —
    ``(pos_in_source - 1) * n_sources + source_rank`` — so no global
    row_number (single-partition sort) ever runs. The only window is
    per-source (hash-distributed); the source-rank dimension is |sources|
    rows, broadcast. Positions have gaps once short sources run dry, which
    is harmless: the loader orders by the value, it doesn't index by it.
    Every output is an exact int — the whole ordering is engine-exact."""
    # _ts (r12): fan the scan out below the tokenize
    d = _ts(spark, sf, "documents", "doc_id", "source", "text").select(
        "doc_id", "source", F.size(tokens("text")).alias("n_tok")
    )
    srcs = d.select("source").distinct()
    wr = Window.orderBy("source")
    sr = srcs.select(
        "source",
        F.dense_rank().over(wr).cast("bigint").alias("source_rank"),
    ).crossJoin(F.broadcast(srcs.agg(F.count(F.lit(1)).cast("bigint").alias("n_sources"))))
    wp = Window.partitionBy("source").orderBy("n_tok", "doc_id")
    p = d.select(
        "doc_id",
        "source",
        "n_tok",
        F.row_number().over(wp).cast("bigint").alias("pos_in_source"),
    )
    return p.join(F.broadcast(sr), "source").select(
        "doc_id",
        "source",
        "n_tok",
        "pos_in_source",
        ((F.col("pos_in_source") - 1) * F.col("n_sources") + F.col("source_rank")).alias(
            "curriculum_pos"
        ),
    )


# ---------------------------------------------------------------------------
# q125 — the composed IVF-PQ deployment stack (q56's cells + q118's codes +
# q123's re-rank in ONE pipeline)
# ---------------------------------------------------------------------------


def _ivf_pq_oracle() -> str:
    """DuckDB oracle for q125: replays BOTH fits — the IVF coarse
    quantizer's every KMeans iteration (extensions._kmeans_ctes, q56's
    chain) and all m per-subspace Lloyd codebook fits (_pq_ctes, q118's
    chain) — then the composed probe -> ADC prune -> exact re-rank
    pipeline. The two CTE families share the quantized corpus (pts) and
    the bounded lowest-id training sample (ptr)."""
    from .extensions import _kmeans_ctes, _kmeans_qprobe_cte

    adc_terms, enc_joins, cb_joins = _pq_adc_pair_sql(qref="qq")
    return f"""WITH pts AS MATERIALIZED (
      SELECT vec_id, embedding,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings),
    ptr AS MATERIALIZED (SELECT vec_id, qv FROM pts ORDER BY vec_id LIMIT {KMEANS_TRAIN_ROWS}),
    {_kmeans_ctes()},
    {_pq_ctes()},
    q AS (SELECT vec_id AS query_id, embedding AS qe, qv FROM pts WHERE {_Q_FILTER}),
    {_kmeans_qprobe_cte()},
    p AS (
      SELECT qp.query_id, e0.vec_id AS neighbor_id, ({adc_terms}) AS adc
      FROM qprobe qp
      JOIN q qq ON qq.query_id = qp.query_id
      JOIN asn ON asn.cell = qp.cell
      JOIN e0 ON e0.vec_id = asn.vec_id AND e0.vec_id <> qp.query_id
      {enc_joins}
      {cb_joins})
    {_pq_oracle_tail(IVF_PQ_RERANK_FROM)}"""


# fixture: superseded fold — q129_ivf_pq_rerank_vectorized carries this
# oracle verbatim; scheduler/bench skip it (r5 verdict item 6)
@query(
    "q125_ivf_pq_rerank",
    _ivf_pq_oracle(),
    tags=("curation", "similarity", "ivf", "pq", "rerank"),
    fixture=True,
)
def q125(spark, sf):
    """The actual IVF-PQ deployment stack as one query (faiss IVF8,PQ4
    shape): q56's learned coarse cells bound WHICH rows each query scores
    (nprobe=3 of 8 cells), q118's PQ codes bound WHAT is read to score
    them (4 codes instead of 64 floats), q123's exact re-rank over the
    ADC-pruned survivors (20 per query) restores accuracy. One map-only
    index pass, a broadcast probe join on cell (the corpus never
    shuffles), per-query ADC prune window, broadcast re-rank join. Both
    fits are integer-deterministic, so the oracle replays the entire
    stack value-for-value; recall vs exact top-k is measured on the
    stress corpus (SCALE_NOTES)."""
    from ..operators.similarity import ivf_pq_rerank_topk, kmeans_fit, pq_fit

    # NO scan fanout (r12): test_plans pins this head's zero-corpus-
    # shuffle contract (every join broadcast, 2 window exchanges only) —
    # the conditional fanout exchange would break the pinned plan shape
    emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    return ivf_pq_rerank_topk(
        emb, _query_sample(emb), kmeans_fit(emb), pq_fit(emb), k=5
    )


@query(
    "q129_ivf_pq_rerank_vectorized",
    _ivf_pq_oracle(),  # the fold twin's (q125) double-fit-replay oracle
    # verbatim — ADC prune is exact int64, the re-rank tail is the SAME
    # Column code as the fold's (_exact_cos_rerank), so every float op in
    # the ranking keys is shared (r3 verdict item 1)
    tags=("curation", "similarity", "ivf", "pq", "vectorized"),
)
def q129(spark, sf):
    """q125 through the numpy kernel (mapInPandas: vectorized cell
    assignment, integer codebook encode, per-query ADC gathers restricted
    to probed cells, local top-rerank_from) — bit-identical results at
    q64-class speed; the deployment path of the composed IVF-PQ stack.
    Measured 38.2 s (fold) vs kernel-class seconds at stress scale
    (SCALE_NOTES)."""
    from ..operators.similarity import (
        ivf_pq_rerank_topk_vectorized,
        kmeans_fit,
        pq_fit,
    )

    emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    return ivf_pq_rerank_topk_vectorized(
        emb, _query_sample(emb), kmeans_fit(emb), pq_fit(emb), k=5
    )


@query(
    "q130_ivf_ann_vectorized",
    _ivf_oracle(),  # the fold twin's (q56) fit-replay oracle verbatim —
    # same integer cell assignment/probe, cosines via dot-then-divide with
    # the oracle's half-away rounding (r3 verdict item 1)
    tags=("curation", "similarity", "ivf", "vectorized"),
)
def q130(spark, sf):
    """q56's IVF probe through the numpy kernel (vectorized cell
    assignment + one masked BLAS matmul per Arrow batch) — row-equal to
    the fold formulation, the IVF deployment path. At stress scale the
    fold costs 52-135 s (nprobe 1-3) where this kernel is q64-class
    seconds (SCALE_NOTES). Carries q56's oracle verbatim."""
    from ..operators.similarity import ivf_topk_vectorized, kmeans_fit

    emb, q = _topk_inputs(spark, sf)
    cents = kmeans_fit(emb)
    return ivf_topk_vectorized(emb, q, cents, k=5)


# ---------------------------------------------------------------------------
# q131/q132 — BPE vocabulary training + encoding (operators/bpe.py)
# ---------------------------------------------------------------------------

_BPE_L, _BPE_R = "⟨", "⟩"


def _bpe_fit_ctes() -> str:
    """CTE chain replaying the BPE fit: word frequencies -> wrapped symbol
    strings -> BPE_MERGES iterations of (adjacent-pair count, argmax with
    pair-string tie-break, literal replace). Defines w, s0, and per
    iteration pr{i}, m{i}, s{i} — the q56/q118 replay-the-fit pattern
    applied to a tokenizer."""
    ctes = [
        rf"""w AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        FROM documents)
      WHERE regexp_matches(word, '^[a-z0-9]+$')
      GROUP BY word ORDER BY freq DESC, word LIMIT {BPE_TOP_WORDS}),
    s0 AS (
      SELECT word, freq,
             array_to_string(list_transform(string_split(word, ''),
                 c -> '{_BPE_L}' || c || '{_BPE_R}'), '') AS s
      FROM w)"""
    ]
    for i in range(1, BPE_MERGES + 1):
        prev = f"s{i - 1}"
        ctes.append(f"""
    pr{i} AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT freq, unnest(list_transform(range(1, len(sy)), j -> sy[j] || sy[j+1])) AS pair
        FROM (SELECT freq, regexp_extract_all(s, '{_BPE_L}[^{_BPE_R}]*{_BPE_R}') AS sy
              FROM {prev}))
      GROUP BY pair),
    m{i} AS (
      SELECT {i} AS rank, pair,
             replace(pair, '{_BPE_R}{_BPE_L}', '') AS merged, cnt
      FROM pr{i} ORDER BY cnt DESC, pair LIMIT 1),
    s{i} AS (
      SELECT word, freq, replace(s, m.pair, m.merged) AS s
      FROM {prev} CROSS JOIN m{i} m)""")
    return ",".join(ctes)


@query(
    "q131_bpe_vocab",
    f"""WITH {_bpe_fit_ctes()}
    SELECT CAST(rank AS INTEGER) AS rank, pair, merged, cnt AS pair_count
    FROM ({' UNION ALL '.join(f'SELECT * FROM m{i}' for i in range(1, 9))})
    ORDER BY rank""",
    tags=("curation", "bpe", "tokenizer", "fit"),
)
def q131(spark, sf):
    """BPE vocabulary training (Sennrich et al.): the learned merge table.
    The distributed stage is ONE word-count aggregate (explode ->
    hash-agg -> bounded TakeOrdered head); the merge loop runs driver-side
    over the bounded word table in exact integer arithmetic — kmeans_fit's
    posture applied to a tokenizer, and like q56/q118 the DuckDB oracle
    replays every iteration (pair counts, argmax with pair-string
    tie-break, literal replace), so 'learned vocabulary' is value-checked,
    not trusted."""
    from ..operators.bpe import bpe_fit

    d = _t(spark, sf, "documents").select("text")
    merges = bpe_fit(d)
    rows = [
        (i + 1, pair, merged, int(cnt)) for i, (pair, merged, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "rank int, pair string, merged string, pair_count bigint"
    ).orderBy("rank")


@query(
    "q132_bpe_token_counts",
    f"""WITH {_bpe_fit_ctes()},
    dw AS (
      SELECT doc_id, word FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
        FROM documents)
      WHERE regexp_matches(word, '^[a-z0-9]+$')),
    enc AS (
      SELECT doc_id,
             {''.join('replace(' for _ in range(8))}
             array_to_string(list_transform(string_split(word, ''),
                 c -> '{_BPE_L}' || c || '{_BPE_R}'), '')
             {''.join(f", (SELECT pair FROM m{i}), (SELECT merged FROM m{i}))" for i in range(1, 9))}
                 AS s
      FROM dw)
    SELECT doc_id,
           CAST(count(*) AS INTEGER) AS n_words,
           CAST(sum(length(s) - length(replace(s, '{_BPE_R}', ''))) AS INTEGER)
               AS n_bpe_tokens
    FROM enc GROUP BY doc_id""",
    tags=("curation", "bpe", "tokenizer", "encode"),
)
def q132(spark, sf):
    """Per-document token counts under the LEARNED BPE vocabulary — the
    real token-budget counter (q62's regex count is the cheap estimator
    this calibrates). Encoding is a chain of 8 literal replaces over
    wrapped symbol strings: pure JVM Column expressions, no UDF, and
    byte-identical to the oracle's replace chain over the replayed fit.
    Scale shape: fit once (bounded), encode map-only, one hash-agg by
    doc_id."""
    from ..functions.text import tokens
    from ..operators.bpe import bpe_fit, bpe_token_count

    d = _t(spark, sf, "documents")
    merges = bpe_fit(d.select("text"))
    words = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("word")
    ).where(F.col("word").rlike("^[a-z0-9]+$"))
    per_word = words.select(
        "doc_id", bpe_token_count(F.col("word"), merges).alias("n")
    )
    return per_word.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_words"),
        F.sum("n").cast("int").alias("n_bpe_tokens"),
    )


# --------------------------------------------------------------------------
# q201 — temperature-scaled source-mixture weights
# --------------------------------------------------------------------------

_MIX_ALPHAS = (0.3, 0.7, 1.0)  # the multilingual-LM sampling temperatures
_MIX_TOKEN_BUDGET = 100_000  # tokens the mixture is materialized against


@query(
    "q201_temperature_mix",
    rf"""WITH tc AS (
         SELECT source,
                CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
                    AS n_tok
         FROM documents GROUP BY 1),
       tot AS (SELECT CAST(sum(n_tok) AS DOUBLE) AS t FROM tc),
       a AS (SELECT CAST(unnest([{", ".join(str(a) for a in _MIX_ALPHAS)}]) AS DOUBLE) AS alpha),
       raw AS (
         SELECT tc.source, a.alpha, tc.n_tok,
                exp(a.alpha * ln(tc.n_tok / tot.t)) AS w
         FROM tc CROSS JOIN tot CROSS JOIN a),
       z AS (SELECT alpha, sum(w) AS z FROM raw GROUP BY 1)
       SELECT r.source, r.alpha, r.n_tok AS corpus_tokens,
              round(r.w / z.z, 6) AS p,
              CAST(floor({_MIX_TOKEN_BUDGET} * r.w / z.z) AS BIGINT)
                  AS budget_tokens,
              round({_MIX_TOKEN_BUDGET} * r.w / z.z / r.n_tok, 6) AS epochs
       FROM raw r JOIN z USING (alpha)
       ORDER BY alpha, source""",
    tags=("curation", "mixture", "temperature", "sampling"),
)
def q201(spark, sf):
    """Temperature-scaled mixture weights: p_i(alpha) proportional to
    (corpus-token share)^alpha for alpha in {0.3, 0.7, 1.0} — the
    multilingual-LM sampling-temperature family (alpha=1 is proportional
    sampling, alpha->0 uniform; 0.3/0.7 are the standard upsampling
    temperatures for low-resource sources). For each (source, alpha):
    the normalized probability, the token budget it implies at a fixed
    total, and the implied epochs over that source (budget/corpus —
    >1 means the source is repeated, the oversampling signal a curation
    run monitors). q110 then materializes any chosen row into a concrete
    document set via its greedy token-budget fill.

    Determinism: the share^alpha power is expressed as exp(alpha*ln(x))
    IDENTICALLY in both engines (one exp + one ln per row, the q138/q144
    libm posture); the normalizer z sums |sources| doubles in a per-alpha
    hash agg over a metadata-scale relation (|sources| x |alphas| rows),
    then every output is rounded at 6dp.

    Scale shape: one map-side-combinable token-count agg over documents
    (the only big-data pass), then literal-sized arithmetic; the alpha
    grid is an exploded literal array."""
    from ..functions.text import token_count

    tc = (
        _ts(spark, sf, "documents", "source", "text")
        .select("source", token_count("text").cast("long").alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").alias("n_tok"))
    )
    tot = tc.agg(F.sum("n_tok").cast("double").alias("t"))
    alphas = F.explode(
        F.array(*[F.lit(float(a)) for a in _MIX_ALPHAS])
    ).alias("alpha")
    raw = (
        tc.crossJoin(F.broadcast(tot))
        .select("source", "n_tok", "t", alphas)
        .select(
            "source",
            "alpha",
            "n_tok",
            F.exp(F.col("alpha") * F.log(F.col("n_tok") / F.col("t"))).alias("w"),
        )
    )
    z = raw.groupBy("alpha").agg(F.sum("w").alias("z"))
    return (
        raw.join(F.broadcast(z), "alpha")
        .select(
            "source",
            "alpha",
            F.col("n_tok").alias("corpus_tokens"),
            F.round(F.col("w") / F.col("z"), 6).alias("p"),
            F.floor(_MIX_TOKEN_BUDGET * F.col("w") / F.col("z"))
            .cast("bigint")
            .alias("budget_tokens"),
            F.round(
                _MIX_TOKEN_BUDGET * F.col("w") / F.col("z") / F.col("n_tok"), 6
            ).alias("epochs"),
        )
        .orderBy("alpha", "source")
    )
