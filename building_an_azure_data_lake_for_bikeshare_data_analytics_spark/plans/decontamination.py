"""q244 — multi-benchmark decontamination sweep (r7 verdict item 5).

Real pretraining decontamination is never "one benchmark": a release
checks the corpus against MANY held-out evaluation sets at once, each
with its own n-gram size and overlap threshold (the GPT-3 appendix-C /
PaLM convention: 8-13-gram exact collision for generative sets, looser
token-overlap fractions for classification sets). The naive formulation
rescans the corpus once per benchmark — N full passes over 100 TB. This
head generalizes q76 (``plans/training.py``) from one benchmark to N in
ONE corpus pass:

* the corpus side is tokenized and shingled ONCE for the union of all
  requested n-gram sizes — a single ``explode`` (one Generate node) over
  ``array<struct<n,sh,tot>>``, so the big side is scanned exactly once
  no matter how many benchmarks are swept;
* each benchmark's distinct shingle set is tiny (a fixed eval suite) and
  enters as one unioned broadcast relation keyed on ``(n, sh)`` — the
  probe is a map-side BroadcastHashJoin, no shuffle of the corpus;
* the contamination decision is integer-exact: a doc is contaminated
  w.r.t. benchmark ``b`` iff it shares >=1 shingle AND
  ``matches * 10000 >= thresh_e4 * total_shingles`` — no float
  comparison can drift between engines at the threshold boundary;
* the output is the FULL (source x benchmark) matrix (zero rows
  included — an auditor needs "src7 is clean against b2" as a row, not
  an absence), built by joining the per-source doc counts to the
  benchmark dimension on a constant key (BroadcastHashJoin — both sides
  bounded: #sources x #benchmarks).

Benchmark specs are module constants so the oracle SQL and the Spark
plan are generated from one table. Thresholds are chosen against the
measured synthetic-corpus overlap so each benchmark's decision is
non-trivial (some docs above, some below).

At 100 TB: one corpus scan + one Generate + one broadcast probe +
one doc-keyed partial-aggregate — adding a benchmark adds only
broadcast bytes, never another corpus pass. The naive N-pass
formulation survives only as the DuckDB oracle below.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import batch_sql
from ..functions.text import tokens, word_shingles
from .base import _ts, query

#: (benchmark name, benchmark source, n-gram size, threshold in 1e-4
#: units of the doc's distinct-shingle fraction). thresh_e4=0 means "any
#: shared shingle contaminates" (the q76 semantics).
BENCHMARKS: tuple[tuple[str, str, int, int], ...] = (
    ("b_src0_5", "src0", 5, 0),
    ("b_src1_3", "src1", 3, 500),
    ("b_src2_4", "src2", 4, 200),
)

_SIZES: tuple[int, ...] = tuple(sorted({n for _, _, n, _ in BENCHMARKS}))


def _bench_block(
    name: str, bsrc: str, n: int, te4: int, corpus_pred: str = ""
) -> str:
    """One benchmark's naive DuckDB pass: shingle at size n, benchmark
    set from its source, per-doc match fraction, thresholded count.
    ``corpus_pred`` (q249) restricts the PROBED side only — the
    benchmark set always comes from the benchmark source in full."""
    return f"""
    sh_{name} AS (
      SELECT DISTINCT doc_id, source, array_to_string(ts[i:i+{n - 1}], ' ') AS sh
      FROM (SELECT doc_id, source, ts,
                   unnest(range(1, len(ts) - {n - 2})) AS i FROM tok)),
    tot_{name} AS (
      SELECT doc_id, source, count(*) AS tot FROM sh_{name} GROUP BY 1, 2),
    set_{name} AS (
      SELECT DISTINCT sh FROM sh_{name} WHERE source = '{bsrc}'),
    m_{name} AS (
      SELECT s.doc_id, s.source, count(*) AS m
      FROM sh_{name} s JOIN set_{name} USING (sh)
      WHERE s.source <> '{bsrc}'{corpus_pred} GROUP BY 1, 2),
    c_{name} AS (
      SELECT '{name}' AS benchmark, source, count(*) AS n_cont
      FROM m_{name} JOIN tot_{name} USING (doc_id, source)
      WHERE m >= 1 AND m * 10000 >= {te4} * tot
      GROUP BY 1, 2)"""


_DECON_SQL = (
    r"""WITH tok AS (SELECT doc_id, source,
                            string_split_regex(trim(text), '\s+') AS ts
                     FROM documents),
    src_n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
    bdim(benchmark, bsrc) AS (VALUES """
    + ", ".join(f"('{name}', '{bsrc}')" for name, bsrc, _, _ in BENCHMARKS)
    + """),
    matrix AS (
      SELECT s.source, b.benchmark, s.n_docs
      FROM src_n s CROSS JOIN bdim b WHERE s.source <> b.bsrc),"""
    + ",".join(_bench_block(*b) for b in BENCHMARKS)
    + """,
    hits AS ("""
    + " UNION ALL ".join(f"SELECT * FROM c_{name}" for name, _, _, _ in BENCHMARKS)
    + """)
    SELECT m.source, m.benchmark,
           CAST(coalesce(h.n_cont, 0) AS BIGINT) AS n_contaminated,
           round(coalesce(h.n_cont, 0) / (1.0 * m.n_docs), 6)
               AS contamination_rate
    FROM matrix m
    LEFT JOIN hits h ON m.source = h.source AND m.benchmark = h.benchmark
    ORDER BY m.source, m.benchmark"""
)


def corpus_shingles(d):
    """ONE Generate over the given docs side: every requested shingle
    size tagged into a single struct array, each element carrying its
    size's per-doc distinct-shingle total for the fraction test
    downstream. Per-size totals are computed ONCE per row in this
    projection; the transform lambdas reference the column by attribute.
    (The first formulation put F.size(word_shingles(...)) inside the
    lambda, where it is re-evaluated PER ELEMENT — O(shingles^2) per doc
    per size, measured 62 s at sf0.1 with <1 MB shuffle: pure expression
    recompute, the CPU-side analogue of an unpushed filter.)"""
    d2 = d.select(
        "doc_id",
        "source",
        "ts",
        *[F.size(word_shingles(F.col("ts"), n)).alias(f"tot_{n}") for n in _SIZES],
    )

    def _tag(n: int):
        # single-arg lambda on purpose: a second parameter would make
        # F.transform pass the element INDEX into it
        return F.transform(
            word_shingles(F.col("ts"), n),
            lambda s: F.struct(
                F.lit(n).alias("n"), s.alias("sh"), F.col(f"tot_{n}").alias("tot")
            ),
        )

    tagged = F.flatten(F.array(*[_tag(n) for n in _SIZES]))
    return d2.select("doc_id", "source", F.explode(tagged).alias("g")).select(
        "doc_id", "source", F.col("g.n").alias("n"), F.col("g.sh").alias("sh"), F.col("g.tot").alias("tot")
    )


def bench_shingle_table(d, benchmarks):
    """The benchmark-side artifact: each benchmark's distinct shingle
    set (tiny — a fixed eval suite) tagged with its name/size/threshold,
    unioned into one relation keyed (n, sh). In q244 this is built
    inline and broadcast; in q249 it is the STORED index the lifecycle
    maintains."""
    bench = None
    for name, bsrc, n, te4 in benchmarks:
        # benchmark LAST: it is the stored table's hive-partition key
        # (q249 writes partition_by=['benchmark']), and a partitioned
        # read appends partition columns after the data columns
        part = (
            d.where(F.col("source") == bsrc)
            .select(F.explode(word_shingles(F.col("ts"), n)).alias("sh"))
            .distinct()
            .select(
                F.lit(bsrc).alias("bsrc"),
                F.lit(n).alias("n"),
                "sh",
                F.lit(te4).alias("thresh_e4"),
                F.lit(name).alias("benchmark"),
            )
        )
        bench = part if bench is None else bench.unionByName(part)
    return bench


def doc_hits(corpus, bench):
    """Per-doc contamination hits: one (doc_id, source, benchmark) row for
    every doc whose matched-shingle fraction clears that benchmark's
    threshold (integer-exact compare). This is the MERGEABLE unit of the
    screen — disjoint doc batches union to the from-scratch hit set, which
    is what lets a lifecycle append each batch's hits to a versioned
    contamination ledger. ``benchmark`` is emitted LAST: it is the
    ledger's hive-partition key."""
    return (
        corpus.join(F.broadcast(bench), ["n", "sh"])
        .where(F.col("source") != F.col("bsrc"))
        .groupBy("doc_id", "source", "benchmark", "thresh_e4")
        .agg(F.count(F.lit(1)).alias("m"), F.max("tot").alias("tot"))
        .where((F.col("m") >= 1) & (F.col("m") * 10000 >= F.col("thresh_e4") * F.col("tot")))
        .select("doc_id", "source", "benchmark")
    )


def probe_matrix(spark, corpus, bench, src_docs):
    """Probe the shingled corpus side against the benchmark relation and
    return the FULL (source x benchmark) contamination matrix over
    ``src_docs`` (zero rows included — an auditor needs "src7 is clean
    against b2" as a row, not an absence)."""
    hits = (
        doc_hits(corpus, bench)
        .groupBy("source", "benchmark")
        .agg(F.count(F.lit(1)).alias("n_cont"))
    )

    # full matrix: per-source doc counts x benchmark dim, constant-key
    # equi-join (BroadcastHashJoin; both sides bounded), own source out
    src_n = (
        src_docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("k", F.lit(1))
    )
    bdim = spark.createDataFrame(
        [(name, bsrc, 1) for name, bsrc, _, _ in BENCHMARKS],
        "benchmark string, bsrc string, k int",
    )
    return (
        src_n.join(F.broadcast(bdim), "k")
        .where(F.col("source") != F.col("bsrc"))
        .join(hits, ["source", "benchmark"], "left")
        .select(
            "source",
            "benchmark",
            F.coalesce(F.col("n_cont"), F.lit(0)).cast("bigint").alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("n_cont"), F.lit(0)).cast("double") / F.col("n_docs"), 6
            ).alias("contamination_rate"),
        )
        .orderBy("source", "benchmark")
    )


@query(
    "q244_multi_benchmark_decontamination",
    _DECON_SQL,
    tags=("training", "contamination", "ngram", "one-scan"),
)
def q244(spark, sf):
    """Full (source, benchmark) decontamination matrix in one corpus
    scan: per benchmark B(n, thresh), a doc is contaminated iff it
    shares an n-shingle with B and its matched-shingle fraction clears
    B's threshold (integer-exact compare). Columns: source, benchmark,
    n_contaminated, contamination_rate."""
    # _ts (r12): fan the one-row-group scan out below the tokenize
    d = _ts(spark, sf, "documents", "doc_id", "source", "text", fan=True).select(
        "doc_id", "source", tokens("text").alias("ts")
    )
    return probe_matrix(
        spark, corpus_shingles(d), bench_shingle_table(d, BENCHMARKS), d
    )


# ---------------------------------------------------------------------------
# q249 — maintained decontamination index (the q245/q246-q248 stored-
# artifact lifecycle applied to the benchmark side of decontamination)
# ---------------------------------------------------------------------------

#: probe-side restriction for the maintained head: only the NEW batch
#: (the 20% doc-hash split)
_BATCH_PRED = " AND " + batch_sql("s.doc_id")

_MAINT_DECON_SQL = (
    r"""WITH tok AS (SELECT doc_id, source,
                            string_split_regex(trim(text), '\s+') AS ts
                     FROM documents),
    src_n AS (SELECT source, count(*) AS n_docs FROM documents
              WHERE """ + batch_sql("doc_id") + """
              GROUP BY 1),
    bdim(benchmark, bsrc) AS (VALUES """
    + ", ".join(f"('{name}', '{bsrc}')" for name, bsrc, _, _ in BENCHMARKS)
    + """),
    matrix AS (
      SELECT s.source, b.benchmark, s.n_docs
      FROM src_n s CROSS JOIN bdim b WHERE s.source <> b.bsrc),"""
    + ",".join(_bench_block(*b, corpus_pred=_BATCH_PRED) for b in BENCHMARKS)
    + """,
    hits AS ("""
    + " UNION ALL ".join(f"SELECT * FROM c_{name}" for name, _, _, _ in BENCHMARKS)
    + """)
    SELECT m.source, m.benchmark,
           CAST(coalesce(h.n_cont, 0) AS BIGINT) AS n_contaminated,
           round(coalesce(h.n_cont, 0) / (1.0 * m.n_docs), 6)
               AS contamination_rate
    FROM matrix m
    LEFT JOIN hits h ON m.source = h.source AND m.benchmark = h.benchmark
    ORDER BY m.source, m.benchmark"""
)


@query(
    "q249_decontamination_index_maintenance",
    _MAINT_DECON_SQL,
    tags=("training", "contamination", "ngram", "incremental", "versioned"),
)
def q249(spark, sf):
    """q244's sweep as a deployment runs it: the benchmark shingle table
    is a MAINTAINED stored artifact, and each ingest batch is screened
    against the stored table — no benchmark re-tokenization per batch,
    no corpus rescan per benchmark.

    1. **v1 build** — the first two benchmarks' shingle sets are
       derived from their eval sources ONCE and written to the
       versioned store. Paid when the eval suite is registered.
    2. **per-benchmark append** — registering a NEW benchmark costs
       exactly its own shingle derivation (O(benchmark) — eval sets are
       tiny), appended as v2. Corpus-side work: zero.
    3. **query** — today's ingest batch (the 20% doc-hash split) is
       shingled ONCE (q244's single-Generate tagged explode, restricted
       to the batch) and probed against the stored table via broadcast.
       Per-batch cost is O(batch x broadcast) — the corpus is never
       rescanned, the benchmarks never re-derived.

    Because shingle sets are deterministic per source, v1 ∪ v2-append
    equals the from-scratch benchmark table exactly, so the oracle (the
    naive N-pass replay restricted to batch docs) certifies the stored
    path value-for-value. Output: the batch's (source x benchmark)
    contamination matrix, zero rows included."""
    from ..sources.versioned import (
        append_version,
        read_current,
        session_store,
        vacuum,
        write_version,
    )

    # _ts (r12): fan the one-row-group scan out below the tokenize
    d = _ts(spark, sf, "documents", "doc_id", "source", "text").select(
        "doc_id", "source", tokens("text").alias("ts")
    )
    store = session_store(spark, "decon_index")

    # 1) v1: the initially-registered benchmarks' shingle table, hive-
    #    partitioned by benchmark — a screen against any benchmark subset
    #    prunes to those benchmarks' directories
    write_version(
        bench_shingle_table(d, BENCHMARKS[:2]), store, partition_by=["benchmark"]
    )

    # 2) append: the NEW benchmark's shingles only — O(benchmark); the
    #    delta part is all that's physically written
    append_version(
        bench_shingle_table(d, BENCHMARKS[2:]), store, partition_by=["benchmark"]
    )
    vacuum(store, keep=2)

    # 3) query: the NEW batch probed against the STORED table
    batch = d.where(F.expr(batch_sql("doc_id")))
    return probe_matrix(
        spark, corpus_shingles(batch), read_current(spark, store), batch
    )


# --------------------------------------------------------------------------
# q265 — EMBEDDING-space decontamination screen: the paraphrase gap of
# the n-gram sweeps above, closed with the similarity family's kernels
# --------------------------------------------------------------------------

#: benchmark membership: a fixed modulus sample CAPPED at vec_id < 4700,
#: so the benchmark is at most 100 vectors at ANY scale factor — eval
#: suites are fixed-size; the corpus grows, the benchmark does not. The
#: cap is what makes the cross join's broadcast side bounded (the AUDIT
#: boundedness argument), exactly the q244/q249 posture in vector space.
_SEM_BENCH_MOD = 47
_SEM_BENCH_CAP = 4700
#: proximity flag threshold on the 4-decimal-rounded cosine
_SEM_TAU = 0.40

_SEM_DECON_SQL = f"""
WITH bench AS (
  SELECT vec_id AS bench_id, embedding AS be,
         sqrt({{dot}}) AS bnrm
  FROM embeddings
  WHERE vec_id % {_SEM_BENCH_MOD} = 0 AND vec_id < {_SEM_BENCH_CAP}
),
corpus AS (
  SELECT vec_id, label, embedding AS ce,
         sqrt({{cdot}}) AS cnrm
  FROM embeddings
  WHERE NOT (vec_id % {_SEM_BENCH_MOD} = 0 AND vec_id < {_SEM_BENCH_CAP})
),
per_vec AS (
  SELECT c.vec_id, c.label,
         max(round({{xdot}} / (c.cnrm * b.bnrm), 4)) AS max_cos
  FROM corpus c CROSS JOIN bench b
  WHERE c.cnrm > 0 AND b.bnrm > 0
  GROUP BY c.vec_id, c.label
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_corpus,
       CAST(sum(CASE WHEN max_cos >= {_SEM_TAU} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_flagged,
       max(max_cos) AS max_cos,
       CAST(round(sum(max_cos) * 10000) AS BIGINT) AS sum_maxcos_e4
FROM per_vec
GROUP BY label
ORDER BY label"""


def _sem_decon_oracle() -> str:
    from ..functions.vectors import DOT_SQL

    return _SEM_DECON_SQL.format(
        dot=DOT_SQL.format(a="embedding", b="embedding"),
        cdot=DOT_SQL.format(a="embedding", b="embedding"),
        xdot=DOT_SQL.format(a="c.ce", b="b.be"),
    )


def semantic_screen(emb, tau: float = _SEM_TAU):
    """The q265 screen over an arbitrary (vec_id, embedding, label)
    relation — split into benchmark (capped modulus sample) and corpus,
    then per-label proximity statistics. Factored so tests can run it
    over synthetic embeddings with planted paraphrase-near-duplicates."""
    from ..functions.vectors import dot, norm

    is_bench = (F.col("vec_id") % _SEM_BENCH_MOD == 0) & (
        F.col("vec_id") < _SEM_BENCH_CAP
    )
    bench = (
        emb.where(is_bench)
        .select(
            F.col("vec_id").alias("bench_id"),
            F.col("embedding").alias("be"),
            norm(F.col("embedding")).alias("bnrm"),
        )
        .where(F.col("bnrm") > 0)
    )
    corpus = (
        emb.where(~is_bench)
        .select("vec_id", "label", "embedding", norm(F.col("embedding")).alias("cnrm"))
        .where(F.col("cnrm") > 0)
    )
    cos = F.round(
        dot(F.col("embedding"), F.col("be")) / (F.col("cnrm") * F.col("bnrm")), 4
    )
    per_vec = (
        corpus.crossJoin(F.broadcast(bench))
        .groupBy("vec_id", "label")
        .agg(F.max(cos).alias("max_cos"))
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_corpus"),
            F.sum((F.col("max_cos") >= tau).cast("int"))
            .cast("bigint")
            .alias("n_flagged"),
            F.max("max_cos").alias("max_cos"),
            F.round(F.sum("max_cos") * 10000)
            .cast("bigint")
            .alias("sum_maxcos_e4"),
        )
        .orderBy("label")
    )


@query(
    "q265_semantic_decon_screen",
    _sem_decon_oracle(),
    tags=("training", "contamination", "similarity", "embedding"),
)
def q265(spark, sf):
    """Embedding-space decontamination screen: the report an n-gram
    sweep (q244/q249) cannot produce, because a paraphrased benchmark
    item shares no 8-gram with its source. Per corpus label: how many
    vectors sit within cosine {tau} of ANY benchmark vector, the
    closest approach, and the (integer-exact) sum of per-vector max
    cosines — the drift statistic a release tracks over time.

    Plan shape: the benchmark side is BOUNDED BY CONSTRUCTION (modulus
    sample capped at {cap} ids — at most 100 vectors no matter the
    corpus scale, the fixed-eval-suite shape), so the cross join is a
    broadcast nested-loop over a ~100-row build side: embarrassingly
    parallel, no shuffle. The per-vector max is a map-side-combinable
    hash-agg (|corpus| rows shuffle once, post-combine), the label
    rollup |labels| rows. The mean statistic ships as ``sum_maxcos_e4``
    (sum of 4-dp cosines scaled to e4 integer) so cross-engine float
    summation order cannot wobble the hash."""
    # _ts (r12): the screen's Arrow kernel runs once per partition
    return semantic_screen(_ts(spark, sf, "embeddings"))


q265.__doc__ = q265.__doc__.format(tau=_SEM_TAU, cap=_SEM_BENCH_CAP)
