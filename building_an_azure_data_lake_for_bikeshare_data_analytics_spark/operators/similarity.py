"""Similarity search over embedding columns: exact cosine top-k, a
random-hyperplane LSH (SimHash-for-vectors) approximate variant, IVF
(k-means cells), int8 and product quantization (PQ/ADC), and IVF-PQ with
an exact re-rank.

Scale design (the reason both exact and approximate searches exist):
* brute force is exact and embarrassingly parallel but O(|corpus|x|queries|);
  right when the query set is small enough to broadcast;
* LSH bucketing replaces the cross product with equi-joins on band
  signatures: corpus shuffles once by bucket key, each query probes only
  its buckets — the 100 TB path. Recall is tunable via bands/bits.

Each search is a Column-expression fold, which carries the DuckDB oracle;
most also have a numpy twin (``*_vectorized``, ``mapInPandas`` over Arrow
batches), the path a deployment runs. The twins are built from one copy
of each step: ``_query_matrix`` (the capped driver collect of the query
set), ``_quantize``/``_cell_scores_np``/``_probe_cells``/``_pq_codes``/
``_adc`` (batch quantize, cell scores, probed cells, PQ encode, ADC
gathers), ``_local_topk`` (each query's top-k of one batch) and
``_map_batches``; folds and twins share ``_ranked`` (the global
(score desc, neighbor_id asc) window) and ``_exact_cos_rerank``. Twin
row-equality is asserted in tests/test_multimodal_similarity.py
(``test_vectorized_topk_equals_expression_topk``,
``test_ivf_vectorized_equals_fold``, ``test_ivf_pq_vectorized_equals_fold``),
tests/test_dedup_similarity.py
(``test_quantized_vectorized_equals_column_fold``), tests/test_curation.py
(``test_pq_vectorized_twin_equals_fold``) and tests/test_ann_maintenance.py
(``test_vectorized_index_probe_equals_fold``,
``test_vectorized_pq_index_probe_equals_fold``).

Zero-norm contract, for every cosine search, fold and twin, and every
dedup kernel: a zero vector has no cosine, so a zero-norm corpus row is
never a neighbour or a duplicate and a zero-norm query emits no rows
(``test_vectorized_topk_zero_norm_contract``,
``test_dedup_kernels_zero_norm_contract``).

Hyperplanes are deterministic (seeded numpy, rounded to 6 decimals) and
embedded as literals into BOTH the Spark plan and the DuckDB oracle SQL, so
even the approximate variant is value-checkable across engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import EMBEDDING_DIM, dot, norm


def _round4_half_away(S: "np.ndarray") -> "np.ndarray":
    """Round to 4 decimals HALF AWAY FROM ZERO in float64 — the operation
    DuckDB's round() performs (std::round(x * 1e4) / 1e4) and the observed
    behavior of Spark's F.round on every gate corpus. np.round is half-EVEN
    and would diverge from both engines whenever a cosine lands exactly on a
    .00005 boundary; with this helper the vectorized kernels share the
    oracle's own rounding rule, so their twin-equality is not just
    corpus-verified luck at the rounding step. (Bit-equality with the
    sequential Column fold is still corpus-verified rather than guaranteed:
    BLAS summation order can differ from the fold's pre-round by ~1 ulp.)"""
    return np.sign(S) * np.floor(np.abs(S) * 1e4 + 0.5) / 1e4


def hyperplanes(n_planes: int = 16, dim: int = 64, seed: int = 0) -> list[list[float]]:
    """Deterministic LSH hyperplanes, 6-decimal rounded for stable literals."""
    rs = np.random.RandomState(seed)
    return [[round(float(x), 6) for x in row] for row in rs.standard_normal((n_planes, dim))]


def _plane_dot(emb: Column, plane: list[float]) -> Column:
    return dot(emb, F.array(*[F.lit(x) for x in plane]))


def lsh_bands(emb: Column, planes: list[list[float]], bands: int, prefix: str = "band") -> list[Column]:
    """Pack sign-bits of plane dots into ``bands`` integer bucket ids."""
    bits_per = len(planes) // bands
    cols = []
    for b in range(bands):
        acc = F.lit(0)
        for j in range(bits_per):
            bit = (_plane_dot(emb, planes[b * bits_per + j]) > 0).cast("int")
            acc = acc + bit * F.lit(1 << j)
        cols.append(acc.alias(f"{prefix}{b}"))
    return cols


def _band_rows(df: DataFrame, keep: list[str], prefix: str, bands: int, band: str) -> DataFrame:
    """One row per (``keep`` columns, band): the band index as ``band`` and
    its ``{prefix}{b}`` bucket id as ``sig`` — stacked so that one
    equi-join on (band, sig) covers "any band matches"."""
    bk = F.explode(F.array(*[
        F.struct(F.lit(b).alias(band), F.col(f"{prefix}{b}").alias("sig")) for b in range(bands)
    ]))
    return df.select(*keep, bk.alias("bk")).select(
        *keep, F.col(f"bk.{band}").alias(band), F.col("bk.sig").alias("sig")
    )


def _ranked(df: DataFrame, score: str, k: int, rank: str = "rnk") -> DataFrame:
    """Each query's ``k`` best rows by (``score`` desc, neighbor_id asc),
    numbered 1..k in ``rank`` — the one ranking window of every search."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return df.withColumn(rank, F.row_number().over(w)).where(F.col(rank) <= k)


def _nonzero(df: DataFrame, vec: str, nrm: str) -> DataFrame:
    """``df`` plus the L2 norm of ``vec`` as ``nrm``, without its zero-norm
    rows (the zero-norm contract in the module docstring)."""
    return df.select("*", norm(F.col(vec)).alias(nrm)).where(F.col(nrm) > 0)


def _cos(a: str, an: str, b: str, bn: str) -> Column:
    """Round-4 cosine of vector columns ``a``/``b`` with norm columns
    ``an``/``bn``: the sequential-fold dot, then one divide."""
    return F.round(dot(F.col(a), F.col(b)) / (F.col(an) * F.col(bn)), 4)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k. ``corpus``: (vec_id, embedding); ``queries``:
    (query_id, qe). Queries broadcast; corpus never shuffles for the join;
    one window shuffle on query_id for ranking."""
    c = _nonzero(corpus.select("vec_id", "embedding"), "embedding", "nrm")
    q = _nonzero(queries.select("query_id", "qe"), "qe", "qnrm")
    pairs = c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    cos = _cos("qe", "qnrm", "embedding", "nrm")
    return _ranked(
        pairs.select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos")), "cos", k
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    bands: int = 2,
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows sharing >= 1 LSH band with
    the query, ranked by exact cosine. Join keys are (band index, bucket id)
    — pure equi-joins, no cross product anywhere in the plan."""
    c = _nonzero(
        corpus.select("vec_id", "embedding", *lsh_bands(F.col("embedding"), planes, bands)),
        "embedding", "nrm",
    )
    q = _nonzero(
        queries.select("query_id", "qe", *lsh_bands(F.col("qe"), planes, bands, prefix="qband")),
        "qe", "qnrm",
    )
    c_b = _band_rows(c, ["vec_id", "embedding", "nrm"], "band", bands, "b")
    q_b = _band_rows(q, ["query_id", "qe", "qnrm"], "qband", bands, "b")
    cand = (
        c_b.join(F.broadcast(q_b), on=["b", "sig"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "qe", "embedding", "qnrm", "nrm")
        .distinct()
    )
    cos = _cos("qe", "qnrm", "embedding", "nrm")
    return _ranked(
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos")), "cos", k
    )


# ---------------------------------------------------------------------------
# The numpy kernels' shared steps
# ---------------------------------------------------------------------------

#: hard cap on the collected query matrix (rows). 100k x 64-d doubles is
#: ~50 MB broadcast — the sensible ceiling for a driver-side matrix.
_MAX_DRIVER_QUERIES = 100_000


def _query_matrix(queries: DataFrame, kernel: str) -> tuple["np.ndarray", "np.ndarray"] | None:
    """(query ids, float64 query matrix) collected to the driver, or None
    for an empty query set (the kernel then runs its fold twin). The
    query matrix is the ONLY thing a kernel collects: fail loudly if a
    fact-sized table is pointed at it (a 10M-row "query set" would OOM
    the driver long before the limit+1 rows do)."""
    rows = queries.select("query_id", "qe").limit(_MAX_DRIVER_QUERIES + 1).collect()
    if len(rows) > _MAX_DRIVER_QUERIES:
        raise ValueError(
            f"{kernel}: query set exceeds {_MAX_DRIVER_QUERIES} rows; it must fit "
            "on the driver (broadcast side). Shard the query table or use "
            "lsh_topk for fact-sized query sets."
        )
    if not rows:
        return None
    return (
        np.array([r["query_id"] for r in rows], dtype=np.int64),
        np.array([list(r["qe"]) for r in rows], dtype=np.float64),
    )


def _batch(pdf: pd.DataFrame) -> tuple["np.ndarray", "np.ndarray"]:
    """(vec_id, float64 embedding matrix) of one Arrow batch."""
    return (
        pdf["vec_id"].to_numpy(dtype=np.int64),
        np.stack(pdf["embedding"].to_numpy()).astype(np.float64),
    )


def _quantize(E: "np.ndarray") -> "np.ndarray":
    """``quantize_vec`` of a float matrix: floor to int64 micro-units."""
    return np.floor(E * float(QUANT_SCALE)).astype(np.int64)


def _cell_scores_np(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """``_cell_scores`` of quantized rows ``X`` against integer centroids
    ``C``: the exact int64 dot, then one IEEE divide by sqrt(|c|^2).
    ``.argmax(axis=1)`` is the nearest cell, first max = lowest cell."""
    return (X @ C.T).astype(np.float64) / np.sqrt((C * C).sum(axis=1).astype(np.float64))[None, :]


def _code_scores(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """Exact int64 Euclidean affinity 2*x.c - |c|^2 (argmax = argmin
    ||x - c||^2, first max = lowest code) — ``_pq_code``'s score."""
    return 2 * (X @ C.T) - (C * C).sum(axis=1)[None, :]


def _probe_cells(QQ: "np.ndarray", C: "np.ndarray", nprobe: int) -> "np.ndarray":
    """Each quantized query's ``nprobe`` best cells, ties to the lower cell
    (a stable sort) — ``_top_cells``'s selection."""
    return np.argsort(-_cell_scores_np(QQ, C), axis=1, kind="stable")[:, :nprobe]


def _pq_codes(X: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
    """PQ encode of quantized rows: per subspace, the best code of
    ``books[s]`` (m, ksub, sub) — ``_pq_codes_col``'s values."""
    m, _, sub = books.shape
    Xs = X.reshape(len(X), m, sub)
    return np.stack([_code_scores(Xs[:, s], books[s]).argmax(axis=1) for s in range(m)], axis=1)


def _adc_tables(QQ: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
    """Per-query ADC tables T[q, s, c] = dot(q_sub_s, books[s][c]), exact."""
    m, _, sub = books.shape
    return np.einsum("qsd,scd->qsc", QQ.reshape(len(QQ), m, sub), books)


def _adc(T: "np.ndarray", codes: "np.ndarray") -> "np.ndarray":
    """(rows x queries) ADC scores sum_s T[q, s, codes[x, s]] — integer
    table gathers only."""
    return sum(T[:, s, :].T[codes[:, s]] for s in range(codes.shape[1]))


def _cosines(A: "np.ndarray", an: "np.ndarray", B: "np.ndarray", bn: "np.ndarray") -> "np.ndarray":
    """(rows of A x rows of B) round-4 cosines: dot-then-divide (the fold's
    expression shape), rounded by the oracle's half-away rule. A zero norm
    gives NaN, which ``_local_topk`` never selects."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return _round4_half_away((A @ B.T) / (an[:, None] * bn[None, :]))


def _local_topk(
    S: "np.ndarray",
    vecids: "np.ndarray",
    qids: "np.ndarray",
    k: int,
    score: str,
    probed: "np.ndarray | None" = None,
) -> pd.DataFrame:
    """Each query's ``k`` best rows of one batch's (rows x queries) score
    matrix by (score desc, vec_id asc), as (query_id, neighbor_id,
    ``score``) — the partial top-k that keeps the global window at
    k x batches x queries rows (TakeOrderedAndProject's shape, applied to
    ANN). A row never neighbours its own id, a non-finite score (a
    zero-norm vector) is never selected, and ``probed`` masks out rows
    outside each query's probed cells.

    One O(rows x queries) ``np.partition`` finds each query's kth value
    and only the survivors at or above it are lexsorted. Ties on the kth
    value all survive, so the selection is exactly a full per-query sort's
    (the per-query full-batch lexsort it replaced was the measured wall
    sink of the brute-force kernel)."""
    ok = np.isfinite(S) & (vecids[:, None] != qids[None, :])
    if probed is not None:
        ok &= probed
    key = np.where(ok, S, -np.inf)
    n = len(key)
    kth = np.partition(key, n - k, axis=0)[n - k] if n > k else np.full(key.shape[1], -np.inf)
    rows, cols = np.nonzero(ok & (key >= kth[None, :]))
    order = np.lexsort((vecids[rows], -S[rows, cols], cols))
    rows, cols = rows[order], cols[order]
    first = np.searchsorted(cols, cols)  # each row's query starts here
    top = np.arange(len(cols)) - first < k
    rows, cols = rows[top], cols[top]
    return pd.DataFrame({"query_id": qids[cols], "neighbor_id": vecids[rows], score: S[rows, cols]})


def _map_batches(src: DataFrame, step, schema: str) -> DataFrame:
    """``src.mapInPandas`` yielding the frames of ``step(pdf)`` for every
    non-empty Arrow batch."""

    def part(batches):
        for pdf in batches:
            if not pdf.empty:
                yield from step(pdf)

    return src.mapInPandas(part, schema)


def _candidates(score: str) -> str:
    """The schema of a kernel's local top-k rows."""
    return f"query_id long, neighbor_id long, {score}"


def brute_force_topk_vectorized(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k with a BLAS matmul kernel (Arrow-batched
    mapInPandas) — the measured-fast path for dense linear algebra.

    The Column-expression fold (brute_force_topk) evaluates one multiply-add
    per expression-tree node; at 40k-corpus x 800-query stress scale that is
    ~330s. A numpy matmul does the same 32M cosines in well under a second
    of BLAS time. Structure:

      * the (small) query matrix is collected once and broadcast to
        executors;
      * each Arrow batch of the corpus is multiplied against the query
        matrix (batch x dim @ dim x nq) and divided by both norms;
      * each batch emits only its local top-k rows per query
        (``_local_topk``), so the final global ranking window sees at most
        k x batches x n_queries rows — never the full product.

    Results match brute_force_topk (same round-4 cosines, same id
    tie-breaks; ``test_vectorized_topk_equals_expression_topk``)."""
    got = _query_matrix(queries, "brute_force_topk_vectorized")
    if got is None:
        return brute_force_topk(corpus, queries, k)
    qids, Q = got
    bq = corpus.sparkSession.sparkContext.broadcast((qids, Q, np.linalg.norm(Q, axis=1)))

    def step(pdf):
        ids, Qm, qn = bq.value
        vecids, E = _batch(pdf)
        S = _cosines(E, np.linalg.norm(E, axis=1), Qm, qn)
        yield _local_topk(S, vecids, ids, k, "cos")

    cands = _map_batches(corpus.select("vec_id", "embedding"), step, _candidates("cos double"))
    return _ranked(cands, "cos", k)


def blocked_dup_pairs_vectorized(
    emb: DataFrame, threshold: float = 0.45, block_col: str = "label"
) -> DataFrame:
    """Within-block all-pairs cosine >= threshold via per-block BLAS matmul
    (applyInPandas) — the vectorized twin of the label-blocked equi-join
    formulation (q43), same results.

    Each block's rows arrive as one pandas group; S = En @ En.T scores all
    pairs in one BLAS call and only the above-threshold (i < j) pairs are
    emitted. Scale: blocks are hash-partitioned across executors; block size
    bounds memory (a 50k-row block is a 2.5e9-cell S — split oversized
    blocks with a salt on the block key before calling this)."""

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cos": "float64"}
            )
        ids, E = _batch(pdf)
        en = np.linalg.norm(E, axis=1)
        S = _cosines(E, en, E, en)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = S[iu, ju] >= threshold
        a, b = ids[iu[keep]], ids[ju[keep]]
        swap = a > b  # normalize pair order to vec_a < vec_b
        a2 = np.where(swap, b, a)
        b2 = np.where(swap, a, b)
        return pd.DataFrame({"vec_a": a2, "vec_b": b2, "cos": S[iu, ju][keep]})

    return emb.select("vec_id", block_col, "embedding").groupBy(block_col).applyInPandas(
        pairs, "vec_a bigint, vec_b bigint, cos double"
    )


# ---------------------------------------------------------------------------
# IVF: KMeans coarse quantizer + multi-cell probe
# ---------------------------------------------------------------------------

#: fixed-point scale for the quantizer: embedding components are floored to
#: integer micro-units so every KMeans intermediate (dots, norms, per-cell
#: sums) is EXACT int64 arithmetic — order-independent, hence invariant to
#: partitioning/cluster layout, and bit-reproducible by the DuckDB oracle.
QUANT_SCALE = 1_000_000


def quantize_vec(col: Column) -> Column:
    """array<float> -> array<long> micro-unit quantization (floor, no ties)."""
    return F.transform(col, lambda x: F.floor(x.cast("double") * F.lit(float(QUANT_SCALE))).cast("long"))


def _int_lit_vec(c: list[int]) -> Column:
    return F.array(*[F.lit(int(x)) for x in c])


def _int_dot(qv: Column, c: list[int]) -> Column:
    """Exact int64 dot of a quantized vector column against a centroid literal."""
    return F.aggregate(
        F.zip_with(qv, _int_lit_vec(c), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _cell_scores(qv: Column, centroids: list[list[int]]) -> list[Column]:
    """Directional affinity of a quantized vector to each centroid:
    dot / |centroid| (dividing by |point| cannot change its own argmax).
    The dot and |centroid|^2 are exact integers, so the double division and
    sqrt are IEEE-identical across engines."""
    out = []
    for c in centroids:
        nsq = sum(x * x for x in c)
        out.append(_int_dot(qv, c).cast("double") / F.sqrt(F.lit(float(nsq))))
    return out


def _packed(scores: list[Column]) -> Column:
    """(score, -id) structs: their max, and a descending sort, put the best
    score first with ties to the lower id."""
    return F.array(*[F.struct(s.alias("s"), F.lit(-j).alias("nj")) for j, s in enumerate(scores)])


def _argmax(scores: list[Column]) -> Column:
    """Map-side id of the best of ``scores``, ties to the lower id: no join,
    no shuffle — centroids and codebooks are tiny by construction,
    embedded as literals into the row expression."""
    return (-F.array_max(_packed(scores)).getField("nj")).cast("int")


def _top_cells(qv: Column, centroids: list[list[int]], nprobe: int) -> Column:
    """array<int> of the ``nprobe`` cells whose centroids score highest for
    the quantized vector ``qv``, ties to the lower cell id."""
    top = F.slice(F.sort_array(_packed(_cell_scores(qv, centroids)), asc=False), 1, nprobe)
    return F.transform(top, lambda t: (-t["nj"]).cast("int"))


#: the quantizer trains on a bounded deterministic sample (the lowest-id
#: rows): 100k x 64-d int64 is ~50 MB on the driver — the standard IVF
#: practice (faiss trains on a sample too), and what keeps the fit a single
#: collect instead of max_iter distributed jobs.
KMEANS_TRAIN_ROWS = 100_000

#: the IVF coarse quantizer every IVF query and its DuckDB oracle share:
#: KMEANS_K cells after KMEANS_ITERS Lloyd iterations, IVF_NPROBE cells
#: probed per query, and IVF_PQ_RERANK_FROM ADC survivors re-ranked
KMEANS_K = 8
KMEANS_ITERS = 8
IVF_NPROBE = 3
IVF_PQ_RERANK_FROM = 20


def _train_sample(emb: DataFrame) -> "np.ndarray":
    """The ``KMEANS_TRAIN_ROWS`` lowest-id vectors, quantized, id-sorted."""
    pdf = (
        emb.orderBy("vec_id")
        .limit(KMEANS_TRAIN_ROWS)
        .select(quantize_vec(F.col("embedding")).alias("qv"))
        .toPandas()
    )
    return np.array(pdf["qv"].tolist(), dtype=np.int64)


def _lloyd(X: "np.ndarray", k: int, max_iter: int, scores) -> "np.ndarray":
    """Deterministic integer Lloyd iterations: init = first k rows, assign
    = ``scores(X, cents).argmax`` (first max = lowest id on ties), update
    = floor(mean) in exact int64, stop at a fixed point or ``max_iter``."""
    cents = X[:k].copy()
    for _ in range(max_iter):
        assign = scores(X, cents).argmax(axis=1)
        new = cents.copy()
        for c in range(k):
            members = X[assign == c]
            if len(members):
                new[c] = np.floor(
                    members.sum(axis=0, dtype=np.int64) / len(members)
                ).astype(np.int64)
        if np.array_equal(new, cents):
            break
        cents = new
    return cents


def kmeans_fit(
    emb: DataFrame, k: int = KMEANS_K, max_iter: int = KMEANS_ITERS
) -> list[list[int]]:
    """Deterministic Lloyd's KMeans over a quantized embedding column — the
    coarse-quantizer trainer for IVF (r1 used corpus labels as cells, which
    are not geometric clusters; recall@5 was 0.205 on the stress corpus).

    Deterministic by construction, in a stronger sense than seeded KMeans:
    the training set is the ``KMEANS_TRAIN_ROWS`` lowest-id vectors
    (collected once), init = the k lowest-id vectors, a FIXED iteration count, exact
    int64 dots/sums (order-independent — the result cannot depend on
    partitioning), centroid updates floor(sum/n) and scores dot/sqrt(|c|²)
    in IEEE double. Every step is bit-reproducible by another engine, which
    is how q56's DuckDB oracle replays the whole fit; the in-driver numpy
    loop computes the identical integers. Returns integer centroids
    (micro-units).

    Scale posture: the SAMPLE trains the quantizer (bounded driver memory,
    one job); assigning the full 100 TB corpus to cells stays distributed
    and map-only (ivf_topk embeds the centroids as literals)."""
    X = _train_sample(emb)
    if len(X) < k:
        raise ValueError(f"kmeans_fit: corpus has fewer than k={k} rows")
    return [[int(x) for x in row] for row in _lloyd(X, k, max_iter, _cell_scores_np)]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    k: int = 5,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF probe: each query searches only the ``nprobe`` cells whose
    centroids score highest for it; exact cosine re-rank inside those cells
    over the RAW (unquantized) embeddings.

    Scale shape: corpus cell assignment is map-only (centroid literals);
    the probe is an equi-join on the cell id — the corpus shuffles once by
    cell, each query touches ~nprobe/k of it instead of all of it. Exact
    scores use the same sequential-fold dot as brute force, so the output
    is bit-reproducible (and equals exact top-k whenever every true
    neighbor lands in a probed cell)."""
    cells = assign_cells(corpus, centroids)
    return ivf_topk_from_index(cells, queries, centroids, k=k, nprobe=nprobe)


def assign_cells(corpus: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Map-only cell assignment: (vec_id, embedding, cell) against
    centroid literals — the relation a deployment PERSISTS as the IVF
    index (q246 writes exactly this to the versioned store; appending a
    batch = assigning the batch's vectors only)."""
    return corpus.select(
        "vec_id",
        "embedding",
        _argmax(_cell_scores(quantize_vec(F.col("embedding")), centroids)).alias("cell"),
    )


def ivf_topk_from_index(
    cells: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    k: int = 5,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """The probe half of ``ivf_topk``, against a PRE-ASSIGNED
    (vec_id, embedding, cell) relation — the maintained-index read path
    (q246: ``cells`` comes from the versioned store, so a query run pays
    zero corpus-side assignment compute). ``ivf_topk`` delegates here, so
    stored-index and recompute paths share every ranking expression —
    equality is structural, pinned by tests/test_ann_maintenance.py::
    test_stored_index_path_equals_recompute_path."""
    probes = _nonzero(queries.select("query_id", "qe"), "qe", "qnrm").select(
        "query_id", "qe", "qnrm",
        F.explode(_top_cells(quantize_vec(F.col("qe")), centroids, nprobe)).alias("cell"),
    )
    # no dedup needed: every corpus row lives in exactly one cell and each
    # query probes distinct cells, so (query, neighbor) pairs are unique
    cand = probes.join(_nonzero(cells, "embedding", "nrm"), "cell").where(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _cos("qe", "qnrm", "embedding", "nrm")
    return _ranked(
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos")), "cos", k
    )


def lsh_dup_pairs(
    emb: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.45,
    bands: int = 2,
    candidates_only: bool = False,
) -> DataFrame:
    """Label-free semantic near-dup pairs: hyperplane-LSH bucket blocking,
    exact cosine verify on candidates — the 100 TB shape for embedding
    dedup when no cluster/label column exists (q43's label blocking assumes
    one; real corpora don't ship labels).

    Returns (vec_a, vec_b, cos) with vec_a < vec_b and round(cos,4) >=
    threshold. Candidates are pairs sharing >= 1 band bucket — equi-joins
    on (band, bucket) only; near-identical vectors agree on every sign bit,
    so true dups always collide. Deterministic planes make the whole
    operator value-checkable cross-engine (q40's trick).

    Shuffle discipline: the candidate self-join and its dedup run on NARROW
    (vec_id, band, sig) rows — the 64-float embedding arrays never ride the
    pair shuffle (a wide-row distinct was measured 3x slower). Norms are
    computed once per VECTOR (not once per candidate pair) and joined back
    with the embeddings by id; the cosine expression tree is unchanged, so
    values hash-match the per-pair formulation exactly."""
    banded = _band_rows(
        emb.select("vec_id", *lsh_bands(F.col("embedding"), planes, bands)),
        ["vec_id"], "band", bands, "band",
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    if candidates_only:
        # telemetry path (stress soak): the distinct candidate-pair relation
        # before the cosine verify — the quantity the bands x bits-per-band
        # lever controls. With b sign bits per band, E[candidates] ~
        # bands * N^2 / 2^(b+1) on spread-out vectors, so the production
        # posture is b ~ log2(N) - 5 (constant expected bucket occupancy),
        # exactly like SemDeDup's k proportional to N.
        return cand
    # a zero vector's candidate pairs drop out here (the zero-norm contract)
    embn = _nonzero(emb.select("vec_id", "embedding"), "embedding", "nrm")
    ea, eb = embn.alias("ea"), embn.alias("eb")
    joined = cand.join(ea, F.col("vec_a") == F.col("ea.vec_id")).join(
        eb, F.col("vec_b") == F.col("eb.vec_id")
    )
    # guarded dual-path dot (explicit dim): measured 2x on THIS plan shape
    # (bench q100 13.4 -> 10.6 s; 40k-vector soak 83.5 -> 45.8 s) —
    # bit-identical values, see functions/vectors.py for why it is opt-in
    cos = F.round(
        dot(F.col("ea.embedding"), F.col("eb.embedding"), dim=EMBEDDING_DIM)
        / (F.col("ea.nrm") * F.col("eb.nrm")),
        4,
    )
    return (
        joined.select("vec_a", "vec_b", cos.alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def assign_cells_vectorized(emb: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Nearest-cell assignment through a numpy int64 kernel — the
    deployment twin of the ``assign_cells`` Column expression, which
    Catalyst cannot codegen at useful k (64 centroids x 64-dim folds
    measured 24.0 s for 40k rows vs sub-second here; SCALE_NOTES).

    Value-identical to the fold BY CONSTRUCTION, not luck: the dots are
    exact int64 (quantized vectors x integer centroids — integer matmul
    has no summation-order sensitivity), each score is the same single
    CAST-to-double divide by sqrt(|c|^2), and argmax's first-max tie rule
    matches the fold's (s, -j) struct max — lowest cell wins ties. So
    the kernel can carry the fold's oracle verbatim (q146)."""
    C = np.array(centroids, dtype=np.int64)  # (k, dim)

    def step(pdf):
        vecids, E = _batch(pdf)
        cell = _cell_scores_np(_quantize(E), C).argmax(axis=1)
        yield pd.DataFrame({"vec_id": vecids, "cell": cell.astype("int32")})

    # no internal fanout (r13): the r12 spread here repartitioned the
    # caller's frame to the core count, but the numpy matmul is sub-ms
    # per batch — at local[32] the 32 python workers' startup +
    # Arrow (de)serialization cost MORE than the kernel (measured on the
    # kernel twin q147: 0.93 s -> 1.75 s with the fanout). At deployment
    # scale the caller's scan is already wide. Callers that profile a
    # single-task bottleneck fan their scan before passing it in.
    return _map_batches(emb.select("vec_id", "embedding"), step, "vec_id long, cell int")


def semantic_dedup_cells(
    emb: DataFrame,
    centroids: list[list[int]],
    threshold: float = 0.45,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): assign every vector to its
    nearest KMeans cell, compare pairs WITHIN each cell by exact cosine,
    and keep one representative per near-dup relation — the
    cluster-blocked alternative to hyperplane-LSH blocking (lsh_dup_pairs):
    LSH recalls pairs that agree on sign bits, cells recall pairs that are
    close in the learned cluster geometry (the paper's finding: semantic
    dups concentrate inside k-means clusters of an embedding space).

    Keep rule (deterministic lowest-id-wins, the q54/q137 keeper
    discipline): a vector is dropped iff some LOWER-id vector in the same
    cell scores round(cos,4) >= threshold against it. Returns every
    nonzero input row as (vec_id, cell, kept 1/0); a zero vector has no
    cosine, so it has no row (the zero-norm contract).

    Scale shape: cell assignment is map-only against centroid literals
    (kmeans_fit trains on a bounded sample); the quadratic is confined to
    within-cell pairs via one equi-join on the cell id over NARROW
    (vec_id, cell) rows — embeddings and norms join back by id, once per
    vector (the lsh_dup_pairs shuffle discipline). Production runs k
    proportional to corpus size so cells stay ~constant-sized (the paper
    uses 50k clusters for LAION); a hot cell is the same skew class as a
    hot LSH band — the q128 salting applies unchanged."""
    # the narrow (vec_id, cell) relation is referenced three times (both
    # pair sides + the final flag join); localCheckpoint runs the k x dim
    # assignment ONCE per vector instead of three times (measured on the
    # 40k stress corpus; at production scale the assignment table
    # persists alongside the IVF index anyway). The assignment is the int64
    # numpy kernel (assign_cells_vectorized), value-identical to the
    # Column fold and the deployment path at real k.
    embn = _nonzero(emb.select("vec_id", "embedding"), "embedding", "nrm")
    cells = assign_cells_vectorized(embn, centroids).localCheckpoint()
    a, b = cells.alias("a"), cells.alias("b")
    cand = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
    ea, eb = embn.alias("ea"), embn.alias("eb")
    cos = _cos("ea.embedding", "ea.nrm", "eb.embedding", "eb.nrm")
    dup = (
        cand.join(ea, F.col("va") == F.col("ea.vec_id"))
        .join(eb, F.col("vb") == F.col("eb.vec_id"))
        .select(F.col("vb").alias("vec_id"), cos.alias("cos"))
        .where(F.col("cos") >= threshold)
        .select("vec_id")
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return cells.join(dup, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.when(F.col("is_dup").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
    )


# --------------------------------------------------------------------------
# Compressed-domain similarity: int8 scalar quantization
# --------------------------------------------------------------------------

def quantize_int8(emb: Column) -> tuple[Column, Column]:
    """Per-vector symmetric int8 quantization: scale = max|x_i|,
    q_i = round(x_i * 127 / scale) in [-127, 127].

    Cross-engine deterministic: the scale is an exact double (max of
    absolute values), the quantized code is one double multiply/divide and
    a HALF-AWAY-FROM-ZERO round — both engines agree bit-for-bit, which is
    what lets the quantized ANN carry a full value oracle (q104). Returns
    (codes array<int>, scale double)."""
    s = F.array_max(F.transform(emb, lambda v: F.abs(v.cast("double"))))
    qv = F.transform(emb, lambda v: F.round(v.cast("double") * 127 / s).cast("int"))
    return qv, s


def int_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two int-code arrays — order-independent
    (integer addition is associative), so partial aggregation and engine
    choice can't flake the value."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_int8_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Cosine top-k in the COMPRESSED domain: rank by the int8-code cosine
    (exact int64 dots, one deterministic double division at the end).

    Why this exists at 100 TB: a float32 embedding column is the dominant
    scan cost of any similarity pass; int8 codes are 4x smaller (and the
    int dot is SIMD-friendlier), so a quantized first pass reads a quarter
    of the bytes and feeds its top-k into an exact re-rank over only the
    survivors — the standard two-stage retrieval layout. Recall vs exact
    cosine is empirically ~1.0 at k=5 on unit-ish vectors (the quantized
    cosine differs from the true one by O(1/127) — see the recall test).

    corpus: (vec_id, embedding); queries: (query_id, qe). Same plan shape
    as brute_force_topk: queries broadcast, corpus never shuffles, one
    window shuffle on query_id."""
    cq, cs = quantize_int8(F.col("embedding"))
    # zero vectors have no direction: excluded by contract (scale > 0),
    # mirrored in the oracle's WHERE s > 0
    c = corpus.select("vec_id", cq.alias("cv"), cs.alias("__s")).where(
        F.col("__s") > 0
    ).select("vec_id", "cv", int_dot(F.col("cv"), F.col("cv")).alias("cc"))
    qq, qscale = quantize_int8(F.col("qe"))
    q = queries.select("query_id", qq.alias("qv"), qscale.alias("__s")).where(
        F.col("__s") > 0
    ).select("query_id", "qv", int_dot(F.col("qv"), F.col("qv")).alias("qq"))
    qcos = F.round(
        int_dot(F.col("qv"), F.col("cv")).cast("double")
        / (F.sqrt(F.col("qq").cast("double")) * F.sqrt(F.col("cc").cast("double"))),
        4,
    )
    return _ranked(
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), qcos.alias("qcos")),
        "qcos", k,
    )


def _int8_codes(M: "np.ndarray") -> "np.ndarray":
    """``quantize_int8`` codes of a float matrix, as float64 (exact small
    integers). Rounds HALF AWAY FROM ZERO like F.round / DuckDB round()
    (np.round is half-even and would drift on exact .5 code boundaries);
    a zero row gets zero codes, so its cosine is NaN and never selected."""
    s = np.abs(M).max(axis=1, keepdims=True)
    return np.sign(M) * np.floor(np.abs(M) * 127 / np.where(s == 0, 1.0, s) + 0.5)


def quantized_int8_topk_vectorized(
    corpus: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """BLAS twin of quantized_int8_topk: identical int8 codes (same
    round-half-away quantizer), identical exact integer dots, numpy matmul
    kernel — asserted row-equal to the Column-fold formulation by
    tests/test_dedup_similarity.py::test_quantized_vectorized_equals_column_fold.

    This is the actual 100 TB two-stage layout: the Column-fold (q104)
    exists to carry the value oracle; throughput comes from this kernel,
    where the int64-exact dot products ride a float64 matmul (code
    products sum to < 2^21, far inside float64's 2^53 exact-integer
    range, so BLAS speed costs no exactness). Same partial-top-k shape as
    brute_force_topk_vectorized: queries broadcast, each corpus partition
    emits only local top-k."""
    got = _query_matrix(queries, "quantized_int8_topk_vectorized")
    if got is None:
        return quantized_int8_topk(corpus, queries, k)
    qids, Q = got
    QC = _int8_codes(Q)
    bq = corpus.sparkSession.sparkContext.broadcast((qids, QC, np.sqrt((QC * QC).sum(axis=1))))

    def step(pdf):
        ids, QCm, qn = bq.value
        vecids, E = _batch(pdf)
        C = _int8_codes(E)
        S = _cosines(C, np.sqrt((C * C).sum(axis=1)), QCm, qn)
        yield _local_topk(S, vecids, ids, k, "qcos")

    cands = _map_batches(corpus.select("vec_id", "embedding"), step, _candidates("qcos double"))
    return _ranked(cands, "qcos", k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance (ADC) search
# ---------------------------------------------------------------------------

#: PQ layout: the 64-d embedding splits into PQ_M contiguous subvectors of
#: dim/PQ_M dims; each subspace gets its own PQ_KSUB-entry codebook. A corpus
#: vector is stored as PQ_M small ints (the IVF-PQ compressed representation:
#: 4 codes instead of 64 floats, a 64x storage/bandwidth cut at 100 TB).
PQ_M = 4
PQ_KSUB = 8
PQ_ITERS = 4


def pq_fit(
    emb: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    max_iter: int = PQ_ITERS,
) -> list[list[list[int]]]:
    """Train PQ codebooks: one integer-quantized Lloyd fit per subspace over
    the ``KMEANS_TRAIN_ROWS`` lowest-id vectors (same bounded-sample posture as
    kmeans_fit; faiss trains PQ on a sample too). Assignment is EXACT
    Euclidean (``_code_scores``, all int64 — no doubles anywhere in the
    argmax, stronger than the IVF fit, whose scores divide by a double
    sqrt). Returns ``codebooks[s][c] -> list[int]`` — deterministic enough
    that the DuckDB oracle replays every iteration of all m fits (q118)."""
    X = _train_sample(emb)
    if len(X) < ksub:
        raise ValueError(f"pq_fit: corpus has fewer than ksub={ksub} rows")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [[int(x) for x in row] for row in _lloyd(X[:, s * sub : (s + 1) * sub], ksub, max_iter, _code_scores)]
        for s in range(m)
    ]


def _pq_codes_col(qv: Column, codebooks: list[list[list[int]]]) -> Column:
    """array<int> PQ code of a quantized vector column: per subspace, the
    nearest codeword by exact integer Euclidean score (2*dot - |c|^2),
    ties to the lowest code. Map-only: the codebooks ride along as
    literals, like the cell argmax."""
    sub = len(codebooks[0][0])
    return F.array(*[
        _argmax([
            2 * _int_dot(F.slice(qv, s * sub + 1, sub), c) - F.lit(int(sum(x * x for x in c)))
            for c in cb
        ])
        for s, cb in enumerate(codebooks)
    ])


def _adc_tables_col(qv: Column, codebooks: list[list[list[int]]]) -> Column:
    """A query's ADC lookup table as array<array<long>>: per subspace, the
    exact int64 dot against every codeword (m*ksub dots, once per query)."""
    sub = len(codebooks[0][0])
    return F.array(*[
        F.array(*[_int_dot(F.slice(qv, s * sub + 1, sub), c) for c in cb])
        for s, cb in enumerate(codebooks)
    ])


def _adc_col() -> Column:
    """The ADC score of a (``tbl``, ``code``) row: m table lookups, summed
    in exact int64."""
    return F.aggregate(
        F.zip_with(F.col("tbl"), F.col("code"), lambda t, c: F.element_at(t, c + F.lit(1))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _adc_dot(ranked: DataFrame) -> DataFrame:
    """Ranked ADC rows with the score de-quantized to the approximate raw
    dot product."""
    return ranked.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("adc").cast("double") / F.lit(float(QUANT_SCALE) ** 2), 6).alias("adc_dot"),
        "rnk",
    )


def pq_encode(corpus: DataFrame, codebooks: list[list[list[int]]]) -> DataFrame:
    """(id, embedding) -> (id, code: array<int>) — the PQ compression step.
    Map-only over the scan; at 100 TB this is the one full pass that turns
    the 100 TB float corpus into a ~1.5 TB code table."""
    codes = _pq_codes_col(quantize_vec(F.col("embedding")), codebooks)
    return corpus.select("vec_id", codes.alias("code"))


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: each query precomputes its
    per-subspace dot table against the codebooks (m*ksub exact int64 dots,
    once per query); scoring a corpus vector is then m table LOOKUPS — the
    compressed-domain kernel that never touches the original floats.

    queries: (query_id, qe). Ranking key is the exact integer ADC score
    (tie-break neighbor_id), so rank order is engine-exact; the reported
    ``adc_dot`` de-quantizes it to the approximate raw dot product.
    Scale shape: the encoded corpus (codes only, no embeddings) joins a
    broadcast of the tabled queries; nothing wider than m ints + the small
    table array ever shuffles."""
    enc = pq_encode(corpus, codebooks)
    q = queries.select("query_id", _adc_tables_col(quantize_vec(F.col("qe")), codebooks).alias("tbl"))
    pairs = enc.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    return _adc_dot(_ranked(
        pairs.select("query_id", F.col("vec_id").alias("neighbor_id"), _adc_col().alias("adc")),
        "adc", k,
    ))


def pq_adc_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 5,
) -> DataFrame:
    """q118's ADC search through the numpy kernel — bit-identical results
    (every score is the same exact int64 the Column-fold computes: floor
    quantization, integer codebook assignment, integer table gathers), at
    q64-class speed instead of expression-tree speed.

    Same twin contract as q109<->q104: the fold formulation carries the
    DuckDB oracle, this kernel is asserted row-equal by
    tests/test_curation.py::test_pq_vectorized_twin_equals_fold and is
    what a 100 TB run deploys. Per batch: vectorized encode (2*X@C.T -
    |C|^2 argmax), ADC score matrix by table gather, local top-k per
    query; the global window sees only k x batches x queries rows."""
    got = _query_matrix(queries, "pq_adc_topk_vectorized")
    if got is None:
        return pq_adc_topk(corpus, queries, codebooks, k)
    qids, Q = got
    books = np.array(codebooks, dtype=np.int64)  # (m, ksub, sub)
    bq = corpus.sparkSession.sparkContext.broadcast((qids, _adc_tables(_quantize(Q), books)))

    def step(pdf):
        ids, T = bq.value
        vecids, E = _batch(pdf)
        yield _local_topk(_adc(T, _pq_codes(_quantize(E), books)), vecids, ids, k, "adc")

    cands = _map_batches(corpus.select("vec_id", "embedding"), step, _candidates("adc long"))
    return _adc_dot(_ranked(cands, "adc", k))


def ivf_pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    rerank_from: int = IVF_PQ_RERANK_FROM,
) -> DataFrame:
    """The full IVF-PQ deployment stack in one plan (faiss's IVFx,PQy
    layout): coarse-quantizer cells bound WHICH corpus rows each query
    scores, PQ/ADC bounds WHAT is read to score them, and an exact cosine
    re-rank over the few survivors restores accuracy.

    Stage shapes, in order:
      * index build — ONE map-only pass over the corpus emits (vec_id,
        code, cell): cell via centroid literals, code via codebook
        literals. At 100 TB this pass replaces the float corpus with a
        ~1.5 TB code table partitioned by cell.
      * probe — each query's nprobe best cells + its ADC lookup table
        (m*ksub exact int64 dots) form a tiny relation, broadcast onto the
        code table: a broadcast hash join on cell, so the corpus never
        shuffles at all (narrower than ivf_topk, whose candidates carry
        raw embeddings).
      * ADC prune — candidates rank by the exact integer ADC score inside
        probed cells only; the per-query window keeps ``rerank_from``.
      * re-rank — survivors (queries x rerank_from ids, broadcast-size by
        construction) join back to raw embeddings for exact cosine top-k;
        non-survivor embeddings are never read past the scan filter.

    Every ranking key is exact int64 (ADC) or round-4 IEEE cosine with id
    tie-breaks, so the composed output is value-checkable cross-engine —
    q125's DuckDB oracle replays BOTH fits (every KMeans and Lloyd
    codebook iteration) and the probe/prune/re-rank pipeline."""
    index = ivf_pq_index(corpus, centroids, codebooks)
    return ivf_pq_rerank_from_index(
        index, corpus, queries, centroids, codebooks, k, nprobe, rerank_from
    )


def ivf_pq_index(
    corpus: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
) -> DataFrame:
    """ONE map-only pass over the corpus emitting (vec_id, code, cell) —
    the IVF-PQ index relation a deployment PERSISTS (q247 writes exactly
    this to the versioned store, ``partition_by=['cell']``; appending a
    batch = indexing the batch's vectors only). At 100 TB this replaces
    the float corpus with a ~1.5 TB code table partitioned by cell.
    ``cell`` is last because it is the hive-partition key: a partitioned
    read appends partition columns after the data columns, so builder
    output and store read-back keep identical column order."""
    qv = quantize_vec(F.col("embedding"))
    return corpus.select(
        "vec_id",
        _pq_codes_col(qv, codebooks).alias("code"),
        _argmax(_cell_scores(qv, centroids)).alias("cell"),
    )


def _cells_and_codes(pdf: pd.DataFrame, C: "np.ndarray", books: "np.ndarray"):
    """(nearest cell, PQ code) of every row of one Arrow batch: batch
    quantize, cell argmax, per-subspace encode — ``ivf_pq_index``'s values."""
    X = _quantize(_batch(pdf)[1])
    return _cell_scores_np(X, C).argmax(axis=1), _pq_codes(X, books)


def ivf_pq_index_vectorized(
    corpus: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
) -> DataFrame:
    """``ivf_pq_index`` through the numpy int64 kernel — value-identical
    BY CONSTRUCTION (exact integer scores with the fold's
    lowest-code/lowest-cell tie rules), so a store built from it is
    row-identical to the fold's.

    Why (r12 optimization, guide §4): at m=4 x ksub=8 x 16-dim subspaces
    the encode fold is a ~4,000-literal expression tree that Catalyst
    cannot codegen — q247 paid seconds of driver plan analysis per
    lifecycle run, twice (v1 build + batch append). The kernel's encode
    is three integer matmuls per Arrow batch."""
    C = np.array(centroids, dtype=np.int64)  # (kcells, dim)
    books = np.array(codebooks, dtype=np.int64)  # (m, ksub, sub)

    def step(pdf):
        cell, codes = _cells_and_codes(pdf, C, books)
        yield pd.DataFrame(
            {"vec_id": pdf["vec_id"], "code": list(codes.astype(np.int32)), "cell": cell.astype("int32")}
        )

    # no internal fanout (r13) — same rationale as assign_cells_vectorized:
    # the integer matmuls are cheaper than 32 python workers' startup at
    # test scale, and the caller's scan is already wide at real scale
    return _map_batches(
        corpus.select("vec_id", "embedding"), step, "vec_id long, code array<int>, cell int"
    )


def ivf_pq_rerank_from_index(
    index: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    rerank_from: int = IVF_PQ_RERANK_FROM,
) -> DataFrame:
    """The probe -> ADC prune -> exact re-rank half of
    ``ivf_pq_rerank_topk``, against a PRE-BUILT (vec_id, cell, code)
    relation — the maintained-index read path (q247: ``index`` comes from
    the versioned store, so a query run reads codes, never encodes).
    ``corpus`` supplies raw embeddings for the re-rank only (the faiss
    refine posture: codes in the index, floats stay in the lake and only
    survivors' rows are read). ``ivf_pq_rerank_topk`` delegates here, so
    stored-index and recompute paths share every ranking expression."""
    qqv = quantize_vec(F.col("qe"))
    probes = queries.select(
        "query_id",
        _adc_tables_col(qqv, codebooks).alias("tbl"),
        F.explode(_top_cells(qqv, centroids, nprobe)).alias("cell"),
    )
    scored = (
        index.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), _adc_col().alias("adc"))
    )
    return _prune_rerank(scored, corpus, queries, rerank_from, k)


def _prune_rerank(
    scored: DataFrame, corpus: DataFrame, queries: DataFrame, rerank_from: int, k: int
) -> DataFrame:
    """The ADC prune window (each query's ``rerank_from`` best
    (query_id, neighbor_id, adc) rows), then the exact cosine re-rank."""
    cand = _ranked(scored, "adc", rerank_from, "crnk").select("query_id", "neighbor_id")
    return _exact_cos_rerank(corpus, queries, cand, k)


def _exact_cos_rerank(
    corpus: DataFrame, queries: DataFrame, cand: DataFrame, k: int
) -> DataFrame:
    """Exact cosine top-k over a (query_id, neighbor_id) candidate relation:
    candidates broadcast onto the corpus, survivors' raw embeddings only.
    Zero-norm queries and neighbours drop out here (the zero-norm contract)."""
    withq = cand.join(
        F.broadcast(_nonzero(queries.select("query_id", "qe"), "qe", "qnrm")), "query_id"
    )
    ne = _nonzero(
        corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")),
        "ne", "nnrm",
    )
    pairs = ne.join(F.broadcast(withq), "neighbor_id")
    cos = _cos("qe", "qnrm", "ne", "nnrm")
    return _ranked(pairs.select("query_id", "neighbor_id", cos.alias("cos")), "cos", k)


def _ivf_queries(queries: DataFrame, centroids: list[list[int]], nprobe: int, kernel: str):
    """The IVF kernels' query prologue: (query ids, float64 query matrix,
    int64 centroid matrix, each query's probed cells), or None for an
    empty query set."""
    got = _query_matrix(queries, kernel)
    if got is None:
        return None
    C = np.array(centroids, dtype=np.int64)
    return (*got, C, _probe_cells(_quantize(got[1]), C, nprobe))


def _probed_only(src: DataFrame, probe_cells: "np.ndarray", ncells: int) -> DataFrame:
    """``src`` without the rows outside the UNION of probed cells, which
    can never be candidates. The filter is LITERALS on the stored cell
    column, so when the index store is hive-partitioned by cell (q246,
    q247) the scan prunes to the probed directories: a stored-index read
    is proportional to the probed union, not O(corpus)."""
    probed = sorted({int(c) for c in probe_cells.ravel()})
    return src.where(F.col("cell").isin(*probed)) if len(probed) < ncells else src


def _ivf_probe(
    src: DataFrame,
    qids: "np.ndarray",
    Q: "np.ndarray",
    probe_cells: "np.ndarray",
    k: int,
    cells_of,
) -> DataFrame:
    """The IVF kernel over ``src`` (vec_id, embedding[, cell]), with
    ``cells_of(pdf, E)`` giving each batch row's cell.

    Queries are grouped by their probed-cell COMBINATION (<= C(ncells,
    nprobe) groups): per Arrow batch the matmul then covers ONLY the
    probed rows for exactly the queries that probe them — the flop count
    is the probed fraction, not rows x all-queries. The first formulation
    did the FULL matmul and masked per query afterwards: measured at 1.2M
    vectors it cost 3.9x BRUTE FORCE (234 s vs 60 s; the per-query
    np.isin over every batch row went superlinear in n_queries x rows;
    SCALE_NOTES r9 ANN lifecycle third point). Per-(query, batch) top-k is
    a superset of the global top-k, so the final window is exact."""
    combos: dict[tuple, list[int]] = {}
    for j, pc in enumerate(probe_cells):
        combos.setdefault(tuple(sorted(pc)), []).append(j)
    groups = [(list(combo), np.asarray(qjs)) for combo, qjs in combos.items()]
    bq = src.sparkSession.sparkContext.broadcast((qids, Q, np.linalg.norm(Q, axis=1), groups))

    def step(pdf):
        ids, Qm, qn, gs = bq.value
        vecids, E = _batch(pdf)
        cell = cells_of(pdf, E)
        en = np.linalg.norm(E, axis=1)
        for combo, qj in gs:
            idx = np.nonzero(np.isin(cell, combo))[0]
            if idx.size:
                S = _cosines(E[idx], en[idx], Qm[qj], qn[qj])
                yield _local_topk(S, vecids[idx], ids[qj], k, "cos")

    return _ranked(_map_batches(src, step, _candidates("cos double")), "cos", k)


def ivf_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    k: int = 5,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """q56's IVF probe through the numpy kernel — row-equal to ivf_topk
    (same integer-quantized cell assignment and probe selection, same
    round-4 cosines with id tie-breaks, at q64-class speed;
    tests/test_multimodal_similarity.py::test_ivf_vectorized_equals_fold).

    The fold formulation carries the DuckDB fit-replay oracle; this kernel
    is the deployment path: per Arrow batch, vectorized cell assignment
    against the centroid matrix, then one BLAS matmul per probed-cell
    combination and local top-k (``_ivf_probe``). Wall-clock at stress
    scale is minutes -> seconds (SCALE_NOTES); the candidate FRACTION
    (nprobe/k cells) is what transfers to 100 TB."""
    got = _ivf_queries(queries, centroids, nprobe, "ivf_topk_vectorized")
    if got is None:
        return ivf_topk(corpus, queries, centroids, k, nprobe)
    qids, Q, C, probe_cells = got
    return _ivf_probe(
        corpus.select("vec_id", "embedding"), qids, Q, probe_cells, k,
        lambda pdf, E: _cell_scores_np(_quantize(E), C).argmax(axis=1),
    )


def ivf_topk_from_index_vectorized(
    cells: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    k: int = 5,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """``ivf_topk_vectorized`` against a PRE-ASSIGNED (vec_id, embedding,
    cell) relation — the maintained-index deployment read path (q246's
    stored table through the BLAS kernel): the per-batch cell argmax is
    skipped entirely because the stored column IS the assignment, so a
    query run pays masking + one matmul per Arrow batch and nothing
    else. Row-equal to the fold ``ivf_topk_from_index`` by the same twin
    contract as q130<->q56 (tests/test_ann_maintenance.py::
    test_vectorized_index_probe_equals_fold)."""
    got = _ivf_queries(queries, centroids, nprobe, "ivf_topk_from_index_vectorized")
    if got is None:
        return ivf_topk_from_index(cells, queries, centroids, k, nprobe)
    qids, Q, C, probe_cells = got
    return _ivf_probe(
        _probed_only(cells.select("vec_id", "embedding", "cell"), probe_cells, len(C)),
        qids, Q, probe_cells, k,
        lambda pdf, E: pdf["cell"].to_numpy(dtype=np.int64),
    )


def _adc_prune(
    src: DataFrame,
    qids: "np.ndarray",
    T: "np.ndarray",
    probe_cells: "np.ndarray",
    ncells: int,
    rerank_from: int,
    cells_and_codes,
) -> DataFrame:
    """The IVF-PQ kernels' ADC prune over ``src``, with
    ``cells_and_codes(pdf)`` giving each batch row's cell and PQ code: per
    Arrow batch, the exact int64 ADC scores (tables ``T``) of the rows
    inside each query's probed cells and their local top-``rerank_from``
    (query_id, neighbor_id, adc) rows."""
    probed = np.zeros((ncells, len(qids)), dtype=bool)  # probed[cell, query]
    probed[probe_cells, np.arange(len(qids))[:, None]] = True
    bq = src.sparkSession.sparkContext.broadcast((qids, T, probed))

    def step(pdf):
        ids, Tq, P = bq.value
        cell, codes = cells_and_codes(pdf)
        vecids = pdf["vec_id"].to_numpy(dtype=np.int64)
        yield _local_topk(_adc(Tq, codes), vecids, ids, rerank_from, "adc", P[cell])

    return _map_batches(src, step, _candidates("adc long"))


def ivf_pq_rerank_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    rerank_from: int = IVF_PQ_RERANK_FROM,
) -> DataFrame:
    """q125's IVF-PQ stack through the numpy kernel — bit-identical results
    (same floor quantization, same integer cell/code argmaxes, same exact
    int64 ADC gathers, same IEEE cell-score division), at q64-class speed.

    Same twin contract as q109<->q104 and q120<->q118: the Column-fold
    formulation (ivf_pq_rerank_topk) carries the DuckDB oracle; this kernel
    is asserted row-equal by tests/test_multimodal_similarity.py::
    test_ivf_pq_vectorized_equals_fold and is what a 100 TB run deploys.
    Per Arrow batch: vectorized cell assignment against the centroid
    matrix, per-subspace integer codebook encode, ADC gathers restricted
    to each query's probed cells, local top-``rerank_from`` — the global
    prune window then sees at most rerank_from x batches x queries narrow
    rows, and the exact re-rank tail is shared with the fold twin."""
    got = _ivf_queries(queries, centroids, nprobe, "ivf_pq_rerank_topk_vectorized")
    if got is None:
        return ivf_pq_rerank_topk(corpus, queries, centroids, codebooks, k, nprobe, rerank_from)
    qids, Q, C, probe_cells = got
    books = np.array(codebooks, dtype=np.int64)
    scored = _adc_prune(
        corpus.select("vec_id", "embedding"), qids, _adc_tables(_quantize(Q), books),
        probe_cells, len(C), rerank_from, lambda pdf: _cells_and_codes(pdf, C, books),
    )
    return _prune_rerank(scored, corpus, queries, rerank_from, k)


def ivf_pq_rerank_from_index_vectorized(
    index: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    rerank_from: int = IVF_PQ_RERANK_FROM,
) -> DataFrame:
    """``ivf_pq_rerank_from_index`` through the numpy kernel — the
    maintained-code-table deployment read path (q247's stored v2 relation
    probed without the Column-fold's per-element HOF cost, the same
    reason ``ivf_topk_from_index_vectorized`` exists for q246).

    Cheaper than even ``ivf_pq_rerank_topk_vectorized``'s per-batch work:
    the stored columns ARE the assignment and the codes, so a query run
    pays exactly the ADC LUT gathers over probed-cell rows — no embedding
    decode, no cell argmax, no PQ encode, no float math until the exact
    re-rank over the <= queries x rerank_from survivors. Row-equal to the
    fold twin (tests/test_ann_maintenance.py::
    test_vectorized_pq_index_probe_equals_fold): same integer ADC sums,
    same (-adc, neighbor_id) prune order, shared ``_exact_cos_rerank`` tail.

    At deployment scale the int64 code table is the only relation the
    prune ever scans (~1.5 TB for a 100 TB float corpus), and each Arrow
    batch contributes at most queries x rerank_from narrow rows to the
    global prune window."""
    got = _ivf_queries(queries, centroids, nprobe, "ivf_pq_rerank_from_index_vectorized")
    if got is None:
        return ivf_pq_rerank_from_index(
            index, corpus, queries, centroids, codebooks, k, nprobe, rerank_from
        )
    qids, Q, C, probe_cells = got
    books = np.array(codebooks, dtype=np.int64)
    scored = _adc_prune(
        _probed_only(index.select("vec_id", "cell", "code"), probe_cells, len(C)),
        qids, _adc_tables(_quantize(Q), books), probe_cells, len(C), rerank_from,
        lambda pdf: (
            pdf["cell"].to_numpy(dtype=np.int64),
            np.stack(pdf["code"].to_numpy()).astype(np.int64),
        ),
    )
    return _prune_rerank(scored, corpus, queries, rerank_from, k)


def pq_adc_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 5,
    rerank_from: int = 50,
) -> DataFrame:
    """The PQ deployment shape: ADC prune in the compressed domain to
    ``rerank_from`` candidates per query, exact cosine re-rank over the raw
    embeddings of the survivors only. Measured on the stress corpus: raw
    ADC@5 recall 0.506 (replicas compress to identical codes and tie);
    pruning to 50 then re-ranking recovers 0.951 while exact-scoring
    1/800th of the corpus per query (SCALE_NOTES).

    Scale shape: the candidate relation (queries x rerank_from ids) is
    broadcast-size by construction; the corpus joins it broadcast, so the
    raw embeddings of non-candidates are never read past the scan filter
    and nothing fact-sized shuffles.

    The ADC prune runs through ``pq_adc_topk_vectorized`` (r12
    optimization) — bit-identical candidates to ``pq_adc_topk`` (exact
    int64 scores, same tie rules; tests/test_curation.py::
    test_pq_vectorized_twin_equals_fold), while the ~4,000-literal encode
    fold (seconds of driver plan analysis) never builds."""
    cand = pq_adc_topk_vectorized(corpus, queries, codebooks, k=rerank_from).select(
        "query_id", "neighbor_id"
    )
    return _exact_cos_rerank(corpus, queries, cand, k)
