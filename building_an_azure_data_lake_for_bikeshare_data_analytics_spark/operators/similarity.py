"""Similarity search over embedding columns: brute-force cosine top-k and a
random-hyperplane LSH (SimHash-for-vectors) approximate variant.

Scale design (the reason both exist):
* brute force is exact and embarrassingly parallel but O(|corpus|x|queries|);
  right when the query set is small enough to broadcast;
* LSH bucketing replaces the cross product with equi-joins on band
  signatures: corpus shuffles once by bucket key, each query probes only
  its buckets — the 100 TB path. Recall is tunable via bands/bits.

Hyperplanes are deterministic (seeded numpy, rounded to 6 decimals) and
embedded as literals into BOTH the Spark plan and the DuckDB oracle SQL, so
even the approximate variant is value-checkable across engines.
"""

from __future__ import annotations

import numpy as np

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


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k. ``corpus``: (vec_id, embedding); ``queries``:
    (query_id, qe). Queries broadcast; corpus never shuffles for the join;
    one window shuffle on query_id for ranking."""
    c = corpus.select("vec_id", "embedding", norm(F.col("embedding")).alias("nrm"))
    q = queries.select("query_id", "qe", norm(F.col("qe")).alias("qnrm"))
    cos = F.round(dot(F.col("qe"), F.col("embedding")) / (F.col("qnrm") * F.col("nrm")), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
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
    c = corpus.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm"),
        *lsh_bands(F.col("embedding"), planes, bands),
    )
    q = queries.select(
        "query_id", "qe", norm(F.col("qe")).alias("qnrm"),
        *lsh_bands(F.col("qe"), planes, bands, prefix="qband"),
    )
    # stack bands to rows so one equi-join covers "any band matches"
    c_b = c.select(
        "vec_id", "embedding", "nrm",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("b"), F.col(f"band{b}").alias("sig")) for b in range(bands)
        ])).alias("bk"),
    ).select("vec_id", "embedding", "nrm", F.col("bk.b").alias("b"), F.col("bk.sig").alias("sig"))
    q_b = q.select(
        "query_id", "qe", "qnrm",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("b"), F.col(f"qband{b}").alias("sig")) for b in range(bands)
        ])).alias("bk"),
    ).select("query_id", "qe", "qnrm", F.col("bk.b").alias("b"), F.col("bk.sig").alias("sig"))
    cand = (
        c_b.join(F.broadcast(q_b), on=["b", "sig"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "qe", "embedding", "qnrm", "nrm")
        .distinct()
    )
    cos = F.round(dot(F.col("qe"), F.col("embedding")) / (F.col("qnrm") * F.col("nrm")), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


#: hard cap on the collected query matrix (rows). 100k x 64-d doubles is
#: ~50 MB broadcast — the sensible ceiling for a driver-side matrix.
_MAX_DRIVER_QUERIES = 100_000


def brute_force_topk_vectorized(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k with a BLAS matmul kernel (Arrow-batched
    mapInPandas) — the measured-fast path for dense linear algebra.

    The Column-expression fold (brute_force_topk) evaluates one multiply-add
    per expression-tree node; at 40k-corpus x 800-query stress scale that is
    ~330s. A numpy matmul does the same 32M cosines in well under a second
    of BLAS time. Structure:

      * the (small) query matrix is collected once, L2-normalized, and
        broadcast to executors;
      * each Arrow batch of the corpus is normalized and multiplied against
        the query matrix (batch x dim @ dim x nq);
      * each partition emits only its local top-k rows per query (partial
        top-k), so the final global ranking window sees at most
        k x n_partitions x n_queries rows — never the full product.

    Exactly the partial-aggregate shape Spark uses for TakeOrderedAndProject,
    applied to ANN. Results match brute_force_topk (same round-4 cosines,
    same id tie-breaks).
    """
    import numpy as np

    # the query matrix is the ONLY thing collected to the driver; fail
    # loudly if someone points a fact-sized table at it (a 10M-row "query
    # set" would OOM the driver long before the limit+1 rows do)
    probe = queries.select("query_id", "qe").limit(_MAX_DRIVER_QUERIES + 1).collect()
    if len(probe) > _MAX_DRIVER_QUERIES:
        raise ValueError(
            f"brute_force_topk_vectorized: query set exceeds {_MAX_DRIVER_QUERIES} rows; "
            "it must fit on the driver (broadcast side). Shard the query table "
            "or use lsh_topk/ivf_topk for fact-sized query sets."
        )
    q_rows = probe
    if not q_rows:
        return brute_force_topk(corpus, queries, k)
    Q = np.array([list(r["qe"]) for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)
    qids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((qids, Q, qn))

    def part(batches):
        import pandas as pd

        ids, Qm, qnv = bq.value
        # query_id -> column index, for O(batch) self-exclusion
        id_to_col = {int(i): j for j, i in enumerate(ids)}
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            en = np.linalg.norm(E, axis=1)
            vecids = pdf["vec_id"].to_numpy(dtype=np.int64)
            # CONTRACT (pinned, not incidental): a zero-norm vector has no
            # defined cosine. Zero-norm CORPUS rows are excluded from
            # neighbor candidacy here, explicitly, before the matmul — the
            # oracle's cos expression yields NULL/NaN for them and SQL
            # ORDER BY ... LIMIT k drops those too, so engine and oracle
            # agree by construction. A zero-norm QUERY column divides to
            # NaN below and is dropped by the isfinite survivor mask: such
            # a query deterministically emits no rows (same in the oracle).
            nz = en > 0.0
            if not nz.all():
                E, en, vecids = E[nz], en[nz], vecids[nz]
                if E.shape[0] == 0:
                    continue
            # dot-then-divide mirrors the fold's cos expression shape;
            # rounding is the oracle's own half-away rule (_round4_half_away)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = _round4_half_away((E @ Qm.T) / (en[:, None] * qnv[None, :]))
            # self-exclusion: -inf can never win a top-k over real cosines
            for i, v in enumerate(vecids):
                j = id_to_col.get(int(v))
                if j is not None:
                    S[i, j] = -np.inf
            n = S.shape[0]
            out_q, out_n, out_c = [], [], []
            # one vectorized O(n x q) partition finds every query's kth
            # value; the Python loop below then lexsorts only the ~k
            # surviving rows per query (ties on the rounded cosine keep
            # all equal-valued rows in play, so the (cos desc, id asc)
            # selection is IDENTICAL to a full per-query sort — the
            # original per-query full-batch lexsort was the measured wall
            # sink of the whole kernel, ~8k sorts of the full batch each)
            if n > k:
                kth = np.partition(S, n - k, axis=0)[n - k, :]
            else:
                kth = np.full(S.shape[1], -np.inf)
            surv = (S >= kth[None, :]) & np.isfinite(S)
            rows, cols = np.nonzero(surv)
            order = np.argsort(cols, kind="stable")
            rows, cols = rows[order], cols[order]
            bounds = np.searchsorted(cols, np.arange(S.shape[1] + 1))
            for j in range(S.shape[1]):
                cand_idx = rows[bounds[j] : bounds[j + 1]]
                if cand_idx.size == 0:
                    continue
                col = S[cand_idx, j]
                # local top-k by (cos desc, vec_id asc)
                sel = cand_idx[np.lexsort((vecids[cand_idx], -col))[:k]]
                out_q.extend([ids[j]] * len(sel))
                out_n.extend(vecids[sel])
                out_c.extend(S[sel, j])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cos": out_c})

    cands = corpus.select("vec_id", "embedding").mapInPandas(
        part, "query_id long, neighbor_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return cands.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


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
    import numpy as np
    import pandas as pd

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cos": "float64"}
            )
        E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        en = np.linalg.norm(E, axis=1)
        S = _round4_half_away((E @ E.T) / (en[:, None] * en[None, :]))
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
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


def _argmax_cell(qv: Column, centroids: list[list[int]]) -> Column:
    """Map-side nearest-centroid id: no join, no shuffle — the centroid list
    is tiny by construction, embedded as literals into the row expression.
    Ties break toward the lower cell id (deterministic)."""
    scores = _cell_scores(qv, centroids)
    packed = F.array(
        *[F.struct(s.alias("s"), F.lit(-j).alias("nj")) for j, s in enumerate(scores)]
    )
    return (-F.array_max(packed).getField("nj")).cast("int")


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
    import numpy as np

    pdf = (
        emb.orderBy("vec_id")
        .limit(KMEANS_TRAIN_ROWS)
        .select(quantize_vec(F.col("embedding")).alias("qv"))
        .toPandas()
    )
    if len(pdf) < k:
        raise ValueError(f"kmeans_fit: corpus has fewer than k={k} rows")
    X = np.array(pdf["qv"].tolist(), dtype=np.int64)  # (n, dim), exact
    cents = X[:k].copy()  # init: the k lowest-id vectors (input is id-sorted)
    for _ in range(max_iter):
        nsq = (cents * cents).sum(axis=1)  # exact int64
        scores = (X @ cents.T).astype(np.float64) / np.sqrt(nsq.astype(np.float64))[None, :]
        assign = scores.argmax(axis=1)  # first max = lowest cell on ties
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
    return [[int(x) for x in row] for row in cents]


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
        _argmax_cell(quantize_vec(F.col("embedding")), centroids).alias("cell"),
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
    equality is structural, pinned in tests/test_ann_maintenance.py."""
    qscores = F.array(
        *[
            F.struct(s.alias("s"), F.lit(-j).alias("nj"))
            for j, s in enumerate(_cell_scores(quantize_vec(F.col("qe")), centroids))
        ]
    )
    probes = (
        queries.select(
            "query_id",
            "qe",
            F.slice(F.sort_array(qscores, asc=False), 1, nprobe).alias("top"),
        )
        .select("query_id", "qe", F.explode("top").alias("t"))
        .select("query_id", "qe", (-F.col("t.nj")).cast("int").alias("cell"))
    )
    # no dedup needed: every corpus row lives in exactly one cell and each
    # query probes distinct cells, so (query, neighbor) pairs are unique
    cand = probes.join(cells, "cell").where(F.col("vec_id") != F.col("query_id"))
    cos = F.round(
        dot(F.col("qe"), F.col("embedding")) / (norm(F.col("qe")) * norm(F.col("embedding"))), 4
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
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
    cols = lsh_bands(F.col("embedding"), planes, bands)
    banded = (
        emb.select("vec_id", *cols)
        .select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("sig"))
                        for b in range(bands)
                    ]
                )
            ).alias("bs"),
        )
        .select("vec_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
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
    embn = emb.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
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
    deployment twin of the `_argmax_cell` Column expression, which
    Catalyst cannot codegen at useful k (64 centroids x 64-dim folds
    measured 24.0 s for 40k rows vs sub-second here; SCALE_NOTES).

    Value-identical to the fold BY CONSTRUCTION, not luck: the dots are
    exact int64 (quantized vectors x integer centroids — integer matmul
    has no summation-order sensitivity), each score is the same single
    CAST-to-double divide by sqrt(|c|^2), and argmax's first-max tie rule
    matches the fold's (s, -j) struct max — lowest cell wins ties. Same
    twin contract as q142's covariance kernel: the kernel can carry the
    fold's oracle verbatim."""
    import numpy as np
    import pandas as pd

    C = np.array(centroids, dtype=np.int64)  # (k, dim)
    nrm = np.sqrt((C * C).sum(axis=1).astype(np.float64))  # (k,)

    def part(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * float(QUANT_SCALE)
            ).astype(np.int64)
            scores = (X @ C.T).astype(np.float64) / nrm[None, :]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": scores.argmax(axis=1).astype("int32")}
            )

    # no internal fanout (r13): the r12 spread here repartitioned the
    # caller's frame to the core count, but the numpy matmul is sub-ms
    # per batch — at local[32] the 32 python workers' startup +
    # Arrow (de)serialization cost MORE than the kernel (measured on the
    # kernel twin q147: 0.93 s -> 1.75 s with the fanout). At deployment
    # scale the caller's scan is already wide. Callers that profile a
    # single-task bottleneck fan their scan before passing it in.
    return emb.select("vec_id", "embedding").mapInPandas(part, "vec_id long, cell int")


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
    cell scores round(cos,4) >= threshold against it. Returns every input
    row as (vec_id, cell, kept 1/0).

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
    cells = assign_cells_vectorized(emb, centroids).localCheckpoint()
    a, b = cells.alias("a"), cells.alias("b")
    cand = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
    embn = emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("nrm"))
    ea, eb = embn.alias("ea"), embn.alias("eb")
    cos = F.round(
        dot(F.col("ea.embedding"), F.col("eb.embedding"))
        / (F.col("ea.nrm") * F.col("eb.nrm")),
        4,
    )
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
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), qcos.alias("qcos"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


def quantized_int8_topk_vectorized(
    corpus: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """BLAS twin of quantized_int8_topk: identical int8 codes (same
    round-half-away quantizer), identical exact integer dots, numpy matmul
    kernel — asserted row-equal to the Column-fold formulation in tests.

    This is the actual 100 TB two-stage layout: the Column-fold (q104)
    exists to carry the value oracle; throughput comes from this kernel,
    where the int64-exact dot products ride a float64 matmul (code
    products sum to < 2^21, far inside float64's 2^53 exact-integer
    range, so BLAS speed costs no exactness). Same partial-top-k shape as
    brute_force_topk_vectorized: queries broadcast, each corpus partition
    emits only local top-k."""
    import numpy as np

    def _codes(M: "np.ndarray") -> tuple["np.ndarray", "np.ndarray"]:
        # round HALF AWAY FROM ZERO to match F.round / DuckDB round();
        # np.round is half-even and would drift on exact .5 code boundaries
        s = np.abs(M).max(axis=1, keepdims=True)
        keep = s[:, 0] > 0
        C = np.sign(M) * np.floor(np.abs(M) * 127 / np.where(s == 0, 1.0, s) + 0.5)
        return C, keep

    probe = queries.select("query_id", "qe").limit(_MAX_DRIVER_QUERIES + 1).collect()
    if len(probe) > _MAX_DRIVER_QUERIES:
        raise ValueError(
            f"quantized_int8_topk_vectorized: query set exceeds {_MAX_DRIVER_QUERIES} "
            "rows; it must fit on the driver (broadcast side)."
        )
    if not probe:
        return quantized_int8_topk(corpus, queries, k)
    Q = np.array([list(r["qe"]) for r in probe], dtype=np.float64)
    QC, qkeep = _codes(Q)
    qids = np.array([r["query_id"] for r in probe], dtype=np.int64)[qkeep]
    QC = QC[qkeep]
    qn = np.sqrt((QC * QC).sum(axis=1))
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((qids, QC, qn))

    def part(batches):
        import pandas as pd

        ids, QCn, qnv = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            C, keep = _codes(E)
            vecids = pdf["vec_id"].to_numpy(dtype=np.int64)[keep]
            C = C[keep]
            if not len(vecids):
                continue
            cn = np.sqrt((C * C).sum(axis=1))
            S = _round4_half_away((C @ QCn.T) / (cn[:, None] * qnv[None, :]))
            out_q, out_n, out_c = [], [], []
            for j in range(S.shape[1]):
                col = S[:, j]
                cand_idx = np.nonzero(vecids != ids[j])[0]
                if cand_idx.size == 0:
                    continue
                order = np.lexsort((vecids[cand_idx], -col[cand_idx]))[:k]
                sel = cand_idx[order]
                out_q.extend([ids[j]] * len(sel))
                out_n.extend(vecids[sel])
                out_c.extend(col[sel])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "qcos": out_c}
            )

    cands = corpus.select("vec_id", "embedding").mapInPandas(
        part, "query_id long, neighbor_id long, qcos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return cands.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


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


def _lloyd_euclid(X: "np.ndarray", k: int, max_iter: int) -> "np.ndarray":
    """Deterministic integer Lloyd iterations under EXACT Euclidean
    assignment: argmin ||x - c||^2 == argmax (2*x.c - |c|^2), computed in
    int64 so assignment is bit-exact (no doubles anywhere in the argmax —
    stronger than the IVF fit, whose scores divide by a double sqrt).
    Init = first k rows; ties -> lowest code; update = floor(mean)."""
    cents = X[:k].copy()
    for _ in range(max_iter):
        nsq = (cents * cents).sum(axis=1)  # exact int64
        scores = 2 * (X @ cents.T) - nsq[None, :]  # exact int64
        assign = scores.argmax(axis=1)  # first max = lowest code on ties
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


def pq_fit(
    emb: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    max_iter: int = PQ_ITERS,
) -> list[list[list[int]]]:
    """Train PQ codebooks: one integer-quantized Lloyd fit per subspace over
    the ``KMEANS_TRAIN_ROWS`` lowest-id vectors (same bounded-sample posture as
    kmeans_fit; faiss trains PQ on a sample too). Returns
    ``codebooks[s][c] -> list[int]`` — deterministic enough that the DuckDB
    oracle replays every iteration of all m fits (q118)."""
    pdf = (
        emb.orderBy("vec_id")
        .limit(KMEANS_TRAIN_ROWS)
        .select(quantize_vec(F.col("embedding")).alias("qv"))
        .toPandas()
    )
    if len(pdf) < ksub:
        raise ValueError(f"pq_fit: corpus has fewer than ksub={ksub} rows")
    X = np.array(pdf["qv"].tolist(), dtype=np.int64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [[int(x) for x in row] for row in _lloyd_euclid(X[:, s * sub : (s + 1) * sub], ksub, max_iter)]
        for s in range(m)
    ]


def _pq_code(qv_sub: Column, codebook: list[list[int]]) -> Column:
    """Nearest-codeword id for one quantized subvector, by exact integer
    Euclidean score (2*dot - |c|^2); ties -> lowest code. Map-only: the
    codebook rides along as literals, like _argmax_cell."""
    packed = F.array(
        *[
            F.struct(
                (2 * _int_dot(qv_sub, c) - F.lit(int(sum(x * x for x in c)))).alias("s"),
                F.lit(-j).alias("nj"),
            )
            for j, c in enumerate(codebook)
        ]
    )
    return (-F.array_max(packed).getField("nj")).cast("int")


def pq_encode(corpus: DataFrame, codebooks: list[list[list[int]]]) -> DataFrame:
    """(id, embedding) -> (id, code: array<int>) — the PQ compression step.
    Map-only over the scan; at 100 TB this is the one full pass that turns
    the 100 TB float corpus into a ~1.5 TB code table."""
    qv = quantize_vec(F.col("embedding"))
    sub = len(codebooks[0][0])
    codes = F.array(
        *[
            _pq_code(F.slice(qv, s * sub + 1, sub), cb)
            for s, cb in enumerate(codebooks)
        ]
    )
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
    sub = len(codebooks[0][0])
    enc = pq_encode(corpus, codebooks)
    qqv = quantize_vec(F.col("qe"))
    tbl = F.array(
        *[
            F.array(*[_int_dot(F.slice(qqv, s * sub + 1, sub), c) for c in cb])
            for s, cb in enumerate(codebooks)
        ]
    )
    q = queries.select("query_id", tbl.alias("tbl"))
    pairs = enc.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    adc = F.aggregate(
        F.zip_with(F.col("tbl"), F.col("code"), lambda t, c: F.element_at(t, c + F.lit(1))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    return (
        pairs.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc.alias("adc"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("adc").cast("double") / F.lit(float(QUANT_SCALE) ** 2), 6).alias(
                "adc_dot"
            ),
            "rnk",
        )
    )


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
    DuckDB oracle, this kernel is asserted row-equal in tests and is what
    a 100 TB run deploys. Per partition: vectorized encode (2*X@C.T -
    |C|^2 argmax), ADC score matrix by table gather, local top-k per
    query; the global window sees only k x partitions x queries rows."""
    import numpy as np

    probe = queries.select("query_id", "qe").limit(_MAX_DRIVER_QUERIES + 1).collect()
    if len(probe) > _MAX_DRIVER_QUERIES:
        raise ValueError(
            f"pq_adc_topk_vectorized: query set exceeds {_MAX_DRIVER_QUERIES} rows; "
            "shard the query table for fact-sized query sets."
        )
    if not probe:
        return pq_adc_topk(corpus, queries, codebooks, k)
    books = np.array(codebooks, dtype=np.int64)  # (m, ksub, sub)
    m, ksub, sub = books.shape
    qids = np.array([r["query_id"] for r in probe], dtype=np.int64)
    Qf = np.array([list(r["qe"]) for r in probe], dtype=np.float64)
    QQ = np.floor(Qf * float(QUANT_SCALE)).astype(np.int64)  # = quantize_vec
    # per-query ADC tables: T[q, s, c] = dot(q_sub_s, codebook[s][c]), exact
    T = np.einsum("qsd,scd->qsc", QQ.reshape(len(qids), m, sub), books)
    nsq = (books * books).sum(axis=2)  # (m, ksub), exact
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((qids, T))

    def part(batches):
        import pandas as pd

        ids, Tq = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            X = np.floor(E * float(QUANT_SCALE)).astype(np.int64)
            Xs = X.reshape(len(E), m, sub)
            codes = np.empty((len(E), m), dtype=np.int64)
            for s in range(m):
                scores = 2 * (Xs[:, s] @ books[s].T) - nsq[s][None, :]
                codes[:, s] = scores.argmax(axis=1)  # first max = lowest code
            # ADC[q, x] = sum_s T[q, s, codes[x, s]] — pure integer gathers
            adc = np.zeros((len(ids), len(E)), dtype=np.int64)
            for s in range(m):
                adc += Tq[:, s, :][:, codes[:, s]]
            vecids = pdf["vec_id"].to_numpy(dtype=np.int64)
            out_q, out_n, out_a = [], [], []
            for j in range(len(ids)):
                cand = np.nonzero(vecids != ids[j])[0]
                if cand.size == 0:
                    continue
                order = np.lexsort((vecids[cand], -adc[j][cand]))[:k]
                sel = cand[order]
                out_q.extend([ids[j]] * len(sel))
                out_n.extend(vecids[sel])
                out_a.extend(adc[j][sel])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adc": out_a}
            )

    cands = corpus.select("vec_id", "embedding").mapInPandas(
        part, "query_id long, neighbor_id long, adc long"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("adc").cast("double") / F.lit(float(QUANT_SCALE) ** 2), 6).alias(
                "adc_dot"
            ),
            "rnk",
        )
    )


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
        cell, code): cell via centroid literals (_argmax_cell), code via
        codebook literals (_pq_code). At 100 TB this pass replaces the
        float corpus with a ~1.5 TB code table partitioned by cell.
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
    sub = len(codebooks[0][0])
    qv = quantize_vec(F.col("embedding"))
    codes = F.array(
        *[_pq_code(F.slice(qv, s * sub + 1, sub), cb) for s, cb in enumerate(codebooks)]
    )
    return corpus.select(
        "vec_id",
        codes.alias("code"),
        _argmax_cell(qv, centroids).alias("cell"),
    )


def ivf_pq_index_vectorized(
    corpus: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
) -> DataFrame:
    """``ivf_pq_index`` through the numpy int64 kernel — value-identical
    BY CONSTRUCTION (exact integer Euclid scores 2*dot - |c|^2 with the
    fold's lowest-code/lowest-cell tie rules; the q142/q147 twin
    contract), so a store built from it is row-identical to the fold's.

    Why (r12 optimization, guide §4): at m=4 x ksub=8 x 16-dim subspaces
    the encode fold is a ~4,000-literal expression tree that Catalyst
    cannot codegen — q247 paid seconds of driver plan analysis per
    lifecycle run, twice (v1 build + batch append). The kernel's encode
    is three integer matmuls per Arrow batch."""
    import numpy as np
    import pandas as pd

    C = np.array(centroids, dtype=np.int64)  # (kcells, dim)
    cnrm = np.sqrt((C * C).sum(axis=1).astype(np.float64))
    books = np.array(codebooks, dtype=np.int64)  # (m, ksub, sub)
    m, ksub, sub = books.shape
    nsq = (books * books).sum(axis=2)  # (m, ksub)

    def part(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            X = np.floor(E * float(QUANT_SCALE)).astype(np.int64)
            Xs = X.reshape(len(E), m, sub)
            codes = np.empty((len(E), m), dtype=np.int32)
            for s in range(m):
                scores = 2 * (Xs[:, s] @ books[s].T) - nsq[s][None, :]
                codes[:, s] = scores.argmax(axis=1)  # first max = lowest code
            cell = ((X @ C.T).astype(np.float64) / cnrm[None, :]).argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "code": list(codes),
                    "cell": cell.astype("int32"),
                }
            )

    # no internal fanout (r13) — same rationale as assign_cells_vectorized:
    # the integer matmuls are cheaper than 32 python workers' startup at
    # test scale, and the caller's scan is already wide at real scale
    return corpus.select("vec_id", "embedding").mapInPandas(
        part, "vec_id long, code array<int>, cell int"
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
    sub = len(codebooks[0][0])
    qqv = quantize_vec(F.col("qe"))
    tbl = F.array(
        *[
            F.array(*[_int_dot(F.slice(qqv, s * sub + 1, sub), c) for c in cb])
            for s, cb in enumerate(codebooks)
        ]
    )
    qscores = F.array(
        *[
            F.struct(s.alias("s"), F.lit(-j).alias("nj"))
            for j, s in enumerate(_cell_scores(qqv, centroids))
        ]
    )
    probes = (
        queries.select(
            "query_id",
            tbl.alias("tbl"),
            F.slice(F.sort_array(qscores, asc=False), 1, nprobe).alias("top"),
        )
        .select("query_id", "tbl", F.explode("top").alias("t"))
        .select("query_id", "tbl", (-F.col("t.nj")).cast("int").alias("cell"))
    )
    adc = F.aggregate(
        F.zip_with(F.col("tbl"), F.col("code"), lambda t, c: F.element_at(t, c + F.lit(1))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    wprune = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    cand = (
        index.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc"))
        .withColumn("crnk", F.row_number().over(wprune))
        .where(F.col("crnk") <= rerank_from)
        .select("query_id", "neighbor_id")
    )
    return _exact_cos_rerank(corpus, queries, cand, k)


def _exact_cos_rerank(
    corpus: DataFrame, queries: DataFrame, cand: DataFrame, k: int
) -> DataFrame:
    """Exact cosine top-k over a (query_id, neighbor_id) candidate relation:
    candidates broadcast onto the corpus, survivors' raw embeddings only."""
    withq = cand.join(F.broadcast(queries.select("query_id", "qe")), "query_id")
    ne = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
    )
    pairs = ne.join(F.broadcast(withq), "neighbor_id")
    cos = F.round(
        dot(F.col("qe"), F.col("ne")) / (norm(F.col("qe")) * norm(F.col("ne"))), 4
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


def ivf_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    k: int = 5,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """q56's IVF probe through the numpy kernel — row-equal to ivf_topk
    (same integer-quantized cell assignment and probe selection, same
    round-4 cosines with id tie-breaks), at q64-class speed.

    The fold formulation carries the DuckDB fit-replay oracle; this kernel
    is the deployment path: per Arrow batch, vectorized cell assignment
    against the centroid matrix, then one BLAS matmul per batch scoring
    only (row, query) pairs whose cell is probed — masked per query — and
    local top-k. Wall-clock at stress scale is minutes -> seconds
    (SCALE_NOTES); the candidate FRACTION (nprobe/k cells) is what
    transfers to 100 TB."""
    return _ivf_topk_vectorized_impl(
        corpus, queries, centroids, k, nprobe, stored_cells=False
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
    contract as q130<->q56 (pinned in tests/test_ann_maintenance.py)."""
    return _ivf_topk_vectorized_impl(
        cells, queries, centroids, k, nprobe, stored_cells=True
    )


def _ivf_topk_vectorized_impl(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    k: int,
    nprobe: int,
    stored_cells: bool,
) -> DataFrame:
    import numpy as np

    probe = queries.select("query_id", "qe").limit(_MAX_DRIVER_QUERIES + 1).collect()
    if len(probe) > _MAX_DRIVER_QUERIES:
        raise ValueError(
            f"ivf_topk_vectorized: query set exceeds {_MAX_DRIVER_QUERIES} rows; "
            "shard the query table for fact-sized query sets."
        )
    if not probe:
        if stored_cells:
            return ivf_topk_from_index(corpus, queries, centroids, k, nprobe)
        return ivf_topk(corpus, queries, centroids, k, nprobe)
    cents = np.array(centroids, dtype=np.int64)
    ncells = cents.shape[0]
    qids = np.array([r["query_id"] for r in probe], dtype=np.int64)
    Qf = np.array([list(r["qe"]) for r in probe], dtype=np.float64)
    QQ = np.floor(Qf * float(QUANT_SCALE)).astype(np.int64)
    cnsq_sqrt = np.sqrt((cents * cents).sum(axis=1).astype(np.float64))
    qscores = (QQ @ cents.T).astype(np.float64) / cnsq_sqrt[None, :]
    probe_cells = np.stack(
        [np.lexsort((np.arange(ncells), -qscores[i]))[:nprobe] for i in range(len(qids))]
    )
    qn = np.linalg.norm(Qf, axis=1)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((qids, Qf, qn, probe_cells))

    # queries grouped by their probed-cell COMBINATION (≤ C(ncells,
    # nprobe) groups): per Arrow batch the matmul then covers ONLY the
    # probed rows for exactly the queries that probe them — the flop
    # count is the probed fraction, not rows x all-queries. The first
    # formulation did the FULL matmul and masked per query afterwards:
    # measured at 1.2M vectors it cost 3.9x BRUTE FORCE (234 s vs 60 s,
    # wall exp 2.43 — the full matmul saved nothing and the per-query
    # np.isin over every batch row went superlinar in n_queries x rows;
    # SCALE_NOTES r9 ANN lifecycle third point). Results are unchanged:
    # same dot-then-divide + half-away rounding, same (cos desc, id asc)
    # tie-break, per-(query, batch) top-k is a superset of the global
    # top-k so the final window is exact — twin row-equality re-pinned.
    combos: dict[tuple, list[int]] = {}
    for j in range(len(qids)):
        combos.setdefault(tuple(sorted(probe_cells[j])), []).append(j)
    bq2 = sc.broadcast(combos)

    def part(batches):
        import pandas as pd

        ids, Qm, qnv, pc = bq.value
        combo_map = bq2.value
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            if stored_cells:
                # the maintained table carries the assignment — no argmax
                cell = pdf["cell"].to_numpy(dtype=np.int64)
            else:
                X = np.floor(E * float(QUANT_SCALE)).astype(np.int64)
                cell = ((X @ cents.T).astype(np.float64) / cnsq_sqrt[None, :]).argmax(axis=1)
            en = np.linalg.norm(E, axis=1)
            vecids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cell_rows = {c: np.nonzero(cell == c)[0] for c in np.unique(cell)}
            out_q, out_n, out_c = [], [], []
            for combo, qjs in combo_map.items():
                parts = [cell_rows[c] for c in combo if c in cell_rows]
                if not parts:
                    continue
                idx = np.concatenate(parts)
                Es, ens, vids = E[idx], en[idx], vecids[idx]
                qj = np.asarray(qjs)
                # dot-then-divide + half-away round — q64's recipe (see
                # _round4_half_away for the cross-engine rounding contract)
                S = _round4_half_away(
                    (Es @ Qm[qj].T) / (ens[:, None] * qnv[qj][None, :])
                )
                for t, j in enumerate(qjs):
                    keep = vids != ids[j]
                    col, vid = S[keep, t], vids[keep]
                    if col.size == 0:
                        continue
                    order = np.lexsort((vid, -col))[:k]
                    out_q.extend([ids[j]] * len(order))
                    out_n.extend(vid[order])
                    out_c.extend(col[order])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cos": out_c})

    in_cols = ["vec_id", "embedding", "cell"] if stored_cells else ["vec_id", "embedding"]
    src = corpus.select(*in_cols)
    if stored_cells:
        # rows outside the UNION of probed cells can never be candidates
        # (every combo group masks to its probed cells) — filter them with
        # LITERALS on the stored cell column, so when the index store is
        # hive-partitioned by cell (q246) the scan prunes to the probed
        # directories: the stored-index read is nprobe∪-proportional, not
        # O(corpus)
        probed = sorted({int(c) for c in probe_cells.ravel()})
        if len(probed) < ncells:
            src = src.where(F.col("cell").isin(*probed))
    cands = src.mapInPandas(
        part, "query_id long, neighbor_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return cands.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


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
    is asserted row-equal in tests and is what a 100 TB run deploys.
    Per Arrow batch: vectorized cell assignment against the centroid
    matrix, per-subspace integer codebook encode, per-query ADC gathers
    restricted to that query's probed cells, local top-``rerank_from`` —
    the global prune window then sees at most rerank_from x partitions x
    queries narrow rows, and the exact re-rank tail is shared with the
    fold twin."""
    import numpy as np

    probe = queries.select("query_id", "qe").limit(_MAX_DRIVER_QUERIES + 1).collect()
    if len(probe) > _MAX_DRIVER_QUERIES:
        raise ValueError(
            f"ivf_pq_rerank_topk_vectorized: query set exceeds {_MAX_DRIVER_QUERIES} "
            "rows; shard the query table for fact-sized query sets."
        )
    if not probe:
        return ivf_pq_rerank_topk(corpus, queries, centroids, codebooks, k, nprobe, rerank_from)
    cents = np.array(centroids, dtype=np.int64)
    books = np.array(codebooks, dtype=np.int64)
    m, ksub, sub = books.shape
    ncells = cents.shape[0]
    qids = np.array([r["query_id"] for r in probe], dtype=np.int64)
    Qf = np.array([list(r["qe"]) for r in probe], dtype=np.float64)
    QQ = np.floor(Qf * float(QUANT_SCALE)).astype(np.int64)  # = quantize_vec
    cnsq_sqrt = np.sqrt((cents * cents).sum(axis=1).astype(np.float64))
    # per-query probed cells: same score (exact int dot / sqrt |c|^2 in
    # IEEE double) and the same lower-cell tie-break as _cell_scores
    qscores = (QQ @ cents.T).astype(np.float64) / cnsq_sqrt[None, :]
    probe_cells = np.stack(
        [np.lexsort((np.arange(ncells), -qscores[i]))[:nprobe] for i in range(len(qids))]
    )
    T = np.einsum("qsd,scd->qsc", QQ.reshape(len(qids), m, sub), books)  # exact
    bnsq = (books * books).sum(axis=2)  # (m, ksub), exact
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((qids, T, probe_cells))

    def part(batches):
        import pandas as pd

        ids, Tq, pc = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            X = np.floor(E * float(QUANT_SCALE)).astype(np.int64)
            cell = ((X @ cents.T).astype(np.float64) / cnsq_sqrt[None, :]).argmax(axis=1)
            Xs = X.reshape(len(E), m, sub)
            codes = np.empty((len(E), m), dtype=np.int64)
            for s in range(m):
                scores = 2 * (Xs[:, s] @ books[s].T) - bnsq[s][None, :]
                codes[:, s] = scores.argmax(axis=1)  # first max = lowest code
            vecids = pdf["vec_id"].to_numpy(dtype=np.int64)
            out_q, out_n, out_a = [], [], []
            for j in range(len(ids)):
                mask = np.isin(cell, pc[j]) & (vecids != ids[j])
                idx = np.nonzero(mask)[0]
                if idx.size == 0:
                    continue
                adc = np.zeros(idx.size, dtype=np.int64)
                for s in range(m):
                    adc += Tq[j, s][codes[idx, s]]
                order = np.lexsort((vecids[idx], -adc))[:rerank_from]
                sel = idx[order]
                out_q.extend([ids[j]] * len(sel))
                out_n.extend(vecids[sel])
                out_a.extend(adc[order])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "adc": out_a})

    local = corpus.select("vec_id", "embedding").mapInPandas(
        part, "query_id long, neighbor_id long, adc long"
    )
    wprune = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    cand = (
        local.withColumn("crnk", F.row_number().over(wprune))
        .where(F.col("crnk") <= rerank_from)
        .select("query_id", "neighbor_id")
    )
    return _exact_cos_rerank(corpus, queries, cand, k)


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
    pays exactly the per-query ADC LUT gathers over probed-cell rows —
    no embedding decode, no cell argmax, no PQ encode, no float math
    until the exact re-rank over the ≤ queries x rerank_from survivors.
    Row-equal to the fold twin by the q130<->q56 contract (pinned in
    tests/test_ann_maintenance.py): same integer ADC sums, same
    (-adc, neighbor_id) prune order, shared ``_exact_cos_rerank`` tail.

    At deployment scale the int64 code table is the only relation the
    prune ever scans (~1.5 TB for a 100 TB float corpus), and each Arrow
    batch contributes at most queries x rerank_from narrow rows to the
    global prune window."""
    import numpy as np

    probe = queries.select("query_id", "qe").limit(_MAX_DRIVER_QUERIES + 1).collect()
    if len(probe) > _MAX_DRIVER_QUERIES:
        raise ValueError(
            f"ivf_pq_rerank_from_index_vectorized: query set exceeds "
            f"{_MAX_DRIVER_QUERIES} rows; shard the query table for "
            "fact-sized query sets."
        )
    if not probe:
        return ivf_pq_rerank_from_index(
            index, corpus, queries, centroids, codebooks, k, nprobe, rerank_from
        )
    cents = np.array(centroids, dtype=np.int64)
    books = np.array(codebooks, dtype=np.int64)
    m, ksub, sub = books.shape
    ncells = cents.shape[0]
    qids = np.array([r["query_id"] for r in probe], dtype=np.int64)
    Qf = np.array([list(r["qe"]) for r in probe], dtype=np.float64)
    QQ = np.floor(Qf * float(QUANT_SCALE)).astype(np.int64)  # = quantize_vec
    cnsq_sqrt = np.sqrt((cents * cents).sum(axis=1).astype(np.float64))
    qscores = (QQ @ cents.T).astype(np.float64) / cnsq_sqrt[None, :]
    probe_cells = np.stack(
        [np.lexsort((np.arange(ncells), -qscores[i]))[:nprobe] for i in range(len(qids))]
    )
    T = np.einsum("qsd,scd->qsc", QQ.reshape(len(qids), m, sub), books)  # exact
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((qids, T, probe_cells))

    def part(batches):
        import pandas as pd

        ids, Tq, pc = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            cell = pdf["cell"].to_numpy(dtype=np.int64)
            codes = np.stack(pdf["code"].to_numpy()).astype(np.int64)
            vecids = pdf["vec_id"].to_numpy(dtype=np.int64)
            out_q, out_n, out_a = [], [], []
            for j in range(len(ids)):
                mask = np.isin(cell, pc[j]) & (vecids != ids[j])
                idx = np.nonzero(mask)[0]
                if idx.size == 0:
                    continue
                adc = np.zeros(idx.size, dtype=np.int64)
                for s in range(m):
                    adc += Tq[j, s][codes[idx, s]]
                order = np.lexsort((vecids[idx], -adc))[:rerank_from]
                sel = idx[order]
                out_q.extend([ids[j]] * len(sel))
                out_n.extend(vecids[sel])
                out_a.extend(adc[order])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "adc": out_a})

    src = index.select("vec_id", "cell", "code")
    # literal filter on the UNION of probed cells: rows outside it are
    # masked out per query anyway, and with the code store partitioned by
    # cell (q247) the scan prunes to the probed directories — the ADC
    # prune reads nprobe∪/ncells of the stored table, not all of it
    probed_all = sorted({int(c) for c in probe_cells.ravel()})
    if len(probed_all) < ncells:
        src = src.where(F.col("cell").isin(*probed_all))
    local = src.mapInPandas(
        part, "query_id long, neighbor_id long, adc long"
    )
    wprune = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    cand = (
        local.withColumn("crnk", F.row_number().over(wprune))
        .where(F.col("crnk") <= rerank_from)
        .select("query_id", "neighbor_id")
    )
    return _exact_cos_rerank(corpus, queries, cand, k)


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
    int64 scores, same tie rules; asserted row-equal in tests for the
    q104<->q109 twins), while the ~4,000-literal encode fold (seconds of
    driver plan analysis) never builds."""
    cand = pq_adc_topk_vectorized(corpus, queries, codebooks, k=rerank_from).select(
        "query_id", "neighbor_id"
    )
    withq = cand.join(F.broadcast(queries.select("query_id", "qe")), "query_id")
    ne = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
    )
    pairs = ne.join(F.broadcast(withq), "neighbor_id")
    cos = F.round(
        dot(F.col("qe"), F.col("ne")) / (norm(F.col("qe")) * norm(F.col("ne"))), 4
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )
