"""Fuzzy-deduplication operators: MinHash+LSH and SimHash.

Not in the reference (SURVEY.md §2.6 — no UDFs, no fuzzy ops anywhere);
built for the 100 TB training-data north star (BASELINE.json).

Scale design:
* MinHash signatures are computed with Column expressions only — pure JVM,
  partial-aggregatable ``min()`` per hash seed, so the signature build is
  one hash-aggregate over the exploded (doc, shingle) relation. The hash
  family is md5-derived (one md5 per shingle, k hashes by Carter-Wegman
  mixing mod a Mersenne prime), which is deterministic ACROSS ENGINES —
  DuckDB computes the identical signatures, so even this "approximate"
  operator is value-for-value oracle-checkable (same trick as q40's
  deterministic hyperplanes).
* LSH banding turns O(n²) near-dup search into an equi-join on
  (band_index, band_signature) — Spark's hash join does the bucketing;
  band buckets are the only shuffle key. Hot buckets (boilerplate docs)
  are the skew risk; AQE skew-join splitting handles moderate cases.
* SimHash is an Arrow-batched pandas UDF (the documented Python escape
  hatch) — one 64-bit signature per doc, near-dups found by signature
  equality or small Hamming distance.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.rank import distributed_row_number
from ..functions.text import word_shingles

#: storage level for corpus-scale relation checkpoints (the (doc, shingle)
#: relation and its int64-encoded twin). Same lesson as operators/graph.py's
#: _ROUND_LEVEL: memory-backed localCheckpoint blocks are reclaimed only by
#: the async ContextCleaner, and a deserialized 100M+-row string relation
#: inflates 3-5x on heap — the r8 org30 (3M-doc) LSH soak OOM'd a 48g
#: driver exactly here. DISK_ONLY costs one sequential write+read (ms at
#: gate scale, seconds at soak scale) and removes the heap term entirely;
#: shuffle-byte evidence is unaffected (checkpoint blocks are not shuffle).
_CKPT_LEVEL = StorageLevel.DISK_ONLY


#: Carter-Wegman-style family: h_j(s) = (b1(s) + j * b2(s)) mod (2^31 - 1),
#: with b1 = 60 bits and b2 = 55 bits of md5(s). The modulus must be FAR
#: smaller than j*b2 so the reduction actually wraps (~2^29 times even at
#: j=1): with a modulus near the magnitude of the sum nothing wraps, h_j is
#: linear in j, and the same small-base shingle wins the min for EVERY j —
#: 32 perfectly correlated "permutations" (the bug this comment guards).
#: Every intermediate stays far inside int64 under Spark 4's ANSI overflow
#: checking (j*b2 <= 63 * 2^55 ~ 2.3e18 needs j < 64; enforced below).
MINHASH_P = (1 << 31) - 1
_B2_MOD = 1 << 55

#: the LSH shape every MinHash query and its DuckDB oracle share: 32
#: hashes in 16 bands of 2 rows
MINHASH_HASHES = 32
MINHASH_BANDS = 16


def _hash_bases(shingle: Column) -> tuple[Column, Column]:
    """Two independent md5-derived integer bases per shingle (cross-engine:
    DuckDB reproduces them with CAST('0x' || substr(md5(s), ...) AS BIGINT))."""
    m = F.md5(shingle)
    b1 = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
    b2 = F.conv(F.substring(m, 17, 15), 16, 10).cast("long") % F.lit(_B2_MOD)
    return b1, b2


def minhash_signature(shingled: DataFrame, num_hashes: int = MINHASH_HASHES) -> DataFrame:
    """(doc_id, shingle) -> one row per doc with ``h0..h{k-1}`` minhash cols.

    Each permutation j is simulated by the family ``(b1 + j*b2) mod P31``
    over md5-derived bases (two distinct shingles collide at probability
    ~1/P31 per j, and at most one j in [0, P31) can make a given pair
    collide); the min over a doc's shingles approximates the
    permutation-min. Partial+final hash aggregation — no sort, no driver
    state. One md5 per shingle row total (the k hashes are integer
    arithmetic on its two halves), so widening num_hashes is nearly free at
    scan time.
    """
    if num_hashes > 63:
        raise ValueError("num_hashes > 63 would overflow int64 in j*b2")
    b1, b2 = _hash_bases(F.col("shingle"))
    with_bases = shingled.select("doc_id", b1.alias("__b1"), b2.alias("__b2"))
    aggs = [
        F.min((F.col("__b1") + F.lit(j) * F.col("__b2")) % F.lit(MINHASH_P)).alias(f"h{j}")
        for j in range(num_hashes)
    ]
    return with_bases.groupBy("doc_id").agg(*aggs)


def minhash_lsh_candidates(
    docs_tokens: DataFrame,
    num_hashes: int = MINHASH_HASHES,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) sharing >= 1 LSH band.

    docs_tokens: (doc_id, ts: array<string> tokens).
    Returns (doc_a, doc_b, n_bands) where n_bands counts agreeing bands.

    Default 32 hashes / 16 bands of 2 rows: a pair at Jaccard s collides per
    band with prob s^2, so P(candidate) = 1-(1-s^2)^16 — ~0.99 at s=0.5 and
    ~1-1e-12 at s=0.9, while random pairs (s~0) almost never collide. The
    steeper 4-rows-per-band curve trades recall at the 0.5 threshold for
    fewer false candidates; tune per corpus.
    """
    sh = shingle_sets(docs_tokens)
    return _lsh_candidates_from_shingles(sh, num_hashes, bands)


def shingle_sets(docs_tokens: DataFrame, shingle_n: int = 3) -> DataFrame:
    """(doc_id, ts: array<string>) -> distinct (doc_id, shingle) rows."""
    return docs_tokens.select(
        "doc_id", F.explode(word_shingles(F.col("ts"), shingle_n)).alias("shingle")
    ).distinct()


def _banded_signatures(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, shingle) -> exploded (doc_id, sig, band) band-bucket rows.

    ``band`` is deliberately the LAST column: it is the stored table's
    hive-partition key (q239/q245 write the store ``partition_by=['band']``),
    and a partitioned parquet read appends partition columns after the
    data columns — emitting it last keeps builder output and store
    read-back column-order identical."""
    return _bands_from_sigs(minhash_signature(sh, num_hashes), num_hashes, bands)


def _bands_from_sigs(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, h0..h{k-1}) signature rows -> exploded (doc_id, sig, band)."""
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ":", *[F.col(f"h{b * rows_per_band + k}") for k in range(rows_per_band)]
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", F.col("bs.sig").alias("sig"), F.col("bs.band").alias("band"))


def _lsh_candidates_from_shingles(
    sh: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    banded = _banded_signatures(sh, num_hashes, bands)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def minhash_lsh_candidates_salted(
    docs_tokens: DataFrame,
    num_hashes: int = MINHASH_HASHES,
    bands: int = MINHASH_BANDS,
    n_salts: int = 8,
) -> DataFrame:
    """``minhash_lsh_candidates`` with a salted band join — the STRUCTURAL
    hot-band mitigation, row-identical output (asserted in tests).

    Why it exists when AQE skew-join splitting is already on: AQE detects
    skew from COMPRESSED shuffle-partition bytes, and a hot band bucket is
    maximally compressible (thousands of rows carrying the identical sig
    string), so the hot partition's bytes understate its rows and the
    split may not trigger until the bucket is enormous (measured in
    tests/test_skew.py — default thresholds miss a 2000-doc planted
    bucket outright). Salting spreads the bucket unconditionally.

    Shape: the left side keeps one row per (doc, band) with salt =
    xxhash64(doc_id) % n_salts folded into the join key; the right side
    replicates each row to ALL n_salts salt values. A pair meets exactly
    once — at the left doc's salt — so results are identical; a hot bucket
    of n docs becomes n_salts sub-buckets of (n/n_salts) x n pairs, i.e.
    n_salts-way parallelism for the quadratic pair work, at the price of
    an n_salts-x replication of the (narrow) right band relation. Use when
    boilerplate-heavy corpora make band buckets degenerate; the plain
    variant + AQE is right for organic bucket-size distributions."""
    sh = shingle_sets(docs_tokens)
    banded = _banded_signatures(sh, num_hashes, bands)
    a = banded.select(
        "doc_id", "band", "sig",
        F.pmod(F.xxhash64("doc_id"), F.lit(n_salts)).alias("__salt"),
    ).alias("a")
    b = banded.select(
        "doc_id", "band", "sig",
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])).alias("__salt"),
    ).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.__salt") == F.col("b.__salt"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def minhash_jaccard_estimates(docs_tokens: DataFrame) -> DataFrame:
    """Per LSH-candidate pair, the MinHash Jaccard ESTIMATE next to the
    exact value — the sketch-calibration operator: est = (#agreeing
    signature components)/k, exact = |A∩B|/|A∪B| restricted to candidates.

    At 100 TB the exact column is what you sample to validate a corpus
    before trusting the estimate for thresholding; here both are computed
    for every candidate so the estimator's error is a first-class, gated
    relation (E[est] = J and Var = J(1-J)/k per pair under the
    permutation-min model).

    Shape: signatures and the (doc, shingle) relation are localCheckpointed
    once each — sigs feed BOTH the band join and the component comparison,
    sh feeds the signature build and both sides of the exact verify (the
    q135-measured rule: checkpoint any relation with >=2 shuffle
    consumers). No all-pairs stage anywhere: candidates come from band
    buckets, exact Jaccard joins only candidate pairs.
    """
    num_hashes = MINHASH_HASHES
    sh = shingle_sets(docs_tokens).localCheckpoint(storageLevel=_CKPT_LEVEL)
    sigs = minhash_signature(sh, num_hashes).localCheckpoint(storageLevel=_CKPT_LEVEL)
    banded = _bands_from_sigs(sigs, num_hashes, MINHASH_BANDS)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), *[F.col(f"h{j}").alias(f"a{j}") for j in range(num_hashes)])
    sb = sigs.select(F.col("doc_id").alias("doc_b"), *[F.col(f"h{j}").alias(f"b{j}") for j in range(num_hashes)])
    matches = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(num_hashes)
    )
    # est is matches / num_hashes with num_hashes a power of two -- an exact
    # dyadic rational, bit-identical in any engine, so the estimate column
    # needs no rounding
    est = cand.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", (matches.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard")
    )
    exact = _verify_jaccard(cand, sh, threshold=0.0).withColumnRenamed(
        "jaccard", "exact_jaccard"
    )
    return est.join(exact, ["doc_a", "doc_b"])


def lsh_verified_jaccard_pairs(docs_tokens: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact >=threshold Jaccard pairs, found the 100 TB way: LSH band
    candidates first, exact Jaccard computed ONLY on candidates.

    The quadratic alternative (shingle inverted-index self-join, q36) blows
    up on hot shingles; here the only self-join is on (band, signature)
    buckets, and the exact verification joins each candidate pair against
    its two shingle sets — linear in candidates x shingles-per-doc. Returns
    (doc_a, doc_b, jaccard) with jaccard rounded to 4, the same contract as
    the exact operator, minus any true pair whose 16 bands all miss
    (probability (1-s^2)^16, ~1e-12 at the s>=0.89 real dups sit at).
    """
    # the (doc, shingle) relation feeds three consumers (signature build +
    # both sides of the verify join); localCheckpoint materializes the
    # explode+distinct once instead of re-running its shuffle three times
    sh = shingle_sets(docs_tokens).localCheckpoint(storageLevel=_CKPT_LEVEL)
    cand = _lsh_candidates_from_shingles(sh, MINHASH_HASHES, MINHASH_BANDS).select(
        "doc_a", "doc_b"
    )
    return _verify_jaccard(cand, sh, threshold)


def _verify_jaccard(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification restricted to candidate pairs.

    cand: (doc_a, doc_b); sh: distinct (doc_id, shingle). Linear in
    candidates x shingles-per-doc. Returns (doc_a, doc_b, jaccard >= threshold).

    The shingle relation is first semi-joined down to the docs that
    actually appear in a candidate pair, so every downstream join and
    the per-doc size aggregate are CANDIDATE-proportional, not
    corpus-proportional (r8 soak: with the maintained signature table
    the verify's full-corpus shingle shuffle was the dominant remaining
    byte term of an incremental update — exponent 1.36 where batch
    work should be flat). Sizes are unchanged by the filter: a doc's
    shingle count is computed from all ITS shingles, and only candidate
    docs' sizes are ever read. No broadcast hint — the distinct-id
    relation is usually tiny and AQE broadcasts it at runtime, but on a
    dup-heavy corpus it can be fact-sized and the semi-join degrades to
    today's shuffle, never worse."""
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = sh.join(ids, "doc_id", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    # no broadcast hint on sizes: it is one row per DOCUMENT (fact-sized at
    # 100 TB); the small side here is the candidate-pair relation, which AQE
    # picks as the build side at runtime
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def banded_signature_table(shingles: DataFrame) -> DataFrame:
    """The maintained LSH index artifact: (doc_id, band, sig) band-bucket
    rows, the relation a deployment PERSISTS next to the dedup index so
    per-batch maintenance never recomputes corpus-side signatures (the
    corpus-proportional byte term the r8 maintenance soak measured in
    ``incremental_cross_pairs`` — SCALE_NOTES "Maintenance lifecycle
    soak"). Deterministic given the md5-derived Carter-Wegman family, so
    the stored table is bit-stable across rebuilds.

    ``shingles`` is a pre-built distinct (doc_id, shingle) relation."""
    return _banded_signatures(shingles, MINHASH_HASHES, MINHASH_BANDS)


def cross_pairs_from_signature_table(
    stored_banded: DataFrame,
    batch_banded: DataFrame,
    sh: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact >= threshold cross pairs where the corpus side's signatures
    come from a STORED banded table (``banded_signature_table`` output)
    instead of being recomputed: candidates are the (band, sig) equi-join
    of stored x batch — O(batch x collisions) in compute AND bytes — then
    the usual exact-Jaccard verify against the shingle relation. With
    disjoint sides this returns exactly ``incremental_cross_pairs``'s
    relation (pinned in tests/test_signature_maintenance.py)."""
    a, b = stored_banded.alias("a"), batch_banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    return _verify_jaccard(cand, sh, threshold)


def _sid_sets(sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Dictionary-encode a distinct (doc_id, shingle) relation: each
    shingle becomes ``sid``, its dense int64 rank in the global
    (document frequency, shingle) order, rarest first. Returns the narrow
    (doc_id, sid) relation, checkpointed because it feeds the prefix
    build and both verify sides, and each doc's sorted ``ss`` array."""
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # the (df, shingle) dense rank is VOCABULARY-scale, so it must not run
    # as a single-partition window: distributed_row_number buckets by
    # (df, 8-char shingle prefix) — an order-consistent coarsening — and
    # the result is row-identical to the naive global row_number
    dic = distributed_row_number(
        freq,
        ["df", "shingle"],
        F.struct("df", F.substring("shingle", 1, 8)),
        out="sid",
    ).select("shingle", "sid")
    enc = sh.join(dic, "shingle").select("doc_id", "sid").localCheckpoint(storageLevel=_CKPT_LEVEL)
    return enc, enc.groupBy("doc_id").agg(F.sort_array(F.collect_list("sid")).alias("ss"))


def prefix_filter_jaccard_pairs(
    docs_tokens: DataFrame,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact >=threshold Jaccard pairs via PPJoin-style prefix filtering
    (Chaudhuri/Ganti/Kaushik SSJoin, Xiao et al. PPJoin) — the scalable
    EXACT path that retires the naive shingle inverted-index self-join's
    hot-shingle blowup (q36, `weak` since r1).

    Candidate generation joins only each document's PREFIX: sort the
    doc's shingles by (global document frequency, shingle) ascending —
    rarest first, total order identical across docs — and keep the first
    ``L = n - ceil(t*n) + 1`` entries. Any pair with Jaccard >= t shares
    >= ceil(t*max(na,nb)) shingles (inter = J*union >= t*max), and with
    only ``ceil(t*n) - 1`` elements outside each prefix the pigeonhole
    forces a shared PREFIX shingle — no false negatives, so the output is
    value-identical to the exhaustive formulation and carries its oracle.

    Why this is the 100 TB shape: the hot shingles (stopword-only grams
    shared by ~every doc) sort LAST and fall outside almost every prefix,
    so the candidate equi-join's buckets are keyed by RARE shingles with
    small document frequency — the quadratic bucket cost that kills the
    naive join never materializes. Length filter ``least(na,nb) >=
    t*greatest(na,nb)`` prunes cross-size candidates in the join
    condition; exact Jaccard then runs only on surviving candidates
    (same `_verify_jaccard` stage as the LSH pipeline, linear in
    candidates x shingles-per-doc).

    Shuffles: shingle-frequency agg, per-doc sort-array agg, prefix
    self-join, verify joins — all hash-bucketed on bounded keys; no
    all-pairs stage, no driver state.

    Regime bound (measured, tools/stress_prefix_join.py): a shared shingle
    is skipped only when it sorts into the doc's SUFFIX, i.e. while the
    doc's globally-frequent shingles number <= ceil(t*n) - 1 — boilerplate
    up to a ~t fraction of each doc. The realistic crawl shape (short
    footer on a long page) is well inside the bound; a corpus that is
    MOSTLY shared boilerplate at just-below-threshold similarity defeats
    the prefix bound (the rarest shared shingle lands inside every prefix)
    and degrades to the naive join's quadratic bucket — there, only
    approximate candidates (MinHash q37/q98) break the quadratic.

    r5 soak hardening (the 1M-doc measurement's findings, SCALE_NOTES):

    * **PPJoin positional filter** — via a shared shingle at 0-based
      sorted positions (pa, pb), the intersection is bounded above by
      1 + min(na - pa - 1, nb - pb - 1) (all further common shingles sit
      strictly after it in both sorted sets), while J >= t forces
      inter >= ceil(t/(1+t)(na+nb)). No false negatives: for a true pair
      the FIRST common shingle's occurrence satisfies the bound, and
      every qualifying occurrence is kept (a superset of PPJoin's
      canonical first-occurrence check). Measured 2.5x candidate
      reduction on the frequent-shingle soak corpus.
    * **Dictionary-encoded shingles** — every relation after the
      frequency agg carries a dense int64 rank in the (df, shingle)
      total order instead of the shingle string, so the candidate join
      and the verify relation (candidates x shingles-per-doc, the
      dominant shuffle) move ~24-byte rows, not ~60-byte strings.
      Sorting by the rank alone IS the (df, shingle) order, so prefix
      semantics are unchanged. The rank is assigned by
      functions/rank.distributed_row_number (r5: replaced the naive
      global row_number, whose single-partition window was the last
      vocabulary-scale serial pass in this path) — the encode is one
      dictionary join either way.

    ``shingles``: optional pre-built distinct (doc_id, shingle) relation
    for exactly ``docs_tokens`` (caller's contract) — lets a maintenance
    pipeline that runs this kernel on several doc subsets (q239: corpus,
    batch) tokenize/explode ONCE and pass filtered views.
    """
    # two shuffle consumers below (the frequency agg and the dictionary
    # join) — when the shingle relation is built here rather than passed
    # in, checkpoint it so the tokenize + explode + distinct runs once,
    # not twice (the q135-measured >=2-consumer rule; r12 profile caught
    # the ppjoin index build paying the tokenize stage twice)
    sh = (
        shingles
        if shingles is not None
        else shingle_sets(docs_tokens).localCheckpoint(storageLevel=_CKPT_LEVEL)
    )
    enc, arr = _sid_sets(sh)
    n = F.size("ss")
    # epsilon inside ceil: float t*n can land one ulp ABOVE an exact
    # integer (e.g. 0.3*10 = 3.0000000000000004), which would shorten the
    # prefix and break the no-false-negative bound; rounding down by 1e-9
    # only ever LENGTHENS the prefix (safe direction). t = 0.5 is
    # binary-exact and unaffected.
    pref_len = (n - F.ceil(F.lit(threshold) * n - F.lit(1e-9)) + F.lit(1)).cast("int")
    prefix = arr.select(
        "doc_id", n.alias("n"), F.slice("ss", F.lit(1), pref_len).alias("pref")
    )
    # posexplode keeps each prefix entry's 0-based position in the global
    # total order (the prefix is exactly the first pref_len elements) —
    # the positional filter's input
    pj = prefix.select("doc_id", "n", F.posexplode("pref").alias("pos", "sid"))
    a, b = pj.alias("a"), pj.alias("b")
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.n") + F.col("b.n"))
        - F.lit(1e-9)
    )
    ubound = 1 + F.least(
        F.col("a.n") - F.col("a.pos") - 1, F.col("b.n") - F.col("b.pos") - 1
    )
    cand = (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # -1e-9: same ulp guard as the prefix length — a boundary pair
            # (least == t*greatest exactly) must survive the length filter
            & (
                F.least(F.col("a.n"), F.col("b.n"))
                >= F.lit(threshold) * F.greatest(F.col("a.n"), F.col("b.n")) - F.lit(1e-9)
            )
            & (ubound >= alpha),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # int-keyed verify: same _verify_jaccard contract, sid standing in for
    # the shingle (a bijection — intersection counts are identical)
    return _verify_jaccard(cand, enc.select("doc_id", F.col("sid").alias("shingle")), threshold)


def _cross_side_verified_pairs(sh: DataFrame, side: DataFrame, threshold: float) -> DataFrame:
    """Exact >= threshold Jaccard pairs with endpoints on OPPOSITE sides
    of the ``side`` marker (doc_id, __new): LSH band candidates filtered
    to cross-side pairs BEFORE the exact verify, so same-side collisions
    cost nothing. Shared by incremental_near_dedup (batch survivor view)
    and incremental_cross_pairs (index-maintenance edge view)."""
    cand = (
        _lsh_candidates_from_shingles(sh, MINHASH_HASHES, MINHASH_BANDS)
        .select("doc_a", "doc_b")
        .join(side.select(F.col("doc_id").alias("doc_a"), F.col("__new").alias("na")), "doc_a")
        .join(side.select(F.col("doc_id").alias("doc_b"), F.col("__new").alias("nb")), "doc_b")
        .where(F.col("na") != F.col("nb"))
        .select("doc_a", "doc_b")
    )
    return _verify_jaccard(cand, sh, threshold)


def incremental_cross_pairs(
    docs_tokens: DataFrame,
    is_new: Column,
    shingles: DataFrame,
    threshold: float = 0.5,
    corpus_banded: DataFrame | None = None,
) -> DataFrame:
    """The EDGE view of incremental dedup: exact (doc_a, doc_b, jaccard)
    pairs with one endpoint in the new batch and one in the existing
    corpus — what a maintained pair/component index appends per ingest
    batch (q239). Cost is O(batch x collisions), never corpus x corpus.

    ``shingles``: the pre-built distinct (doc_id, shingle) relation for
    ``docs_tokens`` (caller handles its persistence).

    ``corpus_banded``: optional STORED banded signature table for the
    existing-corpus side (``banded_signature_table`` output — the q245
    artifact). When given, this is the DEFAULT deployment path: only the
    batch's signatures are computed and candidates come from the
    (band, sig) equi-join against the stored table, eliminating the
    per-batch corpus-side signature recompute the r8 maintenance soak
    measured as the update's corpus-proportional byte term (SCALE_NOTES
    "Maintenance lifecycle soak"). Returns the identical relation either
    way (pinned in tests/test_signature_maintenance.py) — without it the
    self-contained recompute path runs as the fallback."""
    side = docs_tokens.select("doc_id", is_new.alias("__new"))
    if corpus_banded is not None:
        batch_sh = shingles.join(
            side.where(F.col("__new")).select("doc_id"), "doc_id", "left_semi"
        )
        batch_banded = _banded_signatures(batch_sh, MINHASH_HASHES, MINHASH_BANDS)
        return cross_pairs_from_signature_table(
            corpus_banded, batch_banded, shingles, threshold
        )
    return _cross_side_verified_pairs(shingles, side, threshold)


def incremental_near_dedup(
    docs_tokens: DataFrame,
    is_new: Column,
    threshold: float = 0.5,
    corpus_banded: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the production shape:
    yesterday's 100 TB corpus is already deduped; today's crawl must only be
    checked against (a) itself and (b) the existing corpus, never corpus x
    corpus again.

    docs_tokens: (doc_id, ts) with globally unique ids; ``is_new`` marks the
    batch rows. Returns the batch docs that survive: no existing-corpus doc
    within ``threshold`` Jaccard, as (doc_id, n_shingles).

    Scale shape: with ``corpus_banded`` (the DEFAULT deployment path —
    q103 passes the maintained session-index artifact,
    ``plans/dedup_index.corpus_signatures``) only the BATCH's signatures
    are computed and candidates come from the (band, sig) equi-join
    against the stored table; without it, ONE signature build over the
    union keeps the operator self-contained as the fallback. Either way:
    cross-side candidates only, exact-Jaccard verify on candidates, then
    an anti-join to drop matched batch docs — identical output (pinned in
    tests/test_signature_maintenance.py). Docs too short to shingle
    (< 3 tokens) carry no dedup evidence and are excluded by
    contract (both engines drop them identically).
    """
    tagged = docs_tokens.select("doc_id", "ts", is_new.alias("__new"))
    sh = shingle_sets(tagged).localCheckpoint(storageLevel=_CKPT_LEVEL)
    side = tagged.select("doc_id", "__new")
    if corpus_banded is not None:
        batch_sh = sh.join(
            side.where(F.col("__new")).select("doc_id"), "doc_id", "left_semi"
        )
        batch_banded = _banded_signatures(batch_sh, MINHASH_HASHES, MINHASH_BANDS)
        matched = cross_pairs_from_signature_table(
            corpus_banded, batch_banded, sh, threshold
        )
    else:
        matched = _cross_side_verified_pairs(sh, side, threshold)
    # either endpoint of a verified cross pair may be the batch doc
    dropped = (
        matched.join(side.select(F.col("doc_id").alias("doc_a"), F.col("__new").alias("na")), "doc_a")
        .join(side.select(F.col("doc_id").alias("doc_b"), F.col("__new").alias("nb")), "doc_b")
        .select(F.when(F.col("na"), F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_id"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("int").alias("n_shingles"))
    batch = side.where(F.col("__new")).select("doc_id")
    return batch.join(dropped, "doc_id", "left_anti").join(sizes, "doc_id")


#: per-executor token-hash memo — natural-language vocabularies are heavily
#: repeated across documents, so caching md5(token) turns the per-doc cost
#: into a dict lookup (bounded: cleared if it ever exceeds ~1M entries)
_TOKEN_HASH_CACHE: dict[str, int] = {}


def _token_hash(tok: str) -> int:
    import hashlib

    h = _TOKEN_HASH_CACHE.get(tok)
    if h is None:
        if len(_TOKEN_HASH_CACHE) > 1_000_000:
            _TOKEN_HASH_CACHE.clear()
        h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
        _TOKEN_HASH_CACHE[tok] = h
    return h


def _simhash_batch(texts: pd.Series) -> pd.Series:
    import numpy as np

    out = np.empty(len(texts), dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    for i, t in enumerate(texts):
        toks = set((t or "").strip().lower().split())
        if not toks:
            out[i] = 0
            continue
        hs = np.fromiter((_token_hash(tok) for tok in toks), dtype=np.uint64, count=len(toks))
        bits = (hs[:, None] >> shifts[None, :]) & np.uint64(1)  # (n_tok, 64)
        votes = bits.astype(np.int64) * 2 - 1
        sig_bits = (votes.sum(axis=0) > 0).astype(np.uint64)
        out[i] = (sig_bits << shifts).sum(dtype=np.uint64).astype(np.int64)
    return pd.Series(out)


def simhash64(col: Column) -> Column:
    """64-bit SimHash of whitespace-tokenized text (md5-derived token bits).

    Arrow-batched pandas UDF; ~10-100x a row-at-a-time Python UDF.
    Deterministic: md5 is stable across platforms/runs (unlike Python
    ``hash``). Built lazily so importing this module doesn't require an
    active SparkSession.
    """
    return F.pandas_udf(_simhash_batch, "long")(col)


def prefix_filter_containment_pairs(
    docs_tokens: DataFrame,
    threshold: float = 0.9,
) -> DataFrame:
    """Exact >=threshold set-CONTAINMENT pairs: every directed (doc_a,
    doc_b) with ``|A ∩ B| / |A| >= t`` — doc_a's shingle set mostly inside
    doc_b's. The asymmetric relative of q163's Jaccard join: Jaccard
    misses a short quote embedded in a long page (the union term dilutes
    it), while containment is exactly the "is A quoted/subsumed by B"
    question a training-data pipeline asks before dropping sub-documents.

    Prefix filtering is ONE-SIDED here, which is the structural difference
    from the symmetric join: containment needs ``inter >= ceil(t*|A|)``,
    and only A's set size appears in the bound — so A joins through its
    rarest ``|A| - ceil(t*|A|) + 1`` shingles (pigeonhole: fewer than
    ceil(t*|A|) shingles sit outside that prefix, so some common shingle
    is in it), while B must index its FULL set (the common shingle can sit
    anywhere in B; there is no B-prefix with the no-false-negative
    property). Candidate cost is sum over shingles of
    prefix_df * full_df — still rare-shingle-keyed on the A side, the side
    the bound lets us prune. Two extra exact prunes ride the join: the
    size filter ``|B| >= ceil(t*|A|)`` (B must have room for the required
    intersection) and the positional filter ``1 + min(|A|-pa-1, |B|-pb-1)
    >= ceil(t*|A|)`` (both sets sorted in the same global (df, shingle)
    order; a first common occurrence always satisfies it). Same int64
    dictionary encoding as the Jaccard join — strings never ride the
    candidate or verify shuffles.

    Returns (doc_a, doc_b, containment) — directed; a near-exact dup pair
    appears in both directions, a quote only as (quote, page).
    """
    # two shuffle consumers (frequency agg + dictionary join): checkpoint
    # so tokenize + explode + distinct runs once (same r12 fix as the
    # Jaccard kernel)
    sh = shingle_sets(docs_tokens).localCheckpoint(storageLevel=_CKPT_LEVEL)
    enc, arr = _sid_sets(sh)
    n = F.size("ss")
    # same 1e-9 ulp guard as the Jaccard join: only ever LENGTHENS the
    # prefix / LOOSENS a filter — the safe direction for exactness
    need = F.ceil(F.lit(threshold) * n - F.lit(1e-9))  # required intersection
    pref_len = (n - need + F.lit(1)).cast("int")
    a = arr.select(
        "doc_id", n.alias("na"), F.posexplode(F.slice("ss", F.lit(1), pref_len)).alias("pa", "sid")
    )
    b = arr.select("doc_id", n.alias("nb"), F.posexplode("ss").alias("pb", "sid"))
    need_a = F.ceil(F.lit(threshold) * F.col("a.na") - F.lit(1e-9))
    cand = (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("b.nb") >= need_a)
            & (
                1
                + F.least(
                    F.col("a.na") - F.col("a.pa") - 1, F.col("b.nb") - F.col("b.pb") - 1
                )
                >= need_a
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ea = enc.select(F.col("doc_id").alias("doc_a"), "sid")
    eb = enc.select(F.col("doc_id").alias("doc_b"), "sid")
    inter = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "sid"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = arr.select("doc_id", n.alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cont = F.col("inter") / F.col("na")
    return (
        inter.join(sa, "doc_a")
        .where(cont >= threshold)
        .select("doc_a", "doc_b", F.round(cont, 4).alias("containment"))
    )
