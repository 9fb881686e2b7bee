"""Tests for dedup + similarity operators on synthetic fixtures with known
duplicate structure (the sf0.01 documents table has no exact dups, so we
construct our own)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.text import tokens
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.dedup import (
    minhash_lsh_candidates,
    simhash64,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.extensions import (
    exhaustive_jaccard_pairs,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import QUERIES

from conftest import SF_SMOKE

BASE = "the quick brown fox jumps over the lazy dog and runs far away into the hills tonight"


def _docs(spark):
    rows = [
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=BASE),  # exact dup of 1
        Row(doc_id=3, text=BASE.replace("lazy", "sleepy")),  # near dup of 1
        Row(doc_id=4, text="completely different words about spark query engines and shuffles here"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup_groups_identical_docs(spark):
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.text import fingerprint

    d = _docs(spark)
    grouped = (
        d.groupBy(fingerprint("text").alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
        .collect()
    )
    by_keep = {r["keep_id"]: r["dup_count"] for r in grouped}
    assert by_keep[1] == 2  # docs 1+2 collapse
    assert by_keep[3] == 1 and by_keep[4] == 1


def test_minhash_lsh_finds_near_dups_not_distant_docs(spark):
    d = _docs(spark).select("doc_id", tokens("text").alias("ts"))
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(d).collect()}
    assert (1, 2) in pairs  # exact dups always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup likely banded together
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_simhash_identical_docs_equal_and_near_docs_close(spark):
    d = _docs(spark).select("doc_id", simhash64(F.col("text")).alias("sh"))
    got = {r["doc_id"]: r["sh"] for r in d.collect()}
    assert got[1] == got[2]
    ham_near = bin((got[1] ^ got[3]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((got[1] ^ got[4]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far


def test_embedding_topk_shape_and_selfexclusion(spark):
    df = QUERIES["q39_embedding_topk"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    per_q = {}
    for r in rows:
        assert r["query_id"] != r["neighbor_id"]
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rs in per_q.items():
        assert [r["rnk"] for r in sorted(rs, key=lambda r: r["rnk"])] == list(range(1, len(rs) + 1))
        coss = [r["cos"] for r in sorted(rs, key=lambda r: r["rnk"])]
        assert coss == sorted(coss, reverse=True)


def test_ngram_jaccard_flags_near_dup_pair(spark):
    d = _docs(spark)
    d.createOrReplaceTempView("tmp_docs")
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.text import (
        word_shingles,
    )

    sh = d.select("doc_id", F.explode(word_shingles(tokens("text"), 3)).alias("shingle"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .count()
        .collect()
    )
    pairs = {(r["da"], r["db"]): r["count"] for r in inter}
    assert pairs[(1, 2)] >= 10  # exact dup shares all shingles
    assert (1, 4) not in pairs


def test_lsh_candidates_superset_exact_jaccard_pairs(spark):
    """q37's LSH candidates must contain every exact >=0.5-Jaccard pair that
    q36 finds on the real corpus — the recall contract that lets q73 source
    its dup-graph edges from LSH instead of the quadratic shingle self-join.
    At 32 hashes / 16 bands of 2, a pair at Jaccard s is missed with prob
    (1-s^2)^16 — ~1e-12 at the s>=0.89 this corpus's dups sit at."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in exhaustive_jaccard_pairs(spark, SF_SMOKE).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["q37_minhash_lsh_pairs"](spark, SF_SMOKE).collect()
    }
    assert exact, "fixture corpus lost its near-dup pairs"
    assert exact <= cand, f"LSH missed exact pairs: {sorted(exact - cand)[:5]}"


def test_simhash_chunk_blocking_captures_all_small_hamming_pairs(spark):
    """q53's pigeonhole contract, certified against exhaustive ground truth:
    any pair within Hamming 3 of the full 64-bit signature cannot differ in
    every 16-bit chunk, so chunk-equality blocking MUST surface it. (Pairs
    at Hamming 4..12 are best-effort — that's the documented trade.)"""
    import numpy as np

    rows = QUERIES["q38_simhash"](spark, SF_SMOKE).collect()
    # signatures are signed int64 in Spark; reinterpret the bits (negative
    # int -> uint64 via np.array is a numpy DeprecationWarning, future error)
    sigs = np.array([r["simhash"] for r in rows], dtype=np.int64).view(np.uint64)
    ids = np.array([r["doc_id"] for r in rows], dtype=np.int64)
    # exhaustive Hamming over the full corpus, driver-side numpy
    x = sigs[:, None] ^ sigs[None, :]
    ham = np.zeros_like(x, dtype=np.int64)
    for shift in range(64):
        ham += ((x >> np.uint64(shift)) & np.uint64(1)).astype(np.int64)
    iu, ju = np.triu_indices(len(ids), k=1)
    tight = {(int(min(a, b)), int(max(a, b)))
             for a, b in zip(ids[iu[ham[iu, ju] <= 3]], ids[ju[ham[iu, ju] <= 3]])}
    got = {(r["doc_a"], r["doc_b"])
           for r in QUERIES["q53_simhash_near_pairs"](spark, SF_SMOKE).collect()}
    assert tight, "fixture corpus has no tight near-dup signatures"
    assert tight <= got, f"blocking missed guaranteed pairs: {sorted(tight - got)[:5]}"


def test_quantized_topk_recall_vs_exact(spark):
    """q104's int8 compressed-domain ranking must agree with exact cosine
    (q39) at recall@5 >= 0.9 on the fixture — the quantized cosine differs
    from the true one by O(1/127), far below the typical neighbor gap."""
    exact: dict[int, set[int]] = {}
    for r in QUERIES["q39_embedding_topk"](spark, SF_SMOKE).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    quant: dict[int, set[int]] = {}
    for r in QUERIES["q104_quantized_topk"](spark, SF_SMOKE).collect():
        quant.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert exact and set(exact) == set(quant)
    hits = sum(len(exact[q] & quant[q]) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.9, f"recall@5 {hits/total:.3f}"


def test_quantized_vectorized_equals_column_fold(spark):
    """q109's BLAS kernel must produce exactly q104's rows — same int8
    codes (half-away rounding), same exact integer dots, same round-4
    quantized cosines and tie-breaks."""
    a = sorted(map(tuple, QUERIES["q104_quantized_topk"](spark, SF_SMOKE).collect()))
    b = sorted(
        map(tuple, QUERIES["q109_quantized_topk_vectorized"](spark, SF_SMOKE).collect())
    )
    assert a and a == b


def test_substring_dedup_detect_clean_consistency(spark):
    """q135 (detect) and q137 (clean) must agree: a doc loses tokens ONLY
    if it carries a duplicated span (appears in q135's output), and every
    doc with no duplicated span keeps every token. Also basic soundness:
    kept <= total, the cleaned text really has n_kept tokens, and the
    corpus (which contains planted exact dups) loses tokens somewhere."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
        QUERIES,
    )
    from conftest import SF_SMOKE

    spans = QUERIES["q135_substring_dup_spans"](spark, SF_SMOKE).collect()
    cleaned = QUERIES["q137_substring_dedup_clean"](spark, SF_SMOKE).collect()
    docs_with_spans = {r["doc_id"] for r in spans}
    assert cleaned, "clean pass returned nothing"
    lost_any = False
    for r in cleaned:
        assert r["n_kept"] <= r["n_tokens"], r
        n_text_tokens = len(r["cleaned_text"].split()) if r["cleaned_text"] else 0
        assert n_text_tokens == r["n_kept"], r
        if r["n_kept"] < r["n_tokens"]:
            lost_any = True
            assert r["doc_id"] in docs_with_spans, (
                "doc lost tokens without a detected span", r["doc_id"],
            )
    assert lost_any, "corpus with planted dups lost no tokens at all"
    # docs without any duplicated span must be untouched
    for r in cleaned:
        if r["doc_id"] not in docs_with_spans:
            assert r["n_kept"] == r["n_tokens"], r


def test_prefix_filter_jaccard_equals_exhaustive_corpus(spark):
    """q163's prefix-filtered join is EXACT: row-identical to q36's
    exhaustive inverted-index formulation on the real corpus (the
    pigeonhole no-false-negatives guarantee, operators/dedup.
    prefix_filter_jaccard_pairs)."""
    exact = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in exhaustive_jaccard_pairs(spark, SF_SMOKE).collect()
    }
    pref = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in QUERIES["q163_jaccard_prefix_join"](spark, SF_SMOKE).collect()
    }
    assert pref == exact and exact


def test_prefix_filter_jaccard_hot_shingle_regime(spark):
    """The regime q163 exists for: a boilerplate shingle shared by EVERY
    doc (the hot-bucket killer for q36's self-join). Prefix filtering must
    still return exactly the true >=0.5 pairs — the hot shingle sorts
    last in every doc's frequency order and drops out of the prefixes,
    but the pigeonhole still finds every qualifying pair via rare
    shingles."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
        shingle_sets,
    )

    boiler = "terms of service apply to all content"  # shared by all docs
    rows = [
        Row(doc_id=1, text=f"{BASE} {boiler}"),
        Row(doc_id=2, text=f"{BASE} {boiler}"),  # exact dup of 1
        Row(doc_id=3, text=f"{BASE.replace('lazy', 'sleepy')} {boiler}"),
        Row(doc_id=4, text=f"unrelated spark shuffle partition skew essay words {boiler}"),
    ]
    docs = spark.createDataFrame(rows).select("doc_id", tokens("text").alias("ts"))
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # brute-force truth over the tiny fixture
    sets = {
        r["doc_id"]: set(r["sh"])
        for r in shingle_sets(docs).groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh")).collect()
    }
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= 0.5:
                want[(a, b)] = round(j, 4)
    assert got == want
    assert (1, 2) in got and (4, 1) not in got and (1, 4) not in got


def test_prefix_filter_jaccard_nonbinary_threshold(spark):
    """t = 0.3 exercises the ulp guards (0.3*n lands one ulp above exact
    integers): output must still equal the brute-force >=0.3 pair set."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
        shingle_sets,
    )

    rows = [
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=BASE.replace("lazy", "sleepy").replace("quick", "swift")),
        Row(doc_id=3, text="some moderately overlapping text the quick brown fox appears here too"),
        Row(doc_id=4, text="entirely disjoint content about query engines and window functions"),
    ]
    docs = spark.createDataFrame(rows).select("doc_id", tokens("text").alias("ts"))
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(docs, threshold=0.3).collect()
    }
    sets = {
        r["doc_id"]: set(r["sh"])
        for r in shingle_sets(docs).groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh")).collect()
    }
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= 0.3:
                want[(a, b)] = round(j, 4)
    assert got == want and want


def _containment_truth(docs, threshold):
    """Brute-force directed containment over a tokenized docs df."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.dedup import (
        shingle_sets,
    )

    sets = {
        r["doc_id"]: set(r["sh"])
        for r in shingle_sets(docs).groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh")).collect()
    }
    want = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a != b:
                c = len(sa & sb) / len(sa)
                if c >= threshold:
                    want[(a, b)] = round(c, 4)
    return want


def test_containment_equals_exhaustive_corpus(spark):
    """q204's one-sided prefix-filtered containment join is EXACT: equal
    to the brute-force directed |A∩B|/|A| >= 0.9 pair set on the real
    corpus (operators/dedup.prefix_filter_containment_pairs)."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.base import _t

    docs = _t(spark, SF_SMOKE, "documents").select("doc_id", tokens("text").alias("ts"))
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in QUERIES["q204_containment_join"](spark, SF_SMOKE).collect()
    }
    assert got == _containment_truth(docs, 0.9) and got


def test_containment_detects_quote_jaccard_misses(spark):
    """The operator's reason to exist: a short passage quoted inside a
    long page has high containment but low Jaccard. The directed pair
    (quote, page) must appear WITHOUT its reverse, and the same pair must
    be invisible to the symmetric >=0.5 Jaccard join."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.dedup import (
        prefix_filter_containment_pairs,
        prefix_filter_jaccard_pairs,
    )

    page = (
        "intro paragraph about storage engines and columnar layouts "
        + BASE
        + " closing thoughts compare shuffle hash join and sort merge join strategies"
    )
    rows = [
        Row(doc_id=1, text=BASE),  # the quote
        Row(doc_id=2, text=page),  # the page embedding it
        Row(doc_id=3, text="unrelated essay on watermark semantics in streaming systems today"),
    ]
    docs = spark.createDataFrame(rows).select("doc_id", tokens("text").alias("ts"))
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in prefix_filter_containment_pairs(docs, threshold=0.9).collect()
    }
    assert got == _containment_truth(docs, 0.9)
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (2, 1) not in got  # directed: the page is NOT inside the quote
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filter_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) not in jac and (2, 1) not in jac


def test_containment_nonbinary_threshold(spark):
    """t = 0.7 exercises the ulp guards on the containment bound
    (ceil(0.7*n) sits one ulp above exact integers for n % 10 == 0)."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.dedup import (
        prefix_filter_containment_pairs,
    )

    rows = [
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=BASE.replace("lazy", "sleepy")),
        Row(doc_id=3, text=BASE + " extra trailing commentary appended at the end here"),
        Row(doc_id=4, text="entirely disjoint content about query engines and window functions"),
    ]
    docs = spark.createDataFrame(rows).select("doc_id", tokens("text").alias("ts"))
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in prefix_filter_containment_pairs(docs, threshold=0.7).collect()
    }
    assert got == _containment_truth(docs, 0.7) and got


_ZERO_VEC = 99

_DEDUP_KERNELS = {
    "lsh_dup_pairs": lambda S, emb: S.lsh_dup_pairs(emb, S.hyperplanes(8, 64), threshold=0.45, bands=2),
    "semantic_dedup_cells": lambda S, emb: S.semantic_dedup_cells(emb, S.kmeans_fit(emb, k=4), threshold=0.45),
    "blocked_dup_pairs_vectorized": lambda S, emb: S.blocked_dup_pairs_vectorized(
        emb, threshold=0.45, block_col="label"
    ),
}


@pytest.mark.parametrize("kernel", sorted(_DEDUP_KERNELS))
def test_dedup_kernels_zero_norm_contract(spark, kernel):
    """A zero vector has no cosine: the dedup kernels neither fail on one
    (ANSI division by a zero norm) nor name it in any output row, and
    still find the planted duplicates around it. Fixture: 31 small-integer
    64-d vectors, exact copies of the first 8 (ids 31..38), one zero
    vector."""
    import numpy as np

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators import similarity as S

    base = np.random.RandomState(7).randint(-3, 4, size=(31, 64)).astype(float)
    vecs = list(base) + list(base[:8]) + [np.zeros(64)]
    ids = list(range(39)) + [_ZERO_VEC]
    emb = spark.createDataFrame(
        [(i, "x", [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, label string, embedding array<float>",
    )
    rows = _DEDUP_KERNELS[kernel](S, emb).collect()
    if kernel == "semantic_dedup_cells":
        assert _ZERO_VEC not in {r["vec_id"] for r in rows}
        assert {r["vec_id"] for r in rows if r["kept"] == 0} >= set(range(31, 39))
    else:
        assert not [r for r in rows if _ZERO_VEC in (r["vec_a"], r["vec_b"])]
        assert {(r["vec_a"], r["vec_b"]) for r in rows} >= {(i, 31 + i) for i in range(8)}
