"""Invariant tests for the corpus-curation family (q114-q117).

Value-for-value parity is the DuckDB oracle gate; these pin the semantic
invariants that would survive a data refresh.
"""

import math

from pyspark.sql import functions as F

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.curation import (
    _BATCH,
    half_life_weight,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import QUERIES

from conftest import SF_SMOKE


def test_decayed_activity_bounded_by_plain_sum(spark):
    rows = QUERIES["q114_decayed_user_activity"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # weights are in (0, 1]: decayed total never exceeds the plain total
        assert r["decayed_value"] <= r["value_sum"] + 1e-6
        assert r["decayed_value"] >= 0.0
        assert r["n_events"] > 0


def test_half_life_weights_are_exact_powers_of_two(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        half_life_weight(F.col("ts"), F.lit("2024-01-31").cast("date"), 7).alias("w")
    )
    for r in df.distinct().collect():
        # exact binary fractions 2^-k — the determinism contract of q114
        assert r["w"] > 0
        k = round(math.log2(1.0 / r["w"]))
        assert r["w"] == 0.5**k


def test_length_buckets_batch_contract(spark):
    rows = QUERIES["q115_length_bucket_batches"](spark, SF_SMOKE).collect()
    assert rows
    by_bucket = {}
    for r in rows:
        assert r["n_docs"] <= _BATCH
        assert r["max_len"] <= r["bucket"]  # pad-to-bucket never truncates
        assert r["token_sum"] <= r["n_docs"] * r["bucket"]
        assert 0.0 <= r["pad_frac"] < 1.0
        by_bucket.setdefault(r["bucket"], []).append(r["batch_id"])
    n_docs_total = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == n_docs_total
    for bucket, batch_ids in by_bucket.items():
        # batch ids are contiguous from 0 — only the final batch may be short
        assert sorted(batch_ids) == list(range(len(batch_ids)))


def test_hard_negatives_exclude_query_label(spark):
    rows = QUERIES["q116_hard_negatives"](spark, SF_SMOKE).collect()
    assert rows
    per_query = {}
    for r in rows:
        assert r["neighbor_label"] != r["query_label"]
        assert -1.0001 <= r["cos"] <= 1.0001
        per_query.setdefault(r["query_id"], []).append(r)
    for q, rs in per_query.items():
        ranks = sorted(r["rnk"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1)) and len(rs) <= 5
        # ranks ordered by descending cosine
        by_rnk = sorted(rs, key=lambda r: r["rnk"])
        for hi, lo in zip(by_rnk, by_rnk[1:]):
            assert hi["cos"] >= lo["cos"]


def test_filter_gate_keep_is_conjunction_and_rules_bite(spark):
    rows = QUERIES["q117_corpus_filter_gate"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["keep"] == (
            r["ok_len"] and r["ok_word_len"] and r["ok_stop"] and r["ok_mcw"]
        )
        assert 1 <= r["most_common_n"] <= r["n_tok"]
        assert 0 <= r["stop_n"] <= r["n_tok"]
    kept = sum(1 for r in rows if r["keep"])
    # the gate must actually split the corpus (thresholds are data-aware)
    assert 0 < kept < len(rows)
    for rule in ("ok_len", "ok_word_len", "ok_stop", "ok_mcw"):
        assert any(not r[rule] for r in rows), f"{rule} rejects nothing"


def test_pq_encode_codes_in_range(spark):
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        PQ_KSUB,
        PQ_M,
        pq_encode,
        pq_fit,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    books = pq_fit(emb, m=PQ_M, ksub=PQ_KSUB, max_iter=4)
    assert len(books) == PQ_M and all(len(cb) == PQ_KSUB for cb in books)
    rows = pq_encode(emb, books).collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r["code"]) == PQ_M
        assert all(0 <= c < PQ_KSUB for c in r["code"])


def test_pq_identical_vectors_share_codes(spark):
    from pyspark.sql import functions as F

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        pq_encode,
        pq_fit,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    books = pq_fit(emb, m=4, ksub=8, max_iter=4)
    # duplicate every vector under a shifted id: codes must be identical
    n = emb.count()
    dup = emb.select((F.col("vec_id") + n).alias("vec_id"), "embedding")
    enc = pq_encode(emb.unionAll(dup), books).collect()
    by_id = {r["vec_id"]: list(r["code"]) for r in enc}
    for vid in range(n):
        assert by_id[vid] == by_id[vid + n]


def test_pq_adc_topk_rank_contract(spark):
    rows = QUERIES["q118_pq_adc_topk"](spark, SF_SMOKE).collect()
    assert rows
    per_query = {}
    for r in rows:
        per_query.setdefault(r["query_id"], []).append(r)
    for q, rs in per_query.items():
        by_rnk = sorted(rs, key=lambda r: r["rnk"])
        assert [r["rnk"] for r in by_rnk] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        for hi, lo in zip(by_rnk, by_rnk[1:]):
            assert hi["adc_dot"] >= lo["adc_dot"]
        assert all(r["neighbor_id"] != q for r in rs)


def test_pq_vectorized_twin_equals_fold(spark):
    """q120 (numpy ADC kernel) must match q118 (Column-fold, oracle vehicle)
    row-for-row — both compute the same exact int64 scores."""
    fold = {
        (r["query_id"], r["neighbor_id"], r["adc_dot"], r["rnk"])
        for r in QUERIES["q118_pq_adc_topk"](spark, SF_SMOKE).collect()
    }
    vec = {
        (r["query_id"], r["neighbor_id"], r["adc_dot"], r["rnk"])
        for r in QUERIES["q120_pq_adc_topk_vectorized"](spark, SF_SMOKE).collect()
    }
    assert fold == vec and fold


def test_source_drift_bounds_and_coverage(spark):
    rows = QUERIES["q119_source_token_drift"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["tv_drift"] <= 1.0  # TV distance is bounded
        assert 0 < r["n_distinct"] <= r["n_tokens"]
    srcs = {r["source"] for r in rows}
    n_srcs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("source")
        .distinct()
        .count()
    )
    assert len(srcs) == n_srcs


def test_curation_pipeline_consistent_with_gate(spark):
    rows = QUERIES["q121_curation_pipeline"](spark, SF_SMOKE).collect()
    assert rows
    gate = QUERIES["q117_corpus_filter_gate"](spark, SF_SMOKE).collect()
    n_kept = sum(1 for r in gate if r["keep"])
    assert 0 < sum(r["n_docs"] for r in rows) <= n_kept  # dedup only removes
    for r in rows:
        assert r["split"] in ("train", "val", "test")
        assert r["bucket"] in (16, 32, 64, 128)
        assert r["max_len"] <= r["bucket"]
        assert r["token_sum"] <= r["n_docs"] * r["bucket"]


def test_pq_fit_invariant_under_repartition(spark):
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        pq_fit,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    b1 = pq_fit(emb, m=4, ksub=8, max_iter=4)
    b2 = pq_fit(emb.repartition(13), m=4, ksub=8, max_iter=4)
    assert b1 == b2  # codebooks are a pure function of the data, not layout


def test_decayed_sum_invariant_under_repartition(spark):
    """The fixed-decimal weighted sum is associative/commutative — shuffling
    partition layout cannot move a single bit of the result (the property
    that makes q114 safe on any cluster)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DecimalType

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.curation import (
        half_life_weight,
    )

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    wt = half_life_weight(F.col("ts"), F.lit("2024-01-31").cast("date"), 7)

    def decayed(df):
        rows = (
            df.groupBy("user_id")
            .agg(
                F.sum((F.col("value") * wt).cast(DecimalType(18, 6)))
                .cast("double")
                .alias("d")
            )
            .collect()
        )
        return {r["user_id"]: r["d"] for r in rows}

    assert decayed(ev) == decayed(ev.repartition(17))


def test_value_drift_bounds(spark):
    rows = QUERIES["q122_value_drift_by_window"](spark, SF_SMOKE).collect()
    assert rows
    total = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert sum(r["n_ref"] + r["n_cur"] for r in rows) == total
    for r in rows:
        assert 0.0 <= r["tv_drift"] <= 1.0
        assert r["n_ref"] > 0 and r["n_cur"] > 0


def test_pq_rerank_recall_not_below_raw_adc(spark):
    """Exact re-rank of ADC survivors can only improve agreement with the
    exact brute-force top-k (q39), never hurt it."""
    def topsets(qname):
        out = {}
        for r in QUERIES[qname](spark, SF_SMOKE).collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topsets("q39_embedding_topk")
    adc = topsets("q118_pq_adc_topk")
    rer = topsets("q123_pq_adc_rerank")
    def recall(approx):
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    assert recall(rer) >= recall(adc)
    for q, rs in rer.items():
        assert len(rs) <= 5


def test_curriculum_order_properties(spark):
    rows = QUERIES["q124_curriculum_order"](spark, SF_SMOKE).collect()
    assert rows
    pos = [r["curriculum_pos"] for r in rows]
    assert len(set(pos)) == len(pos)  # strict total order
    # within a source, position increases with (n_tok, doc_id)
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["curriculum_pos"])
        keys = [(r["n_tok"], r["doc_id"]) for r in rs]
        assert keys == sorted(keys), src
    # the first |sources| curriculum slots hold each source's shortest doc
    head = sorted(rows, key=lambda r: r["curriculum_pos"])[: len(by_src)]
    assert {r["source"] for r in head} == set(by_src)
    assert all(r["pos_in_source"] == 1 for r in head)


def test_temperature_mix_weights(spark):
    """q201: per alpha the probabilities sum to 1; alpha=1.0 reproduces
    proportional sampling exactly; lower alpha compresses the spread
    (max p decreases, min p increases — the low-resource upsampling
    contract)."""
    from collections import defaultdict

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import QUERIES

    rows = QUERIES["q201_temperature_mix"](spark, SF_SMOKE).collect()
    by_alpha = defaultdict(list)
    for r in rows:
        by_alpha[r["alpha"]].append(r)
    assert set(by_alpha) == {0.3, 0.7, 1.0}
    total = sum(r["corpus_tokens"] for r in by_alpha[1.0])
    for alpha, rs in by_alpha.items():
        assert abs(sum(r["p"] for r in rs) - 1.0) < 1e-4
    for r in by_alpha[1.0]:
        assert abs(r["p"] - r["corpus_tokens"] / total) < 1e-5
    for lo, hi in ((0.3, 0.7), (0.7, 1.0)):
        assert max(r["p"] for r in by_alpha[lo]) <= max(r["p"] for r in by_alpha[hi]) + 1e-9
        assert min(r["p"] for r in by_alpha[lo]) >= min(r["p"] for r in by_alpha[hi]) - 1e-9
