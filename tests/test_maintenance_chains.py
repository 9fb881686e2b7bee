"""Multi-batch chains through the manifest-append store: the lifecycle
heads exercise ONE append (v1 + batch); a deployment appends every
ingest batch forever. These tests pin that a CHAIN of append_version
steps still reads back exactly the from-scratch artifact — the property
that makes the maintained indexes correct on day 300, not just day 2.

Tranches are cut by the same doc-hash arithmetic the heads use
(functions/hashing.SPLIT_SQL): t1 = hash < 600, t2 = 600..799, t3 = >= 800.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.hashing import SPLIT_SQL
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.text import tokens
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources import versioned as V

SF_SMOKE = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def _tranches(df):
    h = F.expr(SPLIT_SQL.format(x="doc_id"))
    return df.where(h < 600), df.where((h >= 600) & (h < 800)), df.where(h >= 800)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_lexical_index_three_batch_chain(spark, tmp_path):
    """tf/dl stores after v1 + two appends == from-scratch tokenization
    of the full corpus."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.lexical_maintenance import (
        index_rows,
    )

    docs = _docs(spark).select("doc_id", "text")
    t1, t2, t3 = _tranches(docs)
    tf_p, dl_p = str(tmp_path / "tf"), str(tmp_path / "dl")

    tf1, dl1 = index_rows(t1)
    V.write_version(tf1, tf_p)
    V.write_version(dl1, dl_p)
    for t in (t2, t3):
        tf_b, dl_b = index_rows(t)
        V.append_version(tf_b, tf_p)
        V.append_version(dl_b, dl_p)

    tf_all, dl_all = index_rows(docs)
    assert _rows(V.read_current(spark, tf_p)) == _rows(tf_all)
    assert _rows(V.read_current(spark, dl_p)) == _rows(dl_all)
    # and the chain survives a vacuum (referenced dirs kept)
    V.vacuum(tf_p, keep=1)
    assert _rows(V.read_current(spark, tf_p)) == _rows(tf_all)


def test_signature_table_three_batch_chain(spark, tmp_path):
    """The banded signature store after v1 + two appends == the
    from-scratch banded table over all docs."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.dedup import (
        banded_signature_table,
        shingle_sets,
    )

    docs = _docs(spark).select("doc_id", tokens("text").alias("ts"))
    sh = shingle_sets(docs, 3).localCheckpoint()
    h = F.expr(SPLIT_SQL.format(x="doc_id"))
    p = str(tmp_path / "sig")

    V.write_version(banded_signature_table(shingles=sh.where(h < 600)), p)
    V.append_version(
        banded_signature_table(shingles=sh.where((h >= 600) & (h < 800))), p
    )
    V.append_version(banded_signature_table(shingles=sh.where(h >= 800)), p)

    assert _rows(V.read_current(spark, p)) == _rows(
        banded_signature_table(shingles=sh)
    )


def test_census_three_batch_chain(spark, tmp_path):
    """Census state merged across two append batches == the from-scratch
    state — the mergeability identities composed, not just applied once."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.census_maintenance import (
        _census_state,
        _merge_kmv,
        _merge_stats,
    )

    docs = _docs(spark).select("doc_id", "source", "text", "n_chars")
    t1, t2, t3 = _tranches(docs)
    sp, kp = str(tmp_path / "stats"), str(tmp_path / "kmv")

    s1, k1 = _census_state(t1)
    V.write_version(s1, sp)
    V.write_version(k1, kp)
    for t in (t2, t3):
        sb, kb = _census_state(t)
        V.write_version(_merge_stats(V.read_current(spark, sp), sb), sp)
        V.write_version(_merge_kmv(V.read_current(spark, kp), kb), kp)

    s_all, k_all = _census_state(docs)
    assert _rows(V.read_current(spark, sp)) == _rows(s_all)
    assert _rows(V.read_current(spark, kp)) == _rows(k_all)


def test_pq_code_table_three_batch_chain(spark, tmp_path):
    """The IVF-PQ code store after v1 + two appends == from-scratch
    encoding of every vector with the same (corpus-trained) quantizers,
    and the stored-codes probe over the chained store equals the probe
    over the from-scratch relation."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_rerank_from_index_vectorized,
        kmeans_fit,
        pq_fit,
    )

    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    h = F.expr(SPLIT_SQL.format(x="vec_id"))
    t1, t2, t3 = emb.where(h < 600), emb.where((h >= 600) & (h < 800)), emb.where(h >= 800)
    cents = kmeans_fit(t1, k=8, max_iter=8)
    books = pq_fit(t1, m=4, ksub=8, max_iter=4)
    p = str(tmp_path / "pq")

    V.write_version(ivf_pq_index(t1, cents, books), p)
    V.append_version(ivf_pq_index(t2, cents, books), p)
    V.append_version(ivf_pq_index(t3, cents, books), p)

    scratch = ivf_pq_index(emb, cents, books)
    assert _rows(V.read_current(spark, p)) == _rows(scratch)

    qs = t3.where(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    got = ivf_pq_rerank_from_index_vectorized(
        V.read_current(spark, p), emb, qs, cents, books, k=5, nprobe=3, rerank_from=20
    ).select("query_id", "neighbor_id", "cos", "rnk")
    want = ivf_pq_rerank_from_index_vectorized(
        scratch, emb, qs, cents, books, k=5, nprobe=3, rerank_from=20
    ).select("query_id", "neighbor_id", "cos", "rnk")
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) > 0


def test_ivf_drift_chain_recall_machinery(spark, tmp_path):
    """Index aging (r10): a 3-append chain whose later batches come from
    SHIFTED embedding distributions (reverse / negate — orthogonal
    transforms, so norms are preserved but the v1 cell structure is
    wrong for them), assigned through the STALE v1 centroids. Pins that
    (a) the chained store still equals from-scratch assignment with the
    same centroids (append correctness is drift-independent), and
    (b) q251's recall machinery yields a valid per-step curve, with the
    refreshed (retrained) index recovering at least the stale index's
    recall on the drifted queries. The decay curve once measured at
    scale is recorded in SCALE_NOTES."""
    from pyspark.sql import functions as F

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        assign_cells,
        brute_force_topk_vectorized,
        ivf_topk_from_index_vectorized,
        kmeans_fit,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    third = F.col("vec_id") % 3
    t1 = emb.where(third == 0)
    # drifted tranches: orthogonal transforms of the raw vectors
    t2 = emb.where(third == 1).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    t3 = emb.where(third == 2).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    cents_v1 = kmeans_fit(t1, k=8, max_iter=8)
    p = str(tmp_path / "drift")

    V.write_version(assign_cells(t1, cents_v1), p, partition_by=["cell"])
    union = t1
    recalls = []
    for t in (t2, t3):
        V.append_version(assign_cells(t, cents_v1), p, partition_by=["cell"])
        union = union.unionByName(t)
        qs = t.where(F.col("vec_id") % 7 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
        )
        exact = brute_force_topk_vectorized(union, qs, k=5).select(
            "query_id", "neighbor_id"
        )
        approx = ivf_topk_from_index_vectorized(
            V.read_current(spark, p), qs, cents_v1, k=5, nprobe=3
        ).select("query_id", "neighbor_id")
        nq = qs.count()
        hits = exact.join(approx, ["query_id", "neighbor_id"]).count()
        recalls.append(hits / (nq * 5))

    # (a) chain == from-scratch assignment with the same stale centroids
    scratch = assign_cells(t1, cents_v1).unionByName(
        assign_cells(t2, cents_v1)
    ).unionByName(assign_cells(t3, cents_v1))
    assert _rows(V.read_current(spark, p)) == _rows(scratch)
    # (b) the recall curve is valid and the refresh recovers
    assert all(0.0 <= r <= 1.0 for r in recalls), recalls
    cents_fresh = kmeans_fit(union, k=8, max_iter=8)
    V.write_version(assign_cells(union, cents_fresh), p, partition_by=["cell"])
    qs3 = t3.where(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    exact3 = brute_force_topk_vectorized(union, qs3, k=5).select(
        "query_id", "neighbor_id"
    )
    fresh = ivf_topk_from_index_vectorized(
        V.read_current(spark, p), qs3, cents_fresh, k=5, nprobe=3
    ).select("query_id", "neighbor_id")
    nq3 = qs3.count()
    r_fresh = exact3.join(fresh, ["query_id", "neighbor_id"]).count() / (nq3 * 5)
    assert r_fresh >= recalls[-1] - 1e-9, (r_fresh, recalls)
