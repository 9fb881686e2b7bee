"""q246 maintained ANN (IVF) index lifecycle (plans/ann_maintenance.py,
operators/similarity.assign_cells / ivf_topk_from_index).

Pinned three ways (the house pattern, mirroring test_signature_maintenance):
(1) the stored-index path returns row-for-row what a from-scratch
``ivf_topk`` over the union computes with the same corpus-trained
centroids — the maintenance ≡ recompute contract; (2) the registered
query matches its fit-replay DuckDB oracle at smoke scale; (3) the store
actually participates — v1 holds corpus assignments only, v2 the full
corpus, and the centroid store holds exactly the k quantizer rows.
"""

from __future__ import annotations

import duckdb

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.hashing import batch_sql, corpus_sql
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
    assign_cells,
    ivf_topk,
    ivf_topk_from_index,
    kmeans_fit,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
    ORACLES,
    QUERIES,
)

from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"
NAME = "q246_ann_index_maintenance"


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _queries(emb):
    return emb.where(F.expr(batch_sql("vec_id")) & (F.col("vec_id") % 5 == 0)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )


def test_stored_index_path_equals_recompute_path(spark):
    """ivf_topk_from_index over (v1-assign ∪ batch-assign) must equal the
    from-scratch ivf_topk over the union with identical centroids —
    cell assignment is deterministic per vector, so the maintained table
    IS the recomputed one."""
    emb = _emb(spark)
    corpus = emb.where(F.expr(corpus_sql("vec_id")))
    batch = emb.where(F.expr(batch_sql("vec_id")))
    cents = kmeans_fit(corpus, k=8, max_iter=8)
    qs = _queries(emb)

    want = sorted(
        tuple(r)
        for r in ivf_topk(emb, qs, cents, k=5, nprobe=3)
        .select("query_id", "neighbor_id", "cos", "rnk")
        .collect()
    )
    maintained = assign_cells(corpus, cents).unionByName(assign_cells(batch, cents))
    got = sorted(
        tuple(r)
        for r in ivf_topk_from_index(maintained, qs, cents, k=5, nprobe=3)
        .select("query_id", "neighbor_id", "cos", "rnk")
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_q246_matches_duckdb_oracle(spark):
    got = [tuple(r) for r in QUERIES[NAME](spark, SF_SMOKE).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/embeddings.parquet')"
    )
    orc = [tuple(r) for r in con.execute(ORACLES[NAME]).fetchall()]
    assert len(got) == len(orc) > 0
    assert got == orc


def test_q246_store_lifecycle(spark):
    """After a run: the run's first append = corpus assignments only;
    current = every vector exactly once; centroid store = the k=8
    quantizer rows; batch vectors appear in current but never in the
    corpus-only version. Versions are addressed RELATIVE to current
    (each run appends two and vacuums to keep=2, so absolute version
    numbers shift when the session has run q246 before)."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.versioned import (
        current_version,
        read_current,
        read_version,
        session_store,
    )

    QUERIES[NAME](spark, SF_SMOKE).collect()
    store = session_store(spark, "ann_index")
    emb = _emb(spark)
    n_all = emb.count()
    n_corpus = emb.where(F.expr(corpus_sql("vec_id"))).count()

    v1 = read_version(spark, store, current_version(store) - 1)
    cur = read_current(spark, store)
    assert v1.count() == n_corpus
    assert cur.count() == n_all
    assert cur.select("vec_id").distinct().count() == n_all
    batch_ids = {
        r["vec_id"] for r in emb.where(F.expr(batch_sql("vec_id"))).select("vec_id").collect()
    }
    v1_ids = {r["vec_id"] for r in v1.select("vec_id").collect()}
    assert not (v1_ids & batch_ids)

    cents = read_current(spark, store + "_centroids")
    assert cents.count() == 8
    assert {f.name for f in cents.schema.fields} == {"cell", "centroid"}


def test_vectorized_index_probe_equals_fold(spark):
    """ivf_topk_from_index_vectorized (the BLAS deployment read path over
    the stored table) must be row-equal to the fold ivf_topk_from_index —
    the q130<->q56 twin contract extended to the maintained-index probe."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        ivf_topk_from_index_vectorized,
    )

    emb = _emb(spark)
    corpus = emb.where(F.expr(corpus_sql("vec_id")))
    batch = emb.where(F.expr(batch_sql("vec_id")))
    cents = kmeans_fit(corpus, k=8, max_iter=8)
    cells = assign_cells(corpus, cents).unionByName(assign_cells(batch, cents))
    qs = _queries(emb)

    want = sorted(
        tuple(r)
        for r in ivf_topk_from_index(cells, qs, cents, k=5, nprobe=3)
        .select("query_id", "neighbor_id", "cos", "rnk")
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in ivf_topk_from_index_vectorized(cells, qs, cents, k=5, nprobe=3)
        .select("query_id", "neighbor_id", "cos", "rnk")
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_q247_stored_codes_equal_recompute(spark):
    """q247's face: ivf_pq_rerank_from_index over (v1-index ∪ batch-index)
    must equal the from-scratch ivf_pq_rerank_topk with the same
    corpus-trained fits — assignment and PQ encode are deterministic per
    vector, so the maintained code table IS the recomputed one."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_rerank_from_index,
        ivf_pq_rerank_topk,
        pq_fit,
    )

    emb = _emb(spark)
    corpus = emb.where(F.expr(corpus_sql("vec_id")))
    batch = emb.where(F.expr(batch_sql("vec_id")))
    cents = kmeans_fit(corpus, k=8, max_iter=8)
    books = pq_fit(corpus, m=4, ksub=8, max_iter=4)
    qs = _queries(emb)

    want = sorted(
        tuple(r)
        for r in ivf_pq_rerank_topk(emb, qs, cents, books, k=5, nprobe=3, rerank_from=20)
        .select("query_id", "neighbor_id", "cos", "rnk")
        .collect()
    )
    maintained = ivf_pq_index(corpus, cents, books).unionByName(
        ivf_pq_index(batch, cents, books)
    )
    got = sorted(
        tuple(r)
        for r in ivf_pq_rerank_from_index(
            maintained, emb, qs, cents, books, k=5, nprobe=3, rerank_from=20
        )
        .select("query_id", "neighbor_id", "cos", "rnk")
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_vectorized_pq_index_probe_equals_fold(spark):
    """ivf_pq_rerank_from_index_vectorized (the ADC LUT deployment read
    path over the stored code table — what q247 registers) must be
    row-equal to the fold ivf_pq_rerank_from_index: same integer ADC
    sums, same (-adc, id) prune order, same exact re-rank tail."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_rerank_from_index,
        ivf_pq_rerank_from_index_vectorized,
        pq_fit,
    )

    emb = _emb(spark)
    corpus = emb.where(F.expr(corpus_sql("vec_id")))
    batch = emb.where(F.expr(batch_sql("vec_id")))
    cents = kmeans_fit(corpus, k=8, max_iter=8)
    books = pq_fit(corpus, m=4, ksub=8, max_iter=4)
    qs = _queries(emb)
    maintained = ivf_pq_index(corpus, cents, books).unionByName(
        ivf_pq_index(batch, cents, books)
    )

    want = sorted(
        tuple(r)
        for r in ivf_pq_rerank_from_index(
            maintained, emb, qs, cents, books, k=5, nprobe=3, rerank_from=20
        )
        .select("query_id", "neighbor_id", "cos", "rnk")
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in ivf_pq_rerank_from_index_vectorized(
            maintained, emb, qs, cents, books, k=5, nprobe=3, rerank_from=20
        )
        .select("query_id", "neighbor_id", "cos", "rnk")
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_q247_matches_duckdb_oracle(spark):
    name = "q247_ivf_pq_index_maintenance"
    got = [tuple(r) for r in QUERIES[name](spark, SF_SMOKE).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/embeddings.parquet')"
    )
    orc = [tuple(r) for r in con.execute(ORACLES[name]).fetchall()]
    assert len(got) == len(orc) > 0
    assert got == orc


def test_q247_store_lifecycle(spark):
    """The code store's current version covers every vector exactly once
    with m=4 codes each; the codebook store holds m*ksub=32 rows; batch
    vectors never appear in the corpus-only version."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.versioned import (
        current_version,
        read_current,
        read_version,
        session_store,
    )

    QUERIES["q247_ivf_pq_index_maintenance"](spark, SF_SMOKE).collect()
    store = session_store(spark, "annpq_index")
    emb = _emb(spark)
    n_all = emb.count()
    n_corpus = emb.where(F.expr(corpus_sql("vec_id"))).count()

    v1 = read_version(spark, store, current_version(store) - 1)
    cur = read_current(spark, store)
    assert v1.count() == n_corpus
    assert cur.count() == n_all
    assert cur.where(F.size("code") != 4).count() == 0
    batch_ids = {
        r["vec_id"] for r in emb.where(F.expr(batch_sql("vec_id"))).select("vec_id").collect()
    }
    assert not ({r["vec_id"] for r in v1.select("vec_id").collect()} & batch_ids)
    books = read_current(spark, store + "_codebooks")
    assert books.count() == 32
