"""q245 maintained signature/band table (plans/signature_maintenance.py,
operators/dedup.banded_signature_table / cross_pairs_from_signature_table).

Pinned three ways: (1) the stored-table path returns row-for-row the
relation `incremental_cross_pairs` finds by recomputing everything —
the maintenance ≡ recompute contract at the operator level; (2) the
registered query matches its exhaustive DuckDB oracle at smoke scale;
(3) the store actually participates — after the run the store holds v1
(corpus signatures) and v2 (corpus ∪ batch), so the NEXT batch needs no
corpus-side signature compute.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.hashing import batch_sql, corpus_sql
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.text import tokens
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.dedup import (
    banded_signature_table,
    cross_pairs_from_signature_table,
    incremental_cross_pairs,
    shingle_sets,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
    ORACLES,
    QUERIES,
)

SF_SMOKE = "/root/testdata/sf0.001"
NAME = "q245_signature_table_maintenance"


def _docs(spark):
    return (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", tokens("text").alias("ts"))
    )


def test_stored_table_path_equals_recompute_path(spark):
    docs = _docs(spark)
    is_new = F.expr(batch_sql("doc_id"))
    sh = shingle_sets(docs, 3).localCheckpoint()

    want = sorted(
        tuple(r)
        for r in incremental_cross_pairs(docs, is_new, threshold=0.5, shingles=sh)
        .select("doc_a", "doc_b", "jaccard")
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in cross_pairs_from_signature_table(
            banded_signature_table(shingles=sh.where(~is_new)),
            banded_signature_table(shingles=sh.where(is_new)),
            sh,
            threshold=0.5,
        ).collect()
    )
    assert got == want
    assert len(got) > 0  # smoke corpus must exercise the cross path


def test_q245_matches_duckdb_oracle(spark):
    got = [tuple(r) for r in QUERIES[NAME](spark, SF_SMOKE).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    orc = [tuple(r) for r in con.execute(ORACLES[NAME]).fetchall()]
    assert len(got) == len(orc) > 0
    assert got == orc


def test_q245_store_holds_both_versions(spark):
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.versioned import (
        read_current,
        session_store,
    )

    QUERIES[NAME](spark, SF_SMOKE).collect()
    store = session_store(spark, "sig_table")
    current = read_current(spark, store)
    # v2 = corpus ∪ batch signatures: every doc that shingles is banded
    docs = _docs(spark)
    n_banded_docs = current.select("doc_id").distinct().count()
    n_shingled = (
        shingle_sets(docs, 3).select("doc_id").distinct().count()
    )
    assert n_banded_docs == n_shingled
    # one (doc, band) row per band per doc
    n_bands = current.groupBy("doc_id").count().select(F.max("count")).first()[0]
    assert n_bands == 16


def test_incremental_cross_pairs_corpus_banded_equals_fallback(spark):
    """`incremental_cross_pairs(corpus_banded=...)` (the r9 default path —
    what q239 runs through the versioned store) must return row-for-row
    the fallback recompute relation."""
    docs = _docs(spark)
    is_new = F.expr(batch_sql("doc_id"))
    sh = shingle_sets(docs, 3).localCheckpoint()
    stored = banded_signature_table(shingles=sh.where(F.expr(corpus_sql("doc_id"))))

    want = sorted(
        tuple(r)
        for r in incremental_cross_pairs(docs, is_new, threshold=0.5, shingles=sh)
        .select("doc_a", "doc_b", "jaccard")
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in incremental_cross_pairs(
            docs, is_new, threshold=0.5, shingles=sh, corpus_banded=stored
        )
        .select("doc_a", "doc_b", "jaccard")
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_incremental_near_dedup_corpus_banded_equals_fallback(spark):
    """q103's face: `incremental_near_dedup` returns the same survivor set
    whether candidates come from the maintained signature table (the r9
    default via plans/dedup_index.corpus_signatures) or the self-contained
    full-union recompute."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.dedup import (
        incremental_near_dedup,
    )

    docs = _docs(spark)
    is_new = F.expr(batch_sql("doc_id"))
    stored = banded_signature_table(
        shingles=shingle_sets(docs.where(F.expr(corpus_sql("doc_id"))), 3)
    )

    want = sorted(
        tuple(r)
        for r in incremental_near_dedup(docs, is_new, threshold=0.5).collect()
    )
    got = sorted(
        tuple(r)
        for r in incremental_near_dedup(
            docs, is_new, threshold=0.5, corpus_banded=stored
        ).collect()
    )
    assert got == want
    assert len(got) > 0


def test_q239_sig_store_holds_corpus_signatures(spark):
    """q239's lifecycle must leave the sibling signature store populated
    with the corpus side's banded table — the artifact the NEXT batch
    probes instead of recomputing corpus signatures."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.versioned import (
        read_current,
        session_store,
    )

    QUERIES["q239_dedup_index_maintenance"](spark, SF_SMOKE).collect()
    sig_store = session_store(spark, "dedup_index") + "_sigs"
    stored = read_current(spark, sig_store)
    docs = _docs(spark)
    n_corpus_shingled = (
        shingle_sets(docs.where(F.expr(corpus_sql("doc_id"))), 3)
        .select("doc_id")
        .distinct()
        .count()
    )
    assert stored.select("doc_id").distinct().count() == n_corpus_shingled
    # batch docs never enter the corpus signature store
    batch_ids = {
        r["doc_id"] for r in docs.where(F.expr(batch_sql("doc_id"))).select("doc_id").collect()
    }
    stored_ids = {r["doc_id"] for r in stored.select("doc_id").distinct().collect()}
    assert not (stored_ids & batch_ids)
