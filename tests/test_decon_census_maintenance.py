"""q249 maintained decontamination index (plans/decontamination.py) and
q250 maintained corpus census (plans/census_maintenance.py).

Both follow the maintenance-head test contract set by
test_signature_maintenance / test_ann_maintenance: (1) the maintained
artifact equals the from-scratch artifact (maintenance ≡ recompute, set
algebra not luck); (2) the registered query matches its exhaustive
DuckDB oracle at smoke scale; (3) the store actually participates in
the lifecycle (both versions present, correct contents).
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.hashing import batch_sql, h60
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.text import tokens
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.decontamination import (
    BENCHMARKS,
    bench_shingle_table,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
    ORACLES,
    QUERIES,
)

SF_SMOKE = "/root/testdata/sf0.001"
Q249 = "q249_decontamination_index_maintenance"
Q250 = "q250_corpus_census_maintenance"


def _oracle_rows(name):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    return [tuple(r) for r in con.execute(ORACLES[name]).fetchall()]


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


# ---------------------------------------------------------------- q249


def test_q249_matches_duckdb_oracle(spark):
    got = [tuple(r) for r in QUERIES[Q249](spark, SF_SMOKE).collect()]
    orc = _oracle_rows(Q249)
    assert len(got) == len(orc) > 0
    assert got == orc
    # the matrix must be non-trivial: some contaminated, some clean rows
    assert any(r[2] > 0 for r in got) and any(r[2] == 0 for r in got)


def test_q249_stored_index_equals_from_scratch(spark):
    """v1(two benchmarks) ∪ v2-append(third) == bench_shingle_table over
    ALL benchmarks — the maintained artifact is exactly the from-scratch
    one."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.versioned import (
        read_current,
        session_store,
    )

    QUERIES[Q249](spark, SF_SMOKE).collect()
    stored = read_current(spark, session_store(spark, "decon_index"))
    d = _docs(spark).select("doc_id", "source", tokens("text").alias("ts"))
    want = sorted(
        tuple(r) for r in bench_shingle_table(d, BENCHMARKS).collect()
    )
    got = sorted(tuple(r) for r in stored.collect())
    assert got == want
    # every registered benchmark present in the stored index (benchmark is
    # the LAST column: it is the store's hive-partition key)
    names = {r["benchmark"] for r in stored.collect()}
    assert names == {name for name, _, _, _ in BENCHMARKS}


def test_q249_probes_batch_only(spark):
    """Every per-source count in the output matrix is the BATCH's doc
    count for that source, never the full corpus's."""
    d = _docs(spark)
    batch_counts = {
        r["source"]: r["n"]
        for r in d.where(F.expr(batch_sql("doc_id")))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out = QUERIES[Q249](spark, SF_SMOKE).collect()
    for r in out:
        # n_contaminated can never exceed the batch's docs of that source
        assert r["n_contaminated"] <= batch_counts.get(r["source"], 0)
        if r["n_contaminated"] > 0:
            rate = r["n_contaminated"] / batch_counts[r["source"]]
            assert abs(rate - r["contamination_rate"]) < 1e-6


# ---------------------------------------------------------------- q250


def test_q250_matches_duckdb_oracle(spark):
    got = [tuple(r) for r in QUERIES[Q250](spark, SF_SMOKE).collect()]
    orc = _oracle_rows(Q250)
    assert len(got) == len(orc) > 0
    assert got == orc


def test_q250_kmv_merge_identity(spark):
    """bottomk(bottomk(corpus) ∪ bottomk(batch)) == bottomk(full) — the
    mergeability identity the maintained sketch state rests on, checked
    at the operator level on real hashes."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.census_maintenance import (
        _census_state,
        _merge_kmv,
    )

    docs = _docs(spark).select("doc_id", "source", "text", "n_chars")
    is_new = F.expr(batch_sql("doc_id"))
    _, kmv_corpus = _census_state(docs.where(~is_new))
    _, kmv_batch = _census_state(docs.where(is_new))
    _, kmv_full = _census_state(docs)

    merged = sorted(
        tuple(r) for r in _merge_kmv(kmv_corpus, kmv_batch).collect()
    )
    scratch = sorted(tuple(r) for r in kmv_full.collect())
    assert merged == scratch
    assert len(merged) > 0


def test_q250_stats_merge_identity(spark):
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.census_maintenance import (
        _census_state,
        _merge_stats,
    )

    docs = _docs(spark).select("doc_id", "source", "text", "n_chars")
    is_new = F.expr(batch_sql("doc_id"))
    s_corpus, _ = _census_state(docs.where(~is_new))
    s_batch, _ = _census_state(docs.where(is_new))
    s_full, _ = _census_state(docs)

    merged = sorted(tuple(r) for r in _merge_stats(s_corpus, s_batch).collect())
    scratch = sorted(tuple(r) for r in s_full.collect())
    assert merged == scratch


def test_q250_store_holds_merged_state(spark):
    """After the run the store's CURRENT version is the merged state:
    per-source kmv row counts are ≤ k and stats cover every source."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.census_maintenance import (
        _CK,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.versioned import (
        read_current,
        session_store,
    )

    QUERIES[Q250](spark, SF_SMOKE).collect()
    store = session_store(spark, "census")
    stats = read_current(spark, store + "_stats")
    kmv = read_current(spark, store + "_kmv")
    docs = _docs(spark)
    n_sources = docs.select("source").distinct().count()
    assert stats.count() == n_sources
    per_src = kmv.groupBy("source").count().collect()
    assert len(per_src) == n_sources
    assert all(r["count"] <= _CK for r in per_src)
    # total docs across sources equals the corpus
    assert stats.agg(F.sum("n_docs")).first()[0] == docs.count()
    # the retained hashes are exactly the k smallest of the full corpus
    docs_h = (
        docs.select("source", h60("text").alias("h")).distinct()
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy("h")
    want = sorted(
        (r["source"], r["h"])
        for r in docs_h.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _CK)
        .select("source", "h")
        .collect()
    )
    got = sorted((r["source"], r["h"]) for r in kmv.collect())
    assert got == want
