"""q239 versioned dedup-index maintenance + the shared dedup index
(plans/dedup_index).

The maintenance invariant is pinned two independent ways: the DuckDB
exhaustive oracle (gate) and, here, a from-scratch Spark rebuild — CC
over the full-corpus PPJoin pair relation — which must agree with the
incrementally-maintained census row for row (brute-force-beats-oracle
rule: the oracle shares the recursive-CTE strategy with other queries,
the rebuild does not share the star-edge maintenance path)."""

from __future__ import annotations

from pyspark.sql import functions as F

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import QUERIES

SF_SMOKE = "/root/testdata/sf0.001"


def test_maintained_census_equals_from_scratch_rebuild(spark):
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.text import tokens
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.graph import (
        connected_components,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.readers import (
        read_parquet_table,
    )

    maintained = [
        tuple(r) for r in QUERIES["q239_dedup_index_maintenance"](spark, SF_SMOKE).collect()
    ]

    docs = read_parquet_table(spark, SF_SMOKE, "documents").select(
        "doc_id", tokens("text").alias("ts")
    )
    pairs = prefix_filter_jaccard_pairs(docs, threshold=0.5)
    comps = connected_components(pairs.select("doc_a", "doc_b"), "doc_a", "doc_b")
    flag = (((F.col("id") % 100003) * F.lit(2654435761)) % 1000 >= 800).cast("int")
    scratch = [
        tuple(r)
        for r in comps.select(F.col("comp").alias("component_id"), flag.alias("b"))
        .groupBy("component_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("b").alias("n_batch_docs"))
        .orderBy("component_id")
        .collect()
    ]
    assert maintained == scratch
    assert maintained, "fixture corpus produced no dup components"
    assert any(r[2] > 0 for r in maintained), "no batch doc joined any component"


def test_maintenance_appends_versions_and_reads_newest(spark):
    """Two lifecycle runs in one session append store versions; the census
    stays byte-identical because read_current always serves the newest
    snapshot of the same deterministic data."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.versioned import session_store
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources import versioned as V

    first = [tuple(r) for r in QUERIES["q239_dedup_index_maintenance"](spark, SF_SMOKE).collect()]
    v_after_first = V.current_version(session_store(spark, "dedup_index"))
    second = [tuple(r) for r in QUERIES["q239_dedup_index_maintenance"](spark, SF_SMOKE).collect()]
    v_after_second = V.current_version(session_store(spark, "dedup_index"))
    assert first == second
    assert v_after_second == v_after_first + 2  # v1 build + v2 update per run


def test_q241_cross_source_overlap_matches_oracle(spark):
    import duckdb

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import ORACLES

    name = "q241_cross_source_overlap"
    got = [tuple(r) for r in QUERIES[name](spark, SF_SMOKE).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    orc = [tuple(r) for r in con.execute(ORACLES[name]).fetchall()]
    assert got == orc and got
    for _, _, n_pairs, n_docs, mj in got:
        assert n_pairs > 0 and n_docs >= 2
        assert 0.5 <= mj <= 1.0


def test_shared_index_memo_returns_same_object_within_session(spark):
    """The maintained in-session index must be built once: repeated reads
    return the SAME persisted DataFrame (cache hit), and the relation is
    marked persisted."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.dedup_index import (
        dup_components,
        dup_pairs,
    )

    a = dup_pairs(spark, SF_SMOKE)
    b = dup_pairs(spark, SF_SMOKE)
    assert a is b
    assert a.storageLevel.useMemory or a.storageLevel.useDisk
    c1 = dup_components(spark, SF_SMOKE)
    c2 = dup_components(spark, SF_SMOKE)
    assert c1 is c2


def test_index_cache_lru_bound_and_clear(spark):
    """The same-session memo is bounded (r7 advice): filling past
    _MAX_LIVE_ENTRIES evicts + unpersists the least-recently-used entry,
    and clear_index_cache() drops everything for the session."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans import (
        dedup_index as di,
    )

    di.clear_index_cache(spark)
    first = di.dup_pairs(spark, SF_SMOKE)
    app = spark.sparkContext.applicationId
    # fill the cache with synthetic live entries until the bound evicts
    # the real one (each entry is a tiny DataFrame so unpersist is cheap)
    for i in range(di._MAX_LIVE_ENTRIES):
        di._memo(
            spark, SF_SMOKE, f"__synthetic_{i}", lambda: spark.range(1)
        )
    assert (app, __import__("os").path.realpath(SF_SMOKE), "pairs_ppjoin") not in di._CACHE
    # the evicted relation was unpersisted
    assert not (first.storageLevel.useMemory or first.storageLevel.useDisk)
    # and a re-read rebuilds rather than returning the evicted object
    rebuilt = di.dup_pairs(spark, SF_SMOKE)
    assert rebuilt is not first
    # clear() drops every entry for this session and reports the count
    n = di.clear_index_cache(spark)
    assert n >= 1
    assert not any(k[0] == app for k in di._CACHE)
