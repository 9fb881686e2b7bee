"""Maintained stores are hive-partitioned on their probe key, and the
probe paths PRUNE to the probed partitions (r9 verdict item 2): the
stored-index read must be probe-proportional in files scanned, not
O(corpus). Pinned at the plan level (PartitionFilters on the scan node)
and at the directory level (store layout)."""

from __future__ import annotations

import os
import re

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
    QUERIES,
)

SF_SMOKE = "/root/testdata/sf0.001"


def _partition_filters(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)


def _store_partition_dirs(store: str) -> set[str]:
    """Hive-partition directory names across the CURRENT version's data
    directories. Resolved through the version pointer + manifests, not a
    hardcoded ``_v1``: the app-scoped store may already carry versions
    from an earlier test in the same session (test_audit constructs
    every plan, and the maintenance heads build eagerly), in which case
    the head's own run lands at v(n+1)/v(n+2) and its vacuum(keep=2)
    GCs ``_v1``."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.versioned import (
        _parts_of,
        current_version,
    )

    names: set[str] = set()
    for rel in _parts_of(store, current_version(store)):
        p = os.path.join(store, rel)
        names |= {d for d in os.listdir(p) if "=" in d and not d.startswith("_")}
    return names


def test_lexical_store_layout_and_probe_pruning(spark):
    """q248's tf store is partitioned by token-prefix bucket and the dl
    store by doc-hash century; the BM25 probe's scans carry literal
    PartitionFilters on both keys (tok_bucket IN(...) from the fixed
    query-term set, hb IN (8,9) from the batch predicate)."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.versioned import session_store

    df = QUERIES["q248_lexical_index_maintenance"](spark, SF_SMOKE)
    store = session_store(spark, "lex_index")
    assert any(
        d.startswith("tok_bucket=") for d in _store_partition_dirs(store + "_tf")
    )
    assert any(d.startswith("hb=") for d in _store_partition_dirs(store + "_dl"))
    pf = _partition_filters(df)
    assert any("tok_bucket" in f and " IN " in f for f in pf), pf
    assert any(re.search(r"hb.* IN \(8,9\)", f) for f in pf), pf
    # and the pruned probe still answers correctly (oracle equality is
    # pinned by the driver gate; here: non-empty top-20)
    assert 0 < df.count() <= 20


def test_ivf_store_partitioned_by_cell_and_probe_filters_probed_union(spark):
    """q246's assignment store is partitioned by cell, and the stored-index
    kernel pre-filters to the UNION of probed cells with literals — when
    the union is a strict subset, the scan prunes to those directories."""
    from pyspark.sql import functions as F

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        ivf_topk_from_index_vectorized,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.versioned import (
        read_current,
        session_store,
    )

    QUERIES["q246_ann_index_maintenance"](spark, SF_SMOKE).collect()
    store = session_store(spark, "ann_index")
    assert any(d.startswith("cell=") for d in _store_partition_dirs(store))
    # ONE query probes nprobe=2 of 8 cells -> the probed union is a strict
    # subset and must appear as a literal partition filter on the scan
    cents = [
        [int(x) for x in r["centroid"]]
        for r in read_current(spark, store + "_centroids").orderBy("cell").collect()
    ]
    one_q = (
        read_current(spark, store)
        .orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    )
    out = ivf_topk_from_index_vectorized(
        read_current(spark, store), one_q, cents, k=5, nprobe=2
    )
    pf = _partition_filters(out)
    m = [f for f in pf if "cell" in f and " IN " in f]
    assert m, pf
    # the IN-list is exactly the probed union: nprobe=2 cells for 1 query
    assert len(re.findall(r"\d+", m[0].split(" IN ")[1])) == 2, m
    assert out.count() > 0


def test_decon_store_partitioned_by_benchmark_single_screen_prunes(spark):
    """q249's benchmark shingle store is partitioned by benchmark; a
    screen against ONE benchmark reads only that benchmark's directory
    (literal partition filter on the store scan)."""
    from pyspark.sql import functions as F

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.decontamination import (
        BENCHMARKS,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.versioned import (
        read_current,
        session_store,
    )

    QUERIES["q249_decontamination_index_maintenance"](spark, SF_SMOKE).collect()
    store = session_store(spark, "decon_index")
    assert any(d.startswith("benchmark=") for d in _store_partition_dirs(store))
    name = BENCHMARKS[0][0]
    one = read_current(spark, store).where(F.col("benchmark") == name)
    pf = _partition_filters(one)
    assert any("benchmark" in f and name in f for f in pf), pf
    assert one.count() > 0
    assert {r["benchmark"] for r in one.collect()} == {name}
