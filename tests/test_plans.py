"""Physical-plan contract tests: the optimizations SURVEY.md §4 calls out
must actually fire. These guard against regressions that stay correct but
quietly lose the 100 TB-viable plan shape."""

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import QUERIES

from conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_topk_plans_take_ordered_and_project(spark):
    """orderBy+limit must fuse to TakeOrderedAndProject (O3) — a global
    sort of the aggregate output would be the scale bug."""
    for q in ("q01_avg_price_by_dow", "q05_avg_extprice_by_supp", "q52_segment_shipping"):
        assert "TakeOrderedAndProject" in _plan(spark, q), q


def test_star_joins_broadcast(spark):
    """Dim sides must broadcast: the fact side never shuffles for a star
    join (J1/J4/J5)."""
    for q in ("q11_avg_price_by_membership", "q13_sum_amount_by_month", "q21_member_spend_rides"):
        plan = _plan(spark, q)
        assert "BroadcastHashJoin" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_member_filter_pushed_to_scan(spark):
    """P5 predicate must reach the parquet scan (PushedFilters), not sit
    above the join."""
    plan = _plan(spark, "q19_member_avg_by_acct_band")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # inside a PushedFilters list


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must scan 2 columns (ReadSchema pruning)."""
    plan = _plan(spark, "q31_doc_token_count")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_single_shuffle_per_aggregation(spark):
    """Partial+final hash agg: exactly one Exchange for a single-fact
    grouped aggregate (plus none hidden behind AQE reuse)."""
    tree = _plan(spark, "q01_avg_price_by_dow").split("\n\n")[0]  # operator tree only
    assert tree.count("Exchange") == 1
    assert tree.count("HashAggregate") == 2


def test_whole_stage_codegen_covers_agg(spark):
    df = QUERIES["q01_avg_price_by_dow"](spark, SF_SMOKE)
    codegen = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    )
    assert "Found 2 WholeStageCodegen subtrees" in codegen or "WholeStageCodegen" in codegen


def test_training_broadcast_probes(spark):
    """The training surface's stats/benchmark sides must broadcast — the
    fact/corpus side never shuffles for these probe joins (q76's benchmark
    shingles, q84's per-type moments, q83's corpus stats)."""
    for q in ("q76_benchmark_contamination", "q84_value_outliers", "q83_tfidf_top_terms"):
        plan = _plan(spark, q)
        assert "BroadcastHashJoin" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_range_join_plans_broadcast_nested_loop(spark):
    """q78's non-equi join against the 10-row bucket dim must be a
    broadcast nested-loop, not a cartesian shuffle."""
    plan = _plan(spark, "q78_value_range_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_hash_split_is_map_only_before_agg(spark):
    """q71: split assignment is a pure projection — the only shuffles are
    the 3-group aggregate and the 3-row final sort; exactly one
    partial+final agg pair, no join, no window."""
    tree = _plan(spark, "q71_hash_split").split("\n\n")[0]
    assert tree.count("Exchange") <= 2
    assert tree.count("HashAggregate") == 2
    assert "Join" not in tree and "Window" not in tree


def test_quality_family_plan_shapes(spark):
    """q85 must be a pure scan→partial/final agg (no join for the bucket
    id); q90's blocked self-join stays an equi hash join (the blocking
    key is the equi condition — never a cartesian); q91's join-back
    broadcasts the per-type maxima."""
    plan85 = _plan(spark, "q85_value_histogram")
    tree85 = plan85.split("\n\n")[0]
    assert "Join" not in tree85
    assert tree85.count("HashAggregate") == 2

    plan90 = _plan(spark, "q90_edit_distance_pairs")
    assert "CartesianProduct" not in plan90 and "BroadcastNestedLoopJoin" not in plan90
    assert "Join" in plan90

    plan91 = _plan(spark, "q91_top_user_by_type")
    assert "BroadcastHashJoin" in plan91
    assert "SortMergeJoin" not in plan91


def test_dup_components_edges_avoid_quadratic_shingle_join(spark):
    """q73's edge source must be LSH band-bucketed (r2 rewire): no join
    keyed on the bare shingle column — that's the quadratic inverted-index
    self-join that blows up on hot shingles at 100 TB. The only
    shingle-keyed join allowed is the candidate VERIFY join, which is
    additionally keyed by doc id. (q73's own returned plan is truncated by
    the connected-components localCheckpoints, so we pin the edge-source
    DataFrame q73 builds internally.)"""

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.text import tokens
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.dedup import (
        lsh_verified_jaccard_pairs,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.readers import (
        read_parquet_table,
    )

    docs = read_parquet_table(spark, SF_SMOKE, "documents").select(
        "doc_id", tokens("text").alias("ts")
    )
    df = lsh_verified_jaccard_pairs(docs, threshold=0.5)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    key_lines = [
        ln for ln in plan.splitlines() if ln.lstrip().startswith(("Left keys", "Right keys"))
    ]
    assert key_lines, "expected join key details in formatted plan"
    for ln in key_lines:
        if "shingle" in ln:
            assert "doc_" in ln, f"bare-shingle quadratic join in q73 edge plan: {ln}"
    # and the minhash stage is actually present (md5-derived hash family)
    assert "md5" in plan


def test_source_quota_single_window_exchange(spark):
    """q101: one hash-partition Exchange on source for the window, no
    global sort — the per-source row_number must not become a total
    order."""
    plan = _plan(spark, "q101_source_quota_cap")
    tree = plan.split("\n\n")[0]
    assert "Window" in tree
    assert tree.count("Exchange") == 1
    assert "hashpartitioning(source" in plan
    # rangepartitioning would mean a global sort sneaked in
    assert "rangepartitioning" not in plan
    # Spark's rank-limit pushdown must fire: rows beyond the quota are
    # dropped map-side too — a partial WindowGroupLimit BELOW the exchange
    # (the formatted tree lists children after parents, so it appears
    # after the Exchange line)
    assert "WindowGroupLimit" in tree[tree.index("Exchange") :]


def test_bloom_prefilter_prunes_in_fact_scan_stage(spark):
    """q102: the bloom membership test (xxhash64 arithmetic) must sit in
    the orders-side Filter BELOW the join — fact rows are dropped in the
    scan stage, before any exchange — and the exact join must broadcast."""
    plan = _plan(spark, "q102_bloom_prefilter_join")
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree and "SortMergeJoin" not in tree
    # the bloom probe (xxhash64 over o_custkey) must live in a Filter
    # detail block — i.e. planted as a scan-stage predicate on the fact
    details = plan.split("\n\n", 1)[1]
    bloom_filter_blocks = [
        b
        for b in details.split("\n(")
        if b.split("\n")[0].endswith("Filter")
        and "xxhash64" in b
        and "o_custkey" in b
    ]
    assert bloom_filter_blocks, "bloom probe not found in any Filter block"
    # and the fact side reaches the join without an exchange: the only
    # Exchanges in the tree sit above the join (aggregation/sort), plus
    # the dim's BroadcastExchange
    join_pos = tree.index("BroadcastHashJoin")
    below_join = tree[join_pos:]
    assert "Exchange" not in below_join.replace("BroadcastExchange", "")


def test_incremental_dedup_avoids_bare_shingle_join(spark):
    """q103's candidate stage must stay band-bucketed: the only
    shingle-keyed join is the doc-id-scoped verify join (q98's
    contract, extended to the cross-corpus operator)."""
    plan = _plan(spark, "q103_incremental_dedup")
    for line in plan.split("\n\n")[0].splitlines():
        if "Join" not in line:
            continue
        assert "CartesianProduct" not in line
    # join conditions mentioning shingle must also mention doc ids
    details = plan.split("\n\n", 1)[1] if "\n\n" in plan else plan
    for block in details.split("\n\n"):
        if "Join condition" in block or "Left keys" in block:
            if "shingle" in block:
                assert "doc_" in block, block


def test_weighted_sample_is_topk_not_global_sort(spark):
    """q108's sample selection must be TakeOrderedAndProject (per-partition
    heaps); a global Sort of the full corpus by priority would be the
    scale bug."""
    plan = _plan(spark, "q108_weighted_sample")
    assert "TakeOrderedAndProject" in plan


def test_cms_probe_joins_broadcast(spark):
    """q107's counter table (<=1024 rows) and top-20 list must broadcast
    into their probe joins — a shuffle join keyed on (d, bucket) would
    move the whole vocabulary."""
    plan = _plan(spark, "q107_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_join_sort_merge_on_salted_keys(spark):
    """q111 must actually run the sort-merge regime with the salt in the
    join keys — if the planner broadcasts (or the salt falls out of the
    condition), the query no longer demonstrates anything."""
    plan = _plan(spark, "q111_salted_revenue_join")
    assert "SortMergeJoin" in plan
    assert "__salt" in plan


def test_curation_family_plan_shapes(spark):
    """Plan contracts for the q114-q122 curation family."""
    # q114: one Exchange, partial+final hash agg — the weight is computed in
    # the scan projection, so only (user_id, partials) ever shuffles
    tree = _plan(spark, "q114_decayed_user_activity").split("\n\n")[0]
    assert tree.count("Exchange") == 1 and tree.count("HashAggregate") == 2

    # q116: queries broadcast; the label-inequality join must be a
    # broadcast nested loop, never a cartesian of two fact-sized sides
    plan = _plan(spark, "q116_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan

    # q119: the (source, token) counts relation feeds four consumers — the
    # localCheckpoint materializes it once, so the final plan re-scans NO
    # parquet (the one corpus scan happened in the checkpoint job)
    plan = _plan(spark, "q119_source_token_drift")
    tree = plan.split("\n\n")[0]
    assert "Scan parquet" not in tree
    assert "SortMergeJoin" not in plan

    # q122: reference/current counts land in ONE (type, bucket) aggregate
    # and totals come from a window over it — a second aggregate joined
    # back would re-scan the fact table
    tree = _plan(spark, "q122_value_drift_by_window").split("\n\n")[0]
    assert tree.count("Scan parquet") == 1


def test_pq_encode_is_map_only(spark):
    """PQ corpus encoding must be a map-only projection over the scan (the
    codebooks ride as literals) — no shuffle before the encoded table."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        pq_encode,
        pq_fit,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    books = pq_fit(emb, m=4, ksub=8, max_iter=2)
    tree = (
        pq_encode(emb, books)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        .split("\n\n")[0]
    )
    assert "Exchange" not in tree


def test_token_budget_mix_no_global_sort(spark):
    """q110: the running-sum window hash-partitions by source (never a
    total order over the corpus); exactly two Exchanges — the window's
    hash partitioning and the final |sources|-row output sort."""
    plan = _plan(spark, "q110_token_budget_mix")
    tree = plan.split("\n\n")[0]
    assert "Window" in tree
    assert tree.count("Exchange") == 2
    assert "hashpartitioning(source" in plan


def test_leakage_split_broadcasts_component_table(spark):
    """q113: the split projection must be a broadcast left join against the
    (tiny) component table — the corpus side never shuffles for it. The CC
    output is an RDD scan with no stats, so this only holds because the
    plan hints the broadcast explicitly."""
    plan = _plan(spark, "q113_leakage_safe_split")
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin LeftOuter" in tree
    assert "SortMergeJoin" not in tree


def test_ivf_pq_rerank_corpus_never_shuffles(spark):
    """q125 (composed IVF-PQ): every join is broadcast (probe-on-cell,
    re-rank-on-survivors) — the corpus reaches both scoring stages without
    a single shuffle; the only Exchanges are the two per-query ranking
    windows, and rank-limit pushdown prunes map-side below each (the
    partial WindowGroupLimit under the Exchange)."""
    plan = _plan(spark, "q125_ivf_pq_rerank")
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" not in tree and "CartesianProduct" not in tree
    assert tree.count("BroadcastHashJoin") == 3  # probe, re-rank, query-attach
    non_broadcast = tree.replace("BroadcastExchange", "")
    assert non_broadcast.count("Exchange") == 2  # ADC prune + final top-k windows
    first_exchange = tree.index("Exchange")
    assert "WindowGroupLimit" in tree[first_exchange:]  # map-side partial rank limit


def test_event_gap_single_window_exchange(spark):
    """q126 (F1 gate query): one hash Exchange on user_id for the lag
    window; the seconds derivation is map-side."""
    plan = _plan(spark, "q126_event_gap_seconds")
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "hashpartitioning(user_id" in plan


def test_order_age_is_map_only(spark):
    """q127 (F3 gate query): a pure scan-side projection — no Exchange
    anywhere, whole-stage codegen covers it."""
    tree = _plan(spark, "q127_order_age_years").split("\n\n")[0]
    assert "Exchange" not in tree
    assert "Scan parquet" in tree


def test_kmv_sketch_partial_topk_per_group(spark):
    """q134: the per-group k-smallest must push a partial WindowGroupLimit
    below the exchange (map-side top-k per group) — only ~k rows per group
    ride the final shuffle."""
    plan = _plan(spark, "q134_kmv_distinct_users")
    tree = plan.split("\n\n")[0]
    first_exchange = tree.index("Exchange")
    assert "WindowGroupLimit" in tree[first_exchange:]
    assert "rangepartitioning" not in tree[: tree.index("Window")]


def test_bpe_encode_is_udf_free_single_agg(spark):
    """q132: the BPE encode chain must stay JVM-side (no Python eval node
    anywhere — the merges are literal replaces) with exactly one Exchange
    for the per-doc aggregate."""
    plan = _plan(spark, "q132_bpe_token_counts")
    tree = plan.split("\n\n")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert tree.count("Exchange") == 1
    assert tree.count("HashAggregate") == 2


def test_substring_dup_spans_grams_never_shuffle(spark):
    """q135: the 8-token gram STRINGS must not ride any exchange — the
    60-bit hash is computed map-side and only narrow (gh, doc_id, pos)
    rows shuffle. Composed WITHOUT the localCheckpoint (which truncates
    lineage and would make the assertion vacuous — the checkpointed
    query's explained plan roots at a Scan ExistingRDD and could never
    contain the gram stage), so the full gram pipeline is visible."""

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.text import (
        tokens,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.extensions import (
        _dup_spans,
        _gram_hashes,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.readers import (
        read_parquet_table,
    )

    d = read_parquet_table(spark, SF_SMOKE, "documents").select(
        "doc_id", tokens("text").alias("ts")
    )
    df = _dup_spans(_gram_hashes(d, checkpoint=False))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "gram#" in plan  # the gram stage IS in this plan (non-vacuous)
    for block in plan.split("\n\n"):
        head = block.strip().splitlines()[0] if block.strip() else ""
        if "Exchange" in head:
            assert "gram#" not in block, head


def test_salted_band_join_salt_in_join_keys(spark):
    """q128's structural skew fix (r3): the salt must sit IN the equi-join
    keys, so a hot band bucket hash-partitions n_salts ways, and the join
    must run in the partitioned (sort-merge) regime once the banded
    relation exceeds broadcast size — a broadcast of the salt-replicated
    side would silently discard the mitigation (and waste the n_salts-x
    replication). Broadcast is disabled for the assertion because at
    smoke scale the planner would otherwise broadcast the tiny side."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark, "q128_lsh_candidates_salted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    key_lines = [
        ln for ln in plan.splitlines()
        if ("Left keys" in ln or "Right keys" in ln) and "__salt" in ln
    ]
    assert key_lines, "salt column must appear in the sort-merge join keys"


def test_span_and_doc_hash_splits_identical():
    """q139's span-level incremental pass partitions the corpus exactly
    as q103's doc-level pass does: both registered oracles split on the
    one hash template at the one batch boundary."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.hashing import (
        BATCH_FROM,
        SPLIT_SQL,
        batch_sql,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
        ORACLES,
    )

    q103, q139 = ORACLES["q103_incremental_dedup"], ORACLES["q139_incremental_span_dedup"]
    assert f"{SPLIT_SQL.format(x='doc_id')} AS hh" in q103
    assert f"hb.hh >= {BATCH_FROM}" in q103
    assert f"{batch_sql('doc_id')} AS is_new" in q139


def test_gate_prefix_contract():
    """The driver gates exactly the first 50 registry entries: the rotated
    prefix must be exactly 50 names, lead the export order verbatim, and
    contain ONLY oracled queries (a rows-only query in the prefix burns a
    gate slot as a permanent no_oracle row — the r1 lesson)."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
        ORACLES,
        QUERIES,
        _PRIORITY,
    )

    assert len(_PRIORITY) == 50
    assert list(QUERIES)[:50] == list(_PRIORITY)
    missing = [n for n in _PRIORITY if n not in ORACLES]
    assert not missing, f"prefix entries without oracle SQL: {missing}"


def test_registry_qnn_prefixes_unique():
    """bench.py's compact per-query line is keyed by the qNN prefix alone,
    so no two registered queries may share one."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
        REGISTRY,
    )

    prefixes = [n.split("_", 1)[0] for n in REGISTRY]
    assert len(set(prefixes)) == len(prefixes)


def test_dsir_scoring_single_pass(spark):
    """q144: the checkpointed pair relation is scanned ONCE (ExistingRDD)
    and every LM count-table join broadcasts (vocab-bounded sides) — the
    corpus-sized pair relation must never sort-merge or re-tokenize in
    the scoring pass."""
    plan = _plan(spark, "q144_dsir_weights")
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_logreg_scoring_map_only(spark):
    """q145: after the (bounded-state) GD fit, scoring must be a pure
    projection against weight literals — no Exchange, no join (the q141
    map-only contract for learned-parameter application)."""
    plan = _plan(spark, "q145_logreg_probe")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed feature relation


def test_semdedup_pair_join_keyed_on_cell(spark):
    """q146: the within-cell pair comparison must be an equi-join keyed on
    the cell id (the cluster-blocking contract — an unkeyed pair join
    would be the all-pairs scale bug), with no cartesian product anywhere."""
    plan = _plan(spark, "q146_semantic_dedup_cells")
    assert "CartesianProduct" not in plan
    key_lines = [
        ln for ln in plan.splitlines()
        if ("Left keys" in ln or "Right keys" in ln) and "cell" in ln
    ]
    assert key_lines, "cell id must appear in the pair join keys"


def test_prefix_jaccard_join_keyed_on_shingle_no_cartesian(spark):
    """q163's candidate stage must be an equi-join keyed on the prefix
    shingle — never a cartesian/BNLJ (the whole point is that candidates
    come from hash buckets of RARE shingles). The length filter rides the
    same join as a secondary condition. Pinned on the BUILDER kernel
    directly (r7): the registered query reads the maintained dedup index,
    whose warm-cache plan is an InMemoryTableScan — the build plan is what
    this test guards."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.text import tokens
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.readers import (
        read_parquet_table,
    )

    docs = read_parquet_table(spark, SF_SMOKE, "documents").select(
        "doc_id", tokens("text").alias("ts")
    )
    df = prefix_filter_jaccard_pairs(docs, threshold=0.5)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    key_lines = [
        ln for ln in plan.splitlines()
        if ("Left keys" in ln or "Right keys" in ln) and "shingle" in ln
    ]
    assert key_lines, "prefix shingle must appear in equi-join keys"


def test_weighted_sample_window_group_limit_before_exchange(spark):
    """q165's top-k-per-stratum window must plan as a map-side
    WindowGroupLimit BEFORE the exchange (each partition forwards at most
    k rows per stratum) — a full window sort of the corpus would be the
    scale bug. Same contract as q134's KMV k-smallest."""
    import re

    plan = _plan(spark, "q165_weighted_sample")
    wgl = [int(m) for m in re.findall(r"\((\d+)\) WindowGroupLimit", plan)]
    ex = [int(m) for m in re.findall(r"\((\d+)\) Exchange", plan)]
    assert wgl and ex
    # formatted-plan node ids increase parent-ward: a WindowGroupLimit with
    # an id below every Exchange runs on the map side, pre-shuffle
    assert min(wgl) < min(ex)


def _tree(spark, name: str) -> str:
    """Operator tree only (first formatted-plan section, before the
    per-node detail blocks)."""
    return _plan(spark, name).split("\n\n")[0]


def test_interval_overlap_join_is_equi_not_nested_loop(spark):
    """q202's overlap join must plan as a HASH-JOINABLE equi-join on
    (key, grid cell) — the literal theta join the oracle runs would plan
    as a per-key nested loop. The exact overlap predicate rides the
    equi-join as a secondary condition."""
    tree = _tree(spark, "q202_interval_overlap_join")
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert (
        "BroadcastHashJoin" in tree
        or "SortMergeJoin" in tree
        or "ShuffledHashJoin" in tree
    )
    key_lines = [
        ln for ln in _plan(spark, "q202_interval_overlap_join").splitlines()
        if ("Left keys" in ln or "Right keys" in ln) and "cell" in ln
    ]
    assert key_lines, "grid cell must appear in equi-join keys"


def test_interval_stacking_single_exchange(spark):
    """q203's sweep line is ONE shuffle: the boundary-event union shuffles
    once on the key for the running-sum window, and the per-key max
    reuses that partitioning — a second exchange would mean the groupBy
    lost the window's distribution."""
    tree = _tree(spark, "q203_interval_stacking")
    assert tree.count("Exchange") == 1
    assert tree.count("Window") == 1


def test_containment_join_keyed_on_prefix_shingle(spark):
    """q204's candidate stage must be an equi-join keyed on the rare
    prefix shingle's int64 rank id (``sid``) — never a cartesian/BNLJ.
    Same contract as q163's symmetric PPJoin."""
    plan = _plan(spark, "q204_containment_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    key_lines = [
        ln for ln in plan.splitlines()
        if ("Left keys" in ln or "Right keys" in ln) and "sid" in ln
    ]
    assert key_lines, "prefix shingle rank id must appear in equi-join keys"


def test_gap_fill_windows_fuse_and_stay_keyed(spark):
    """q205's two ignore-nulls neighbor scans (prev/next) share the
    (user_id, day) partition+order, so they must fuse into ONE Window
    node; the spine join is an equi-join. A second window or a nested
    loop would double the per-user pass."""
    tree = _tree(spark, "q205_gap_fill_interpolate")
    assert tree.count("Window") == 1
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_rrf_candidates_are_partial_topk(spark):
    """q199's per-system candidate lists and the fused top-20 must all
    plan as TakeOrderedAndProject (distributed partial top-k) — the
    row_number windows may only run over the already-limited <=100-row
    relations, never the corpus."""
    tree = _tree(spark, "q199_rrf_fusion")
    assert tree.count("TakeOrderedAndProject") >= 3
    assert "CartesianProduct" not in tree


def test_kneser_ney_scoring_joins_are_keyed(spark):
    """q206's model joins must stay keyed on (w1,w2)/w1/w2; the only
    nested-loop is the whitelisted 1-row nbig scalar broadcast."""
    tree = _tree(spark, "q206_kneser_ney_lm_score")
    assert "CartesianProduct" not in tree
    assert tree.count("BroadcastNestedLoopJoin") <= 1


def test_k_anonymity_is_joinless_two_phase_agg(spark):
    """q207 is ONE logical aggregation over the QI tuple: the distinct-l
    rewrite costs exactly two exchanges ((QI, sensitive) then QI) and no
    join, no window, no driver state."""
    tree = _tree(spark, "q207_k_anonymity_audit")
    assert tree.count("Exchange") == 2
    for node in ("Join", "Window", "CartesianProduct"):
        assert node not in tree, node


def test_source_overlap_join_after_distinct_projection(spark):
    """q200's shingle self-join must consume the DISTINCT (source,
    shingle) aggregate — the distinct caps a shingle's join fan-out at
    |sources| — and never a nested loop over raw shingles."""
    tree = _tree(spark, "q200_source_overlap")
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    key_lines = [
        ln for ln in _plan(spark, "q200_source_overlap").splitlines()
        if ("Left keys" in ln or "Right keys" in ln) and "shingle" in ln
    ]
    assert key_lines, "shingle must appear in equi-join keys"


def test_dedup_yield_curve_one_pair_pass_bounded_loops(spark):
    """q226's pair relation is built ONCE (prefix-filtered equi-join,
    q163's contract) and the 5-threshold sweep rides it as a bounded
    broadcast nested loop — 2 BNLJs total (threshold spine + 1-row
    total-docs scalar), never a cartesian and never one dedup run per
    threshold."""
    plan = _plan(spark, "q226_dedup_yield_curve")
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert tree.count("BroadcastNestedLoopJoin") <= 2
    key_lines = [
        ln for ln in plan.splitlines()
        if ("Left keys" in ln or "Right keys" in ln) and "sid" in ln
    ]
    assert key_lines, "pair candidates must stay keyed on the shingle rank id"


def test_fd_audit_is_joinless_single_scan(spark):
    """q228 is one scan + explode + two hash aggregations (per-(rule,det)
    distinct then per-rule rollup) — adding audited rules widens the
    explode array, never adds scans or joins."""
    tree = _tree(spark, "q228_functional_dependency_audit")
    assert tree.count("Scan parquet") == 1
    for node in ("Join", "CartesianProduct", "BatchEvalPython"):
        assert node not in tree, node


def test_key_profile_is_joinless_single_scan(spark):
    """q229: same explode shape as q228 — one scan, no join, exact
    two-phase distinct aggregation."""
    tree = _tree(spark, "q229_candidate_key_profile")
    assert tree.count("Scan parquet") == 1
    for node in ("Join", "CartesianProduct", "BatchEvalPython"):
        assert node not in tree, node


def test_km_survival_data_scale_is_one_agg(spark):
    """q230: the only data-scale operator is the per-user hash aggregate;
    the KM windows run over the per-duration table (bounded by the
    observation window in days). After the first-error rewrite the plan
    has NO join at all."""
    tree = _tree(spark, "q230_churn_survival_km")
    assert tree.count("Scan parquet") == 1
    for node in ("Join", "CartesianProduct"):
        assert node not in tree, node
    assert "Window" in tree


def test_cuped_theta_is_scalar_broadcast(spark):
    """q231: the pooled-theta fit joins back as a 1-row broadcast; the
    moment aggregates stay keyed — no cartesian, exactly one bounded
    nested loop."""
    tree = _tree(spark, "q231_cuped_readout")
    assert "CartesianProduct" not in tree
    assert tree.count("BroadcastNestedLoopJoin") == 1


def test_ztest_is_joinless(spark):
    """q232: two chained aggregations (per-user flags, per-variant
    counts) and a 1-row pivot — no join anywhere."""
    tree = _tree(spark, "q232_conversion_ztest")
    assert tree.count("Scan parquet") == 1
    for node in ("Join", "CartesianProduct", "Window"):
        assert node not in tree, node


def test_hubness_rides_the_blas_kernel(spark):
    """q233 must sit on the q64 MapInPandas BLAS kernel, not the q39
    Column-fold (r5 verdict item 3: the fold made a metadata-scale
    diagnostic the slowest stress query). The kernel subtree shows up as
    MapInPandas; the fold would show a codegen'd aggregate over
    per-dimension array arithmetic and no Python node at all."""
    tree = _tree(spark, "q233_embedding_hubness")
    assert "MapInPandas" in tree
    assert "BatchEvalPython" not in tree
    assert "CartesianProduct" not in tree


def test_packing_single_data_shuffle(spark):
    """q253: the packing manifest must cost exactly ONE data shuffle —
    the window's hashpartitioning(shard). The (shard, seq) aggregation
    must REUSE that partitioning (shard is a subset of the grouping
    keys, so EnsureRequirements adds no second hash Exchange); the only
    other Exchange is the output sort's rangepartitioning. The scan must
    prune to (doc_id, text)."""
    full = _plan(spark, "q253_sequence_packing")
    assert full.count("Arguments: hashpartitioning") == 1, full
    assert full.count("Arguments: rangepartitioning") == 1
    tree = full.split("\n\n")[0]
    assert tree.count("Exchange") == 2
    assert "Window" in tree and "Generate" in tree
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in full


def test_mixture_rate_joins_broadcast(spark):
    """q254/q255: the |sources|-row rate table must broadcast onto the
    corpus scan (never shuffle the corpus for the realization join), and
    the hash-threshold comparison must evaluate inside that join's
    condition, not in a later stage."""
    for q, rate_col in (
        ("q254_mixture_sampling", "rate_e6"),
        ("q255_repetition_mixture", "rem_rate_e6"),
    ):
        full = _plan(spark, q)
        assert "BroadcastHashJoin" in full, q
        assert "CartesianProduct" not in full, q
        # the threshold filter rides the broadcast join of the rate table
        cond = [
            ln for ln in full.splitlines()
            if "Join condition:" in ln and rate_col in ln
        ]
        assert cond, (q, full)


def test_table_layout_does_not_pin_an_empty_listing(spark, tmp_path):
    """A table probed before its files exist must not stay (0, 1) for the
    rest of the process: once a parquet file lands, the next probe sees it."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.base import (
        _table_layout,
    )

    (tmp_path / "t").mkdir()
    assert _table_layout(str(tmp_path), "t") == (0, 1)
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "t"))
    total, n_files = _table_layout(str(tmp_path), "t")
    assert total > 0 and n_files == 1
