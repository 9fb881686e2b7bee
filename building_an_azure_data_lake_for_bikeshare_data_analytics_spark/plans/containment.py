"""Set-containment query head — q204 (operators/dedup.py holds the
prefix-filtered engine shape).

Registered after plans/intervals.py in plans/registry.py: registry
insertion order is registration order, which the gate scheduler's
overflow rule depends on (plans/evidence.py).
"""

from __future__ import annotations

from ..functions.text import tokens
from .base import _ts, query
from .extensions import _SHINGLES_SQL


@query(
    "q204_containment_join",
    f"""WITH {_SHINGLES_SQL},
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          count(*) AS inter
                   FROM sh a JOIN sh b
                     ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
                   GROUP BY 1, 2)
        SELECT doc_a, doc_b, round(inter / sa.n, 4) AS containment
        FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
        WHERE inter / sa.n >= 0.9""",
    tags=("dedup", "containment", "prefix-filter", "exact"),
)
def q204(spark, sf):
    """Exact set-containment >= 0.9 pairs (directed: doc_a's word-3-gram
    shingles mostly inside doc_b's) — the quote/sub-document detector
    Jaccard structurally misses: a short passage embedded in a long page
    has high containment but low Jaccard (the union dilutes it). The
    DuckDB oracle runs the exhaustive all-common-shingle formulation; the
    Spark plan is the one-sided prefix-filtered join
    (operators/dedup.prefix_filter_containment_pairs) whose candidate
    equi-join keys only on each contained-side document's rarest
    ``|A| - ceil(t|A|) + 1`` shingles — provably losing no pair."""
    from ..operators.dedup import prefix_filter_containment_pairs

    # _ts (r12): fan the one-row-group scan out below the tokenize
    docs = _ts(spark, sf, "documents", "doc_id", "text", fan=True).select(
        "doc_id", tokens("text").alias("ts")
    )
    return prefix_filter_containment_pairs(docs, threshold=0.9)
