"""The reference's parameterized analytics templates (SURVEY.md §2.7),
re-expressed as DataFrame->DataFrame functions.

The reference's five ``analyze_*`` notebook functions share one shape —
optional dim join -> groupBy(group_col) -> agg(fn(measure).alias(alias)) ->
orderBy(alias desc) -> limit(n) -> display (e.g. ``analyze_trip_data``,
ipynb:L1828-1848). Its higher-order trick — passing ``F.avg``/``F.sum``
themselves as the ``agg_func`` argument (ipynb:L58 import-* shadowing,
SURVEY.md §3.1) — is kept: aggregate factories are first-class parameters
resolved at plan-build time.

Engine deltas from the reference (deliberate):
* returns the DataFrame instead of display() side effects (S8 is
  presentation, out of engine scope);
* deterministic top-k: tie-break on the group columns so limit(n) is a
  well-defined row set (SURVEY.md §7.4 risk 7);
* dims are broadcast-hinted: at 100 TB the fact side never shuffles for a
  star join (SURVEY.md §4); orderBy+limit stay adjacent so Catalyst plans
  TakeOrderedAndProject (true top-k — no global sort of the aggregate).

Fan-out semantics of the extra-credit 3-way joins (J5, cells 40/41) are
reproduced verbatim in the query layer — the many-to-many row multiplication
is part of the reference's observable behavior (SURVEY.md §7.4 risk 3).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

AggFactory = Callable[..., Column]  # e.g. F.avg, F.sum, exact_avg partials


def grouped_metric(
    df: DataFrame,
    group_cols: str | Sequence[str],
    aggs: Sequence[Column],
    order_by: str,
    limit: int,
) -> DataFrame:
    """γ_{group}(df) with explicit agg columns, deterministic sort, top-k.

    The generalization of ``analyze_trip_data``/``analyze_duration``
    (ipynb:L1828-1848, L2481-2501): group -> agg -> orderBy(metric desc) ->
    limit. ``aggs`` are pre-aliased Columns (multi-agg A3 falls out free).
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    return (
        df.groupBy(*groups)
        .agg(*aggs)
        .orderBy(F.col(order_by).desc(), *[F.col(g).asc() for g in groups])
        .limit(limit)
    )


def analyze_fact(
    fact: DataFrame,
    group_col: str,
    agg: Column,
    alias: str,
    limit: int = 10,
) -> DataFrame:
    """``analyze_trip_data`` / ``analyze_duration`` shape (ipynb:L1828-1848,
    L2481-2501): single-fact grouped aggregate, sorted desc, top-k."""
    return grouped_metric(fact, group_col, [agg], order_by=alias, limit=limit)


def analyze_fact_with_dim(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    group_col: str,
    agg: Column,
    alias: str,
    limit: int = 10,
    dim_filter: Column | None = None,
) -> DataFrame:
    """``analyze_duration_by_age`` / ``_by_membership`` /
    ``analyze_payment_data`` / ``analyze_member_payment_data`` shape
    (ipynb:L3316-3337, L3849-3871, L4626-4657, L4933-4965):
    fact ⋈ (σ dim) -> group -> agg -> sort -> top-k.

    USING-join (J1) so the key column dedups; dim side broadcast."""
    d = dim.where(dim_filter) if dim_filter is not None else dim
    joined = fact.join(F.broadcast(d), on=on, how="inner")
    return grouped_metric(joined, group_col, [agg], order_by=alias, limit=limit)
