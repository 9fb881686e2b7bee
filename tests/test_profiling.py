"""Value/property tests for the profiling batch (q169-q194): brute-force
re-computation in numpy/pandas/DuckDB, estimator-accuracy bounds, and
physical-plan contracts for the scale-critical shapes."""

import hashlib

import duckdb
import numpy as np
import pandas as pd

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.profiling import (
    _HLL_M,
    _HLL_RHO_MAX,
    _JS_RATE,
    _JS_THETA,
    _MAD_C,
    _MAD_CUT,
    _SNM_MAXDIST,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import QUERIES

from conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


# ---------------------------------------------------------------------------
# q169 HLL
# ---------------------------------------------------------------------------


def _py_hash60(v) -> int:
    return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)


def test_hll_register_sum_matches_pure_python(spark):
    """The exact-integer register sum must equal a from-scratch Python
    HLL over the same md5 hashes — register state verified bit-for-bit."""
    rows = {r["event_type"]: r for r in QUERIES["q169_hll_distinct"](spark, SF_SMOKE).collect()}
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_type", "user_id"])
    for et, grp in ev.groupby("event_type"):
        regs = {}
        users = set(grp["user_id"])
        for u in users:
            h = _py_hash60(u)
            bucket, rem = h % _HLL_M, h >> 8
            rho = _HLL_RHO_MAX if rem == 0 else _HLL_RHO_MAX - rem.bit_length()
            regs[bucket] = max(regs.get(bucket, 0), rho)
        s = sum(1 << (_HLL_RHO_MAX - m) for m in regs.values())
        s += (_HLL_M - len(regs)) * (1 << _HLL_RHO_MAX)
        r = rows[et]
        assert r["reg_sum"] == s, et
        assert r["n_buckets"] == len(regs), et
        assert r["n_exact"] == len(users), et


def test_hll_estimate_within_3_sigma(spark):
    """HLL stderr is ~1.04/sqrt(m) = 6.5% at m=256; require < 3 sigma."""
    for r in QUERIES["q169_hll_distinct"](spark, SF_SMOKE).collect():
        rel = abs(r["hll_estimate"] - r["n_exact"]) / r["n_exact"]
        assert rel < 3 * 1.04 / np.sqrt(_HLL_M), (r["event_type"], rel)


def test_hll_plan_is_pure_aggregation(spark):
    """No windows, no joins — the sketch must plan as a hash-agg tree
    (the shape that partial-aggregates map-side at 100 TB)."""
    plan = _plan(spark, "q169_hll_distinct")
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree
    assert "Join" not in tree


# ---------------------------------------------------------------------------
# q170 column profile
# ---------------------------------------------------------------------------


def test_column_profile_single_scan(spark):
    """All 6x5 statistics in ONE scan of orders — a per-column rescan
    would turn profiling a 100 TB table into 6 passes."""
    plan = _plan(spark, "q170_column_profile")
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1


def test_column_profile_values(spark):
    rows = {r["col_name"]: r for r in QUERIES["q170_column_profile"](spark, SF_SMOKE).collect()}
    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    assert set(rows) == {
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    }
    for c in ("o_orderkey", "o_custkey", "o_orderstatus"):
        r = rows[c]
        assert r["n_rows"] == len(o)
        assert r["n_null"] == int(o[c].isna().sum())
        assert r["n_distinct"] == o[c].nunique()
    assert rows["o_totalprice"]["min_val"] == f"{o['o_totalprice'].min():.2f}"
    assert rows["o_totalprice"]["max_val"] == f"{o['o_totalprice'].max():.2f}"


# ---------------------------------------------------------------------------
# q171 Pareto frontier
# ---------------------------------------------------------------------------


def test_pareto_frontier_exact_vs_brute_force(spark):
    """The windowed frontier must equal the O(n^2) dominance definition:
    kept iff no other order has (date >=, price >=) with one strict."""
    got = {
        r["o_orderkey"]
        for r in QUERIES["q171_pareto_frontier"](spark, SF_SMOKE).collect()
    }
    o = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet", columns=["o_orderkey", "o_orderdate", "o_totalprice"]
    )
    d = o["o_orderdate"].values
    p = o["o_totalprice"].values
    dominated = np.zeros(len(o), dtype=bool)
    for i in range(len(o)):
        dominated[i] = np.any(
            (d >= d[i]) & (p >= p[i]) & ((d > d[i]) | (p > p[i]))
        )
    want = set(o.loc[~dominated, "o_orderkey"])
    assert got == want


# ---------------------------------------------------------------------------
# q172 grouping sets
# ---------------------------------------------------------------------------


def test_grouping_sets_totals_consistent(spark):
    rows = QUERIES["q172_grouping_sets"](spark, SF_SMOKE).collect()
    detail = [r for r in rows if r["g_status"] == 0 and r["g_priority"] == 0]
    sub = [r for r in rows if r["g_status"] == 0 and r["g_priority"] == 1]
    grand = [r for r in rows if r["g_status"] == 1 and r["g_priority"] == 1]
    assert len(grand) == 1
    assert grand[0]["n_orders"] == sum(r["n_orders"] for r in detail)
    # decimal-exact sums: subtotal and grand total must tie out exactly
    assert abs(grand[0]["sum_price"] - sum(r["sum_price"] for r in detail)) < 1e-6
    for s in sub:
        dsum = sum(r["sum_price"] for r in detail if r["o_orderstatus"] == s["o_orderstatus"])
        assert abs(s["sum_price"] - dsum) < 1e-6, s


def test_grouping_sets_single_shuffle(spark):
    """Expand + one hash-agg exchange — not one aggregate per set."""
    tree = _plan(spark, "q172_grouping_sets").split("\n\n")[0]
    assert "Expand" in tree
    assert tree.count("Exchange") <= 2  # agg exchange (+ the output sort)


# ---------------------------------------------------------------------------
# q173 transitions
# ---------------------------------------------------------------------------


def test_transition_probabilities_sum_to_one(spark):
    rows = QUERIES["q173_event_transitions"](spark, SF_SMOKE).collect()
    df = pd.DataFrame([r.asDict() for r in rows])
    for et, grp in df.groupby("event_type"):
        assert abs(grp["p_next"].sum() - 1.0) < 1e-4, et
    # transition counts must total (events - one per user with >=1 event)
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["user_id"])
    n_users = ev["user_id"].nunique()
    assert df["n_transitions"].sum() == len(ev) - n_users


# ---------------------------------------------------------------------------
# q174 MAD outliers
# ---------------------------------------------------------------------------


def test_mad_outliers_vs_numpy(spark):
    rows = {r["event_type"]: r for r in QUERIES["q174_mad_outliers"](spark, SF_SMOKE).collect()}
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_type", "value"])
    for et, grp in ev.groupby("event_type"):
        v = grp["value"].values
        med = np.percentile(v, 50)
        mad = np.percentile(np.abs(v - med), 50)
        n_out = int(np.sum(np.abs(np.round(_MAD_C * (v - med) / mad, 6)) > _MAD_CUT))
        r = rows[et]
        assert abs(r["med"] - round(med, 4)) < 1e-9, et
        assert abs(r["mad"] - round(mad, 4)) < 1e-9, et
        assert r["n_outliers"] == n_out, et


def test_mad_join_backs_broadcast(spark):
    """The per-type median/MAD tables are tiny: both join-backs must
    broadcast, never shuffle the fact side."""
    tree = _plan(spark, "q174_mad_outliers").split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


# ---------------------------------------------------------------------------
# q175 chi-square
# ---------------------------------------------------------------------------


def test_chi_square_vs_numpy(spark):
    r = QUERIES["q175_chi_square_independence"](spark, SF_SMOKE).collect()[0]
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_type", "ts"])
    # Spark dayofweek: 1=Sun..7=Sat; pandas dayofweek: 0=Mon..6=Sun
    dow = (ev["ts"].dt.dayofweek + 1) % 7 + 1
    tab = pd.crosstab(ev["event_type"], dow).values.astype(float)
    rt = tab.sum(axis=1, keepdims=True)
    ct = tab.sum(axis=0, keepdims=True)
    n = tab.sum()
    e = rt * ct / n
    chi2 = float(((tab - e) ** 2 / e).sum())
    assert abs(r["chi_square"] - chi2) < 1e-4
    assert r["dof"] == (tab.shape[0] - 1) * (tab.shape[1] - 1)
    assert r["n_events"] == int(n)


# ---------------------------------------------------------------------------
# q176 join-size estimate
# ---------------------------------------------------------------------------


def test_join_size_exact_matches_duckdb(spark):
    r = QUERIES["q176_join_size_estimate"](spark, SF_SMOKE).collect()[0]
    con = duckdb.connect()
    want = con.execute(
        f"""SELECT count(*) FROM '{SF_SMOKE}/orders.parquet' o
            JOIN '{SF_SMOKE}/events.parquet' e ON o.o_custkey = e.user_id"""
    ).fetchone()[0]
    assert r["exact_pairs"] == want


def test_join_size_estimate_python_reference(spark):
    """Estimator replayed in pure Python over the same md5 hashes."""
    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet", columns=["o_custkey"])
    e = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["user_id"])
    ca = o["o_custkey"].value_counts()
    cb = e["user_id"].value_counts()
    est = 0
    for k in ca.index.intersection(cb.index):
        if _py_hash60(k) < _JS_THETA:
            est += int(ca[k]) * int(cb[k])
    est *= _JS_RATE
    r = QUERIES["q176_join_size_estimate"](spark, SF_SMOKE).collect()[0]
    assert r["est_pairs"] == est


# ---------------------------------------------------------------------------
# q177 sorted neighborhood
# ---------------------------------------------------------------------------


def test_snm_pairs_valid_and_blocked(spark):
    rows = QUERIES["q177_sorted_neighborhood"](spark, SF_SMOKE).collect()
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text", "lang"])
    norm = (
        docs.set_index("doc_id")["text"]
        .str.replace(r"\s+", " ", regex=True)
        .str.strip()
        .str.lower()
    )
    lang = docs.set_index("doc_id")["lang"]
    seen = set()
    for r in rows:
        a, b = r["doc_a"], r["doc_b"]
        assert a < b
        assert (a, b) not in seen
        seen.add((a, b))
        assert r["dist"] <= _SNM_MAXDIST
        # pair must come from the same block: same lang + same first char
        assert lang[a] == lang[b]
        assert norm[a][:1] == norm[b][:1]


def test_snm_window_is_partitioned(spark):
    """The sort window must be partitioned (lang, first char) — a global
    single-partition sort would not survive 100 TB."""
    plan = _plan(spark, "q177_sorted_neighborhood")
    assert "No Partition Defined" not in plan
    tree = plan.split("\n\n")[0]
    assert "Window" in tree


# ---------------------------------------------------------------------------
# q178 JL projection
# ---------------------------------------------------------------------------


def test_jl_projection_matches_numpy(spark):
    """Every projected coordinate replayed exactly in numpy int64."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.profiling import (
        _JL_D_IN,
        _JL_D_OUT,
        _JL_QSCALE,
        _JL_SIGN_ROWS,
    )

    S = np.zeros((_JL_D_IN, _JL_D_OUT), dtype=np.int64)
    for i, j, s in _JL_SIGN_ROWS:
        S[i - 1, j - 1] = s
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet", columns=["vec_id", "embedding"])
    X = np.floor(
        np.stack(emb["embedding"].values).astype(np.float64) * _JL_QSCALE
    ).astype(np.int64)
    Y = X @ S  # exact: values << 2^63
    want = {
        (int(v), j + 1): int(Y[r, j])
        for r, v in enumerate(emb["vec_id"])
        for j in range(_JL_D_OUT)
    }
    rows = QUERIES["q178_jl_projection"](spark, SF_SMOKE).collect()
    assert len(rows) == len(emb) * _JL_D_OUT
    for r in rows:
        assert want[(r["vec_id"], r["j"])] == r["y"], (r["vec_id"], r["j"])


def test_jl_projection_preserves_geometry(spark):
    """JL lemma in action: at d_out=8 the guarantee is a DISTORTION BAND,
    not rank order (random 64-d points have concentrated distances, so
    correlation is the wrong metric): the per-pair ratio ||Py-Px||/||y-x||
    (after the 1/sqrt(d_out) scaling) follows sqrt(chi^2_8 / 8) —
    >= 98% of pairs must land inside its [0.35, 1.7] central band."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.profiling import (
        _JL_D_OUT,
        _JL_SIGN_ROWS,
    )

    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet", columns=["embedding"])
    X = np.stack(emb["embedding"].values).astype(np.float64)[:100]
    S = np.zeros((X.shape[1], _JL_D_OUT))
    for i, j, s in _JL_SIGN_ROWS:
        S[i - 1, j - 1] = s
    Y = X @ S / np.sqrt(_JL_D_OUT)
    dx = np.linalg.norm(X[:, None] - X[None, :], axis=2)[np.triu_indices(100, 1)]
    dy = np.linalg.norm(Y[:, None] - Y[None, :], axis=2)[np.triu_indices(100, 1)]
    ratio = dy / dx
    assert np.mean((ratio > 0.35) & (ratio < 1.7)) >= 0.98
    # unbiased in the median: the typical pair is barely distorted
    assert 0.8 < np.median(ratio) < 1.2


# ---------------------------------------------------------------------------
# q179 attribution
# ---------------------------------------------------------------------------


def test_attribution_counts_cover_all_purchases(spark):
    rows = QUERIES["q179_last_touch_attribution"](spark, SF_SMOKE).collect()
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_type", "value"])
    n_purchases = int((ev["event_type"] == "purchase").sum())
    assert sum(r["n_purchases"] for r in rows) == n_purchases
    total_rev = round(float(ev.loc[ev["event_type"] == "purchase", "value"].sum()), 2)
    assert abs(sum(r["attributed_revenue"] for r in rows) - total_rev) < 1e-6
    assert {r["attributed_type"] for r in rows} <= {
        "click", "error", "purchase", "signup", "view", "direct",
    }


# ---------------------------------------------------------------------------
# q180 correlation
# ---------------------------------------------------------------------------


def test_correlation_vs_numpy(spark):
    rows = {r["l_returnflag"]: r for r in QUERIES["q180_lineitem_correlation"](spark, SF_SMOKE).collect()}
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_returnflag", "l_quantity", "l_extendedprice"],
    )
    for flag, grp in li.groupby("l_returnflag"):
        want = np.corrcoef(grp["l_quantity"], grp["l_extendedprice"])[0, 1]
        r = rows[flag]
        assert r["n_items"] == len(grp)
        assert abs(r["corr_qty_price"] - want) < 1e-5, flag


# ---------------------------------------------------------------------------
# q181 rendezvous sharding
# ---------------------------------------------------------------------------


def test_rendezvous_movement_and_balance(spark):
    """Growing 8 -> 9 shards must move ~1/9 of docs (the rendezvous
    property; mod-N would move ~8/9), and the 8-shard split stays
    roughly balanced."""
    r = QUERIES["q181_rendezvous_sharding"](spark, SF_SMOKE).collect()[0]
    assert r["n_docs"] > 0
    expect = 1.0 / 9.0
    # binomial 3-sigma band around 1/9
    sigma = (expect * (1 - expect) / r["n_docs"]) ** 0.5
    assert abs(r["moved_frac"] - expect) < 3 * sigma + 1e-9
    # balance: no shard more than 2x the smallest at 500 docs / 8 shards
    assert r["max_shard_n"] <= 2 * r["min_shard_n"]


def test_rendezvous_matches_python(spark):
    """Shard assignment replayed in pure Python md5."""
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id"])
    moved = 0
    for d in docs["doc_id"]:
        hs = [_py_hash60(f"{d}:{s}") for s in range(9)]
        s8 = int(np.argmax(hs[:8]))
        s9 = int(np.argmax(hs))
        moved += s8 != s9
    r = QUERIES["q181_rendezvous_sharding"](spark, SF_SMOKE).collect()[0]
    assert r["n_moved"] == moved


# ---------------------------------------------------------------------------
# q182 table checksum
# ---------------------------------------------------------------------------


def test_checksum_is_order_independent(spark):
    """The digest must not change under any re-ordering/partitioning:
    recompute over a shuffled pandas replay and compare."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.profiling import _CK_MOD

    rows = {r["table_name"]: r for r in QUERIES["q182_table_checksum"](spark, SF_SMOKE).collect()}
    n = pd.read_parquet(f"{SF_SMOKE}/nation.parquet")
    n = n.sample(frac=1.0, random_state=7)  # permute rows
    total = 0
    for _, row in n.iterrows():
        canon = f"{row['n_nationkey']}|{row['n_name']}|{row['n_regionkey']}"
        total += _py_hash60(canon)
    assert rows["nation"]["checksum"] == total % _CK_MOD
    assert rows["nation"]["n_rows"] == len(n)


def test_checksum_detects_single_value_change(spark):
    """One changed cell must change the digest (with overwhelming
    probability) — the property replication verification relies on."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.profiling import _CK_MOD

    n = pd.read_parquet(f"{SF_SMOKE}/nation.parquet")
    base = sum(
        _py_hash60(f"{r['n_nationkey']}|{r['n_name']}|{r['n_regionkey']}")
        for _, r in n.iterrows()
    ) % _CK_MOD
    n2 = n.copy()
    n2.loc[n2.index[0], "n_name"] = n2.loc[n2.index[0], "n_name"] + "X"
    mut = sum(
        _py_hash60(f"{r['n_nationkey']}|{r['n_name']}|{r['n_regionkey']}")
        for _, r in n2.iterrows()
    ) % _CK_MOD
    assert base != mut


def test_checksum_plan_has_no_shuffle_of_rows(spark):
    """Partial-aggregated sums only: one Exchange per table (the 1-row
    partial merge), no sort, no join."""
    tree = _plan(spark, "q182_table_checksum").split("\n\n")[0]
    assert "Join" not in tree
    assert tree.count("Scan parquet") == 3


# ---------------------------------------------------------------------------
# q183 rolling KMV
# ---------------------------------------------------------------------------


def test_rolling_kmv_accuracy_and_coverage(spark):
    """One row per observed day; when the merged sketch is not full the
    estimate IS the exact count (all hashes retained); when full, the KMV
    error bound (~1/sqrt(k-1) sigma) must hold at 4 sigma."""
    rows = QUERIES["q183_rolling_distinct_kmv"](spark, SF_SMOKE).collect()
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["ts"])
    n_days = ev["ts"].dt.date.nunique()
    assert len(rows) == n_days
    k = 64
    for r in rows:
        if r["n_retained"] < k:
            assert r["kmv_estimate"] == r["n_retained"] == r["n_exact"]
        else:
            rel = abs(r["kmv_estimate"] - r["n_exact"]) / r["n_exact"]
            assert rel < 4 / np.sqrt(k - 1), (r["wk_day"], rel)


def test_hll_precision_sweep_error_curve(spark):
    """p is a parameter (the KMV-k lesson): at p in {6, 8, 10} the
    estimate must track the exact count within 4 x the published stderr
    1.04/sqrt(2^p), and the p-sweep must be internally consistent (every
    p sees the same n_exact). Run at sf0.01 for a 1.5k-user domain."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.profiling import (
        hll_distinct_users,
    )
    from conftest import SF_ORACLE

    for p in (6, 8, 10):
        rows = hll_distinct_users(spark, SF_ORACLE, p).collect()
        assert rows, p
        for r in rows:
            rel = abs(r["hll_estimate"] - r["n_exact"]) / r["n_exact"]
            assert rel < 4 * 1.04 / np.sqrt(1 << p), (p, r["event_type"], rel)


def test_hll_oracle_replays_at_nondefault_p(spark):
    """The DuckDB oracle replays the sketch value-for-value at p != 8
    too — parameterization does not break the cross-engine contract."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.profiling import (
        hll_distinct_users,
        hll_oracle,
    )

    got = {
        (r["event_type"], r["n_buckets"], r["reg_sum"], r["hll_estimate"])
        for r in hll_distinct_users(spark, SF_SMOKE, 6).collect()
    }
    con = duckdb.connect()
    for t in ("events",):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')")
    want = {
        (et, nb, rs, est)
        for et, nb, rs, _, est in con.execute(hll_oracle(6)).fetchall()
    }
    assert got == want


# ---------------------------------------------------------------------------
# q184 bitmap intersection / q185 triangles
# ---------------------------------------------------------------------------


def test_bitmap_intersection_vs_pandas_sets(spark):
    """Exact pairwise audience overlap replayed with plain Python sets."""
    rows = QUERIES["q184_bitmap_intersection"](spark, SF_SMOKE).collect()
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_type", "user_id"])
    sets = {et: set(g["user_id"]) for et, g in ev.groupby("event_type")}
    types = sorted(sets)
    want = {
        (a, b): (
            len(sets[a] & sets[b]),
            len(sets[a]),
            len(sets[b]),
        )
        for i, a in enumerate(types)
        for b in types[i + 1:]
    }
    assert len(rows) == len(want)
    for r in rows:
        ncom, na, nb = want[(r["type_a"], r["type_b"])]
        assert (r["n_common"], r["n_a"], r["n_b"]) == (ncom, na, nb)
        assert abs(r["jaccard"] - round(ncom / (na + nb - ncom), 6)) < 1e-9


def test_bitmap_build_is_partial_aggregated(spark):
    """bit_or words must build through a partial+final hash-agg (map-side
    combine) and the intersection join must touch words, not user rows."""
    tree = _plan(spark, "q184_bitmap_intersection").split("\n\n")[0]
    assert "HashAggregate" in tree
    assert "CartesianProduct" not in tree


def test_triangle_count_vs_brute_force(spark):
    """Triangles recounted from the gated q177 pair set with plain
    Python adjacency."""
    import itertools

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["q177_sorted_neighborhood"](spark, SF_SMOKE).collect()
    }
    nbrs: dict[int, set] = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    tri = sum(
        1
        for a in nbrs
        for b, c in itertools.combinations(sorted(nbrs[a]), 2)
        if a < b and (b, c) in pairs
    )
    wedges = sum(
        1 for (a, b) in pairs for c in nbrs[b] if c > b
    )
    r = QUERIES["q185_dup_graph_triangles"](spark, SF_SMOKE).collect()[0]
    assert r["n_edges"] == len(pairs)
    assert r["n_wedges"] == wedges
    assert r["n_triangles"] == tri
    assert r["n_triangles"] <= r["n_wedges"]


# ---------------------------------------------------------------------------
# q186 TF-IDF doc similarity
# ---------------------------------------------------------------------------


def test_tfidf_pairs_vs_numpy(spark):
    """Pruned-space TF-IDF cosine replayed in pure Python floats."""
    import math
    from collections import Counter

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.profiling import (
        _TFIDF_COS_MIN,
        _TFIDF_DF_MAX,
        _TFIDF_DF_MIN,
    )

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    import re as _re

    def _shingles(text):
        ws = _re.sub(r"\s+", " ", text).strip().lower().split(" ")
        return Counter(
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        ) if len(ws) >= 3 else Counter()

    tf = {r["doc_id"]: _shingles(r["text"]) for _, r in docs.iterrows()}
    n = len(docs)
    df = Counter(t for c in tf.values() for t in c)
    keep = {t for t, d in df.items() if _TFIDF_DF_MIN <= d <= _TFIDF_DF_MAX}
    w = {
        d: {t: c * math.log(n / df[t]) for t, c in cnt.items() if t in keep}
        for d, cnt in tf.items()
    }
    nrm = {d: math.sqrt(sum(round(x * x, 12) for x in v.values())) for d, v in w.items()}
    ids = sorted(w)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            shared = set(w[a]) & set(w[b])
            if not shared:
                continue
            dot = sum(round(w[a][t] * w[b][t], 12) for t in shared)
            cos = round(dot / (nrm[a] * nrm[b]), 6)
            if cos >= _TFIDF_COS_MIN:
                want[(a, b)] = cos
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in QUERIES["q186_tfidf_doc_pairs"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6, k


def test_tfidf_join_sides_are_narrow(spark):
    """The q36 lesson as a contract: the inverted-index self-join must
    carry only (doc_id, token, w) — no wide document payloads."""
    tree = _plan(spark, "q186_tfidf_doc_pairs").split("\n\n")[0]
    assert "text" not in tree.split("Join")[1][:400] if "Join" in tree else True
    assert "CartesianProduct" not in tree


# ---------------------------------------------------------------------------
# q187 KS / q188 Gini / q189 lift
# ---------------------------------------------------------------------------


def test_ks_distance_vs_numpy_gridded(spark):
    """Gridded KS replayed in numpy; also sanity vs the exact KS
    (the grid answer must sit within the max per-bucket mass of exact)."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.profiling import _KS_B

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_type", "value"])
    mn, mx = ev["value"].min(), ev["value"].max()
    width = (mx - mn) / _KS_B
    ev = ev.assign(bucket=np.minimum(np.floor((ev["value"] - mn) / width), _KS_B - 1).astype(int))
    types = sorted(ev["event_type"].unique())
    cum = {}
    for t in types:
        counts = np.bincount(ev.loc[ev["event_type"] == t, "bucket"], minlength=_KS_B)
        cum[t] = np.cumsum(counts) / counts.sum()
    rows = {
        (r["type_a"], r["type_b"]): r["ks_d"]
        for r in QUERIES["q187_ks_distance_pairs"](spark, SF_SMOKE).collect()
    }
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            want = round(float(np.max(np.abs(cum[a] - cum[b]))), 6)
            assert abs(rows[(a, b)] - want) < 1e-9, (a, b)


def test_gini_vs_numpy(spark):
    rows = {r["c_mktsegment"]: r for r in QUERIES["q188_spend_gini"](spark, SF_SMOKE).collect()}
    c = pd.read_parquet(f"{SF_SMOKE}/customer.parquet", columns=["c_custkey", "c_mktsegment"])
    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet", columns=["o_custkey", "o_totalprice"])
    spend = (
        o.merge(c, left_on="o_custkey", right_on="c_custkey")
        .groupby(["c_mktsegment", "c_custkey"])["o_totalprice"]
        .sum()
        .reset_index()
    )
    for seg, grp in spend.groupby("c_mktsegment"):
        x = np.sort(np.round(grp["o_totalprice"].values, 2))
        n = len(x)
        want = 2 * np.sum(np.arange(1, n + 1) * x) / (n * x.sum()) - (n + 1) / n
        r = rows[seg]
        assert r["n_customers"] == n
        assert abs(r["gini"] - round(want, 6)) < 1e-5, seg
        assert 0.0 <= r["gini"] < 1.0


def test_lift_curve_consistency(spark):
    """Deciles cover all scored rows; weighted lift averages to ~1."""
    rows = QUERIES["q189_probe_lift_curve"](spark, SF_SMOKE).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet", columns=["label"])
    total = sum(r["n"] for r in rows)
    assert total == len(emb)
    n_pos = sum(r["n_pos"] for r in rows)
    assert n_pos == int((emb["label"] < 5).sum())
    wavg = sum(r["lift"] * r["n"] for r in rows) / total
    assert abs(wavg - 1.0) < 0.01


def test_incremental_join_view_covers_all_orders(spark):
    """The maintained view's rollup must account for every order exactly
    once (no dup/loss at the cutover boundary)."""
    rows = QUERIES["q190_incremental_join_view"](spark, SF_SMOKE).collect()
    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet", columns=["o_custkey", "o_totalprice"])
    c = pd.read_parquet(f"{SF_SMOKE}/customer.parquet", columns=["c_custkey"])
    joined = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    assert sum(r["n_rows"] for r in rows) == len(joined)
    assert abs(sum(r["revenue"] for r in rows) - round(joined["o_totalprice"].sum(), 2)) < 1e-4


def test_cusum_changepoint_vs_numpy(spark):
    r = QUERIES["q191_cusum_changepoint"](spark, SF_SMOKE).collect()[0]
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["ts"])
    daily = ev["ts"].dt.date.value_counts().sort_index()
    # per-deviation round-to-6 then exact accumulation (the query's
    # decimal-window discipline)
    cusum = np.cumsum(np.round(daily.values - daily.values.mean(), 6))
    # argmax of |cusum| with earliest-day tie-break
    peak = int(np.argmax(np.abs(cusum)))
    assert r["change_day"] == daily.index[peak]
    assert r["day_volume"] == int(daily.values[peak])
    assert abs(r["cusum_peak"] - cusum[peak]) < 1e-9


def test_time_to_convert_vs_pandas(spark):
    r = QUERIES["q192_time_to_convert"](spark, SF_SMOKE).collect()[0]
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["user_id", "event_type", "ts"])
    s = ev[ev["event_type"] == "signup"].groupby("user_id")["ts"].min()
    lags = []
    pur = ev[ev["event_type"] == "purchase"]

    def _epoch_s(t):  # unix_timestamp semantics: floor each ts to whole seconds
        return t.value // 10**9

    for uid, ts0 in s.items():
        later = pur[(pur["user_id"] == uid) & (pur["ts"] >= ts0)]["ts"]
        if len(later):
            lags.append((_epoch_s(later.min()) - _epoch_s(ts0)) / 3600.0)
    assert r["n_signups"] == len(s)
    assert r["n_converted"] == len(lags)
    assert abs(r["p50_hours"] - round(float(np.percentile(lags, 50)), 4)) < 1e-6
    assert abs(r["p90_hours"] - round(float(np.percentile(lags, 90)), 4)) < 1e-6


def test_knn_classify_majority_vote_replayed(spark):
    """The vote must be exactly the majority (tie -> smaller label) of
    the gated q39 neighbor relation."""
    from collections import Counter

    knn = QUERIES["q39_embedding_topk"](spark, SF_SMOKE).collect()
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet", columns=["vec_id", "label"])
    lab = emb.set_index("vec_id")["label"]
    by_q: dict[int, list] = {}
    for r in knn:
        by_q.setdefault(r["query_id"], []).append(int(lab[r["neighbor_id"]]))
    want = {}
    for q, labels in by_q.items():
        cnt = Counter(labels)
        best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        want[q] = best
    rows = QUERIES["q193_knn_classify"](spark, SF_SMOKE).collect()
    assert len(rows) == len(want)
    for r in rows:
        assert r["pred_label"] == want[r["query_id"]], r["query_id"]
        assert r["true_label"] == int(lab[r["query_id"]])
        assert r["correct"] == int(r["pred_label"] == r["true_label"])


def test_multi_touch_credit_conserved(spark):
    """Linear attribution must conserve credit: the channel credits sum
    to exactly the purchase count (each purchase hands out one unit)."""
    rows = QUERIES["q194_multi_touch_attribution"](spark, SF_SMOKE).collect()
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_type"])
    n_purchases = int((ev["event_type"] == "purchase").sum())
    total_credit = sum(r["credit"] for r in rows)
    assert abs(total_credit - n_purchases) < 1e-3  # 1e-12-rounded shares
    assert {r["attributed_type"] for r in rows} <= {
        "click", "error", "purchase", "signup", "view", "direct",
    }


def test_acf_vs_numpy(spark):
    rows = {r["lag"]: r for r in QUERIES["q195_daily_volume_acf"](spark, SF_SMOKE).collect()}
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["ts"])
    daily = ev["ts"].dt.date.value_counts().sort_index().values.astype(float)
    dv = np.round(daily - daily.mean(), 6)
    s0 = np.sum(dv * dv)
    for k in range(1, 8):
        want = round(float(np.sum(dv[:-k] * dv[k:]) / s0), 6)
        r = rows[k]
        assert r["n_pairs"] == len(dv) - k
        assert abs(r["acf"] - want) < 1e-6, k


def test_benford_terms_vs_numpy(spark):
    import math

    rows = {r["digit"]: r for r in QUERIES["q196_benford_digits"](spark, SF_SMOKE).collect()}
    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet", columns=["o_totalprice"])
    v = o.loc[o["o_totalprice"] >= 1, "o_totalprice"]
    digits = v.apply(lambda x: int(str(int(math.floor(x)))[0]))
    counts = digits.value_counts()
    total = int(counts.sum())
    assert set(rows) == set(counts.index)
    for d, n in counts.items():
        r = rows[d]
        assert r["n"] == n
        ben = math.log10(1 + 1 / d)
        assert abs(r["benford_p"] - round(ben, 6)) < 1e-9
        e = total * ben
        assert abs(r["chi2_term"] - round(round((n - e) ** 2 / e, 12), 6)) < 1e-9
    # probabilities form a distribution
    assert abs(sum(r["observed_p"] for r in rows.values()) - 1.0) < 1e-4


def test_stratified_kfold_balance(spark):
    """Every (label, fold) census cell must be |stratum|/k rounded: fold
    sizes within a stratum differ by at most 1, and fold totals cover
    the corpus exactly."""
    rows = QUERIES["q197_stratified_kfold"](spark, SF_SMOKE).collect()
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet", columns=["label"])
    strata = emb["label"].value_counts()
    df = pd.DataFrame([r.asDict() for r in rows])
    assert df["n"].sum() == len(emb)
    for label, grp in df.groupby("label"):
        assert grp["n"].sum() == strata[label]
        assert grp["n"].max() - grp["n"].min() <= 1, label
        assert len(grp) == min(5, strata[label])


def test_information_gain_vs_numpy(spark):
    r = QUERIES["q198_information_gain"](spark, SF_SMOKE).collect()[0]
    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet", columns=["o_orderpriority", "o_orderstatus"])
    tab = pd.crosstab(o["o_orderpriority"], o["o_orderstatus"]).values.astype(float)
    total = tab.sum()
    pc = tab.sum(axis=0) / total
    h_cls = float(np.sum(np.round(-pc * np.log(pc), 12)))
    fn = tab.sum(axis=1)
    h_cond = 0.0
    for i in range(tab.shape[0]):
        p = tab[i][tab[i] > 0] / fn[i]
        h_cond += float(np.sum(np.round((fn[i] / total) * (-p * np.log(p)), 12)))
    assert abs(r["class_entropy"] - round(h_cls, 6)) < 1e-9
    assert abs(r["conditional_entropy"] - round(h_cond, 6)) < 1e-9
    assert abs(r["information_gain"] - round(h_cls - h_cond, 6)) < 2e-6
    # IG is non-negative and bounded by the class entropy
    assert -1e-6 <= r["information_gain"] <= r["class_entropy"] + 1e-9


def test_source_overlap_matrix_bounds(spark):
    """q200: at most C(|sources|, 2) rows, Jaccard in [0, 1], shared-count
    never exceeds either side's distinct-shingle size, and the relation is
    produced from DISTINCT (source, shingle) so a boilerplate shingle
    cannot fan out beyond the source count."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import QUERIES

    rows = QUERIES["q200_source_overlap"](spark, SF_SMOKE).collect()
    srcs = {r["source_a"] for r in rows} | {r["source_b"] for r in rows}
    n = len(srcs)
    assert 0 < len(rows) <= n * (n - 1) // 2
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0 <= r["n_shared"] <= min(r["n_a"], r["n_b"])
        assert 0.0 <= r["jaccard"] <= 1.0
        # Jaccard recomputes from the counts (round-trip check)
        assert abs(r["jaccard"] - r["n_shared"] / (r["n_a"] + r["n_b"] - r["n_shared"])) < 1e-6
