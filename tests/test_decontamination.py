"""q244 multi-benchmark decontamination sweep (plans/decontamination.py).

Pinned two independent ways (the brute-force-beats-oracle rule): (1) a
pure-Python set-arithmetic reimplementation over the smoke parquet —
shares NOTHING with either engine's shingle/join strategy; (2) the
registered query value-matched against its DuckDB oracle. Plus a plan
pin for the one-scan property the head exists to demonstrate: exactly
ONE Generate over the corpus side regardless of benchmark count.
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.decontamination import (
    BENCHMARKS,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
    ORACLES,
    QUERIES,
)

SF_SMOKE = "/root/testdata/sf0.001"
NAME = "q244_multi_benchmark_decontamination"


def _brute_force(path: str) -> list[tuple]:
    """Set arithmetic in plain Python — no SQL, no Spark."""
    docs = pd.read_parquet(path, columns=["doc_id", "source", "text"])

    def shingles(text: str, n: int) -> set:
        # mirror the ENGINE tokenizer contract exactly (r8 advice):
        # space-only trim + regex split that PRESERVES empty tokens
        # (split(trim(text), '\s+') yields '' on leading tab/newline —
        # the edge test_properties.py pins). Python strip()/split()
        # would silently diverge on such docs.
        ts = re.split(r"\s+", text.strip(" "))
        return {" ".join(ts[i : i + n]) for i in range(len(ts) - n + 1)}

    src_counts = docs.groupby("source").size().to_dict()
    out = []
    for bname, bsrc, n, te4 in BENCHMARKS:
        bench_set = set()
        for t in docs.loc[docs["source"] == bsrc, "text"]:
            bench_set |= shingles(t, n)
        cont: dict[str, int] = {}
        for _, row in docs[docs["source"] != bsrc].iterrows():
            sh = shingles(row["text"], n)
            m = len(sh & bench_set)
            if m >= 1 and m * 10000 >= te4 * len(sh):
                cont[row["source"]] = cont.get(row["source"], 0) + 1
        for src, n_docs in src_counts.items():
            if src == bsrc:
                continue
            c = cont.get(src, 0)
            out.append((src, bname, c, round(c / n_docs, 6)))
    out.sort(key=lambda r: (r[0], r[1]))
    return out


def test_q244_matches_python_brute_force(spark):
    got = [tuple(r) for r in QUERIES[NAME](spark, SF_SMOKE).collect()]
    want = _brute_force(f"{SF_SMOKE}/documents.parquet")
    assert len(got) == len(want) > 0
    assert got == want


def test_q244_matches_duckdb_oracle(spark):
    got = [tuple(r) for r in QUERIES[NAME](spark, SF_SMOKE).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    orc = [tuple(r) for r in con.execute(ORACLES[NAME]).fetchall()]
    assert got == orc


def test_q244_emits_full_matrix_with_zero_rows(spark):
    """Every (source, benchmark) pair except a benchmark's own source
    must appear — a clean source is a zero ROW, not an absence."""
    rows = QUERIES[NAME](spark, SF_SMOKE).collect()
    sources = {r["source"] for r in rows}
    per_bench = {}
    for r in rows:
        per_bench.setdefault(r["benchmark"], set()).add(r["source"])
    n_sources = len(sources | {b[1] for b in BENCHMARKS})
    for bname, bsrc, _, _ in BENCHMARKS:
        assert bsrc not in per_bench[bname]
        assert len(per_bench[bname]) == n_sources - 1


def test_q244_single_corpus_generate(spark):
    """The one-scan property: the executed plan contains exactly ONE
    Generate fed by the full corpus (big side); the N benchmark sides
    add Generates only over single-source (bounded) inputs, and there
    are exactly len(BENCHMARKS) of those."""
    plan = (
        QUERIES[NAME](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_generates = plan.count("Generate explode")
    # 1 corpus-side (tagged multi-size array) + one per benchmark side
    assert n_generates == 1 + len(BENCHMARKS), plan[:2000]
    # the probe must be a broadcast hash join on (n, sh), never a shuffle
    # of the corpus side against the benchmark union
    assert "BroadcastHashJoin [n#" in plan or "BroadcastHashJoin [n " in plan.replace("#", " ")


def test_semantic_screen_flags_planted_paraphrase(spark):
    """q265's core on synthetic vectors with a PLANTED near-duplicate:
    corpus vec 95 is benchmark vec 0 plus small noise (the paraphrase
    shape n-gram decon cannot see), everything else is near-orthogonal.
    The screen must flag exactly the planted vector's label group, count
    every non-benchmark vector exactly once, drop the planted zero-norm
    row, and keep the benchmark side bounded by the vec_id cap."""
    import numpy as np

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.decontamination import (
        _SEM_BENCH_CAP,
        _SEM_BENCH_MOD,
        semantic_screen,
    )

    rng = np.random.RandomState(7)
    dim = 16
    rows = []
    for vid in range(120):
        v = rng.standard_normal(dim)
        rows.append((vid, [float(x) for x in v], int(vid % 4)))
    # planted paraphrase: corpus 95 ~= benchmark 0 (vid 0 is bench:
    # 0 % mod == 0 and 0 < cap); 95 % 47 != 0 so it is corpus
    bench_vec = np.array(rows[0][1])
    rows[95] = (95, [float(x) for x in bench_vec + 0.01 * rng.standard_normal(dim)], 3)
    # zero-norm corpus row must be EXCLUDED, not divide-by-zero
    rows[41] = (41, [0.0] * dim, 1)
    # a vector past the cap at a modulus id stays CORPUS (bounded bench)
    assert 94 % _SEM_BENCH_MOD == 0 and 94 < _SEM_BENCH_CAP  # vid 94 IS bench here
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    out = {r["label"]: r for r in semantic_screen(emb, tau=0.9).collect()}

    n_bench = sum(
        1 for vid in range(120) if vid % _SEM_BENCH_MOD == 0 and vid < _SEM_BENCH_CAP
    )
    assert n_bench == 3  # vids 0, 47, 94
    # every non-benchmark, non-zero-norm vector counted exactly once
    assert sum(r["n_corpus"] for r in out.values()) == 120 - n_bench - 1
    # only the planted label flags at tau=0.9, and its max_cos is ~1
    assert {lbl: r["n_flagged"] for lbl, r in out.items()} == {0: 0, 1: 0, 2: 0, 3: 1}
    assert out[3]["max_cos"] > 0.99
    # independent numpy recomputation of one group's statistics
    bench_ids = [0, 47, 94]
    B = np.array([rows[i][1] for i in bench_ids], dtype=float)
    Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
    lbl0 = [
        r
        for r in rows
        if r[2] == 0 and r[0] not in bench_ids and np.linalg.norm(r[1]) > 0
    ]
    C = np.array([r[1] for r in lbl0], dtype=float)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    mc = np.sign(Cn @ Bn.T) * np.floor(np.abs(Cn @ Bn.T) * 1e4 + 0.5) / 1e4
    want = mc.max(axis=1)
    assert out[0]["n_corpus"] == len(lbl0)
    assert abs(out[0]["max_cos"] - want.max()) < 1e-9
    assert out[0]["sum_maxcos_e4"] == round(float(want.sum()) * 10000)
