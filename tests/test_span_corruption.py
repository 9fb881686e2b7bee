"""q266 FIM span-corruption invariants: deterministic pivots, exact PSM
reassembly, hash-gated selection, pass-through identity."""

import hashlib

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.span_corruption import (
    _FIM_RATE_E6,
    _Q1,
    _Q2,
    fim_transform,
)


def _docs(spark, n=200):
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 13}" for j in range((i % 17) + 1)))
        for i in range(n)
    ]
    return rows, spark.createDataFrame(rows, ["doc_id", "text"])


def test_fim_matches_pure_python_twin(spark):
    """Every output row — selection, pivots, and the md5 of the emitted
    token stream (PSM layout or pass-through) — against a pure-Python
    reimplementation sharing no code with the plan."""
    rows, docs = _docs(spark)

    expected = {}
    for doc_id, text in rows:
        ts = text.strip().split()
        n = len(ts)
        if n == 0:
            continue
        fim = ((doc_id % 99991) * 2654435761) % 1_000_000 < _FIM_RATE_E6
        if fim:
            p1 = (((doc_id % 99991) * _Q1) % 99991) % (n + 1)
            p2 = p1 + (((doc_id % 99991) * _Q2) % 99991) % (n - p1 + 1)
            out = (
                "<PRE> " + " ".join(ts[:p1])
                + " <SUF> " + " ".join(ts[p2:])
                + " <MID> " + " ".join(ts[p1:p2])
            )
            expected[doc_id] = (n, True, p1, p2, hashlib.md5(out.encode()).hexdigest())
        else:
            expected[doc_id] = (
                n, False, None, None,
                hashlib.md5(" ".join(ts).encode()).hexdigest(),
            )

    got = {
        r["doc_id"]: (r["n_toks"], r["fim"], r["p1"], r["p2"], r["out_md5"])
        for r in fim_transform(docs).collect()
    }
    assert got == expected
    # the gate selects a real mixed population at this size
    n_fim = sum(1 for v in got.values() if v[1])
    assert 0 < n_fim < len(got)


def test_fim_pivots_cover_boundary_splits(spark):
    """The pivot arithmetic must reach boundary layouts — empty prefix
    (p1=0), empty middle (p1=p2), empty suffix (p2=n) — without
    degenerating: all three occur across a modest corpus, and every
    pivot respects 0 <= p1 <= p2 <= n."""
    _, docs = _docs(spark, 400)
    out = fim_transform(docs).where("fim").collect()
    assert all(0 <= r["p1"] <= r["p2"] <= r["n_toks"] for r in out)
    assert any(r["p1"] == 0 for r in out)
    assert any(r["p1"] == r["p2"] for r in out)
    assert any(r["p2"] == r["n_toks"] for r in out)


def test_fim_plan_is_scan_side_only(spark):
    """Scale contract: the transform is per-row Column work in the scan
    stage — the ONLY exchange in the plan is the presentation sort (a
    deployment drops it and writes back partition-local)."""
    _, docs = _docs(spark)
    plan = fim_transform(docs)._jdf.queryExecution().executedPlan().toString()
    import re

    assert len(re.findall(r"Exchange rangepartitioning", plan)) == 1, plan
    assert len(re.findall(r"Exchange ", plan)) == 1, plan
    assert "BatchEvalPython" not in plan


def test_fim_survives_corpus_scale_doc_ids(spark):
    """Overflow regression: pivot mixers must mod doc_id BEFORE the
    multiply — a bare doc_id * 2246822519 passes int64 at doc_id ~4e9
    (ANSI crash at corpus scale). Ids around 1e10-1e12 must transform
    cleanly with valid pivots and match the pure-Python arithmetic."""
    rows = [
        (10_000_000_000 + i * 99_999_999_999, "a b c d e f g h i j")
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = fim_transform(docs).collect()
    assert len(out) == len(rows)
    for r in out:
        if r["fim"]:
            assert 0 <= r["p1"] <= r["p2"] <= r["n_toks"]
            d = r["doc_id"]
            assert r["p1"] == (((d % 99991) * _Q1) % 99991) % (r["n_toks"] + 1)


def test_ul2_matches_pure_python_twin(spark):
    """q268: every row — window arithmetic, span offsets, masked token
    totals, and the md5 of BOTH emitted streams — against a pure-Python
    reimplementation sharing no code with the plan."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.span_corruption import (
        _Q3,
        _UL2_MAX_K,
        _UL2_PCT,
        ul2_denoise,
    )

    # longer docs than _docs(): k must reach all arities (n up to 45)
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 13}" for j in range((i % 45) + 1)))
        for i in range(250)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    expected = {}
    for doc_id, text in rows:
        ts = text.strip().split()
        n = len(ts)
        if n == 0:
            continue
        k = min(_UL2_MAX_K, max(1, n // 8))
        cor_parts, tgt_parts, masked = [], [], 0
        for j in range(k):
            a, b = j * n // k, (j + 1) * n // k
            w = b - a
            L = max(1, w * _UL2_PCT // 100)
            m0 = a + ((doc_id % 99991) * _Q1 + j * _Q3) % 99991 % (w - L + 1)
            m1 = m0 + L
            cor_parts.append(
                " ".join(ts[a:m0]) + f" <X{j}> " + " ".join(ts[m1:b])
            )
            tgt_parts.append(f"<X{j}> " + " ".join(ts[m0:m1]))
            masked += L
        expected[doc_id] = (
            n,
            k,
            masked,
            hashlib.md5(" ".join(cor_parts).encode()).hexdigest(),
            hashlib.md5(" ".join(tgt_parts).encode()).hexdigest(),
        )

    got = {
        r["doc_id"]: (
            r["n_toks"],
            r["k"],
            r["masked_toks"],
            r["corrupted_md5"],
            r["targets_md5"],
        )
        for r in ul2_denoise(docs).collect()
    }
    assert got == expected
    assert {v[1] for v in got.values()} == {1, 2, 3}  # all k arities occur


def test_ul2_plan_is_scan_side_only(spark):
    """q268 keeps q266's scale shape: fixed span cap unrolls as
    conditional concat — no explode, no shuffle beyond the presentation
    sort."""
    import re

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.span_corruption import (
        ul2_denoise,
    )

    _, docs = _docs(spark)
    plan = ul2_denoise(docs)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange ", plan)) == 1, plan
    assert "Generate" not in plan and "BatchEvalPython" not in plan
