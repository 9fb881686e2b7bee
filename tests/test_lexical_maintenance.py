"""q248 maintained lexical index (plans/lexical_maintenance.py).

Pinned three ways (house pattern): (1) the maintained-index scoring
equals a from-scratch scorer restricted to batch docs — computed here
with an INDEPENDENT pure-Python BM25 over the smoke parquet (shares
nothing with either engine); (2) the registered query matches its
DuckDB oracle; (3) the store actually participates — the current tf/len
tables cover the full corpus while the first version is corpus-only.
"""

from __future__ import annotations

import math
import re

import duckdb
import pandas as pd

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.lakehouse import (
    _BM25_B,
    _BM25_K1,
    _BM25_TERMS,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
    ORACLES,
    QUERIES,
)

SF_SMOKE = "/root/testdata/sf0.001"
NAME = "q248_lexical_index_maintenance"


def _h(doc_id: int) -> int:
    return ((doc_id % 100003) * 2654435761) % 1000


def _brute_force(path: str) -> list[tuple]:
    """Pure-Python BM25 over the parquet — engine tokenizer contract
    (space-only strip, regex split preserving empty tokens)."""
    docs = pd.read_parquet(path, columns=["doc_id", "text"])
    toks = {
        int(r["doc_id"]): re.split(r"\s+", r["text"].strip(" "))
        for _, r in docs.iterrows()
    }
    dl = {d: len(ts) for d, ts in toks.items()}
    nd = len(dl)
    avglen = sum(dl.values()) / nd
    tf = {
        (d, t): sum(1 for x in ts if x == t)
        for d, ts in toks.items()
        for t in _BM25_TERMS
        if t in ts
    }
    df = {t: sum(1 for (d, tt) in tf if tt == t) for t in _BM25_TERMS}
    scores: dict[int, float] = {}
    for (d, t), f in tf.items():
        if _h(d) < 800:
            continue
        idf = math.log(1 + (nd - df[t] + 0.5) / (df[t] + 0.5))
        part = idf * (f * (_BM25_K1 + 1)) / (
            f + _BM25_K1 * (1 - _BM25_B + _BM25_B * dl[d] / avglen)
        )
        # mirror the engines' order-independent decimal-sum contract
        scores[d] = scores.get(d, 0.0) + round(part, 6)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    out = [(d, round(s, 6)) for d, s in ranked]
    out.sort(key=lambda r: (-r[1], r[0]))
    return out


def test_q248_matches_python_brute_force(spark):
    got = [tuple(r) for r in QUERIES[NAME](spark, SF_SMOKE).collect()]
    want = _brute_force(f"{SF_SMOKE}/documents.parquet")
    assert len(got) == len(want) > 0
    assert got == want


def test_q248_matches_duckdb_oracle(spark):
    got = [tuple(r) for r in QUERIES[NAME](spark, SF_SMOKE).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    orc = [tuple(r) for r in con.execute(ORACLES[NAME]).fetchall()]
    assert got == orc


def test_q248_store_lifecycle(spark):
    """current tf/len tables cover the full corpus; the run's first
    version is corpus-only (no batch doc); statistics are additive so
    current == from-scratch tokenization by row count."""
    from pyspark.sql import functions as F

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.hashing import corpus_sql
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.text import (
        tokens,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.versioned import (
        current_version,
        read_current,
        read_version,
        session_store,
    )

    QUERIES[NAME](spark, SF_SMOKE).collect()
    dl_store = session_store(spark, "lex_index") + "_dl"
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_all = docs.count()
    n_corpus = docs.where(F.expr(corpus_sql("doc_id"))).count()

    v1 = read_version(spark, dl_store, current_version(dl_store) - 1)
    cur = read_current(spark, dl_store)
    assert v1.count() == n_corpus
    assert cur.count() == n_all
    # the maintained len table equals from-scratch tokenization per doc
    scratch = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("len")
    )
    diff = (
        cur.join(scratch.withColumnRenamed("len", "want"), "doc_id")
        .where(F.col("len") != F.col("want"))
        .count()
    )
    assert diff == 0
