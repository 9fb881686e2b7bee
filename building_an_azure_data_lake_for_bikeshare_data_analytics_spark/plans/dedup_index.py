"""Maintained dedup index: the shared shingle -> exact-pair -> component
subtree, built ONCE per (session, sf_dir) and read by every downstream
head (r6 verdict item 3).

Before r7, the five most expensive suite heads (q105/q113/q146/q226 and
friends) each recomputed the same shingles -> pairs -> components
pipeline from scratch — correct, but not the 100 TB deployment shape,
where the pair/component relation is a MAINTAINED table (built once,
incrementally updated per ingest batch — the posture q103 demonstrates
and q239 operationalizes end-to-end) that analysis heads simply read.
This module is the in-session form of that table:

* ``dup_pairs``      — exact Jaccard >= 0.5 pairs (doc_a, doc_b,
  jaccard), via the PPJoin prefix-filter kernel (q163's — the measured
  production exact path, wall/shuffle exponents 1.01/1.03 at 1M -> 10M,
  zero false negatives by the pigeonhole argument).
* ``dup_pairs_lsh``  — the same relation via the MinHash/LSH-verified
  kernel. Kept SEPARATE on purpose: q98/q73 exist to certify LSH recall
  against the exhaustive oracle, so their plans must keep the LSH
  subtree; they share one build instead of two.
* ``dup_components`` — connected components over ``dup_pairs``
  (``(doc_id, comp)``), the group table q105/q113 read.

Results are ``persist(MEMORY_AND_DISK)``-ed and memoized per
(applicationId, realpath(sf_dir)); entries from dead sessions are
evicted on access. At sf0.1 the cached relations are tens of MB; on a
real cluster this module's role is played by the versioned store table
q239 maintains (``sources/versioned.py``), and the memo is just the
session-local read cache in front of it.

The cache changes NO query semantics: every consumer's oracle is
unchanged and the relations are deterministic, so a cold-cache run and
a warm-cache run return identical rows — only the shuffle bytes move
(measured in SCALE_NOTES "r7 shared dedup index").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.hashing import corpus_sql
from ..functions.text import tokens

#: the corpus-wide dedup operating threshold every index consumer shares;
#: heads that sweep thresholds (q226) sweep ABOVE this floor over the
#: cached pair relation's jaccard column
INDEX_THRESHOLD = 0.5

_CACHE: dict[tuple[str, str, str], DataFrame] = {}

#: same-session bound on cached (sf_dir, relation) entries. A long-lived
#: session sweeping many sf dirs (the soak tools do exactly this) would
#: otherwise accumulate persisted relations forever (r7 advice). Up to
#: five relations per sf dir (the four this module builds plus
#: ``extensions.probe_scored``); eviction is LRU and unpersists the
#: evicted blocks eagerly.
_MAX_LIVE_ENTRIES = 12


def clear_index_cache(spark) -> int:
    """Drop every memoized relation of ``spark``'s session and unpersist
    live ones. Returns the number of entries dropped — the explicit
    release path for soak loops that churn sf dirs."""
    app = spark.sparkContext.applicationId
    doomed = [k for k in _CACHE if k[0] == app]
    for k in doomed:
        df = _CACHE.pop(k)
        try:
            df.unpersist()
        except Exception:
            pass  # session already gone; blocks died with it
    return len(doomed)


def _docs_tokens(spark, sf: str) -> DataFrame:
    # cost-based fanout below the tokenize projection (r13; see
    # plans/base._ts): the one-row-group testdata scan would otherwise
    # run every downstream shingle explode as one task (r12 profile: the
    # ppjoin build's two tokenize stages were 1.3 s singles), but the r12
    # unconditional to-core-count fanout regressed both index builds at
    # local[32] (ppjoin 11.7 -> 16.4 s) — the checkpointed 32-partition
    # shingle relation turned every downstream stage into 32 tiny tasks.
    from .base import _ts

    # (r13 A/B: 64 KiB/task — a 10-way fanout — measured flat against the
    # default 16 KiB width on all three builds; the builds are bounded by
    # driver planning + the serialized small-stage chain, not the fanout,
    # so the default stays)
    return _ts(spark, sf, "documents", "doc_id", "text", fan=True).select(
        "doc_id", tokens("text").alias("ts")
    )


def _memo(spark, sf: str, what: str, build) -> DataFrame:
    app = spark.sparkContext.applicationId
    key = (app, os.path.realpath(sf), what)
    hit = _CACHE.get(key)
    if hit is not None:
        # LRU: re-insert on hit so eviction order tracks recency
        _CACHE[key] = _CACHE.pop(key)
        return hit
    # evict relations persisted by sessions that no longer exist — their
    # cached blocks died with the executors
    for k in [k for k in _CACHE if k[0] != app]:
        del _CACHE[k]
    # bound same-session growth across sf dirs: unpersist + drop the
    # least-recently-used live entries (dict preserves insertion order)
    while len(_CACHE) >= _MAX_LIVE_ENTRIES:
        oldest = next(iter(_CACHE))
        _CACHE.pop(oldest).unpersist()
    df = build().persist(StorageLevel.MEMORY_AND_DISK)
    _CACHE[key] = df
    return df


def dup_pairs(spark, sf: str) -> DataFrame:
    """Exact >= INDEX_THRESHOLD Jaccard pairs (doc_a, doc_b, jaccard),
    PPJoin kernel, memoized + persisted. q163 is the registered face of
    this relation; q226/q105/q113/q158 read it."""
    from ..operators.dedup import prefix_filter_jaccard_pairs

    return _memo(
        spark,
        sf,
        "pairs_ppjoin",
        lambda: prefix_filter_jaccard_pairs(
            _docs_tokens(spark, sf), threshold=INDEX_THRESHOLD
        ),
    )


def dup_pairs_lsh(spark, sf: str) -> DataFrame:
    """The same pair relation via MinHash/LSH candidates + exact verify —
    the recall-certification path q98 and q73 pin. One build, two
    consumers."""
    from ..operators.dedup import lsh_verified_jaccard_pairs

    return _memo(
        spark,
        sf,
        "pairs_lsh",
        lambda: lsh_verified_jaccard_pairs(
            _docs_tokens(spark, sf), threshold=INDEX_THRESHOLD
        ),
    )


def corpus_signatures(spark, sf: str) -> DataFrame:
    """The maintained LSH signature artifact (doc_id, band, sig) for the
    EXISTING-corpus side of the q71 hash split (``hashing.corpus_sql`` — the shared
    fixture convention of every incremental head), memoized + persisted.

    This is the session-local form of the q245 stored signature table:
    the relation a deployment persists NEXT TO the dedup index so
    per-batch maintenance computes batch signatures only (the
    corpus-proportional recompute the r8 soak measured in
    ``incremental_cross_pairs`` — eliminated when this table is passed
    as ``corpus_banded``). q103 reads it; q239 carries the same artifact
    through the versioned store end to end."""
    from ..operators.dedup import banded_signature_table, shingle_sets

    def build():
        corpus = _docs_tokens(spark, sf).where(F.expr(corpus_sql("doc_id")))
        return banded_signature_table(shingles=shingle_sets(corpus, 3))

    return _memo(spark, sf, "sigs_corpus", build)


def dup_components(spark, sf: str) -> DataFrame:
    """Connected components (doc_id, comp) over ``dup_pairs``, memoized.
    The CC iteration localCheckpoints internally, so persisting the
    (small) label table on top costs one cache write and saves the whole
    pair build + iteration for every later consumer."""
    from ..operators.graph import connected_components

    return _memo(
        spark,
        sf,
        "components",
        lambda: connected_components(
            dup_pairs(spark, sf).select("doc_a", "doc_b"), "doc_a", "doc_b"
        ).withColumnRenamed("id", "doc_id"),
    )
