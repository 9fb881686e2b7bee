"""10x scale soak for the r4 heavy hitters (r4 verdict item 5): q163
prefix-filtered exact Jaccard, q139 incremental span dedup, q186 TF-IDF
doc pairs, and SemDeDup through the q147 int64 kernel — the queries whose
boundedness arguments (df cap, cell sizes, prefix regime) most deserve a
measured second point.

Two corpus FAMILIES from tools/build_stress.build, each measured at 1x
and 10x; the shard axis grows a corpus while keeping dup-group SIZE and
density constant (per-shard token prefixes / embedding sign-flips — see
build_stress), so wall-time and shuffle-byte scaling exponents
``log(t_10x / t_1x) / log(10)`` are clean: ~1.0 = linear, 2.0 = a hidden
quadratic.

* **replica** (20 copies): 100,000 docs / 40,000 vectors at x1 (the
  r2-r4 stress corpus), 10 shards = 1,000,000 / 400,000 at x10 — the
  planted-dup regime q139 (duplicated spans), q186 (dup-group cosine
  pairs) and SemDeDup (replica vectors at cos 0.999) exist for.
* **organic** (1 copy): the base docs sharded 20x / 200x with no
  replicas — q163's DEPLOYMENT regime. The replica corpus is the
  documented prefix-filter degradation regime (every doc shares ~all
  shingles with its 19 replicas, so prefix pruning saves nothing and
  the verify relation is ~pairs x shingles). An x1-replica measurement
  attempt confirmed the degradation in practice — the verify stage was
  still running after 18 minutes — so q163's scaling points run on the
  organic family; on a replica-shaped corpus the documented posture is
  q37/q98 (LSH candidates + verify), not the prefix join.

The first 10x q163 attempt ALSO filled the box's ~90 GB temp disk: the
31-token synthetic vocabulary makes every shingle mid-frequency, so
prefixes prune little and the string-keyed candidate/verify shuffles
blew past the disk. That finding drove two exact operator hardenings
(operators/dedup.prefix_filter_jaccard_pairs): the PPJoin positional
filter (measured 2.5x candidate reduction on this corpus: 6.24M ->
2.48M pairs at 100k docs) and dictionary-encoded int64 shingle ranks
(~2.5x narrower rows through the dominant shuffles) — after which the
1M-doc point fits.

SemDeDup runs k = 64 cells at 1x and k = 640 at 10x — the documented
production lever (k proportional to corpus so cells stay ~constant-sized;
SemDeDup uses 50k cells for LAION) — through the deployment-path int64
kernel (the q146 Column-fold is the oracle vehicle; at real k the fold's
~600 us/row interpretation cost is exactly what the kernel twin exists to
avoid). Note the quantizer still trains on the 100k lowest-id vectors
(KMEANS_TRAIN_ROWS): at 10x that sample covers the first shards only, so
later shards are assigned to cells of a quantizer that never saw their
(sign-flipped) region — the realistic drift posture; cell sizes stay
bounded because argmax spreads unseen regions across cells.

Shuffle bytes come from the Spark UI REST API (stages endpoint, summed
deltas per query), so each number is the real Exchange traffic of the
measured plan, not an estimate.

Usage: python tools/stress_soak.py [sf_dir] [workdir]
(defaults /root/testdata/sf0.1, /tmp/soak; ~30-60 min at 10x)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from build_stress import build  # noqa: E402

#: (shard multiplier, semdedup cells, q100 hyperplanes). Cells and planes
#: are the two production levers that must scale with the corpus: SemDeDup
#: keeps cells ~constant-sized with k proportional to N; hyperplane LSH
#: keeps bucket occupancy ~constant with bits-per-band ~ log2(N) - 5
#: (2 bands x 10 bits at 40k vectors, 2 x 13 at 400k). The registered
#: q100 runs 2 x 4 bits because sf0.1 holds 2k vectors — same rule.
SCALES = ((1, 64, 20), (10, 640, 26))


def force_full(df, *extra_aggs):
    """Execute a DataFrame's FULL plan and return the aggregate Row
    (field ``n`` = row count, plus any ``extra_aggs``).

    NOT a bare ``df.count()``: under count() Catalyst prunes every
    column, which makes an outer-join-against-unique-keys tail
    elimination-eligible and silently drops that whole subtree from the
    measurement (the first q139 soak timed only its map-side gram
    build — 171 bytes of shuffle files vs 37 MB real). Hashing every
    output column references the full plan; bit_xor (not sum) because
    summing 2^63-scale hashes overflows under ANSI mode.
    """
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
        *extra_aggs,
    ).collect()[0]


def shuffle_totals(spark) -> tuple[int, int]:
    """(shuffle_read_bytes, shuffle_write_bytes) summed over all completed
    stages, via the UI REST API."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages") as r:
        stages = json.load(r)
    rd = sum(s.get("shuffleReadBytes", 0) for s in stages)
    wr = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    return rd, wr


def measure(spark, label: str, thunk) -> dict:
    rd0, wr0 = shuffle_totals(spark)
    t0 = time.time()
    out = thunk()
    dt = time.time() - t0
    # the REST status store is fed by an ASYNC listener bus — for a query
    # whose stages finish right before the read, the post-snapshot can
    # miss the tail (observed: a 3-Exchange plan reporting 0 bytes). Let
    # the bus drain before the delta.
    time.sleep(3)
    rd1, wr1 = shuffle_totals(spark)
    row = {
        "label": label,
        "sec": round(dt, 1),
        "shuffle_read_mb": round((rd1 - rd0) / 1e6, 1),
        "shuffle_write_mb": round((wr1 - wr0) / 1e6, 1),
        **out,
    }
    print(
        f"  {label}: {row['sec']}s  shuffle r/w {row['shuffle_read_mb']}/"
        f"{row['shuffle_write_mb']} MB  {out}"
    )
    return row


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/soak"

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
        QUERIES,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        kmeans_fit,
        semantic_dedup_cells,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.session import get_spark

    spark = get_spark(
        "stress-soak",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "0"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[int, dict[str, dict]] = {}
    for mult, k_cells, n_planes in SCALES:
        corpus = os.path.join(work, f"x{mult}")
        organic = os.path.join(work, f"org{mult}")
        if not os.path.exists(os.path.join(corpus, "embeddings.parquet")):
            t0 = time.time()
            nd, ne = build(sf_dir, corpus, copies=20, shards=mult)
            print(f"built {corpus}: {nd} docs / {ne} vectors [{time.time()-t0:.0f}s]")
        if not os.path.exists(os.path.join(organic, "documents.parquet")):
            t0 = time.time()
            nd, ne = build(sf_dir, organic, copies=1, shards=20 * mult)
            print(f"built {organic}: {nd} docs (organic) [{time.time()-t0:.0f}s]")
        print(f"--- scale {mult}x ---")

        def count_rows(name, d):
            # force_full, NOT df.count() — see its docstring (bare-count
            # join elimination drops q139's whole dup-detection subtree)
            def thunk():
                return {"rows": force_full(QUERIES[name](spark, d))["n"]}

            return thunk

        rows = {}
        rows["q163"] = measure(spark, f"q163 prefix-join organic {mult}x", count_rows("q163_jaccard_prefix_join", organic))
        rows["q139"] = measure(spark, f"q139 span-dedup {mult}x", count_rows("q139_incremental_span_dedup", corpus))
        rows["q186"] = measure(spark, f"q186 tfidf-pairs {mult}x", count_rows("q186_tfidf_doc_pairs", corpus))

        def semdedup():
            from pyspark.sql import functions as F

            emb = spark.read.parquet(os.path.join(corpus, "embeddings.parquet")).select(
                "vec_id", "embedding"
            )
            cents = kmeans_fit(emb, k=k_cells, max_iter=8)
            out = semantic_dedup_cells(emb, cents, threshold=0.45)
            agg = out.agg(
                F.count(F.lit(1)).alias("n"), F.sum("kept").alias("kept")
            ).collect()[0]
            return {"rows": agg["n"], "kept": int(agg["kept"]), "cells": k_cells}

        rows["semdedup"] = measure(spark, f"semdedup kernel k={k_cells} {mult}x", semdedup)

        def q100_soak():
            # q100's operator (hyperplane-LSH block + exact cosine verify)
            # with the planes lever scaled to the corpus; reports both the
            # verified-pair rows and the candidate-pair count the lever
            # controls (r5 verdict item 4: q100's wall swung 4x across
            # identical-code sf0.1 runs with no byte row to arbitrate)
            from pyspark.sql import functions as F

            from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
                hyperplanes,
                lsh_dup_pairs,
            )

            emb = spark.read.parquet(
                os.path.join(corpus, "embeddings.parquet")
            ).select("vec_id", "embedding")
            planes = hyperplanes(n_planes=n_planes, dim=64, seed=0)
            cand = lsh_dup_pairs(
                emb, planes=planes, bands=2, candidates_only=True
            )
            n_cand = cand.agg(F.count(F.lit(1))).collect()[0][0]
            full = force_full(lsh_dup_pairs(emb, threshold=0.45, planes=planes, bands=2))
            return {"rows": full["n"], "candidates": n_cand, "planes": n_planes}

        rows["q100"] = measure(spark, f"q100 lsh-dup planes={n_planes} {mult}x", q100_soak)

        # q233 hubness diagnostic at stress scale — post r5-verdict fix it
        # rides the q64 BLAS kernel; the corpus dir is a valid sf_dir for
        # any embeddings-only query
        rows["q233"] = measure(
            spark,
            f"q233 hubness (q64 kernel) {mult}x",
            count_rows("q233_embedding_hubness", corpus),
        )
        results[mult] = rows

    print("\n=== scaling exponents (wall / shuffle-write), 1x -> 10x ===")
    for key in ("q163", "q139", "q186", "semdedup", "q100", "q233"):
        a, b = results[1][key], results[10][key]
        ew = math.log(b["sec"] / a["sec"]) / math.log(10)
        es = (
            math.log(max(b["shuffle_write_mb"], 0.1) / max(a["shuffle_write_mb"], 0.1))
            / math.log(10)
        )
        print(
            f"{key}: {a['sec']}s -> {b['sec']}s (exp {ew:.2f}); shuffle "
            f"{a['shuffle_write_mb']} -> {b['shuffle_write_mb']} MB (exp {es:.2f}); "
            f"rows {a['rows']} -> {b['rows']}"
        )


if __name__ == "__main__":
    main()
