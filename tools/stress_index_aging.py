"""Index-aging soak (r10 verdict item 6): recall of the MAINTAINED IVF
index across a multi-batch drift chain, and the refresh trigger a
deployment should watch.

q251 gates recall@5 after ONE append with a corpus-trained quantizer. A
real corpus DRIFTS: later ingest batches come from a different
distribution, the v1 centroids go stale, and the probe's recall decays.
This tool measures that decay curve. Drift model: step k's batch is
the raw noise corpus MEAN-SHIFTED by +0.15*k on every dimension (vector
scale here is avg|x| ~ 0.1, so by step 3-4 the new data is a tight
cluster far from anything the v1 quantizer saw). A first formulation
used the stress corpus's shard sign-flip transforms as the drift axis
and measured NO degradation at all — sign-flipped noise is
distributionally identical noise (rotation-invariant), recall held at
1.0 and occupancy never moved; an honest null, kept in git history.
Mean shift is the drift that actually ages an IVF quantizer.

Per step, for a query sample drawn from the JUST-APPENDED batch:

* ``recall@5`` — stored-index probe (nprobe=3, v1 centroids) vs exact
  brute-force top-5 over the current corpus (q251's machinery);
* ``occ_skew`` — max cell share of the stored table: stale centroids
  funnel the shifted vectors into one/few cells, so skew rises with
  drift and is observable WITHOUT ground truth at maintenance time;
* ``cand_frac`` — mean fraction of the stored table inside a query's
  probed cells: the probe's COST. With a stale quantizer the drifted
  region collapses into few cells, so each drifted query's probe scans
  a growing share of the corpus even when recall holds (IVF's failure
  under drift is often cost inflation before it is recall loss — both
  are reported, neither hidden).

After the last step the tool asserts that the aging trigger
(``refresh_due``) fires on the drifted store.

The documented trigger (SCALE_NOTES r10): refresh when occ_skew or
cand_frac exceeds ~3x its build-time value, or sampled recall@5 drops
below ~0.9 of its post-build value — occupancy/candidate-share are the
ones a deployment can watch for free every batch.

Usage: SPARK_GRAFT_DRIVER_MEM=48g python tools/stress_index_aging.py \
    [sf_dir] [workdir] [mult] [steps]  (defaults sf0.1, /tmp/soak, 10, 4)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from build_stress import build  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/soak"
    mult = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    steps = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    from pyspark.sql import functions as F

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        assign_cells,
        brute_force_topk_vectorized,
        ivf_topk_from_index_vectorized,
        kmeans_fit,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.session import get_spark
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources import (
        versioned as V,
    )

    spark = get_spark(
        "stress-index-aging",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "0"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    corpus_dir = os.path.join(work, f"org{mult}")
    if not os.path.exists(os.path.join(corpus_dir, "embeddings.parquet")):
        t0 = time.time()
        nd, ne = build(sf_dir, corpus_dir, copies=1, shards=20 * mult)
        print(f"built {corpus_dir}: {ne} vectors [{time.time()-t0:.0f}s]")
    emb = spark.read.parquet(os.path.join(corpus_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    n_vec = emb.count()
    # slice the id space into v1 + `steps` drift batches; batch k gets a
    # +0.15*k mean shift on every dimension (cast back to float so every
    # store part keeps the v1 schema)
    slot = F.col("vec_id") % (2 * steps)

    def shifted(df, k):
        if k == 0:
            return df
        return df.select(
            "vec_id",
            F.transform("embedding", lambda x: x + F.lit(0.15 * k))
            .cast("array<float>")
            .alias("embedding"),
        )

    store = os.path.join(work, f"aging_store_{int(time.time())}")
    print(
        f"== index aging: {n_vec} vectors, v1 = half, "
        f"{steps} mean-shift drift steps (+0.15/dim per step) =="
    )

    def recall_and_skew(corpus_now, qs, cents) -> tuple[float, float, float]:
        import numpy as np

        from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
            QUANT_SCALE,
        )

        exact = brute_force_topk_vectorized(corpus_now, qs, k=5).select(
            "query_id", "neighbor_id"
        )
        approx = ivf_topk_from_index_vectorized(
            V.read_current(spark, store), qs, cents, k=5, nprobe=3
        ).select("query_id", "neighbor_id")
        nq = qs.count()
        hits = exact.join(approx, ["query_id", "neighbor_id"]).count()
        occ_rows = (
            V.read_current(spark, store).groupBy("cell").count().collect()
        )
        counts = {r["cell"]: r["count"] for r in occ_rows}
        total = sum(counts.values())
        occ = max(counts.values()) / total
        # probe cost: mean share of the stored table inside each query's
        # probed cells (the kernel's own argmax math, replayed)
        C = np.array(cents, dtype=np.int64)
        Q = np.array([list(r["qe"]) for r in qs.collect()], dtype=np.float64)
        QQ = np.floor(Q * float(QUANT_SCALE)).astype(np.int64)
        sc_ = (QQ @ C.T).astype(np.float64) / np.sqrt((C * C).sum(axis=1))[None, :]
        cand = np.mean(
            [
                sum(counts.get(int(c), 0) for c in np.argsort(-sc_[i])[:3]) / total
                for i in range(len(Q))
            ]
        )
        return hits / max(nq * 5, 1), float(occ), float(cand)

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.ann_maintenance import (
        index_health,
        record_health,
        refresh_due,
    )

    v1_side = emb.where(slot < steps)  # half the ids, unshifted
    cents_v1 = kmeans_fit(v1_side, k=32, max_iter=8)
    V.write_version(assign_cells(v1_side, cents_v1), store, partition_by=["cell"])
    record_health(store, index_health(spark, store))  # the policy baseline
    qs0 = v1_side.where(F.col("vec_id") % 997 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    r0, s0, c0 = recall_and_skew(v1_side, qs0, cents_v1)
    print(
        f"  step 0 (build): recall@5 {r0:.4f}  occ_skew {s0:.4f}  cand_frac {c0:.4f}"
    )
    curve = [
        {"step": 0, "recall_at_5": round(r0, 4), "occ_skew": round(s0, 4),
         "cand_frac": round(c0, 4)}
    ]

    corpus_now = v1_side
    last_qs = qs0
    for k in range(1, steps + 1):
        batch = shifted(emb.where(slot == steps + k - 1), k)
        V.append_version(
            assign_cells(batch, cents_v1), store, partition_by=["cell"]
        )
        corpus_now = corpus_now.unionByName(batch)
        last_qs = batch.where(F.col("vec_id") % 997 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
        )
        r, s, c = recall_and_skew(corpus_now, last_qs, cents_v1)
        print(
            f"  step {k} (shift +{0.15*k:.2f}/dim): recall@5 {r:.4f}  "
            f"occ_skew {s:.4f}  cand_frac {c:.4f}"
        )
        curve.append(
            {"step": k, "recall_at_5": round(r, 4), "occ_skew": round(s, 4),
             "cand_frac": round(c, 4)}
        )

    # the documented trigger must fire on the drifted store
    due, cur_h = refresh_due(spark, store, factor=3.0)
    assert due, f"aging trigger did not fire: {cur_h}"
    print(json.dumps({"mult": mult, "n_vec": n_vec, "curve": curve}))


if __name__ == "__main__":
    main()
