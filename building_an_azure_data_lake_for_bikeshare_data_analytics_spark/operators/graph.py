"""Iterative graph operators on DataFrames.

The engine's dedup surface (operators/dedup.py, plans/extensions.py) emits
near-duplicate *pairs*; turning pairs into duplicate *groups* is a connected
components problem. The reference has nothing iterative (SURVEY.md §2.6 —
its most complex op is a 3-way join), so this is part of the training-data
extension surface.

Algorithm: minimum-label propagation — every node starts labeled with its
own id; each round every node takes the min label among itself and its
neighbors; converges when no label changes. Rounds = graph diameter, which
for near-dup clusters (dense, star-ish blobs around a popular document) is
tiny. For adversarial high-diameter graphs at 100 TB scale,
``connected_components_star`` below implements the alternating
large-star/small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14), which converges in O(log n) rounds with
the same join/groupBy building blocks (property-tested to produce the
identical labeling).

Scale posture: each round is one shuffle-join (edges ⋈ labels on node id)
plus one hash aggregation — both keyed on node id, so AQE reuses the
exchange. ``localCheckpoint`` truncates the lineage every round; without it
the plan doubles per iteration and the driver dies on plan explosion long
before the executors feel anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

#: storage level for PER-ROUND iteration state (labels / contracted edges /
#: rank vectors). Each round's table is read exactly once — by the next
#: round — so on-heap caching buys nothing, and because superseded rounds'
#: localCheckpoint blocks are only reclaimed by the async ContextCleaner,
#: memory-backed levels accumulate O(rounds x N) heap: the r7 soak's 50M-node
#: min-label CC OOM'd a 48g driver exactly this way (SCALE_NOTES). DISK_ONLY
#: caps the loop's heap at one round's shuffle working set; the INITIAL edge
#: relation (re-read every round) keeps the default memory-backed level.
_ROUND_LEVEL = StorageLevel.DISK_ONLY

#: PageRank damping and the decimal scale each iteration rounds to — read
#: by ``pagerank`` and by q158's DuckDB oracle
PAGERANK_DAMPING = 0.85
PAGERANK_SCALE = 9


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct (a, b) long pairs holding both directions of every edge,
    checkpointed: each round of the iterations below re-reads it."""
    e = edges.select(F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b"))
    return e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct().localCheckpoint()


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """Label every node of an undirected edge list with the minimum node id
    reachable from it.

    Returns ``(id long, comp long)`` — one row per node that appears in at
    least one edge. Deterministic: labels are mins over node ids, and the
    iteration is a fixed point (no dependence on partitioning or order).
    """
    e = _undirected(edges, src, dst)
    labels = e.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
    # Convergence probe: Σcomp strictly decreases while any label improves
    # (labels only ever move down to a smaller reachable id), so one scalar
    # aggregate over the new labels replaces a join-against-previous +
    # count action per round — half the per-iteration shuffles.
    prev_total: int | None = None
    for _ in range(max_iter):
        neighbor_labels = e.join(labels, e.a == labels.id).select(
            F.col("b").alias("id"), F.col("comp")
        )
        # LAZY checkpoint (r12): the convergence probe's aggregate is the
        # round's only action — running it over the lazily-checkpointed
        # labels materializes the round state AND computes Σcomp in ONE
        # job instead of two (eager checkpoint + separate agg), halving
        # the per-round driver-blocking actions. Lineage truncation is
        # unchanged: the next round's join reads the persisted blocks.
        new_labels = (
            labels.union(neighbor_labels)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=False, storageLevel=_ROUND_LEVEL)
        )
        total = new_labels.agg(F.sum("comp")).first()[0]
        labels = new_labels
        if total == prev_total:
            break
        prev_total = total
    return labels


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    O(log n)-round alternative to min-label propagation for HIGH-DIAMETER
    graphs, where propagation needs diameter rounds.

    Each round is two groupBy-join passes over the current edge set:

    * **large-star**: every node u links its larger neighbors directly to
      its minimum neighborhood label m(u) = min(N(u) + {u}) — halves tree
      heights without breaking connectivity;
    * **small-star**: links u's smaller-or-equal neighbors to m(u) —
      flattens the remaining short trees into stars.

    Converges when the edge multiset stops changing (tracked by a cheap
    (count, sum(a), sum(b)) signature — exact equality of the fixpoint is
    what the property tests assert against min-label propagation). Returns
    ``(id long, comp long)`` with comp = the component's minimum node id,
    identical to ``connected_components``.

    Same building blocks (shuffle joins + hash aggregations keyed on node
    id), same ``localCheckpoint`` lineage control; choose this variant when
    the dup-graph has long chains (e.g. transitive near-dup paths across a
    crawl) rather than the star-ish blobs LSH dedup usually produces.
    """
    e0 = edges.select(F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b"))
    nodes = e0.select(F.col("a").alias("id")).union(e0.select("b")).distinct().localCheckpoint()
    e = e0.where(F.col("a") != F.col("b")).distinct().localCheckpoint()

    def _round(cur: DataFrame, keep_larger: bool) -> DataFrame:
        # operate on Γ(u) ∪ {u}: the node itself participates (small-star
        # must emit (u, m(u)) or star components lose their only edges)
        sym = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        joined = sym.join(mins, "a")
        cond = F.col("b") > F.col("a") if keep_larger else F.col("b") <= F.col("a")
        out = joined.where(cond & (F.col("b") != F.col("m"))).select(
            F.col("b").alias("a"), F.col("m").alias("b")
        )
        if not keep_larger:  # small-star: u itself links to its min label
            out = out.union(
                mins.where(F.col("a") != F.col("m")).select("a", F.col("m").alias("b"))
            )
        return out.distinct()

    prev_sig = None
    for _ in range(30):
        # LAZY checkpoints (r12): the signature aggregate below is the
        # round's only action — it materializes both star passes' state
        # in one job instead of three (same reasoning as min-label CC)
        e = _round(e, keep_larger=True).localCheckpoint(
            eager=False, storageLevel=_ROUND_LEVEL
        )  # large-star
        e = _round(e, keep_larger=False).localCheckpoint(
            eager=False, storageLevel=_ROUND_LEVEL
        )  # small-star
        sig = e.agg(
            F.count(F.lit(1)).alias("n"), F.sum("a").alias("sa"), F.sum("b").alias("sb")
        ).first()
        sig = (sig["n"], sig["sa"], sig["sb"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # at the fixpoint every edge points node -> component root (min id)
    comp = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .groupBy("a")
        .agg(F.min("b").alias("nb"))
        .select(F.col("a").alias("id"), F.least(F.col("nb"), F.col("a")).alias("comp"))
    )
    return (
        nodes.join(comp, "id", "left")
        .select("id", F.coalesce("comp", "id").alias("comp"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list, deterministic
    enough to value-check cross-engine.

    Float PageRank is normally partition-order-dependent (the per-node sum
    of neighbor contributions is a float reduction). Here each iteration's
    contribution pr(u)/deg(u) is rounded to ``PAGERANK_SCALE`` decimals and summed
    as an exact DECIMAL (associative, order-independent — the q145/q152
    exact-sum rule), then the damped update 0.15 + 0.85*s is one identical
    IEEE expression, re-rounded to ``PAGERANK_SCALE`` decimals. The quantization
    error is bounded by deg*5e-10 per node per iteration — noise relative
    to PageRank's own fixed-point tolerance — and in exchange every engine
    (and every partitioning) computes the identical trajectory, so a DuckDB
    oracle can replay all ``n_iter`` iterations as unrolled CTEs.

    Scale shape: per iteration, one join of the rank relation with the edge
    list (both keyed on node id — co-partitioned on a cluster, exchange
    reused) plus one hash aggregation; the state row carries (id, deg, pr)
    so no extra degree join is needed, and ``localCheckpoint`` truncates
    lineage per round — the state is referenced twice per iteration
    (contribution join + update join-back), so an uncheckpointed plan
    doubles per round (the q73 trap). Measured alternatives on the 100k-
    node / 1.9M-edge stress graph: this shape 53 s; a restructure that
    references state once and drops the per-round checkpoint 219 s (one
    mega-plan, AQE replans every exchange); checkpoint-every-4th 81 s.
    The per-round materialization is node-sized and cheap; it is the
    plan-complexity bound that matters. Undirected graph => no dangling
    nodes (every node has in-degree >= 1), so no mass-leak term is
    needed.
    """
    from pyspark.sql.types import DecimalType

    e = _undirected(edges, src, dst)
    pr = (
        e.groupBy("a")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("a").alias("id"), "deg", F.lit(1.0).alias("pr"))
    )
    damping, scale = PAGERANK_DAMPING, PAGERANK_SCALE
    base = 1.0 - damping
    for _ in range(n_iter):
        contrib = pr.join(e, pr.id == e.a).select(
            F.col("b").alias("id"),
            F.round(F.col("pr") / F.col("deg"), scale).cast(DecimalType(28, scale)).alias("q"),
        )
        sums = contrib.groupBy("id").agg(F.sum("q").cast("double").alias("s"))
        # EAGER checkpoint: each round's state is written before the next
        # round reads it twice, so no RDD outlives the builder marked for
        # a checkpoint but unwritten. Two concurrent stages of a later
        # action that reach such an RDD can deadlock the scheduler
        # (DAGScheduler.getCacheLocs -> RDD.checkpointRDD against a
        # broadcast thread in RDDCheckpointData.checkpoint). The plan
        # stays bounded: every round builds on the previous round's
        # LogicalRDD, not its expression tree.
        pr = (
            pr.select("id", "deg")
            .join(sums, "id")
            .select(
                "id",
                "deg",
                F.round(F.lit(base) + F.lit(damping) * F.col("s"), scale).alias("pr"),
            )
            .localCheckpoint(eager=True, storageLevel=_ROUND_LEVEL)
        )
    return pr.select("id", "pr")
