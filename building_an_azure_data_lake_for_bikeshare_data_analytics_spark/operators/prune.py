"""Pre-shuffle join pruning: an explicit Bloom-filter semi-filter.

The 100 TB problem: a selective dim filter (say 1/5 of customers) should
shrink the FACT side before the join shuffle, but when the dim is too big to
broadcast the fact still pays a full shuffle of rows that will never match.
Spark's own answer is the runtime row-level Bloom filter
(``spark.sql.optimizer.runtime.bloomFilter.enabled`` — an
InjectRuntimeFilter rewrite that aggregates the build side's keys into a
BloomFilterAggregate and plants the resulting bitmap as a LITERAL in the
probe side's scan filter). This module is the same mechanism as an explicit,
composable operator, so a pipeline can build the filter once and prune many
facts with it — and so the behavior is testable instead of optimizer-
dependent.

Exactness contract: a Bloom test admits false positives, never false
negatives. Callers therefore ALWAYS follow the prefilter with the exact
join; the filter only reduces shuffled rows, it never changes the result.
This is why the gate query using it (q102) carries a plain-join oracle —
value equality proves the pruning is transparent.

Cost model: the bitmap is ``m_bits`` bits = ``m_bits/64`` longs, bounded by
the 2^20-bit size cap, NEVER by the data. Collecting it to the driver
(the one ``collect()`` here) is the same bounded transfer Spark's
InjectRuntimeFilter performs; m=2^16 is 8 KiB. Sizing: false-positive rate
≈ (1 - e^(-k·n/m))^k — for n=50k keys at m=2^20, k=4 that's ~0.6%;
``bloom_bitmap`` scales m with the counted key set, so it stays
kilobytes-to-megabytes.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: hash functions per key (k)
_BLOOM_K = 4


def _positions(key: Column, m_bits: int) -> list[Column]:
    """k bit positions per key: xxhash64 of (key, salt j), mod m.

    xxhash64 is a JVM intrinsic (whole-stage-codegen'd); salting the hash
    input with j yields k effectively-independent hash functions.
    """
    return [F.pmod(F.xxhash64(key, F.lit(j)), F.lit(m_bits)) for j in range(_BLOOM_K)]


def bloom_bitmap(keys: DataFrame, key_col: str) -> list[int]:
    """Aggregate the key set into an m-bit Bloom bitmap (m/64 longs).

    Distributed build: explode each key's k positions, bucket by word index,
    ``bit_or`` the word contributions (partial+final hash aggregate — one
    shuffle of at most m/64 groups). Only the finished bitmap rows are
    collected; the transfer is bounded by the bitmap size.

    The filter is sized from a count of the build side: ~16 bits/key
    (FP ≈ 0.2% at k=4), clamped to [2^12, 2^20]. The clamp
    ceiling keeps the planted literal at 16 K longs; past ~10^6 keys the
    bitmap stops being literal-sized — shard the filter by key range or
    fall back to Spark's runtime bloom rewrite (see module doc).
    """
    n = keys.count()
    m_bits = 1 << max(12, min(20, (16 * max(n, 1) - 1).bit_length()))
    n_words = m_bits // 64
    pos = keys.select(
        F.explode(F.array(*_positions(F.col(key_col), m_bits))).alias("p")
    )
    # variable-distance shifts go through call_function: the pyspark wrapper
    # F.shiftleft only accepts a literal count
    words = (
        pos.select(
            F.shiftright(F.col("p"), 6).alias("w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.col("p").bitwiseAND(F.lit(63)).cast("int"),
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("bits"))
    )
    got = {int(r["w"]): int(r["bits"]) for r in words.collect()}
    return [got.get(i, 0) for i in range(n_words)]


def bloom_might_contain(key: Column, bitmap: list[int]) -> Column:
    """Membership-test Column: true iff all k bits for ``key`` are set.

    The bitmap rides the plan as an array literal (exactly how Spark's
    runtime filter plants its bloom into the scan), so the test is pure
    whole-stage-codegen arithmetic and is pushed into the fact's scan stage
    — rows are dropped before they ever reach a shuffle writer.
    """
    m_bits = len(bitmap) * 64
    # the bitmap must become a TRUE array Literal (a Java long[]), not a
    # CreateArray of 2^14 element Literals: per-element F.lit cost ~30 s of
    # py4j round-trips, F.lit(list).cast(...) re-cast the whole array per
    # ROW, and even a bare CreateArray pays per-row construction. The numpy
    # int64 path is one gateway call and probes in O(1)/row (measured:
    # 10 M probes 29 s -> 0.8 s).
    arr = F.lit(np.array(bitmap, dtype=np.int64))
    # one conjunction over a k-element positions array, with a SINGLE
    # occurrence of the bitmap literal inside the lambda: k inlined copies
    # of a 2^20-bit bitmap were measured 8x slower (expression-tree size,
    # not per-row work, dominated)
    pos = F.array(*_positions(key, m_bits))
    return F.forall(
        pos,
        lambda p: F.call_function(
            "shiftright",
            F.element_at(arr, (F.shiftright(p, 6) + 1).cast("int")),
            p.bitwiseAND(F.lit(63)).cast("int"),
        ).bitwiseAND(F.lit(1))
        == 1,
    )

