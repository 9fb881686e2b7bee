"""The suite's cross-engine hashes — single-sourced.

``h60(col)`` is the load-bearing contract used by every sketch/sampling
operator (KMV, HLL, theta, rendezvous, checksums, join-size estimation):
the first 15 hex chars of md5 parsed as an integer, which DuckDB computes
identically as ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``
(``H60_SQL`` is that oracle-side template). Any drift between a Spark
copy and its oracle silently breaks exactly one gate row — hence one
definition here instead of per-query copies.

Integer-division note: deriving buckets/words from h MUST use integer
``div`` (``F.expr("h div 256")``), never ``(h / 256).cast("long")`` — the
double round-trip loses precision for h >= 2^53 and lands on
floor(h/m) +- 1 (review-confirmed on real md5 hashes), which flips
bit-length-derived register values whenever the true quotient sits next
to a power of two.

The split hash (``SPLIT_SQL``) assigns every row a deterministic slot
from its integer id: the corpus/batch split of the incremental heads and
the train/val/test split. It is written only as SQL text, which the
oracle splices and a plan wraps in ``F.expr``, so the two engines read
one spelling of the hash and of its boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: DuckDB-side rendering of the same hash; format with the value expression
H60_SQL = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


def h60(col: Column | str) -> Column:
    """60-bit md5 integer hash of the column rendered as a string."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


#: The split hash on [0, 1000); format with the id expression. A toy
#: multiplicative hash (Knuth 2654435761), mod-reduced first so the
#: product stays far inside int64 under Spark 4's ANSI overflow checking
#: (at real scale swap in ``xxhash64``; the modular structure is the same).
SPLIT_SQL = "(({x} % 100003) * 2654435761) % 1000"
#: the prime of the [0, 1e6) grain; the FIM/UL2 pivot mixers reduce by it too
PRIME_E6 = 99991
#: the same hash on [0, 1e6), for rates in 1e-6 units
SPLIT_E6_SQL = f"(({{x}} % {PRIME_E6}) * 2654435761) % 1000000"

#: boundaries on SPLIT_SQL: the existing corpus is below BATCH_FROM and
#: the incremental batch from it (80/20); the train/val/test split puts
#: train below BATCH_FROM and val below VAL_BELOW (80/10/10)
BATCH_FROM = 800
VAL_BELOW = 900


def corpus_sql(x: str) -> str:
    """Id ``x`` is in the existing corpus (the head of the split)."""
    return f"{SPLIT_SQL.format(x=x)} < {BATCH_FROM}"


def batch_sql(x: str) -> str:
    """Id ``x`` is in the incremental batch (the tail of the split)."""
    return f"{SPLIT_SQL.format(x=x)} >= {BATCH_FROM}"


def split_case_sql(x: str, indent: int) -> str:
    """The train/val/test label of id ``x``: a CASE whose second WHEN and
    its ELSE start new lines indented by ``indent`` (an oracle's layout)."""
    h = SPLIT_SQL.format(x=x)
    nl = "\n" + " " * indent
    return (
        f"CASE WHEN {h} < {BATCH_FROM} THEN 'train'{nl}"
        f"WHEN {h} < {VAL_BELOW} THEN 'val'{nl}ELSE 'test' END"
    )
