"""Vector math over embedding columns (``array<float>``) as native Column
expressions — the brute-force kernel for similarity search / semantic dedup
(BASELINE.json north star; the reference has no array columns at all).

Everything sums left-to-right starting from 0.0 so results are
bit-deterministic and reproducible by any engine that sums sequentially —
required for the DuckDB oracle hash-match, and good hygiene at scale.
Values are widened to double before multiply/accumulate.

Execution note (r6): three formulations were measured, all
hash-identical (same 0.0 + p0 + p1 + ... op order; bit-equality pinned
in tests/test_functions.py):

* pure unrolled ``element_at`` chain, codegen'd: the generated method
  for a 255-node tree blows the JIT's huge-method limit and runs in the
  bytecode interpreter — 4x SLOWER than the fold (17.7 s vs 4.5 s on a
  800k-pair projection);
* pure ``F.aggregate(F.zip_with(...))`` fold: the default — interpreted
  per element, but robust across plan shapes;
* ``when(size==dim, unrolled).otherwise(fold)``: 2x faster than the
  fold in a plain post-join projection (2.4 s on the same micro, and
  the q100 verify stage measured 83.5 -> 45.8 s at 40k-vector soak
  scale) — but up to 8x SLOWER inside the lsh/brute-force top-k plan
  shape (bench: q40 1.9 -> 14.6 s, q154 2.7 -> 16.3 s, q214
  3.2 -> 17.8 s before the revert).

The lesson is that HOF-vs-unrolled cost is PLAN-SHAPE dependent, so the
fold is the default (``dim=None``) and the guarded dual path is OPT-IN
per call site via an explicit ``dim`` — currently only
``operators/similarity.lsh_dup_pairs``'s cosine verify, where both the
bench and the 10x soak measured the win. Any new call site must come
with its own before/after bench row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: contract dimension of the ``embeddings.embedding`` column (TESTDATA.md)
EMBEDDING_DIM = 64


def _fold_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential left-to-right dot product in double precision.

    Default (``dim=None``): the generic interpreted fold. With an
    explicit ``dim``, emits the guarded dual path — an unrolled
    ``element_at`` chain for arrays of exactly that length, the fold
    otherwise; OPT-IN because its win is plan-shape dependent (see
    module docstring). Both paths produce the bit-identical double
    (same op order, same 0.0 seed)."""
    if dim is None:
        return _fold_dot(a, b)
    acc = F.lit(0.0)
    for i in range(1, dim + 1):
        acc = acc + F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
    return F.when(
        (F.size(a) == dim) & (F.size(b) == dim), acc
    ).otherwise(_fold_dot(a, b))


#: DuckDB-side rendering of ``dot``: the same left-to-right double sum;
#: format with the two list expressions
DOT_SQL = "list_sum(list_transform(range(1, len({a}) + 1), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))
