"""The reference's decimal widening (A7)."""

import decimal

from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_decimal_aggregate_widening_matches_reference(spark):
    """A7 (SURVEY.md §2.4): sum(decimal(10,0)) -> decimal(20,0),
    avg(decimal(10,0)) -> decimal(14,4) — the exact output types frozen in
    the reference's cell 37/38 golden outputs."""
    df = spark.createDataFrame(
        [(decimal.Decimal(9),), (decimal.Decimal(10),)],
        schema=T.StructType([T.StructField("amount", T.DecimalType(10, 0))]),
    )
    agg = df.agg(F.sum("amount").alias("s"), F.avg("amount").alias("a"))
    types = dict(agg.dtypes)
    assert types["s"] == "decimal(20,0)"
    assert types["a"] == "decimal(14,4)"
    row = agg.first()
    assert row["s"] == decimal.Decimal(19)
    assert row["a"] == decimal.Decimal("9.5000")

