"""Unit tests for column-level building blocks (functions/)."""

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.derive import (
    age_years,
    duration_sql,
    hour_sql,
    time_of_day_sql,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.schema import (
    format_bikeshare_table,
    format_columns,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.text import (
    fingerprint,
    lang_guess,
    token_count,
    tokens,
    word_shingles,
)


def test_duration_and_time_id(spark):
    df = spark.createDataFrame(
        [Row(started_at=dt.datetime(2021, 2, 1, 10, 15, 30), ended_at=dt.datetime(2021, 2, 1, 11, 0, 0))]
    )
    r = df.selectExpr(f"{duration_sql()} AS dur", f"{hour_sql('started_at')} AS tid").first()
    assert r["dur"] == 2670  # (11:00:00 - 10:15:30) = 44m30s
    assert r["tid"] == dt.datetime(2021, 2, 1, 10, 0, 0)


def test_age_years_truncates_like_reference(spark):
    # datediff/365 truncation (ipynb:L1084): 366-day span -> age 1
    df = spark.createDataFrame([Row(birthday=dt.date(2000, 1, 1), asof=dt.date(2001, 1, 1))])
    assert df.select(age_years("birthday", "asof").alias("a")).first()["a"] == 1
    # 364-day span -> 364/365 truncates to 0 (not floor-to-birthday: the
    # reference's formula counts 365-day years, leap days drift it)
    df2 = spark.createDataFrame([Row(birthday=dt.date(2000, 1, 1), asof=dt.date(2000, 12, 30))])
    assert df2.select(age_years("birthday", "asof").alias("a")).first()["a"] == 0


def test_time_of_day_buckets(spark):
    df = spark.createDataFrame(
        [Row(ts=dt.datetime(2021, 1, 1, h)) for h in (0, 5, 11, 12, 16, 17, 21, 22)]
    )
    got = [r["b"] for r in df.selectExpr(f"{time_of_day_sql('ts')} AS b").collect()]
    assert got == ["night", "morning", "morning", "afternoon", "afternoon", "evening", "evening", "night"]


def test_format_columns_renames_and_casts(spark):
    df = spark.createDataFrame([Row(_c0="7", _c1="x")])
    out = format_columns(df, {"_c0": "id"}, {"id": "int"})
    assert out.columns == ["id", "_c1"]
    assert dict(out.dtypes)["id"] == "int"
    assert out.first()["id"] == 7


def test_format_columns_integral_casts_match_the_legacy_cast(spark):
    """An integral target parses its raw string as the reference's Spark
    3.2 cast with ANSI off did: a fraction truncates ('9.5' -> 9), while
    exponents, hex, overflow and junk become null."""
    vals = ["9", "9.5", "-9.9", " 7 ", "1e3", "abc", "2147483648", "12.", "0x10", "+5"]
    edges = ["", " ", "+", "-", ".", "-.5", "\t3\n", "007", "-2147483648", "9.5x",
             "1 2", "- 5", "1.2.3", "128", "-128.7", "32768", "99999999999999999999", None]
    df = spark.createDataFrame([(v,) for v in vals + edges], "v string")
    types = ("int", "bigint", "smallint", "tinyint")
    got = {ty: [r.v for r in format_columns(df, casts={"v": ty}).collect()] for ty in types}
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        want = {ty: [r.v for r in df.selectExpr(f"CAST(v AS {ty}) AS v").collect()] for ty in types}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert got == want
    assert got["int"][: len(vals)] == [9, 9, -9, 7, None, None, None, 12, None, 5]


def test_format_bikeshare_payments_decimal_truncates(spark):
    # bare decimal = DecimalType(10,0): 9.99 -> 10 (reference's cents-rounding
    # behavior, SURVEY.md §1.2)
    raw = spark.createDataFrame([Row(_c0="1", _c1="2021-02-01", _c2="9.99", _c3="42")])
    out = format_bikeshare_table(raw, "payments")
    r = out.first()
    assert out.columns == ["payment_id", "date_id", "amount", "rider_id"]
    assert int(r["amount"]) == 10
    assert r["date_id"] == dt.date(2021, 2, 1)


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([Row(text="  a b c d  ")])
    r = df.select(
        token_count("text").alias("n"),
        word_shingles(tokens("text"), 3).alias("sh"),
    ).first()
    assert r["n"] == 4
    assert sorted(r["sh"]) == ["a b c", "b c d"]
    # short doc -> no shingles, not an error
    short = spark.createDataFrame([Row(text="a b")])
    assert short.select(word_shingles(tokens("text"), 3).alias("sh")).first()["sh"] == []


def test_lang_guess_markers(spark):
    df = spark.createDataFrame(
        [Row(text="the cat of doom"), Row(text="le chat et la nuit"), Row(text="der hund und die")]
    )
    got = [r["g"] for r in df.select(lang_guess(tokens("text")).alias("g")).collect()]
    assert got == ["en", "fr", "de"]


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame([Row(text="Hello   World"), Row(text=" hello world ")])
    fps = [r["f"] for r in df.select(fingerprint("text").alias("f")).collect()]
    assert fps[0] == fps[1]


def test_dot_unrolled_is_bit_identical_to_fold(spark):
    """The r6 codegen-able unrolled dot (chained element_at products) must
    reproduce the interpreted zip_with/aggregate fold BIT-FOR-BIT on real
    embeddings — same op order (0.0 + p0 + p1 + ...), so any divergence
    is a bug, not fp noise. This is what keeps every oracle hash stable
    across the swap."""
    import struct

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.vectors import (
        dot,
    )
    from conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(200)
    pairs = emb.alias("x").crossJoin(
        emb.selectExpr(
            "vec_id as vid2", "embedding as e2"
        ).limit(3).alias("y")
    )
    rows = pairs.select(
        dot(F.col("embedding"), F.col("e2"), dim=64).alias("u"),
        dot(F.col("embedding"), F.col("e2"), dim=None).alias("f"),
    ).collect()
    assert rows
    for r in rows:
        assert struct.pack("<d", r["u"]) == struct.pack("<d", r["f"])


def test_distributed_row_number_equals_global_window(spark):
    """functions/rank.distributed_row_number is row-identical to the
    single-partition row_number() OVER (ORDER BY ...) it replaces — on
    the real shingle vocabulary (with genuine df ties) and under a
    deliberately coarse bucket."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.rank import (
        distributed_row_number,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.text import (
        tokens,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.dedup import (
        shingle_sets,
    )
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.base import _t

    docs = _t(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", tokens("text").alias("ts")
    )
    freq = shingle_sets(docs).groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    want = {
        r["shingle"]: r["rn"]
        for r in freq.select(
            "shingle", F.row_number().over(Window.orderBy("df", "shingle")).alias("rn")
        ).collect()
    }
    for bucket in (
        F.struct("df", F.substring("shingle", 1, 8)),
        F.struct("df", F.substring("shingle", 1, 1)),  # coarse: big buckets
        F.lit(1),  # degenerate: one bucket = the naive window itself
    ):
        got = {
            r["shingle"]: r["rn"]
            for r in distributed_row_number(freq, ["df", "shingle"], bucket).collect()
        }
        assert got == want
    assert len(want) > 1000  # the vocabulary actually exercised ties/buckets


def test_distributed_row_number_null_bucket_drops_nothing(spark):
    """A NULL bucket value must not drop rows (the join is null-safe) and
    must match the global window when null order keys sort first — the
    order-consistency caveat the docstring states."""
    from pyspark.sql import Row, Window
    from pyspark.sql import functions as F

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.rank import (
        distributed_row_number,
    )

    df = spark.createDataFrame(
        [Row(k=None, i=1), Row(k=None, i=2), Row(k="a", i=3), Row(k="b", i=4), Row(k="a", i=5)],
        "k string, i int",
    )
    # order by (k asc_nulls_first, i): bucket = k is an order-consistent
    # coarsening, with the NULL bucket sorting first like the NULL keys
    want = {
        r["i"]: r["rn"]
        for r in df.select(
            "i",
            F.row_number()
            .over(Window.orderBy(F.col("k").asc_nulls_first(), "i"))
            .alias("rn"),
        ).collect()
    }
    got = {
        r["i"]: r["rn"]
        for r in distributed_row_number(
            df, [F.col("k").asc_nulls_first(), F.col("i")], F.col("k")
        ).collect()
    }
    assert got == want  # 5 rows in, 5 rows out, identical numbering
