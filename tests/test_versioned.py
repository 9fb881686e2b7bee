"""Versioned table store: snapshot-isolated self-overwrite, time travel,
vacuum retention."""

import pytest

from pyspark.sql import Row

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources import versioned as V


def test_write_read_roundtrip_and_versions(spark, tmp_path):
    p = str(tmp_path / "t")
    assert V.current_version(p) is None
    v1 = V.write_version(spark.createDataFrame([Row(a=1)]), p)
    v2 = V.write_version(spark.createDataFrame([Row(a=2)]), p)
    assert v2 == v1 + 1
    assert V.current_version(p) == v2
    assert V.read_current(spark, p).first()["a"] == 2
    assert V.read_version(spark, p, v1).first()["a"] == 1  # time travel


def test_self_overwrite_reads_stable_snapshot(spark, tmp_path):
    """The reference's read-X-overwrite-X pattern (ipynb:L1074->L1098):
    the derivation reads v1 while v2 writes."""
    p = str(tmp_path / "t")
    v1 = V.write_version(spark.createDataFrame([Row(a=i) for i in range(100)]), p)
    cur = V.read_current(spark, p)
    derived = cur.selectExpr("a", "a * 10 AS b")  # lazily reads v1
    V.write_version(derived, p)
    out = V.read_current(spark, p).orderBy("a").collect()
    assert len(out) == 100 and out[3]["b"] == 30
    # v1 untouched and still readable
    assert "b" not in V.read_version(spark, p, v1).columns


def test_vacuum_retention(spark, tmp_path):
    p = str(tmp_path / "t")
    for i in range(5):
        V.write_version(spark.createDataFrame([Row(a=i)]), p)
    removed = V.vacuum(p, keep=2)
    assert removed == [1, 2, 3]
    assert V.read_version(spark, p, 4).first()["a"] == 3
    assert V.read_current(spark, p).first()["a"] == 4
    with pytest.raises(FileNotFoundError):
        V.read_version(spark, p, 1)


def test_append_version_equals_union_write(spark, tmp_path):
    """append_version(batch) must read back row-multiset-equal to
    write_version(current ∪ batch) — the O(batch)-IO append contract."""
    p = str(tmp_path / "ap")
    base = spark.createDataFrame([(i, f"r{i}") for i in range(100)], ["id", "s"])
    batch = spark.createDataFrame([(i, f"r{i}") for i in range(100, 130)], ["id", "s"])
    v1 = V.write_version(base, p)
    v2 = V.append_version(batch, p)
    assert v2 == v1 + 1
    got = sorted(tuple(r) for r in V.read_current(spark, p).collect())
    want = sorted(tuple(r) for r in base.unionByName(batch).collect())
    assert got == want
    # time travel still addresses the pre-append snapshot
    assert V.read_version(spark, p, v1).count() == 100
    # the appended version physically wrote ONLY the delta part

    vdir = tmp_path / "ap" / f"_v{v2}"
    assert (vdir / "_PARTS").exists()
    assert not any(f.suffix == ".parquet" for f in vdir.iterdir())


def test_append_version_chain_and_vacuum_keeps_referenced(spark, tmp_path):
    """A chain of appends reads back complete, and vacuum never removes
    a directory a KEPT version's manifest references — even when that
    directory belongs to a version outside the keep window."""
    p = str(tmp_path / "apv")
    V.write_version(
        spark.createDataFrame([(i,) for i in range(10)], ["id"]), p
    )
    for k in range(3):
        V.append_version(
            spark.createDataFrame([(100 + 10 * k + j,) for j in range(10)], ["id"]),
            p,
        )
    assert V.read_current(spark, p).count() == 40
    removed = V.vacuum(p, keep=1)
    # v1 (the full snapshot) is outside keep=1 but referenced by v4's
    # manifest — it must survive; same for every referenced _parts delta
    assert V.read_current(spark, p).count() == 40
    got = sorted(r["id"] for r in V.read_current(spark, p).collect())
    assert got == sorted(list(range(10)) + [100 + 10 * k + j for k in range(3) for j in range(10)])
    # the un-referenced middle MANIFEST versions are reclaimable
    assert all(v in (2, 3) for v in removed)


def test_append_version_requires_existing_table(spark, tmp_path):
    p = str(tmp_path / "apx")
    df = spark.createDataFrame([(1,)], ["id"])
    with pytest.raises(FileNotFoundError):
        V.append_version(df, p)


def test_append_version_then_full_write_vacuum_gc_parts(spark, tmp_path):
    """After a full write supersedes an append chain, vacuum reclaims the
    no-longer-referenced delta parts."""

    p = str(tmp_path / "apgc")
    V.write_version(spark.createDataFrame([(1,)], ["id"]), p)
    V.append_version(spark.createDataFrame([(2,)], ["id"]), p)
    V.write_version(spark.createDataFrame([(9,)], ["id"]), p)  # v3 full
    V.vacuum(p, keep=1, grace_seconds=0)
    assert [r["id"] for r in V.read_current(spark, p).collect()] == [9]
    parts_dir = tmp_path / "apgc" / "_parts"
    assert not parts_dir.exists() or not any(parts_dir.iterdir())


def test_append_schema_evolution_add_column(spark, tmp_path):
    """Evolved append: new column rides in O(batch); older rows read
    back null-filled; aggregates over the new column see batch rows only."""
    p = str(tmp_path / "evo")
    V.write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], ["id", "s"]), p
    )
    V.append_version(
        spark.createDataFrame([(3, "c", 30)], ["id", "s", "extra"]),
        p,
        allow_new_columns=True,
    )
    cur = V.read_current(spark, p)
    assert set(cur.columns) == {"id", "s", "extra"}
    got = {r["id"]: r["extra"] for r in cur.collect()}
    assert got == {1: None, 2: None, 3: 30}
    # a later non-evolved append of the WIDE schema is a plain append
    V.append_version(
        spark.createDataFrame([(4, "d", 40)], ["id", "s", "extra"]), p
    )
    assert V.read_current(spark, p).count() == 4


def test_append_schema_removal_always_raises(spark, tmp_path):
    p = str(tmp_path / "evr")
    V.write_version(spark.createDataFrame([(1, "a")], ["id", "s"]), p)
    with pytest.raises(ValueError, match="removal"):
        V.append_version(spark.createDataFrame([(2,)], ["id"]), p)
    with pytest.raises(ValueError, match="removal"):
        V.append_version(
            spark.createDataFrame([(2,)], ["id"]), p, allow_new_columns=True
        )
    # new column without the flag: loud too
    with pytest.raises(ValueError, match="allow_new_columns"):
        V.append_version(
            spark.createDataFrame([(2, "b", 1)], ["id", "s", "x"]), p
        )
    assert V.read_current(spark, p).count() == 1  # store untouched
