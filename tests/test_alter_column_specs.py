"""RENAME / DROP COLUMN carry the column's table properties: a rename
moves its generation expression, identity spec or clustering entry to
the new name, a drop removes them, and — like Delta — a column that
another column's generation expression or a CHECK constraint reads
can be neither renamed nor dropped, and a clustering column cannot be
dropped. A spec left under the old name would turn into a pending
column and refuse every later append whose schema lacks it; a
constraint left reading a gone column fails every later write."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_deltalake_spark.sources.versioned import VersionedTable


def _generated_table(spark, path):
    t = VersionedTable(spark, path)
    t.write(
        spark.createDataFrame([(1, 2), (2, 4)], "id long, twice long"),
        timestamp="2026-01-01T00:00:00",
    )
    t.set_generated_column("twice", "id * 2")
    return t


def _rows(t, *cols):
    return sorted(tuple(r) for r in t.read().select(*cols).collect())


def test_rename_carries_generation_expression(spark, tmp_path):
    t = _generated_table(spark, str(tmp_path / "t"))
    t.rename_column("twice", "double", timestamp="2026-01-02T00:00:00")
    assert t.generated_columns() == {"double": "id * 2"}
    t.write(
        spark.createDataFrame([(3, 6)], "id long, double long"),
        mode="append", timestamp="2026-01-03T00:00:00",
    )
    t.write(
        spark.createDataFrame([(4,)], "id long"),
        mode="append", timestamp="2026-01-04T00:00:00",
    )
    assert [c for c in t.read().columns] == ["id", "double"]
    assert _rows(t, "id", "double") == [(1, 2), (2, 4), (3, 6), (4, 8)]
    with pytest.raises(Exception, match="generated"):
        t.write(
            spark.createDataFrame([(5, 11)], "id long, double long"),
            mode="append", timestamp="2026-01-05T00:00:00",
        )


def test_drop_removes_generation_expression(spark, tmp_path):
    t = _generated_table(spark, str(tmp_path / "t"))
    t.drop_column("twice", timestamp="2026-01-02T00:00:00")
    assert t.generated_columns() == {}
    t.write(
        spark.createDataFrame([(3,)], "id long"),
        mode="append", timestamp="2026-01-03T00:00:00",
    )
    assert t.read().columns == ["id"]
    assert _rows(t, "id") == [(1,), (2,), (3,)]


def test_rename_and_drop_refuse_generation_source(spark, tmp_path):
    t = _generated_table(spark, str(tmp_path / "t"))
    v = t.latest_version()
    with pytest.raises(ValueError, match="twice"):
        t.rename_column("id", "key", timestamp="2026-01-02T00:00:00")
    with pytest.raises(ValueError, match="twice"):
        t.drop_column("id", timestamp="2026-01-02T00:00:00")
    assert t.latest_version() == v
    assert t.generated_columns() == {"twice": "id * 2"}
    assert t.read().columns == ["id", "twice"]


def test_rename_and_drop_carry_identity_spec(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.set_identity_column("uid", start=100, step=10)
    t.write(
        spark.createDataFrame([("a",), ("b",)], "val string").coalesce(1),
        timestamp="2026-01-01T00:00:00",
    )
    t.rename_column("uid", "row_id", timestamp="2026-01-02T00:00:00")
    assert set(t.identity_columns()) == {"row_id"}
    t.write(
        spark.createDataFrame([("c",)], "val string"),
        mode="append", timestamp="2026-01-03T00:00:00",
    )
    assert _rows(t, "row_id") == [(100,), (110,), (120,)]
    t.drop_column("row_id", timestamp="2026-01-04T00:00:00")
    assert t.identity_columns() == {}
    t.write(
        spark.createDataFrame([("d",)], "val string"),
        mode="append", timestamp="2026-01-05T00:00:00",
    )
    assert t.read().columns == ["val"]
    assert t.read().filter(F.col("val") == "d").count() == 1


def test_rename_and_drop_refuse_constraint_source(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string"),
        timestamp="2026-01-01T00:00:00",
    )
    t.add_constraint("pos", "id >= 0")
    v = t.latest_version()
    with pytest.raises(ValueError, match="pos"):
        t.rename_column("id", "key", timestamp="2026-01-02T00:00:00")
    with pytest.raises(ValueError, match="pos"):
        t.drop_column("id", timestamp="2026-01-02T00:00:00")
    assert t.latest_version() == v
    assert t.read().columns == ["id", "val"]
    # a column no constraint reads still renames and drops, and
    # writes keep being checked against the constraint
    t.rename_column("val", "label", timestamp="2026-01-03T00:00:00")
    t.drop_column("label", timestamp="2026-01-04T00:00:00")
    t.write(
        spark.createDataFrame([(3,)], "id long"),
        mode="append", timestamp="2026-01-05T00:00:00",
    )
    assert _rows(t, "id") == [(1,), (2,), (3,)]
    with pytest.raises(ValueError, match="CHECK"):
        t.write(
            spark.createDataFrame([(-1,)], "id long"),
            mode="append", timestamp="2026-01-06T00:00:00",
        )


def test_rename_carries_clustering_and_drop_refuses_it(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(
        spark.createDataFrame(
            [(i % 5, i) for i in range(40)], "k long, v long"
        ).repartition(4),
        timestamp="2026-01-01T00:00:00",
    )
    t.set_clustering(["k"])
    t.rename_column("k", "kk", timestamp="2026-01-02T00:00:00")
    assert t.clustering_columns() == ["kk"]
    t.compact(timestamp="2026-01-03T00:00:00")
    assert _rows(t, "kk", "v") == sorted((i % 5, i) for i in range(40))
    v = t.latest_version()
    with pytest.raises(ValueError, match="clustering"):
        t.drop_column("kk", timestamp="2026-01-04T00:00:00")
    assert t.latest_version() == v
    t.set_clustering([])
    t.drop_column("kk", timestamp="2026-01-05T00:00:00")
    assert t.read().columns == ["v"]
