"""Change data feed as the SPEC defines it (round 12): CDF-enabled
tables write their DML change rows (+ ``_change_type``) under
``_change_data/`` and log ``cdc`` actions, so (a) this engine's
``table_changes`` serves recorded changes in O(changes) instead of
re-deriving them, and (b) ANY spec reader — here ``read_delta_cdf``,
the in-repo twin of delta-spark's ``readChangeFeed`` — gets identical
CDF from the log alone. Derivation rules for non-CDF commits
(pure-add → insert, pure-remove → delete, deletion-vector re-mask →
its mask delta) follow delta-spark; ``read_delta_cdf`` is the one
derivation and ``table_changes`` reads through it. Reference
analogue: the reference's Delta tables (main.py:414,465) gain CDF
with one table property; this is that property."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_deltalake_spark.sources import delta_log as DL
from etl_deltalake_spark.sources.versioned import VersionedTable


def _df(spark, rows, ddl="id long, val string"):
    return spark.createDataFrame(rows, ddl).coalesce(1)


def _changes(df):
    return sorted(
        tuple(r) for r in df.select(
            "id", "val", "_change_type", "_commit_version"
        ).collect()
    )


@pytest.fixture()
def pair(spark, tmp_path):
    """A CDF table and its non-CDF twin, driven through the SAME DML
    script — table_changes must agree (recorded vs derived)."""
    a = VersionedTable(spark, str(tmp_path / "cdf"), cdf=True)
    b = VersionedTable(spark, str(tmp_path / "plain"))
    for t in (a, b):
        t.write(
            _df(spark, [(i, f"v{i}") for i in range(20)]),
            timestamp="2026-01-01T00:00:00",
        )
        t.delete_where(F.col("id") % 5 == 0,
                       timestamp="2026-01-02T00:00:00", use_dv=True)
        t.update_where(
            F.col("id") == 7, {"val": F.lit("SEVEN")},
            timestamp="2026-01-03T00:00:00", use_dv=True,
        )
        t.upsert(
            _df(spark, [(3, "merged"), (100, "new")]),
            ["id"], timestamp="2026-01-04T00:00:00", use_dv=True,
        )
    return a, b


def test_recorded_cdf_equals_derived_cdf(spark, pair):
    a, b = pair
    # the CDF table recorded cdc files on every DML commit
    assert all(c.cdc for c in a._commits()[1:])
    assert not any(c.cdc for c in b._commits())
    got = _changes(a.table_changes(1))
    derived = _changes(b.table_changes(1))
    # same rows, same versions; the RECORDED labels are strictly
    # finer: a merge's not-matched inserts are "insert", which the
    # add/remove derivation cannot distinguish from the rewritten
    # matched rows (it labels every fresh row update_postimage —
    # delta-spark cannot derive merge CDF at all)
    assert [(i, v, ver) for i, v, _, ver in got] == [
        (i, v, ver) for i, v, _, ver in derived
    ]
    finer = {(100, "new", "update_postimage", 4): (
        100, "new", "insert", 4)}
    assert got == sorted(finer.get(r, r) for r in derived)
    # spot checks: DV delete, update pre/post, merge insert
    assert (0, "v0", "delete", 2) in got
    assert (7, "v7", "update_preimage", 3) in got
    assert (7, "SEVEN", "update_postimage", 3) in got
    assert (100, "new", "insert", 4) in got
    assert (3, "v3", "update_preimage", 4) in got
    assert (3, "merged", "update_postimage", 4) in got


def test_spec_reader_serves_cdc_actions(spark, pair):
    a, b = pair
    # the mirror carries spec cdc actions for every DML commit
    kinds = {
        v: {next(iter(x)) for x in acts}
        for v, acts in _group_actions(spark, a.path).items()
    }
    assert "cdc" in kinds[1] and "cdc" in kinds[2] and "cdc" in kinds[3]
    # a spec reader serves the feed from recorded cdc rows on ``a``
    # and from mask deltas on ``b``; the only difference is the
    # merge's not-matched insert, which a derivation labels
    # update_postimage (delta versions are 0-based)
    want = [
        (0, "v0", "delete", 1), (3, "merged", "update_postimage", 3),
        (3, "v3", "update_preimage", 3), (5, "v5", "delete", 1),
        (7, "SEVEN", "update_postimage", 2),
        (7, "v7", "update_preimage", 2), (10, "v10", "delete", 1),
        (15, "v15", "delete", 1),
    ]
    for t, label in ((a, "insert"), (b, "update_postimage")):
        got = sorted(
            (r.id, r.val, r._change_type, r._commit_version)
            for r in DL.read_delta_cdf(spark, t.path, 0).collect()
        )
        assert got == sorted(want + [(100, "new", label, 3)])
    # table_changes is the same feed on 1-based versions
    assert {
        (r.id, r._commit_version)
        for r in b.table_changes(3).collect()
    } == {(3, 4), (100, 4)}
    assert "_commit_timestamp" not in b.table_changes(3).columns
    spec = DL.read_delta_cdf(spark, a.path, 0)
    # timestamps come from commitInfo (deterministic caller clock)
    ts = {
        r._commit_version: r._commit_timestamp for r in spec.collect()
    }
    assert ts[1] == DL._iso_to_millis("2026-01-02T00:00:00")


def _group_actions(spark, path):
    by: dict[int, list] = {}
    for v, a in DL.delta_log_actions(spark, path):
        by.setdefault(v, []).append(a)
    return by


def test_spec_reader_derives_inserts_and_dv_deletes(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "nocdf"))
    t.write(_df(spark, [(1, "a")]), timestamp="2026-01-01T00:00:00")
    t.write(_df(spark, [(2, "b")]), mode="append",
            timestamp="2026-01-02T00:00:00")
    # pure appends derive as inserts without cdc actions
    got = sorted(
        (r.id, r.val, r._change_type, r._commit_version)
        for r in DL.read_delta_cdf(spark, t.path, -1).collect()
    )
    assert got == [(1, "a", "insert", 0), (2, "b", "insert", 1)]
    # a DV delete without CDF derives from its mask delta
    t.delete_where(F.col("id") == 1, timestamp="2026-01-03T00:00:00",
                   use_dv=True)
    got = [
        (r.id, r.val, r._change_type, r._commit_version)
        for r in DL.read_delta_cdf(spark, t.path, 1).collect()
    ]
    assert got == [(1, "a", "delete", 2)]


def test_change_feed_refuses_unknown_reader_features(spark, tmp_path):
    """A later protocol commit demanding an unknown reader feature
    makes the change feed refuse, as ``read_delta`` does, instead of
    serving rows whose meaning the feature may change."""
    import json

    t = VersionedTable(spark, str(tmp_path / "proto"))
    t.write(_df(spark, [(1, "a")]), timestamp="2026-01-01T00:00:00")
    with open(t._log_path(2).replace("file:", ""), "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["futureFeatureX"],
            "writerFeatures": ["futureFeatureX"],
        }}))
    for read in (lambda: DL.read_delta_cdf(spark, t.path),
                 lambda: t.table_changes(0)):
        with pytest.raises(ValueError, match="futureFeatureX"):
            read().collect()


def test_restore_that_shrinks_a_mask_reinserts_the_unmasked_rows(
    spark, tmp_path
):
    """RESTORE re-adds a file with its older, smaller mask: the rows
    only the newer mask held come back as inserts, none is deleted."""
    t = VersionedTable(spark, str(tmp_path / "rs"))
    t.write(_df(spark, [(i, f"v{i}") for i in range(6)]),
            timestamp="2026-01-01T00:00:00")
    t.delete_where(F.col("id") == 1, timestamp="2026-01-02T00:00:00",
                   use_dv=True)
    t.delete_where(F.col("id").isin(2, 3), timestamp="2026-01-03T00:00:00",
                   use_dv=True)
    v = t.restore(2, timestamp="2026-01-04T00:00:00")
    assert _changes(t.table_changes(v - 1, v)) == [
        (2, "v2", "insert", v), (3, "v3", "insert", v),
    ]
    assert sorted(r.id for r in t.read().collect()) == [0, 2, 3, 4, 5]
    # back to the version before any mask: the file is re-added
    # without a deletion vector, and only the masked row comes back
    v = t.restore(1, timestamp="2026-01-05T00:00:00")
    assert _changes(t.table_changes(v - 1, v)) == [(1, "v1", "insert", v)]
    assert sorted(r.id for r in t.read().collect()) == list(range(6))


def test_change_feed_refuses_a_window_across_a_layout_change(
    spark, tmp_path
):
    """Every file is read under the latest schema, so a window whose
    files have other partition columns or another column type
    refuses, where a scan would give null partition values or fail;
    the window after the change reads."""
    ddl = "id long, val string, k int"
    cases = {
        "unpartition": ({"partition_by": ["k"]}, {"partition_by": []},
                        ddl),
        "partition": ({}, {"partition_by": ["k"]}, ddl),
        "retype": ({}, {}, "id long, val int, k int"),
    }
    for name, (first, then, ddl2) in cases.items():
        t = VersionedTable(spark, str(tmp_path / name))
        t.write(_df(spark, [(1, "1", 0)], ddl), mode="overwrite",
                timestamp="2026-01-01T00:00:00", **first)
        t.write(_df(spark, [(2, 2, 1)] if ddl2 != ddl else [(2, "2", 1)],
                    ddl2),
                mode="overwrite", timestamp="2026-01-02T00:00:00", **then)
        t.write(_df(spark, [(3, 3, 1)] if ddl2 != ddl else [(3, "3", 1)],
                    ddl2),
                mode="append", timestamp="2026-01-03T00:00:00")
        for read in (lambda: t.table_changes(0),
                     lambda: t.read_changes(1, 2),
                     lambda: DL.read_delta_cdf(spark, t.path)):
            with pytest.raises(ValueError, match="version 0's files"):
                read()
        assert [
            (r.id, r.k, r._change_type, r._commit_version)
            for r in t.table_changes(2).collect()
        ] == [(3, 1, "insert", 3)]


def test_cow_delete_records_cdc_and_partitioned_layout(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "p"), cdf=True)
    t.write(
        spark.createDataFrame(
            [(i, i % 3, f"v{i}") for i in range(30)],
            "id long, p long, val string",
        ),
        mode="overwrite", partition_by=["p"],
        timestamp="2026-01-01T00:00:00",
    )
    # copy-on-write delete: an overwrite commit, readable as CDF only
    # because the cdc actions record the true change set
    n = t.delete_where(F.col("id") < 6, timestamp="2026-01-02T00:00:00")
    assert n == 6
    ch = t.table_changes(1)
    dels = sorted(
        (r.id, r.p) for r in ch.filter(
            F.col("_change_type") == "delete"
        ).collect()
    )
    assert dels == [(i, i % 3) for i in range(6)]
    # cdc files live under _change_data/<hive dirs>; partition values
    # round-trip through the action, and the spec reader agrees
    spec = DL.read_delta_cdf(spark, t.path, 0, 1)
    sdels = sorted(
        (r.id, r.p) for r in spec.filter(
            F.col("_change_type") == "delete"
        ).collect()
    )
    assert sdels == dels
    assert all(
        c["path"].startswith("_change_data/")
        for acts in _group_actions(spark, t.path).values()
        for a in acts
        for c in [a.get("cdc")]
        if c is not None
    )


def test_vacuum_collects_expired_cdc_files(spark, tmp_path):
    import os

    t = VersionedTable(spark, str(tmp_path / "vac"), cdf=True)
    t.write(_df(spark, [(i, "x") for i in range(10)]),
            timestamp="2026-01-01T00:00:00")
    t.delete_where(F.col("id") == 0, timestamp="2026-01-02T00:00:00",
                   use_dv=True)
    t.write(_df(spark, [(50, "y")]), mode="append",
            timestamp="2026-01-03T00:00:00")
    root = t.path.replace("file:", "")
    n_before = sum(len(fs) for _, _, fs in os.walk(f"{root}/_change_data"))
    assert n_before >= 1
    t.vacuum(retain_versions=1)
    # the delete commit (v2) fell out of retention; its cdc file went
    n_after = sum(len(fs) for _, _, fs in os.walk(f"{root}/_change_data"))
    assert n_after < n_before
    assert t.read().count() == 10  # 10 - 1 deleted + 1 appended


def test_deltastream_read_change_feed(spark, tmp_path):
    """readChangeFeed streaming (round 12, delta-spark parity): a CDF
    table's DML commits STREAM their recorded change rows instead of
    refusing; appends derive as inserts; the initial snapshot labels
    current rows insert; a rewrite without cdc still refuses."""
    from etl_deltalake_spark.sources.delta_stream import (
        DeltaStreamDataSource,
    )

    spark.dataSource.register(DeltaStreamDataSource)
    t = VersionedTable(spark, str(tmp_path / "cdfs"), cdf=True)
    t.write(_df(spark, [(i, f"v{i}") for i in range(10)]),
            timestamp="2026-01-01T00:00:00")
    t.delete_where(F.col("id") % 3 == 0,
                   timestamp="2026-01-02T00:00:00", use_dv=True)
    t.update_where(F.col("id") == 7, {"val": F.lit("SEVEN")},
                   timestamp="2026-01-03T00:00:00", use_dv=True)

    def drain(out, ckp, **opts):
        reader = (
            spark.readStream.format("deltastream")
            .option("path", t.path)
            .option("readChangeFeed", "true")
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return sorted(
            (r.id, r.val, r._change_type, r._commit_version)
            for r in spark.read.parquet(out).collect()
        )

    # full replay: matches the SPEC batch CDF reader exactly
    got = drain(str(tmp_path / "o1"), str(tmp_path / "c1"),
                startingVersion="0")
    want = sorted(
        (r.id, r.val, r._change_type, r._commit_version)
        for r in DL.read_delta_cdf(spark, t.path, -1).collect()
    )
    assert got == want
    assert (0, "v0", "delete", 1) in got
    assert (7, "v7", "update_preimage", 2) in got
    assert (7, "SEVEN", "update_postimage", 2) in got
    # initial-snapshot mode: CURRENT rows, all labeled insert, masks on
    snap = drain(str(tmp_path / "o2"), str(tmp_path / "c2"))
    assert {ct for _, _, ct, _ in snap} == {"insert"}
    assert sorted(i for i, _, _, _ in snap) == [
        i for i in range(10) if i % 3 != 0
    ]
    # a non-CDF table's rewrite refuses even under readChangeFeed
    t2 = VersionedTable(spark, str(tmp_path / "plain2"))
    t2.write(_df(spark, [(1, "a"), (2, "b")]),
             timestamp="2026-01-01T00:00:00")
    t2.delete_where(F.col("id") == 1, timestamp="2026-01-02T00:00:00",
                    use_dv=True)
    import re

    with pytest.raises(Exception, match="enableChangeDataFeed"):
        reader = (
            spark.readStream.format("deltastream")
            .option("path", t2.path)
            .option("readChangeFeed", "true")
            .option("startingVersion", "0")
        )
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "o3"))
            .option("checkpointLocation", str(tmp_path / "c3"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)


def test_spec_reader_derives_overwrite_as_insert_plus_delete(
    spark, tmp_path
):
    """ADVICE r13 (medium): plain INSERT OVERWRITE produces a commit
    with adds AND removes and no cdc actions — delta-spark's
    CDCReader derives it as adds-as-insert + removes-as-delete; the
    old reader refused, breaking CDF over the repo's own cdf=True
    tables. The partition value carries a space so the remove-path
    decode level is exercised too (ADVICE r13 low)."""
    t = VersionedTable(spark, str(tmp_path / "ow"), cdf=True)
    t.write(
        spark.createDataFrame(
            [(1, "a b", "x"), (2, "a b", "y"), (3, "c", "z")],
            "id long, p string, val string",
        ).coalesce(1),
        mode="overwrite", partition_by=["p"],
        timestamp="2026-01-01T00:00:00",
    )
    t.write(
        spark.createDataFrame(
            [(9, "a b", "w")], "id long, p string, val string"
        ).coalesce(1),
        mode="overwrite", partition_by=["p"],
        timestamp="2026-01-02T00:00:00",
    )
    got = sorted(
        (r.id, r.p, r._change_type, r._commit_version)
        for r in DL.read_delta_cdf(spark, t.path, 0, 1).collect()
    )
    assert got == [
        (1, "a b", "delete", 1),
        (2, "a b", "delete", 1),
        (3, "c", "delete", 1),
        (9, "a b", "insert", 1),
    ]


def test_overwrite_of_dv_masked_file_deletes_only_live_rows(
    spark, tmp_path
):
    """A remove of a previously DV-masked file must (a) carry the
    file's prior deletionVector descriptor in the mirrored log —
    real Delta removes copy the add's descriptor — and (b) have CDF
    derivation report only the file's LIVE rows as deleted (the
    masked rows were already reported by the DV commit)."""
    t = VersionedTable(spark, str(tmp_path / "dvow"), cdf=True)
    t.write(_df(spark, [(i, f"v{i}") for i in range(10)]),
            timestamp="2026-01-01T00:00:00")
    # merge-on-read DELETE: cdf records cdc, the file gains a DV
    n = t.delete_where(F.col("id") < 4, timestamp="2026-01-02T00:00:00",
                       use_dv=True)
    assert n == 4
    t.write(_df(spark, [(100, "new")]), mode="overwrite",
            timestamp="2026-01-03T00:00:00")
    # the mirrored remove carries the descriptor
    removes = [
        a["remove"]
        for acts in _group_actions(spark, t.path).values()
        for a in acts
        if a.get("remove") is not None
    ]
    assert any(r.get("deletionVector") for r in removes)
    got = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in DL.read_delta_cdf(spark, t.path, 1, 2).collect()
    )
    assert got == [
        *((i, "delete", 2) for i in range(4, 10)),
        (100, "insert", 2),
    ]
    # full-feed sanity: every row deleted exactly once across v1+v2
    full = DL.read_delta_cdf(spark, t.path, 0)
    dels = sorted(
        r.id for r in full.filter(
            F.col("_change_type") == "delete"
        ).collect()
    )
    assert dels == list(range(10))


def test_cdf_timestamp_bounds_and_history(spark, tmp_path):
    """read_delta_cdf timestamp bounds (delta-spark's readChangeFeed
    startingTimestamp/endingTimestamp, resolved by the spec clock)
    and delta_history (DESCRIBE HISTORY through the log alone) —
    both on an ICT table so times are the table's own recorded
    clock, deterministic."""
    t = VersionedTable(spark, str(tmp_path / "tsb"), cdf=True, ict=True)
    t.write(_df(spark, [(1, "a")]), timestamp="2026-01-01T00:00:00")
    t.write(_df(spark, [(2, "b")]), mode="append",
            timestamp="2026-02-01T00:00:00")
    t.delete_where(F.col("id") == 1, timestamp="2026-03-01T00:00:00",
                   use_dv=True)
    got = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in DL.read_delta_cdf(
            spark, t.path, starting_timestamp="2026-01-15T00:00:00"
        ).collect()
    )
    assert got == [(1, "delete", 2), (2, "insert", 1)]
    mid = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in DL.read_delta_cdf(
            spark, t.path,
            starting_timestamp="2026-01-15T00:00:00",
            ending_timestamp="2026-02-15T00:00:00",
        ).collect()
    )
    assert mid == [(2, "insert", 1)]
    with pytest.raises(ValueError, match="after the last commit"):
        DL.read_delta_cdf(
            spark, t.path, starting_timestamp="2030-01-01T00:00:00"
        )
    with pytest.raises(ValueError, match="not both"):
        DL.read_delta_cdf(
            spark, t.path, from_version=0,
            starting_timestamp="2026-01-01T00:00:00",
        )
    # omitted bounds = the full feed
    assert DL.read_delta_cdf(spark, t.path).count() == 3

    hist = DL.delta_history(spark, t.path).collect()
    assert [r.version for r in hist] == [2, 1, 0]
    assert hist[2].operation == "APPEND"
    assert hist[0].operation == "DELETE"
    assert hist[0].num_added_files == 1  # DV re-add
    assert hist[0].num_removed_files == 1
    assert hist[2].timestamp == DL._iso_to_millis("2026-01-01T00:00:00")
    assert all("versioned-table mirror" in r.engineInfo for r in hist)


def test_spec_and_custom_cdf_agree_on_full_script(spark, tmp_path):
    """The change feed of one script covering append, copy-on-write
    delete, merge-on-read update, and a plain overwrite, written out:
    read_delta_cdf gives it on the log's 0-based versions and
    table_changes on VersionedTable's 1-based ones."""
    t = VersionedTable(spark, str(tmp_path / "agree"), cdf=True)
    t.write(_df(spark, [(i, f"v{i}") for i in range(8)]),
            timestamp="2026-01-01T00:00:00")
    t.write(_df(spark, [(100, "x")]), mode="append",
            timestamp="2026-01-02T00:00:00")
    t.delete_where(F.col("id") < 2, timestamp="2026-01-03T00:00:00")
    t.update_where(F.col("id") == 5, {"val": F.lit("FIVE")},
                   timestamp="2026-01-04T00:00:00", use_dv=True)
    t.write(_df(spark, [(200, "y")]), mode="overwrite",
            timestamp="2026-01-05T00:00:00")
    want = sorted(
        [(i, f"v{i}", "insert", 0) for i in range(8)]
        + [(100, "x", "insert", 1), (0, "v0", "delete", 2),
           (1, "v1", "delete", 2), (5, "v5", "update_preimage", 3),
           (5, "FIVE", "update_postimage", 3)]
        + [(i, f"v{i}", "delete", 4) for i in (2, 3, 4, 6, 7)]
        + [(5, "FIVE", "delete", 4), (100, "x", "delete", 4),
           (200, "y", "insert", 4)]
    )
    custom = sorted(
        (r.id, r.val, r._change_type, r._commit_version - 1)
        for r in t.table_changes(0).collect()
    )
    spec = sorted(
        (r.id, r.val, r._change_type, r._commit_version)
        for r in DL.read_delta_cdf(spark, t.path).collect()
    )
    assert custom == spec == want


def _drain_versionedcdf(spark, path, root):
    """One availableNow drain of ``versionedcdf`` into a parquet sink;
    the sink's checkpoint makes a second call a restart."""
    from etl_deltalake_spark.sources.cdf_source import (
        VersionedCdfDataSource,
    )

    spark.dataSource.register(VersionedCdfDataSource)
    q = (
        spark.readStream.format("versionedcdf")
        .option("path", path)
        .load()
        .writeStream.format("parquet")
        .option("path", f"{root}/out")
        .option("checkpointLocation", f"{root}/ckp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return sorted(
        (r.id, r.val, r._change_version)
        for r in spark.read.parquet(f"{root}/out").collect()
    )


def test_versionedcdf_streams_recorded_changes_only(spark, tmp_path):
    """On a CDF table the stream delivers the appended rows plus each
    DML commit's post-image rows, stamped with the VersionedTable
    version: a deletion-vector upsert never re-emits the rows it left
    in place, a DV delete streams nothing, and a restart from the
    same checkpoint adds nothing."""
    t = VersionedTable(spark, str(tmp_path / "t"), cdf=True)
    t.write(_df(spark, [(i, f"v{i}") for i in range(10)]),
            timestamp="2026-01-01T00:00:00")
    t.upsert(_df(spark, [(1, "m1"), (2, "m2"), (20, "n20")]),
             ["id"], timestamp="2026-01-02T00:00:00", use_dv=True)
    t.delete_where(F.col("id").isin(5, 6),
                   timestamp="2026-01-03T00:00:00", use_dv=True)
    assert t.latest_version() == 3
    want = sorted(
        [(i, f"v{i}", 1) for i in range(10)]
        + [(1, "m1", 2), (2, "m2", 2), (20, "n20", 2)]
    )
    assert _drain_versionedcdf(spark, t.path, str(tmp_path)) == want
    assert _drain_versionedcdf(spark, t.path, str(tmp_path)) == want


def test_versionedcdf_row_fallback_filters_the_same(spark, tmp_path):
    """An array column has no Arrow fast path, so rows stream as
    tuples: the same post-image filter and version stamp apply."""
    from etl_deltalake_spark.sources.cdf_source import (
        VersionedCdfDataSource,
    )

    spark.dataSource.register(VersionedCdfDataSource)
    ddl = "id long, tags array<string>"
    t = VersionedTable(spark, str(tmp_path / "t"), cdf=True)
    t.write(_df(spark, [(i, [f"t{i}"]) for i in range(4)], ddl),
            timestamp="2026-01-01T00:00:00")
    t.update_where(F.col("id") == 1, {"tags": F.array(F.lit("u"))},
                   timestamp="2026-01-02T00:00:00", use_dv=True)
    q = (
        spark.readStream.format("versionedcdf")
        .option("path", t.path)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        (r.id, list(r.tags), r._change_version)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == sorted(
        [(i, [f"t{i}"], 1) for i in range(4)] + [(1, ["u"], 2)]
    )


def test_versionedcdf_refuses_dv_commit_without_cdf(spark, tmp_path):
    """Without CDF a deletion-vector commit records no change rows, so
    the per-row change set is not derivable: the drain refuses and
    names the table property that fixes it."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, [(i, f"v{i}") for i in range(10)]),
            timestamp="2026-01-01T00:00:00")
    t.delete_where(F.col("id") < 3,
                   timestamp="2026-01-02T00:00:00", use_dv=True)
    with pytest.raises(Exception, match="delta.enableChangeDataFeed"):
        _drain_versionedcdf(spark, t.path, str(tmp_path))


@pytest.mark.parametrize("cdf", [False, True])
def test_read_changes_across_dv_update_is_the_rewritten_rows(
    spark, tmp_path, cdf
):
    t = VersionedTable(spark, str(tmp_path / "t"), cdf=cdf)
    t.write(_df(spark, [(i, f"v{i}") for i in range(10)]),
            timestamp="2026-01-01T00:00:00")
    t.update_where(F.col("id") < 3, {"val": F.lit("u")},
                   timestamp="2026-01-02T00:00:00", use_dv=True)
    got = t.read_changes(1, 2)
    assert got.columns == ["id", "val"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (0, "u"), (1, "u"), (2, "u"),
    ]


def test_reopened_handle_keeps_the_logs_table_features(spark, tmp_path):
    """A handle opened WITHOUT flags on an existing CDF table takes
    its features from the log: a DV delete still records ``cdc``
    actions, so the ``versionedcdf`` drain keeps working (a cdc-less
    DV commit makes every later drain refuse "re-masks files without
    cdc actions")."""
    path = str(tmp_path / "t")
    t = VersionedTable(spark, path, cdf=True)
    t.write(_df(spark, [(i, f"v{i}") for i in range(6)]),
            timestamp="2026-01-01T00:00:00")
    fresh = VersionedTable(spark, path)
    assert fresh.delete_where(
        F.col("id") == 2, timestamp="2026-01-02T00:00:00", use_dv=True
    ) == 1
    kinds = [next(iter(a)) for v, a in DL.delta_log_actions(spark, path)
             if v == 1]
    assert "cdc" in kinds
    assert DL.delta_snapshot(spark, path)["configuration"][
        "delta.enableChangeDataFeed"] == "true"
    # a DV delete streams no post-image rows; the drain succeeds
    assert _drain_versionedcdf(spark, path, str(tmp_path)) == [
        (i, f"v{i}", 1) for i in range(6)
    ]
    deletes = [
        (r.id, r.val) for r in DL.read_delta_cdf(spark, path, 0, 1)
        .filter(F.col("_change_type") == "delete").collect()
    ]
    assert deletes == [(2, "v2")]
