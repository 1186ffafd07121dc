"""deltastream: Structured Streaming over a REAL Delta log
(sources/delta_stream.py) — delta-spark's readStream semantics
without delta-spark: initial snapshot (DV masks applied), append
tail, refusal on data-changing commits, skipChangeCommits /
ignoreDeletes / startingVersion options, partitionValues injection,
checkpoint-floor snapshot resolution."""

from __future__ import annotations

import json
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from etl_deltalake_spark.sources import delta_log as DL
from etl_deltalake_spark.sources.delta_stream import DeltaStreamDataSource
from etl_deltalake_spark.sources.versioned import VersionedTable


@pytest.fixture
def vt(spark, tmp_path):
    spark.dataSource.register(DeltaStreamDataSource)
    return VersionedTable(spark, str(tmp_path / "tbl"))


def _df(spark, rows, ddl="id long"):
    return spark.createDataFrame(rows, ddl).coalesce(1)


def _drain(spark, path, out, ckp, **options):
    reader = spark.readStream.format("deltastream").option("path", path)
    for k, v in options.items():
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


def _got(spark, out):
    return sorted(
        (r.id, r._commit_version) for r in spark.read.parquet(out).collect()
    )


def test_initial_snapshot_masks_and_tail_appends(spark, vt, tmp_path):
    vt.write(_df(spark, [(i,) for i in range(10)]),
             timestamp="2026-01-01T00:00:00")
    vt.delete_where(F.col("id") < 3, timestamp="2026-01-02T00:00:00",
                    use_dv=True)
    vt.write(_df(spark, [(100,), (101,)]), timestamp="2026-01-03T00:00:00")
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(spark, vt.path, out, ckp)
    # ONE initial batch: the current snapshot (delta version 2), DV
    # masks applied — deleted ids never reach downstream
    assert _got(spark, out) == [(i, 2) for i in range(3, 10)] + [
        (100, 2), (101, 2),
    ]
    # tail: a later append streams exactly once across a restart
    vt.write(_df(spark, [(200,)]), timestamp="2026-01-04T00:00:00")
    _drain(spark, vt.path, out, ckp)
    _drain(spark, vt.path, out, ckp)  # replay drain adds nothing
    assert _got(spark, out) == [(i, 2) for i in range(3, 10)] + [
        (100, 2), (101, 2), (200, 3),
    ]


def test_change_commit_refuses_then_skips(spark, vt, tmp_path):
    vt.write(_df(spark, [(1,), (2,)]), timestamp="2026-01-01T00:00:00")
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(spark, vt.path, out, ckp)
    vt.delete_where(F.col("id") == 1, timestamp="2026-01-02T00:00:00",
                    use_dv=True)
    vt.write(_df(spark, [(3,)]), timestamp="2026-01-03T00:00:00")
    with pytest.raises(Exception, match="removes or rewrites"):
        _drain(spark, vt.path, out, ckp)
    _drain(spark, vt.path, out, ckp, skipChangeCommits="true")
    got = _got(spark, out)
    assert (3, 2) in got
    assert not any(v == 1 for _, v in got)  # DV commit skipped whole


def test_starting_version_replays_history(spark, vt, tmp_path):
    vt.write(_df(spark, [(1,)]), timestamp="2026-01-01T00:00:00")
    vt.write(_df(spark, [(2,)]), timestamp="2026-01-02T00:00:00")
    out, ckp = str(tmp_path / "o1"), str(tmp_path / "c1")
    _drain(spark, vt.path, out, ckp, startingVersion="0")
    # full history: each row tagged with ITS commit version, no
    # snapshot batch
    assert _got(spark, out) == [(1, 0), (2, 1)]
    # startingVersion=latest: nothing until a new commit lands (the
    # sink may still write an empty batch file)
    out2, ckp2 = str(tmp_path / "o2"), str(tmp_path / "c2")
    _drain(spark, vt.path, out2, ckp2, startingVersion="latest")
    assert spark.read.parquet(out2).count() == 0
    vt.write(_df(spark, [(9,)]), timestamp="2026-01-03T00:00:00")
    _drain(spark, vt.path, out2, ckp2, startingVersion="latest")
    assert _got(spark, out2) == [(9, 2)]


def test_foreign_partitioned_table_injects_values(spark, tmp_path):
    """A foreign log whose partition column lives only in
    partitionValues (real writers never store it in the files)."""
    spark.dataSource.register(DeltaStreamDataSource)
    root = str(tmp_path / "ft")
    os.makedirs(f"{root}/p=7")
    spark.createDataFrame([(1,), (2,)], "id long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{root}/tmp")
    (name,) = [
        f for f in os.listdir(f"{root}/tmp") if f.startswith("part-")
    ]
    os.rename(f"{root}/tmp/{name}", f"{root}/p=7/{name}")
    schema = spark.createDataFrame([], "id long, p int").schema
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "ft",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": ["p"],
                "configuration": {},
                "createdTime": 0,
            }
        },
        {
            "add": {
                "path": f"p=7/{name}",
                "partitionValues": {"p": "7"},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        },
    ]
    os.makedirs(f"{root}/_delta_log")
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions))
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(spark, root, out, ckp)
    rows = sorted(
        (r.id, r.p, r._commit_version)
        for r in spark.read.parquet(out).collect()
    )
    assert rows == [(1, 7, 0), (2, 7, 0)]


def test_decimal_partition_values_stream_as_read_delta_reads_them(
    spark, vt, tmp_path
):
    """Partition values are strings in the log; a decimal one must
    reach the stream as the decimal ``read_delta`` returns."""
    vt.write(
        spark.createDataFrame(
            [(1, "0.50"), (2, "1.00"), (3, "1.00")], "id long, d string"
        ).select("id", F.col("d").cast("decimal(5,2)").alias("d")),
        mode="overwrite", partition_by=["d"],
        timestamp="2026-01-01T00:00:00",
    )
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(spark, vt.path, out, ckp)
    want = sorted(tuple(r) for r in DL.read_delta(spark, vt.path).collect())
    assert {d for _, d in want} == {Decimal("0.50"), Decimal("1.00")}
    got = sorted(
        (r.id, r.d) for r in spark.read.parquet(out).collect()
    )
    assert got == want


def test_delete_only_commit_needs_ignore_deletes(spark, vt, tmp_path):
    """A foreign remove-only commit (e.g. a partition drop): refused
    by default, skipped under ignoreDeletes."""
    vt.write(_df(spark, [(1,)]), timestamp="2026-01-01T00:00:00")
    vt.write(_df(spark, [(2,)]), timestamp="2026-01-02T00:00:00")
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(spark, vt.path, out, ckp)
    snap = DL.delta_snapshot(spark, vt.path)
    victim = snap["files"][0]
    root = vt.path[len("file:"):] if vt.path.startswith("file:") else vt.path
    with open(f"{root}/_delta_log/{2:020d}.json", "w") as f:
        f.write(
            json.dumps(
                {
                    "remove": {
                        "path": victim,
                        "deletionTimestamp": 1,
                        "dataChange": True,
                    }
                }
            )
        )
    with pytest.raises(Exception, match="ignoreDeletes"):
        _drain(spark, vt.path, out, ckp)
    _drain(spark, vt.path, out, ckp, ignoreDeletes="true")
    assert _got(spark, out) == [(1, 1), (2, 1)]  # nothing new emitted


def test_column_mapped_rename_streams_with_logical_names(spark, vt, tmp_path):
    """Round 12: a table with rename history STREAMS — the worker
    scans by physical name, the declared schema carries the logical
    (renamed) one, and an append AFTER the rename (which lands under
    the physical name) streams too. The r11 docstring refusal is
    gone."""
    vt.write(_df(spark, [(1, "a"), (2, "b")], "id long, val string"),
             timestamp="2026-01-01T00:00:00")
    vt.rename_column("val", "label", "2026-01-02T00:00:00")
    vt.write(_df(spark, [(3, "c")], "id long, label string"),
             mode="append", timestamp="2026-01-03T00:00:00")
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(spark, vt.path, out, ckp)
    got = sorted(
        (r.id, r.label, r._commit_version)
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(1, "a", 2), (2, "b", 2), (3, "c", 2)]
    # post-snapshot tail append still routes through the mapping
    vt.write(_df(spark, [(4, "d")], "id long, label string"),
             mode="append", timestamp="2026-01-04T00:00:00")
    _drain(spark, vt.path, out, ckp)
    got = sorted(
        (r.id, r.label, r._commit_version)
        for r in spark.read.parquet(out).collect()
    )
    assert got[-1] == (4, "d", 3)


def test_column_mapping_id_mode_foreign_log_streams(spark, tmp_path):
    """id-mode foreign table: files store opaque physical names AND
    parquet field ids; the worker must match by id (the mode's
    contract), not by either name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spark.dataSource.register(DeltaStreamDataSource)
    root = str(tmp_path / "cmid")
    os.makedirs(f"{root}/_delta_log")
    phys = pa.schema(
        [
            pa.field(
                "col-aaaa", pa.int64(),
                metadata={b"PARQUET:field_id": b"1"},
            ),
            pa.field(
                "col-bbbb", pa.string(),
                metadata={b"PARQUET:field_id": b"2"},
            ),
        ]
    )
    name = "part-00000-idmode.parquet"
    pq.write_table(
        pa.table({"col-aaaa": [10, 11], "col-bbbb": ["x", "y"]},
                 schema=phys),
        f"{root}/{name}",
    )
    fields = [
        {
            "name": "id", "type": "long", "nullable": True,
            "metadata": {
                "delta.columnMapping.id": 1,
                "delta.columnMapping.physicalName": "col-aaaa",
            },
        },
        {
            "name": "tag", "type": "string", "nullable": True,
            "metadata": {
                "delta.columnMapping.id": 2,
                "delta.columnMapping.physicalName": "col-bbbb",
            },
        },
    ]
    actions = [
        {
            "protocol": {
                "minReaderVersion": 2,
                "minWriterVersion": 5,
            }
        },
        {
            "metaData": {
                "id": "cmid",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": fields}
                ),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "2",
                },
                "createdTime": 0,
            }
        },
        {
            "add": {
                "path": name,
                "partitionValues": {},
                "size": os.path.getsize(f"{root}/{name}"),
                "modificationTime": 0,
                "dataChange": True,
            }
        },
    ]
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions))
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(spark, root, out, ckp)
    got = sorted(
        (r.id, r.tag, r._commit_version)
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(10, "x", 0), (11, "y", 0)]


def test_schema_evolution_null_fills(spark, vt, tmp_path):
    vt.write(_df(spark, [(1, "a")], "id long, val string"),
             timestamp="2026-01-01T00:00:00")
    vt.write(
        _df(spark, [(2, "b", 1.5)], "id long, val string, score double"),
        timestamp="2026-01-02T00:00:00",
        merge_schema=True,
    )
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(spark, vt.path, out, ckp, startingVersion="0")
    rows = sorted(
        (r.id, r.val, r.score, r._commit_version)
        for r in spark.read.parquet(out).collect()
    )
    assert rows == [(1, "a", None, 0), (2, "b", 1.5, 1)]


def test_snapshot_resolves_from_checkpoint_after_cleanup(
    spark, vt, tmp_path
):
    for i in range(12):
        vt.write(_df(spark, [(i,)]),
                 timestamp=f"2026-01-{i + 1:02d}T00:00:00")
    assert DL.cleanup_log(spark, vt.path) > 0
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(spark, vt.path, out, ckp)
    assert [i for i, _ in _got(spark, out)] == list(range(12))
    # history below the retained tail is gone: startingVersion=0 must
    # refuse, not silently resume from the checkpoint
    with pytest.raises(Exception, match="log retention"):
        _drain(
            spark, vt.path, str(tmp_path / "o2"), str(tmp_path / "c2"),
            startingVersion="0",
        )


def test_starting_timestamp_replays_from_clock(spark, tmp_path):
    """startingTimestamp (round 12, delta-spark parity): replay every
    commit at or after the timestamp — resolved by the spec clock
    (in-commit timestamps here, so the test is deterministic); after
    the last commit refuses; mutually exclusive with
    startingVersion."""
    t = VersionedTable(spark, str(tmp_path / "ict"), ict=True)
    spark.dataSource.register(DeltaStreamDataSource)
    t.write(_df(spark, [(1,)]), timestamp="2026-01-01T00:00:00")
    t.write(_df(spark, [(2,)]), timestamp="2026-02-01T00:00:00")
    t.write(_df(spark, [(3,)]), timestamp="2026-03-01T00:00:00")
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(
        spark, t.path, out, ckp,
        startingTimestamp="2026-01-15T00:00:00",
    )
    assert _got(spark, out) == [(2, 1), (3, 2)]
    with pytest.raises(Exception, match="mutually exclusive"):
        _drain(
            spark, t.path, str(tmp_path / "o2"), str(tmp_path / "c2"),
            startingVersion="0",
            startingTimestamp="2026-01-01T00:00:00",
        )
    with pytest.raises(Exception, match="after the last commit"):
        _drain(
            spark, t.path, str(tmp_path / "o3"), str(tmp_path / "c3"),
            startingTimestamp="2027-01-01T00:00:00",
        )


def test_max_files_per_trigger_bounds_batches(spark, vt, tmp_path):
    """Round 12 admission control: once a running stream knows its
    position, a backlog of commits drains as capped micro-batches
    (2 files each here), never one monster batch; no row lost or
    duplicated across the boundaries. The process's FIRST
    latestOffset (availableNow's pinned target / the first batch
    after restart) is unbounded by design — the Python DataSource
    API exposes no admission-control hook, documented in
    delta_stream.py."""
    import time as _time

    vt.write(_df(spark, [(0,)]), timestamp="2026-01-01T00:00:00")
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    q = (
        spark.readStream.format("deltastream")
        .option("path", vt.path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckp)
        .trigger(processingTime="300 milliseconds")
        .start()
    )

    def rows():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0  # sink dir not created yet

    try:
        deadline = _time.time() + 60
        while rows() < 1 and _time.time() < deadline:
            _time.sleep(0.3)
        assert rows() >= 1, "stream never delivered the seed commit"
        # backlog lands while the stream is mid-flight: 6 single-file
        # commits, cap 2 -> at least 3 catch-up batches
        for i in range(1, 7):
            vt.write(_df(spark, [(i,)]),
                     timestamp=f"2026-01-{i + 1:02d}T00:00:00")
        deadline = _time.time() + 120
        while rows() < 7 and _time.time() < deadline:
            _time.sleep(0.5)
    finally:
        q.stop()
    assert _got(spark, out) == [(i, i) for i in range(7)]
    import os as _os

    n_batches = len(
        [f for f in _os.listdir(f"{ckp}/offsets") if f.isdigit()]
    )
    assert n_batches >= 4  # seed batch + >= 3 capped catch-up batches


def test_starting_timestamp_caps_first_batch(spark, tmp_path):
    """ADVICE r13 (low): the startingTimestamp branch of
    initialOffset must record the reader position like every other
    branch, so maxFilesPerTrigger caps the FIRST micro-batch in
    timestamp mode too. Unit-drives the reader: four single-file
    commits behind the start point, cap 1 → the first latestOffset
    advances one commit, not four."""
    from etl_deltalake_spark.sources.delta_stream import DeltaStreamReader

    t = VersionedTable(spark, str(tmp_path / "ict"), ict=True)
    for i in range(5):
        t.write(_df(spark, [(i,)]),
                timestamp=f"2026-0{i + 1}-01T00:00:00")
    r = DeltaStreamReader(
        {
            "path": t.path,
            "startingTimestamp": "2026-01-15T00:00:00",
            "maxFilesPerTrigger": "1",
        },
        [],
    )
    first = r.initialOffset()
    assert first == {"version": 0, "initial": False}
    # cap honored immediately: one commit per batch, walking the tail
    assert r.latestOffset()["version"] == 1
    r._pos = {"version": 1, "initial": False}
    assert r.latestOffset()["version"] == 2
    # refusal message names the last commit's TIMESTAMP, not version
    with pytest.raises(ValueError, match="ms"):
        DeltaStreamReader(
            {"path": t.path, "startingTimestamp": "2030-01-01T00:00:00"},
            [],
        ).initialOffset()


def test_cdf_stream_started_by_timestamp(spark, tmp_path):
    """VERDICT r12 #6: readChangeFeed composed with startingTimestamp
    — a CDF stream started mid-history by the spec clock serves the
    change feed from the first commit at/after the timestamp: the DV
    DELETE's recorded cdc rows, then the later append as inserts;
    nothing from before the start point."""
    spark.dataSource.register(DeltaStreamDataSource)
    t = VersionedTable(spark, str(tmp_path / "cdfts"), ict=True, cdf=True, )
    t.write(_df(spark, [(i,) for i in range(6)], "id long"),
            timestamp="2026-01-01T00:00:00")
    t.delete_where(F.col("id") < 2, timestamp="2026-02-01T00:00:00",
                   use_dv=True)
    t.write(_df(spark, [(100,)]), timestamp="2026-03-01T00:00:00")
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(
        spark, t.path, out, ckp,
        readChangeFeed="true",
        startingTimestamp="2026-01-15T00:00:00",
    )
    got = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in spark.read.parquet(out).collect()
    )
    assert got == [
        (0, "delete", 1),
        (1, "delete", 1),
        (100, "insert", 2),
    ]


def test_max_files_cap_respected_across_backlog_commits(spark, vt, tmp_path):
    """VERDICT r12 #6: admission across a MULTI-COMMIT backlog —
    commits of 1 file each, cap 2 → each latestOffset admits at most
    two commits' files and never splits a commit; driving the reader
    directly makes the batch boundaries deterministic."""
    from etl_deltalake_spark.sources.delta_stream import DeltaStreamReader

    for i in range(7):
        vt.write(_df(spark, [(i,)]),
                 timestamp=f"2026-01-{i + 1:02d}T00:00:00")
    r = DeltaStreamReader(
        {"path": vt.path, "startingVersion": "0",
         "maxFilesPerTrigger": "2"},
        [],
    )
    r.initialOffset()
    seen = []
    for _ in range(10):
        end = r.latestOffset()["version"]
        seen.append(end)
        r._pos = {"version": end, "initial": False}
        if end == 6:
            break
    # 7 single-file commits / cap 2 → exactly ceil(7/2)=4 batches
    assert seen == [1, 3, 5, 6]


def test_cdf_stream_derives_overwrite_insert_plus_delete(spark, tmp_path):
    """Round 13 (streaming twin of read_delta_cdf's derivation): a
    plain INSERT OVERWRITE on a CDF table writes no cdc actions —
    the CDF stream must derive adds-as-insert + removes-as-delete,
    masking a DV-carrying remove so only its live rows stream as
    deletes, instead of refusing."""
    spark.dataSource.register(DeltaStreamDataSource)
    t = VersionedTable(spark, str(tmp_path / "ow"), cdf=True)
    t.write(_df(spark, [(i,) for i in range(10)]),
            timestamp="2026-01-01T00:00:00")
    # DV delete (writes cdc; the data file now carries a mask)
    t.delete_where(F.col("id") < 4, timestamp="2026-01-02T00:00:00",
                   use_dv=True)
    # plain overwrite: adds + removes, NO cdc — the derivation case
    t.write(_df(spark, [(100,)]), mode="overwrite",
            timestamp="2026-01-03T00:00:00")
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(spark, t.path, out, ckp,
           readChangeFeed="true", startingVersion="0")
    got = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in spark.read.parquet(out).collect()
    )
    assert got == sorted(
        [
            *((i, "insert", 0) for i in range(10)),
            *((i, "delete", 1) for i in range(4)),  # recorded cdc
            # derived from the overwrite's removes, DV mask applied
            *((i, "delete", 2) for i in range(4, 10)),
            (100, "insert", 2),
        ]
    )


def test_stream_passes_silently_across_purge(spark, vt, tmp_path):
    """A purge commit (dataChange=false adds AND removes) must be
    invisible to deltastream — same rule as OPTIMIZE — and a later
    real append still streams."""
    vt.write(_df(spark, [(i,) for i in range(10)]),
             timestamp="2026-01-01T00:00:00")
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(spark, vt.path, out, ckp)
    vt.delete_where(F.col("id") < 3, timestamp="2026-01-02T00:00:00",
                    use_dv=True)
    # the DV commit itself refuses (non-CDF stream) — skip it, then
    # purge and append
    vt.purge(timestamp="2026-01-03T00:00:00")
    vt.write(_df(spark, [(100,)]), timestamp="2026-01-04T00:00:00")
    _drain(spark, vt.path, out, ckp, skipChangeCommits="true")
    got = _got(spark, out)
    # snapshot (v0 batch) + the append; the DV commit was skipped and
    # the purge was invisible — nothing re-emitted, nothing refused
    assert (100, 3) in got
    assert len(got) == 11


def test_stream_resumes_from_checkpoint_after_purge_and_cleanup(
    spark, vt, tmp_path
):
    """VERDICT r13 #7 — the delta-spark restart-after-vacuum
    contract, snapshot leg: a stream drained to the tip, then a PURGE
    lands exactly on the checkpoint interval and ``cleanup_log``
    sweeps every pre-checkpoint JSON commit. The resumed stream must
    pick up from ITS OWN checkpoint (never re-snapshot), emit nothing
    for the purge (dataChange=false), and stream only the post-sweep
    append — even though every commit below the log checkpoint is
    gone."""
    vt.write(_df(spark, [(i,) for i in range(10)]),
             timestamp="2026-01-01T00:00:00")
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(spark, vt.path, out, ckp)
    vt.delete_where(F.col("id") < 3, timestamp="2026-01-02T00:00:00",
                    use_dv=True)
    for i in range(7):  # custom v3..v9
        vt.write(_df(spark, [(100 + i,)]),
                 timestamp=f"2026-01-{3 + i:02d}T00:00:00")
    _drain(spark, vt.path, out, ckp, skipChangeCommits="true")
    before = _got(spark, out)
    # the purge IS the checkpointing commit (custom v10 = delta 9)
    assert vt.purge(timestamp="2026-01-10T00:00:00") > 0
    assert DL.cleanup_log(spark, vt.path) > 0
    vt.write(_df(spark, [(500,)]), timestamp="2026-01-11T00:00:00")
    _drain(spark, vt.path, out, ckp)  # no skip option needed: purge
    got = _got(spark, out)           # is dataChange=false
    assert (500, 10) in got
    # exactly ONE new row: no purge emission, no re-snapshot
    assert sorted(set(got) - set(before)) == [(500, 10)]
    assert len(got) == len(before) + 1


def test_cdf_stream_silent_across_purge_then_resumes_after_cleanup(
    spark, tmp_path
):
    """VERDICT r13 #7 — change-feed leg: the CDF stream sees the DV
    DELETE's recorded change rows, NOTHING at the purge version, and
    resumes from its checkpoint after the purge-triggered log sweep
    with only the new append's inserts."""
    spark.dataSource.register(DeltaStreamDataSource)
    t = VersionedTable(spark, str(tmp_path / "pc"), cdf=True)
    t.write(_df(spark, [(i,) for i in range(6)]),
            timestamp="2026-01-01T00:00:00")
    t.delete_where(F.col("id") < 2, timestamp="2026-01-02T00:00:00",
                   use_dv=True)
    for i in range(7):  # custom v3..v9
        t.write(_df(spark, [(100 + i,)]),
                timestamp=f"2026-01-{3 + i:02d}T00:00:00")
    out, ckp = str(tmp_path / "out"), str(tmp_path / "ckp")
    _drain(spark, t.path, out, ckp, readChangeFeed="true",
           startingVersion="0")
    before = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in spark.read.parquet(out).collect()
    )
    assert (0, "delete", 1) in before and (1, "delete", 1) in before
    assert t.purge(timestamp="2026-01-10T00:00:00") > 0
    assert DL.cleanup_log(spark, t.path) > 0
    t.write(_df(spark, [(500,)]), timestamp="2026-01-11T00:00:00")
    _drain(spark, t.path, out, ckp, readChangeFeed="true",
           startingVersion="0")
    got = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in spark.read.parquet(out).collect()
    )
    assert sorted(set(got) - set(before)) == [(500, "insert", 10)]
    assert not any(v == 9 for _, _, v in got)  # the purge version
