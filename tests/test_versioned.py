"""Versioned-table contract: snapshot isolation, time travel,
copy-on-write upsert, history, compaction-as-commit, vacuum, schema
enforcement, and optimistic-concurrency retry.

These are the user-visible guarantees of the reference's Delta
storage layer (reference main.py:414, 465-470); versioned.py, the
engine's one storage path, gives them with a Delta-paper-style
commit log on parquet.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_deltalake_spark.sources.versioned import VersionedTable


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture()
def vt(spark, tmp_path):
    return VersionedTable(spark, str(tmp_path / "vt"))


def _df(spark, pairs):
    return spark.createDataFrame(pairs, ["id", "val"])


def test_append_and_time_travel(spark, vt):
    v1 = vt.write(_df(spark, [(1, "a"), (2, "b")]), timestamp="2026-01-01T00:00:00")
    v2 = vt.write(_df(spark, [(3, "c")]), timestamp="2026-01-02T00:00:00")
    assert (v1, v2) == (1, 2)
    assert _rows(vt.read()) == [(1, "a"), (2, "b"), (3, "c")]
    assert _rows(vt.read(version=1)) == [(1, "a"), (2, "b")]
    # timestamp travel: latest commit at-or-before the given stamp
    assert _rows(vt.read(timestamp="2026-01-01T12:00:00")) == [(1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="no commit at or before"):
        vt.read(timestamp="2025-12-31T00:00:00")
    with pytest.raises(ValueError, match="does not exist"):
        vt.read(version=0)


def test_overwrite_keeps_history_readable(spark, vt):
    vt.write(_df(spark, [(1, "a")]), timestamp="2026-01-01T00:00:00")
    vt.write(
        _df(spark, [(9, "z")]), mode="overwrite", timestamp="2026-01-02T00:00:00"
    )
    assert _rows(vt.read()) == [(9, "z")]
    assert _rows(vt.read(version=1)) == [(1, "a")]
    ops = [h["operation"] for h in vt.history()]
    assert ops == ["overwrite", "append"]  # newest first


def test_upsert_copy_on_write(spark, vt):
    vt.write(_df(spark, [(1, "a"), (2, "b")]), timestamp="2026-01-01T00:00:00")
    v = vt.upsert(
        _df(spark, [(2, "B"), (3, "c")]), ["id"], timestamp="2026-01-02T00:00:00"
    )
    assert _rows(vt.read()) == [(1, "a"), (2, "B"), (3, "c")]
    # pre-merge snapshot intact
    assert _rows(vt.read(version=v - 1)) == [(1, "a"), (2, "b")]


def test_schema_enforced_on_append_not_overwrite(spark, vt):
    vt.write(_df(spark, [(1, "a")]))
    bad = spark.createDataFrame([(1, "a", "x")], ["id", "val", "extra"])
    with pytest.raises(ValueError, match="schema enforcement"):
        vt.write(bad, mode="append")
    with pytest.raises(ValueError, match="schema enforcement"):
        vt.upsert(bad, ["id"])
    vt.write(bad, mode="overwrite")  # overwrite may evolve
    assert vt.read().columns == ["id", "val", "extra"]


def test_schema_enforces_types_not_just_names(spark, vt):
    vt.write(spark.createDataFrame([(1, 1.5)], "id bigint, val double"))
    retyped = spark.createDataFrame([(2, "oops")], "id bigint, val string")
    with pytest.raises(ValueError, match="schema enforcement"):
        vt.write(retyped, mode="append")
    with pytest.raises(ValueError, match="schema enforcement"):
        vt.upsert(retyped, ["id"])


def test_empty_snapshot_read_keeps_types(spark, vt):
    vt.write(spark.createDataFrame([(1, 1.5)], "id bigint, val double"))
    empty = spark.createDataFrame([], "id bigint, val double")
    vt.write(empty, mode="overwrite", timestamp="2026-01-02T00:00:00")
    got = vt.read()
    assert got.count() == 0
    assert got.dtypes == [("id", "bigint"), ("val", "double")]
    # and the typed empty frame composes with the next typed batch
    assert got.unionByName(
        spark.createDataFrame([(2, 2.5)], "id bigint, val double")
    ).count() == 1


def test_compact_is_a_commit_and_time_travel_safe(spark, vt):
    for i in range(5):
        vt.write(_df(spark, [(i, str(i))]), timestamp=f"2026-01-0{i + 1}T00:00:00")
    before = _rows(vt.read())
    n5_files = len(vt._snapshot_files()[0])
    assert n5_files >= 5
    v = vt.compact(timestamp="2026-01-06T00:00:00")
    assert _rows(vt.read()) == before
    assert len(vt._snapshot_files()[0]) == 1  # tiny table → one file
    # pre-compaction snapshot still readable
    assert _rows(vt.read(version=v - 1)) == before
    # round 11: compaction relabels its commit OPTIMIZE (real
    # writers' commitInfo label); replay semantics stay overwrite's
    assert vt.history()[0]["operation"] == "optimize"


def test_vacuum_frees_old_versions_keeps_latest(spark, vt):
    vt.write(_df(spark, [(1, "a")]), timestamp="2026-01-01T00:00:00")
    vt.write(_df(spark, [(2, "b")]), mode="overwrite", timestamp="2026-01-02T00:00:00")
    assert _rows(vt.read(version=1)) == [(1, "a")]
    deleted = vt.vacuum(retain_versions=1)
    assert deleted >= 1
    # latest still fine; vacuumed snapshot's files are gone
    assert _rows(vt.read()) == [(2, "b")]
    with pytest.raises(Exception):
        vt.read(version=1).collect()


def test_commit_race_retries_to_next_version(spark, vt, tmp_path):
    """Simulate a concurrent writer landing version 2 first: the
    loser's rename fails and it retries as version 3."""
    vt.write(_df(spark, [(1, "a")]))
    # squat the version-2 log slot, as a racing writer would
    from etl_deltalake_spark.sources.versioned import _write_file_atomic
    import json

    squatted = json.dumps(
        {"commitInfo": {"timestamp": 0, "operation": "APPEND"}}
    ).encode()
    assert _write_file_atomic(spark, vt._log_path(2), squatted)
    v = vt.write(_df(spark, [(2, "b")]))
    assert v == 3
    assert _rows(vt.read()) == [(1, "a"), (2, "b")]
    # the squatted empty commit contributes no files but stays in history
    assert [h["version"] for h in vt.history()] == [3, 2, 1]


def test_snapshot_isolation_under_overwrite(spark, vt):
    """A reader's DataFrame resolved before an overwrite still reads
    the old snapshot afterwards: data files are immutable and the
    file list was fixed at resolution time."""
    vt.write(_df(spark, [(1, "a")]), timestamp="2026-01-01T00:00:00")
    old_reader = vt.read()
    vt.write(
        _df(spark, [(2, "b")]), mode="overwrite", timestamp="2026-01-02T00:00:00"
    )
    assert _rows(old_reader) == [(1, "a")]
    assert _rows(vt.read()) == [(2, "b")]


def test_read_changes_returns_exactly_the_delta(spark, vt):
    vt.write(_df(spark, [(1, "a"), (2, "b")]), timestamp="2026-01-01T00:00:00")
    vt.write(_df(spark, [(3, "c")]), timestamp="2026-01-02T00:00:00")
    vt.write(_df(spark, [(4, "d")]), timestamp="2026-01-03T00:00:00")
    assert _rows(vt.read_changes(1)) == [(3, "c"), (4, "d")]
    assert _rows(vt.read_changes(1, 2)) == [(3, "c")]
    assert _rows(vt.read_changes(3, 3)) == []  # empty window, schema kept
    assert vt.read_changes(3, 3).columns == ["id", "val"]
    with pytest.raises(ValueError, match="from_version <= to_version"):
        vt.read_changes(2, 1)
    with pytest.raises(ValueError, match=r"to_version <= 3, got \(1, 99\)"):
        vt.read_changes(1, 99)


def test_cdf_drives_incremental_gold(spark, vt):
    """The CDF + carry-over-state loop: Gold over read_changes()
    appended to prior Gold == full recompute over the whole Silver
    snapshot — the delta-proportional pipeline at 100 TB."""
    from etl_deltalake_spark.operators.window_agg import (
        gold_aggregation,
        gold_aggregation_incremental,
        gold_state_from,
    )

    batch1 = [(1, 10, 1.0), (1, 20, 2.0), (2, 10, 5.0)]
    batch2 = [(1, 30, 4.0), (2, 20, 1.0), (3, 10, 9.0)]
    schema = "grp int, ts int, v double"
    args = dict(group_col="grp", diff_cols="v", cumsum_cols="v", order_cols=["ts"])

    v1 = vt.write(spark.createDataFrame(batch1, schema), timestamp="2026-01-01T00:00:00")
    gold = gold_aggregation(vt.read(), **args)

    vt.write(spark.createDataFrame(batch2, schema), timestamp="2026-01-02T00:00:00")
    delta = vt.read_changes(v1)  # ONLY batch2's files are read
    incr = gold_aggregation_incremental(
        delta, gold_state_from(gold, **args), **args
    )
    combined = _rows(gold.unionByName(incr))
    full = _rows(gold_aggregation(vt.read(), **args))
    assert combined == full


def test_read_distributes_no_driver_rows(spark, vt):
    """The snapshot read is a plain distributed parquet scan — filters
    push down to it like any other table."""
    vt.write(
        spark.range(0, 1000).select(
            F.col("id"), (F.col("id") % 7).alias("val")
        )
    )
    df = vt.read().filter(F.col("id") < 10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "LessThan" in plan
    assert df.count() == 10


def test_delete_where_copy_on_write_and_purge(spark, tmp_path):
    """DELETE DML (round 8): matching rows vanish from the new
    snapshot, NULL conditions don't delete, the PRIOR version still
    time-travels to the full data (delete is logical), and a
    compliance vacuum physically drops the superseded files so the
    forgotten rows are no longer reachable at all."""
    from pyspark.sql import functions as F, Row

    from etl_deltalake_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "vt_del"))
    rows = [Row(k=i, v=None if i == 3 else float(i)) for i in range(6)]
    v1 = vt.write(
        spark.createDataFrame(rows), mode="overwrite",
        timestamp="2024-01-01T00:00:00",
    )
    # v > 2.0 is NULL for k=3 -> k=3 must survive (SQL DELETE rule)
    n = vt.delete_where(F.col("v") > 2.0, timestamp="2024-01-02T00:00:00")
    assert n == 2  # k=4, k=5 (v=3.0 is... k=3 has NULL, k=4,k=5 > 2)
    kept = sorted(r["k"] for r in vt.read().collect())
    assert kept == [0, 1, 2, 3]
    # time travel still sees everything (logical delete)
    assert vt.read(version=v1).count() == 6
    # compliance purge: vacuum drops the superseded files
    vt.vacuum(retain_versions=1)
    import pytest as _pytest

    with _pytest.raises(Exception):
        vt.read(version=v1).count()
    assert sorted(r["k"] for r in vt.read().collect()) == [0, 1, 2, 3]


def test_update_where_dml(spark, tmp_path):
    """UPDATE DML: assignments land only on condition-TRUE rows (NULL
    rows untouched), other columns and rows pass through byte-equal,
    unknown columns are refused, and the prior version still
    time-travels to the pre-update data."""
    import pytest as _pytest
    from pyspark.sql import functions as F, Row

    from etl_deltalake_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "vt_upd"))
    rows = [Row(k=i, v=None if i == 2 else float(i), tag="t") for i in range(5)]
    v1 = vt.write(
        spark.createDataFrame(rows), mode="overwrite",
        timestamp="2024-01-01T00:00:00",
    )
    n = vt.update_where(
        F.col("v") >= 3.0,
        {"tag": F.lit("big"), "v": F.col("v") * 10},
        timestamp="2024-01-02T00:00:00",
    )
    assert n == 2  # k=3, k=4; k=2 has NULL v -> untouched
    got = {r["k"]: (r["v"], r["tag"]) for r in vt.read().collect()}
    assert got[3] == (30.0, "big") and got[4] == (40.0, "big")
    assert got[2] == (None, "t") and got[0] == (0.0, "t")
    assert vt.read(version=v1).filter(F.col("tag") == "big").count() == 0
    with _pytest.raises(ValueError, match="unknown columns"):
        vt.update_where(F.lit(True), {"nope": F.lit(1)})


def test_log_checkpoint_bounds_metadata_reads(spark, tmp_path, monkeypatch):
    """After 25 commits (checkpoints at 10 and 20), a current-snapshot
    read must resolve from the newest checkpoint + the 5 newer logs —
    NOT re-read all 25 commit files — and produce exactly the same
    rows and latest-version answer as the full replay."""
    from pyspark.sql import Row

    from etl_deltalake_spark.sources import delta_log as DL
    from etl_deltalake_spark.sources import versioned as V

    vt = V.VersionedTable(spark, str(tmp_path / "vt_ck"))
    for i in range(25):
        vt.write(
            spark.createDataFrame([Row(k=i, v=float(i))]),
            mode="append",
            timestamp=f"2024-01-01T00:00:{i:02d}",
        )
    ckpts = [p for p in (tmp_path / "vt_ck" / "_delta_log").iterdir()
             if p.name.endswith(".checkpoint.parquet")]
    assert len(ckpts) == 2  # versions 10 and 20 (delta 9 and 19)
    assert not (tmp_path / "vt_ck" / "_log").exists()

    # the full replay: walking every commit replays the JSON log from
    # version 0, no checkpoint
    full = DL.delta_snapshot(spark, vt.path, each=lambda *a: None)
    full_files = [f"{vt.path}/{p}" for p in full["files"]]
    reads = {"n": 0}
    real_read = DL._LogDir.read
    real_rows = DL._LogDir.parquet_rows

    def counting_read(self, name):
        reads["n"] += 1
        return real_read(self, name)

    def counting_rows(self, name):
        reads["n"] += 1
        return real_rows(self, name)

    monkeypatch.setattr(DL._LogDir, "read", counting_read)
    monkeypatch.setattr(DL._LogDir, "parquet_rows", counting_rows)
    fast_files, fast_latest = vt._snapshot_files()
    # 1 checkpoint + 5 post-checkpoint commits (21..25)
    assert reads["n"] <= 6, reads["n"]
    assert sorted(fast_files) == sorted(full_files)
    assert fast_latest.version == full["version"] + 1 == 25
    assert vt.read().count() == 25


def test_check_constraints(spark, tmp_path):
    """Delta ADD CONSTRAINT parity: a violating write fails loudly
    naming the constraint; NULL evaluations PASS (standard SQL CHECK);
    adding a constraint existing data violates is refused and nothing
    publishes; constraints persist across handles; DML inherits
    enforcement; drop restores the write."""
    import pytest as _pytest
    from pyspark.sql import Row

    from etl_deltalake_spark.sources.versioned import VersionedTable

    path = str(tmp_path / "vt_cons")
    vt = VersionedTable(spark, path)
    vt.write(
        spark.createDataFrame(
            [(1, 5.0), (2, None)], "k bigint, v double"
        ),
        mode="overwrite", timestamp="2024-01-01T00:00:00",
    )
    # NULL v passes the check (SQL CHECK rule) so this is addable
    vt.add_constraint("v_positive", "v > 0")
    # a fresh handle sees the constraint (persisted, not in-memory)
    vt2 = VersionedTable(spark, path)
    assert vt2.constraints() == {"v_positive": "v > 0"}
    with _pytest.raises(ValueError, match="v_positive"):
        vt2.write(
            spark.createDataFrame([(3, -1.0)], "k bigint, v double"),
            mode="append", timestamp="2024-01-02T00:00:00",
        )
    # NULL still passes on write
    vt2.write(
        spark.createDataFrame([(4, None)], "k bigint, v double"),
        mode="append", timestamp="2024-01-03T00:00:00",
    )
    # UPDATE routes through write -> inherits enforcement
    from pyspark.sql import functions as F

    with _pytest.raises(ValueError, match="v_positive"):
        vt2.update_where(F.col("k") == 1, {"v": F.lit(-9.0)})
    # refused when existing data violates; nothing published
    with _pytest.raises(ValueError, match="existing rows violate"):
        vt2.add_constraint("k_small", "k < 2")
    assert vt2.constraints() == {"v_positive": "v > 0"}
    vt2.drop_constraint("v_positive")
    vt2.write(
        spark.createDataFrame([(5, -2.0)], "k bigint, v double"),
        mode="append", timestamp="2024-01-04T00:00:00",
    )
    assert vt2.read().count() == 4


def test_merge_schema_append(spark, vt):
    """Delta mergeSchema parity (round 9): an append may ADD columns
    (old rows read as null under the commit-recorded schema); shared
    columns must keep their types; plain appends still refuse schema
    drift; new files may omit old columns (null-filled on read)."""
    import pytest as _pytest

    vt.write(_df(spark, [(1, "a")]), timestamp="2026-01-01T00:00:00")
    wide = spark.createDataFrame([(2, "b", 0.5)], ["id", "val", "score"])
    with _pytest.raises(ValueError, match="schema enforcement"):
        vt.write(wide, timestamp="2026-01-02T00:00:00")
    vt.write(wide, timestamp="2026-01-02T00:00:00", merge_schema=True)
    got = vt.read()
    assert got.columns == ["id", "val", "score"]
    rows = {r["id"]: (r["val"], r["score"]) for r in got.collect()}
    assert rows == {1: ("a", None), 2: ("b", 0.5)}
    # writer omitting an old column: surfaces null for the new rows
    narrow = spark.createDataFrame([(3, 1.25)], ["id", "score"])
    vt.write(narrow, timestamp="2026-01-03T00:00:00", merge_schema=True)
    rows = {r["id"]: (r["val"], r["score"]) for r in vt.read().collect()}
    assert rows[3] == (None, 1.25)
    # type change stays refused even with the flag
    bad = spark.createDataFrame([(4, "x", "not-a-double")],
                                ["id", "val", "score"])
    with _pytest.raises(ValueError, match="type changes need overwrite"):
        vt.write(bad, timestamp="2026-01-04T00:00:00", merge_schema=True)
    # the Delta mirror records the MERGED schema
    from etl_deltalake_spark.sources import delta_log as DL

    snap = DL.delta_snapshot(spark, vt.path)
    import json as _json

    names = [f["name"] for f in _json.loads(snap["schema_json"])["fields"]]
    assert names == ["id", "val", "score"]


def _no_violation_in_force(spark, path):
    """The ``pos`` constraint, when in force, holds over every row:
    a raced commit ends in a refusal or in a clean table."""
    t = VersionedTable(spark, path)
    if "pos" in t.constraints():
        assert t.read().filter(F.col("id") < 0).count() == 0


def test_add_constraint_loses_to_a_violating_append(spark, tmp_path):
    """A second handle appends a violating row after ``add_constraint``
    validated the table and before it committed. The constraint's
    commit loses the race, re-validates the new tip and refuses."""
    path = str(tmp_path / "race_add")
    vt = VersionedTable(spark, path)
    vt.write(_df(spark, [(1, "a"), (2, "b")]), timestamp="2026-01-01T00:00:00")
    rival = VersionedTable(spark, path)
    real_read = vt.read
    calls = []

    def read(*args, **kwargs):
        df = real_read(*args, **kwargs)
        if not calls:
            rival.write(_df(spark, [(-5, "x")]),
                        timestamp="2026-01-02T00:00:00")
        calls.append(1)
        return df

    vt.read = read
    try:
        vt.add_constraint("pos", "id >= 0")
    except ValueError as e:
        assert "existing rows violate" in str(e)
    assert calls
    _no_violation_in_force(spark, path)


def test_append_loses_to_add_constraint(spark, tmp_path):
    """A second handle adds a constraint after an append checked its
    rows against the old (empty) set. The append's commit loses the
    race, re-checks against the new tip's constraints and refuses."""
    path = str(tmp_path / "race_append")
    vt = VersionedTable(spark, path)
    vt.write(_df(spark, [(1, "a")]), timestamp="2026-01-01T00:00:00")
    rival = VersionedTable(spark, path)
    real_enforce = vt._enforce_constraints
    calls = []

    def enforce(*args, **kwargs):
        out = real_enforce(*args, **kwargs)
        if not calls:
            rival.add_constraint("pos", "id >= 0")
        calls.append(1)
        return out

    vt._enforce_constraints = enforce
    try:
        vt.write(_df(spark, [(-7, "z")]), timestamp="2026-01-02T00:00:00")
    except ValueError as e:
        assert "pos" in str(e)
    assert calls
    _no_violation_in_force(spark, path)


def test_property_change_is_one_log_commit(spark, tmp_path):
    """A property change is a commit through the ``log_store`` seam:
    a store that refuses every put makes ``add_constraint`` give up,
    and nothing is written beside ``_delta_log``."""
    import os

    path = str(tmp_path / "prop_commit")
    VersionedTable(spark, path).write(_df(spark, [(1, "a")]))
    refusing = VersionedTable(spark, path, log_store=lambda p, b: False)
    with pytest.raises(RuntimeError, match="could not commit"):
        refusing.add_constraint("pos", "id >= 0")
    assert refusing.constraints() == {}
    vt = VersionedTable(spark, path)
    vt.add_constraint("pos", "id >= 0")
    assert vt.latest_version() == 2
    assert vt.history()[0]["operation"] == "add constraint"
    assert sorted(os.listdir(path)) == ["_delta_log", "data"]

