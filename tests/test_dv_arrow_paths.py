"""Deletion-vector scans, DV merges and checkpoints cross no Python-row
boundary: the bounded mask relation reaches the JVM as one Arrow table
(no ``PythonRDD`` anywhere in a masked scan's lineage, broadcast side
included), checkpoint parts are written by pyarrow and published
put-if-absent (no Spark job, no temporary directory), and a DV merge
derives its mask, pre-images and post/insert split from one
semi-join of the target."""

from __future__ import annotations

import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_deltalake_spark.sources import delta_log as DL
from etl_deltalake_spark.sources.versioned import VersionedTable


def _lineages(df) -> str:
    """RDD lineage of ``df``'s plan AND of every leaf under it — the
    broadcast side of a join runs as its own job, so its scan is not
    in ``toRdd``'s lineage and has to be read off the final plan."""
    qe = df._jdf.queryExecution()
    out = [qe.toRdd().toDebugString()]
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        kids = node.children()
        if kids.size() == 0:
            out.append(f"{cls}: {node.execute().toDebugString()}")
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return "\n".join(out)


def test_masked_scans_run_no_python_worker(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(
        spark.range(20).select("id", (F.col("id") * 10).alias("v"))
        .coalesce(1),
        timestamp="2026-01-01T00:00:00",
    )
    t.delete_where(
        F.col("id") % 3 == 0, timestamp="2026-01-02T00:00:00", use_dv=True
    )
    snap = t._state()
    assert snap.dvs, "the delete must leave a deletion vector"
    want = [i for i in range(20) if i % 3]
    scans = {
        "read": t.read(),
        "read_delta": DL.read_delta(spark, t.path),
        "_scan_with_position": t._scan_with_position(
            snap.files, snap.dvs, snap.latest
        ),
    }
    for name, df in scans.items():
        assert sorted(r.id for r in df.collect()) == want, name
        lineage = _lineages(df)
        assert "PythonRDD" not in lineage, f"{name}:\n{lineage}"
        assert "LocalTableScan" in lineage, f"{name}:\n{lineage}"


def _jobs_in_group(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"jobs-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _norm(value, typ):
    """A pyarrow ``to_pylist`` value in Spark's ``asDict`` form."""
    if value is None:
        return None
    if pa.types.is_map(typ):
        return {k: _norm(v, typ.item_type) for k, v in value}
    if pa.types.is_struct(typ):
        return {f.name: _norm(value[f.name], f.type) for f in typ}
    if pa.types.is_list(typ):
        return [_norm(v, typ.value_type) for v in value]
    return value


def test_checkpoint_commit_costs_an_append(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"), cdf=True)

    def append(i):
        return lambda: t.write(
            spark.createDataFrame([(i, f"r{i}")], "id long, val string")
            .coalesce(1),
            mode="append", timestamp=f"2026-01-{i + 1:02d}T00:00:00",
        )

    for i in range(7):
        append(i)()
    t.delete_where(F.col("id") == 3, timestamp="2026-01-08T12:00:00",
                   use_dv=True)
    assert t.latest_version() == VersionedTable.CHECKPOINT_INTERVAL - 2
    log = f"{t.path}/_delta_log".replace("file:", "")
    plain = _jobs_in_group(spark, append(7))
    assert not any(".checkpoint." in n for n in os.listdir(log))
    ckpt = _jobs_in_group(spark, append(8))
    assert t.latest_version() == VersionedTable.CHECKPOINT_INTERVAL
    assert ckpt == plain
    names = os.listdir(log)
    assert not [n for n in names if n.startswith("_tmp")], names
    path = f"{log}/{VersionedTable.CHECKPOINT_INTERVAL - 1:020d}" \
        ".checkpoint.parquet"
    table = pq.read_table(path)
    via_arrow = [
        {f.name: _norm(r[f.name], f.type) for f in table.schema}
        for r in table.to_pylist()
    ]
    via_spark = [
        r.asDict(recursive=True) for r in spark.read.parquet(path).collect()
    ]
    assert sorted(map(repr, via_spark)) == sorted(map(repr, via_arrow))
    adds = [r["add"] for r in via_arrow if r["add"] is not None]
    assert len(adds) == 9
    assert sum(a["deletionVector"] is not None for a in adds) == 1
    # replay from the checkpoint sees the same table as the JSON log
    assert sorted(r.id for r in t.read().collect()) == [
        i for i in range(9) if i != 3
    ]


def test_dv_and_copy_on_write_merge_give_one_change_feed(spark, tmp_path):
    ddl = "k long, v string"
    target = [(1, "a"), (1, "b"), (2, "c"), (None, "n"), (5, "e")]
    source = [(1, "A"), (4, "D"), (None, "N")]
    feeds = {}
    for use_dv in (False, True):
        t = VersionedTable(spark, str(tmp_path / f"dv{use_dv}"), cdf=True)
        t.write(spark.createDataFrame(target, ddl).coalesce(1),
                timestamp="2026-01-01T00:00:00")
        v = t.upsert(spark.createDataFrame(source, ddl), ["k"],
                     timestamp="2026-01-02T00:00:00", use_dv=use_dv)
        feeds[use_dv] = Counter(
            (r.k, r.v, r._change_type)
            for r in t.table_changes(v - 1, v).collect()
        )
    assert feeds[True] == feeds[False]
    assert feeds[True] == Counter({
        (1, "a", "update_preimage"): 1,
        (1, "b", "update_preimage"): 1,
        (1, "A", "update_postimage"): 1,
        (4, "D", "insert"): 1,
        (None, "N", "insert"): 1,
    })
