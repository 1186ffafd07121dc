"""The Delta-Lake transaction log: VersionedTable's only commit log.

The reference's storage engine IS Delta (``write_deltalake``,
reference main.py:414; ``DeltaTable.merge`` main.py:465-470).
``sources/versioned.py`` keeps Delta's user contract on plain parquet
by writing the public Delta protocol (github.com/delta-io/delta
PROTOCOL.md) under ``_delta_log/`` as its one log, so any
spec-conformant reader — delta-spark, delta-rs, DuckDB's delta
extension, Trino — reads its tables without this repo in the loop,
and this module's reader reads foreign Delta tables too.

Written per commit ``N`` (0-based, = VersionedTable version - 1), as
``_delta_log/%020d.json`` newline-delimited actions:

 - ``protocol``  (minReaderVersion 1 / minWriterVersion 2, or the
   table-features form) and ``metaData`` (deterministic table id,
   Spark StructType ``schemaString``, parquet format) — on the first
   commit and again whenever what they carry changes (latest wins,
   per spec);
 - one ``add`` per data file (table-relative path, real byte size,
   caller-timestamp ``modificationTime``, ``dataChange``, footer
   ``stats``);
 - one ``remove`` tombstone per file the commit logically removes;
 - a ``commitInfo`` carrying the operation name.

Every ``CHECKPOINT_INTERVAL``-th commit also writes the classic
parquet checkpoint (``%020d.checkpoint.parquet``, one nullable-struct
row per action; multi-part or V2-named layouts when asked) plus
``_last_checkpoint``, so a reader resolves the snapshot from one
parquet read + the JSON tail instead of the full log.

Concurrency: a commit is ONE put-if-absent of its ``%020d.json``
(``emit_delta_commit``'s ``put`` — VersionedTable's ``log_store``
seam); the winner owns the version, the loser re-reads and retries.

Reading: ``delta_snapshot`` is the one snapshot replay (checkpoint +
JSON tail, JSON from 0 for time travel below every checkpoint)
behind ``read_delta``, VersionedTable and the deltastream planner;
checkpoints are read with pyarrow, never a Spark job, and local logs
with plain OS calls.

Determinism: all timestamps are the caller-supplied commit timestamp
(ISO-8601 → epoch millis); the table id is ``uuid5(NAMESPACE_URL,
table_path)``. No wall clock anywhere.
"""

from __future__ import annotations

import decimal
import json
import os
import uuid
from datetime import datetime, timedelta, timezone

from pyspark.sql import SparkSession

_DELTA_DIR = "_delta_log"
_VERSION_DIGITS = 20
PROTOCOL_ACTION = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _iso_to_millis(ts: str) -> int:
    dt = datetime.fromisoformat(ts)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    # integer arithmetic: a float product can land 1 ms short
    return (dt - _EPOCH) // timedelta(milliseconds=1)


def table_id(table_path: str) -> str:
    """Deterministic metaData.id — stable across commits and sessions
    without storing extra state (uuid5 over the table path)."""
    return str(uuid.uuid5(uuid.NAMESPACE_URL, f"spark-graft://{table_path}"))


def _delta_path(table_path: str, version: int) -> str:
    return f"{table_path}/{_DELTA_DIR}/{version:0{_VERSION_DIGITS}d}.json"


def _file_size(spark: SparkSession, table_path: str, rel: str) -> int:
    from etl_deltalake_spark.sources.versioned import _fs

    jvm, fs, _ = _fs(spark, table_path)
    p = jvm.org.apache.hadoop.fs.Path(f"{table_path}/{rel}")
    try:
        return int(fs.getFileStatus(p).getLen())
    except Exception:
        return 0  # a since-vacuumed file


def _file_stats(table_path: str, rel: str) -> str | None:
    """Per-file Delta ``stats`` JSON (numRecords / minValues /
    maxValues over primitive leaf columns) from the parquet footer —
    what spec readers use for file-level data skipping. Footer-only
    (pyarrow metadata; no data pages read). Best-effort and
    spec-optional: non-local paths or exotic types yield None, never
    an error."""
    try:
        import datetime

        import pyarrow.parquet as pq

        local = f"{table_path}/{rel}"
        for prefix in ("file:", "file://"):
            if local.startswith(prefix):
                local = local[len(prefix):]
        md = pq.ParquetFile(local).metadata
        mins: dict = {}
        maxs: dict = {}

        def enc(v):
            if isinstance(v, bytes):
                return v.decode("utf-8", "replace")
            if isinstance(v, (datetime.datetime, datetime.date)):
                return v.isoformat()
            if isinstance(v, (int, float, str, bool)):
                return v
            raise TypeError

        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                st = col.statistics
                name = col.path_in_schema
                if st is None or not st.has_min_max or "." in name:
                    continue
                try:
                    lo, hi = enc(st.min), enc(st.max)
                except TypeError:
                    continue
                if name not in mins or lo < mins[name]:
                    mins[name] = lo
                if name not in maxs or hi > maxs[name]:
                    maxs[name] = hi
        return json.dumps(
            {
                "numRecords": md.num_rows,
                "minValues": mins,
                "maxValues": maxs,
            },
            sort_keys=True,
        )
    except Exception:
        return None


def partition_values_from_path(rel: str) -> dict[str, str | None]:
    """Hive-style ``col=value`` path segments → the spec's
    ``partitionValues`` string map (percent-unescaped;
    __HIVE_DEFAULT_PARTITION__ → null). Unpartitioned version-dir
    paths contain no ``=`` segments and yield {}."""
    from urllib.parse import unquote

    out: dict[str, str | None] = {}
    for seg in rel.split("/")[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            out[unquote(k)] = (
                None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
            )
    return out


def metadata_action(
    schema_json: str,
    table_path: str,
    ts_millis: int,
    configuration: dict[str, str] | None = None,
    partition_columns: list[str] | None = None,
) -> dict:
    return {
        "metaData": {
            "id": table_id(table_path),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json,
            "partitionColumns": list(partition_columns or []),
            "configuration": dict(configuration or {}),
            "createdTime": ts_millis,
        }
    }


def mirror_protocol(
    has_dv: bool, ict: bool, cm: bool = False, cdf: bool = False,
    v2ck: bool = False, gen: bool = False, ident: bool = False,
    rt: bool = False, clus: bool = False,
) -> dict | None:
    """The protocol action a commit needs for its enabled features
    (None = the default ``PROTOCOL_ACTION`` suffices). Feature lists
    exist only at the table-features protocol versions (reader 3 /
    writer 7), so any feature forces writer 7; deletion vectors and
    column mapping are reader-visible and force reader 3; change data
    feed, in-commit timestamps, and generated columns are
    writer-only."""
    if (
        not has_dv and not ict and not cm and not cdf and not v2ck
        and not gen and not ident and not rt and not clus
    ):
        return None
    rfeats = sorted(
        (["deletionVectors"] if has_dv else [])
        + (["columnMapping"] if cm else [])
        + (["v2Checkpoint"] if v2ck else [])
    )
    wfeats = sorted(
        rfeats
        + (["inCommitTimestamp"] if ict else [])
        + (["changeDataFeed"] if cdf else [])
        + (["generatedColumns"] if gen else [])
        + (["identityColumns"] if ident else [])
        # rowTracking and clustering both depend on domainMetadata
        # (their state rides delta.rowTracking / delta.clustering
        # domainMetadata actions)
        + (["domainMetadata"] if (rt or clus) else [])
        + (["rowTracking"] if rt else [])
        + (["clustering"] if clus else [])
    )
    p: dict = {
        "minReaderVersion": 3 if rfeats else 1,
        "minWriterVersion": 7,
        "writerFeatures": wfeats,
    }
    if rfeats:
        p["readerFeatures"] = rfeats
    return {"protocol": p}


def emit_delta_commit(
    spark: SparkSession,
    table_path: str,
    delta_version: int,
    add: list[str],
    remove: list[str],
    schema_json: str,
    timestamp: str,
    operation: str,
    emit_metadata: bool,
    txn: tuple[str, int] | None = None,
    data_change: bool = True,
    dv_adds: dict[str, dict] | None = None,
    dv_removes: dict[str, dict] | None = None,
    protocol_action: dict | None = None,
    ict: bool = False,
    metadata_configuration: dict[str, str] | None = None,
    partition_columns: list[str] | None = None,
    cdc_paths: list[str] | None = None,
    row_ids: dict[str, tuple[int, int]] | None = None,
    domains: dict[str, str] | None = None,
    *,
    put,
) -> list[dict] | None:
    """Write ``_delta_log/%020d.json`` for one commit: ONE
    put-if-absent of the newline-delimited actions through ``put(path,
    payload) -> bool`` (VersionedTable's ``log_store`` seam), the
    optimistic-concurrency commit point. Returns the written actions,
    or None when another writer already claimed the version.

    ``dv_adds`` maps an added rel path to its ``deletionVector``
    descriptor (merge-on-read deletes re-add the same file with a
    mask). ``protocol_action`` emits a protocol UPGRADE action — the
    spec's mechanism for a table's first DV commit to raise
    (minReaderVersion 3 / minWriterVersion 7 + feature lists) so
    readers that cannot decode DVs refuse instead of resurrecting
    deleted rows. ``ict`` stamps ``commitInfo.inCommitTimestamp``
    (the in-commit-timestamps writer feature: timestamp travel then
    uses the table's own recorded clock, immune to file-copy mtime
    churn); the caller supplies the enabling configuration through
    ``metadata_configuration``."""
    millis = _iso_to_millis(timestamp)
    actions: list[dict] = []
    if protocol_action is not None:
        actions.append(protocol_action)
    if emit_metadata:
        if delta_version == 0 and protocol_action is None:
            actions.append(PROTOCOL_ACTION)
        actions.append(
            metadata_action(
                schema_json, table_path, millis,
                configuration=metadata_configuration,
                partition_columns=partition_columns,
            )
        )
    if txn is not None:
        # The spec's txn action — what real Delta streaming sinks use
        # for exactly-once: readers of the log can recover the last
        # committed batch per appId.
        actions.append(
            {"txn": {"appId": txn[0], "version": int(txn[1])}}
        )
    commit_info = {
        "timestamp": millis,
        "operation": operation.upper(),
        "operationParameters": {},
        "engineInfo": "etl-deltalake-spark versioned-table mirror",
    }
    if ict:
        # the spec requires commitInfo FIRST in the file when it
        # carries inCommitTimestamp, so readers find the clock
        # without scanning every action
        commit_info["inCommitTimestamp"] = millis
        actions.insert(0, {"commitInfo": commit_info})
    else:
        actions.append({"commitInfo": commit_info})
    # spec add/remove paths are percent-encoded (round 12); '/' and
    # '=' stay literal so our own layouts round-trip byte-identical,
    # while a space or '%' in a value-derived partition dir encodes
    from urllib.parse import quote as _q

    for rel in remove:
        rentry: dict = {
            "path": _q(rel, safe="/="),
            "deletionTimestamp": millis,
            "dataChange": data_change,
        }
        rdv = (dv_removes or {}).get(rel)
        if rdv is not None:
            # the file leaves the table as it WAS — masked. Real Delta
            # removes copy the add's descriptor; CDF derivation needs
            # it to report only live rows as deleted (round 13)
            rentry["deletionVector"] = rdv
        actions.append({"remove": rentry})
    for rel in add:
        entry = {
            "path": _q(rel, safe="/="),
            "partitionValues": partition_values_from_path(rel),
            "size": _file_size(spark, table_path, rel),
            "modificationTime": millis,
            "dataChange": data_change,
        }
        dv = (dv_adds or {}).get(rel)
        if dv is not None:
            entry["deletionVector"] = dv
        rid = (row_ids or {}).get(rel)
        if rid is not None:
            # row tracking (round 14): fresh files mint
            # [hw+1, hw+numRecords]; re-added files keep their
            # original pair — stable row identity across rewrites
            entry["baseRowId"] = int(rid[0])
            entry["defaultRowCommitVersion"] = int(rid[1])
        stats = _file_stats(table_path, rel)
        if stats is not None:
            entry["stats"] = stats
        actions.append({"add": entry})
    for domain in sorted(domains or {}):
        # metadata domains ride domainMetadata actions (latest
        # non-removed wins): delta.rowTracking's high watermark,
        # delta.clustering's column spec, ... (round 14)
        actions.append(
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": domains[domain],
                    "removed": False,
                }
            }
        )
    for rel in cdc_paths or []:
        # spec cdc action: the commit's change rows live in
        # _change_data/ parquet (with _change_type); dataChange is
        # ALWAYS false — cdc files are derived content, invisible to
        # snapshot reads and non-CDF streams
        actions.append(
            {
                "cdc": {
                    "path": _q(rel, safe="/="),
                    "partitionValues": partition_values_from_path(rel),
                    "size": _file_size(spark, table_path, rel),
                    "dataChange": False,
                }
            }
        )
    payload = ("\n".join(json.dumps(a, sort_keys=True) for a in actions)).encode()
    if put(_delta_path(table_path, delta_version), payload):
        return actions
    return None


def column_spec_metadata(
    generated: str | None, identity: dict | None
) -> dict:
    """Spec field metadata of a generation expression and/or identity
    spec (JSON longs and a boolean, as delta-spark writes them)."""
    out: dict = {}
    if generated is not None:
        out["delta.generationExpression"] = generated
    if identity is not None:
        out["delta.identity.start"] = int(identity["start"])
        out["delta.identity.step"] = int(identity["step"])
        out["delta.identity.allowExplicitInsert"] = bool(
            identity.get("allowExplicitInsert", False)
        )
        if "highWaterMark" in identity:
            out["delta.identity.highWaterMark"] = int(
                identity["highWaterMark"]
            )
    return out


def _schema_json_from_ddl(
    schema,
    mapping: dict | None = None,
    generated: dict | None = None,
    identity: dict | None = None,
) -> str:
    """Commit records carry (name, DDL type) pairs; rebuild the Spark
    StructType JSON the protocol wants (untyped legacy entries degrade
    to string, same rule versioned.read uses for empty snapshots).
    With a column-mapping state, every field carries the spec's
    ``delta.columnMapping.physicalName`` + ``id`` metadata;
    ``generated`` (logical name → SQL expression) and ``identity``
    (logical name → {start, step, allowExplicitInsert,
    highWaterMark?}) add ``column_spec_metadata``."""
    from pyspark.sql.types import StructField, StructType

    if not schema:  # a table with no schema yet
        return StructType([]).json()
    ddl = ", ".join(f"`{n}` {t or 'string'}" for n, t in schema)
    base = StructType.fromDDL(ddl)
    if not mapping and not generated and not identity:
        return base.json()
    physical = (mapping or {}).get("physical", {})
    ids = (mapping or {}).get("columnIds", {})

    def md(f):
        out: dict = {}
        if mapping:
            out[_CM_PHYS] = physical.get(f.name, f.name)
            out[_CM_ID] = int(ids[physical.get(f.name, f.name)])
        out.update(
            column_spec_metadata(
                (generated or {}).get(f.name), (identity or {}).get(f.name)
            )
        )
        return out

    return StructType(
        [
            StructField(f.name, f.dataType, f.nullable, md(f))
            for f in base.fields
        ]
    ).json()


# ---- checkpointing ----------------------------------------------------

def _checkpoint_arrow_schema():
    """The checkpoint parquet schema: one nullable struct column per
    action kind (PROTOCOL.md checkpoint format), in the Arrow form
    pyarrow writes each part from."""
    import pyarrow as pa

    s, i32, i64, b = pa.string(), pa.int32(), pa.int64(), pa.bool_()
    smap, slist = pa.map_(s, s), pa.list_(s)

    def st(**fields):
        return pa.struct(list(fields.items()))

    return pa.schema({
        "protocol": st(
            minReaderVersion=i32, minWriterVersion=i32,
            readerFeatures=slist, writerFeatures=slist,
        ),
        "metaData": st(
            id=s, format=st(provider=s, options=smap), schemaString=s,
            partitionColumns=slist, configuration=smap, createdTime=i64,
        ),
        "add": st(
            path=s, partitionValues=smap, size=i64, modificationTime=i64,
            dataChange=b,
            deletionVector=st(
                storageType=s, pathOrInlineDv=s, offset=i32,
                sizeInBytes=i32, cardinality=i64,
            ),
            baseRowId=i64, defaultRowCommitVersion=i64,
        ),
        "remove": st(path=s, deletionTimestamp=i64, dataChange=b),
        "txn": st(appId=s, version=i64, lastUpdated=i64),
        "domainMetadata": st(domain=s, configuration=s, removed=b),
    })


# Max action rows per checkpoint parquet: above this the classic
# checkpoint shards into the spec's multi-part layout. Real writers
# use ~the same order of magnitude (delta-spark's
# checkpoint.partSize); tests lower it to force the sharded path.
_CHECKPOINT_PART_MAX = 50_000


def write_delta_checkpoint(
    spark: SparkSession,
    table_path: str,
    delta_version: int,
    live: list[str],
    schema_json: str,
    timestamp: str,
    txns: dict[str, int] | None = None,
    tombstones: list[tuple[str, int]] | None = None,
    dvs: dict[str, dict] | None = None,
    protocol: tuple[int, int] | None = None,
    features: tuple[list[str] | None, list[str] | None] | None = None,
    configuration: dict[str, str] | None = None,
    partition_columns: list[str] | None = None,
    policy: str = "classic",
    row_ids: dict[str, tuple[int, int]] | None = None,
    domains: dict[str, str] | None = None,
) -> None:
    """The classic single-file parquet checkpoint at ``delta_version``
    (one nullable-struct row per action: protocol, metaData, one add
    per live file, one remove tombstone per not-yet-expired deleted
    file, one txn per appId's latest committed version — PROTOCOL.md
    says checkpoints carry the COMPLETE replay state, so a spec
    reader that starts from the checkpoint after ``cleanup_log`` must
    still see tombstones and per-appId exactly-once state) plus the
    ``_last_checkpoint`` pointer. ``policy`` picks the layout: the
    single file, the spec multi-part split above
    ``_CHECKPOINT_PART_MAX`` rows, or ``"v2"`` (JSON manifest plus
    ``_sidecars/*.parquet``).

    Every parquet part is built in the driver by pyarrow from
    ``_checkpoint_arrow_schema`` and published with
    ``_write_file_atomic``, the put-if-absent the log entries use:
    no Spark job, no Python-row DataFrame, no temporary directory.
    Readers read checkpoints with pyarrow too (``_LogDir``)."""
    from etl_deltalake_spark.sources.versioned import (
        _write_file_atomic,
        _write_file_overwrite,
    )
    from urllib.parse import quote as _q

    millis = _iso_to_millis(timestamp)
    meta = metadata_action(
        schema_json, table_path, millis, configuration=configuration,
        partition_columns=partition_columns,
    )["metaData"]
    mrv, mwv = protocol or (1, 2)
    rfeats, wfeats = features or (None, None)
    rows: list[dict] = [
        {"protocol": {
            "minReaderVersion": mrv, "minWriterVersion": mwv,
            "readerFeatures": rfeats, "writerFeatures": wfeats,
        }},
        {"metaData": meta},
        # live metadata domains survive log cleanup through the
        # checkpoint's domainMetadata rows (PROTOCOL.md: checkpoints
        # carry the latest non-removed domainMetadata per domain)
        *(
            {"domainMetadata": {
                "domain": d, "configuration": domains[d], "removed": False,
            }}
            for d in sorted(domains or {})
        ),
    ]
    for rel in live:
        dv = (dvs or {}).get(rel)
        rid = (row_ids or {}).get(rel)
        rows.append({"add": {
            # same percent-encoding as the JSON log — replay joins
            # checkpoint and tail by path STRING
            "path": _q(rel, safe="/="),
            "partitionValues": partition_values_from_path(rel),
            "size": _file_size(spark, table_path, rel),
            "modificationTime": millis,
            "dataChange": True,
            "deletionVector": dv and {
                "storageType": dv["storageType"],
                "pathOrInlineDv": dv["pathOrInlineDv"],
                **{k: int(dv[k]) for k in (
                    "offset", "sizeInBytes", "cardinality"
                )},
            },
            "baseRowId": rid and int(rid[0]),
            "defaultRowCommitVersion": rid and int(rid[1]),
        }})
    rows += [
        {"remove": {
            "path": _q(rel, safe="/="), "deletionTimestamp": del_ts,
            "dataChange": True,
        }}
        for rel, del_ts in sorted(tombstones or [])
    ]
    rows += [
        {"txn": {
            "appId": a, "version": int(txns[a]), "lastUpdated": millis,
        }}
        for a in sorted(txns or {})
    ]
    schema = _checkpoint_arrow_schema()

    def _emit(chunk, final_name: str) -> int | None:
        """Write one part with pyarrow and publish it put-if-absent;
        its byte size, or None when another writer published it."""
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        buf = io.BytesIO()
        pq.write_table(pa.Table.from_pylist(chunk, schema=schema), buf)
        payload = buf.getvalue()
        ok = _write_file_atomic(
            spark, f"{table_path}/{_DELTA_DIR}/{final_name}", payload
        )
        return len(payload) if ok else None

    v20 = f"{delta_version:0{_VERSION_DIGITS}d}"
    pointer: dict = {"version": delta_version, "size": len(rows)}
    if policy == "v2":
        # V2 NAMED checkpoint (round 12, writer side — the reader has
        # handled these since r11): file actions (add/remove) go into
        # a ``_delta_log/_sidecars/`` parquet; the top-level manifest
        # ``%020d.checkpoint.<uuid>.json`` carries checkpointMetadata
        # + protocol/metaData/txn + the sidecar reference. The uuid is
        # NOT in _last_checkpoint — discovery lists the log dir, per
        # spec. Scale story: sidecars shard file actions without the
        # multi-part layout's fixed part count, and the manifest stays
        # tiny however many files the table holds.
        side_rows = [r for r in rows if "add" in r or "remove" in r]
        # shard file actions by _CHECKPOINT_PART_MAX — same bound as
        # the classic multi-part layout; one unbounded sidecar would
        # re-create the single-file bottleneck v2 exists to avoid
        # (round 13; the manifest carries one sidecar action each)
        chunks = [
            side_rows[i : i + _CHECKPOINT_PART_MAX]
            for i in range(0, len(side_rows), _CHECKPOINT_PART_MAX)
        ] or [[]]
        sidecar_actions: list[dict] = []
        for chunk in chunks:
            side_name = f"{uuid.uuid4().hex}.parquet"
            size = _emit(chunk, f"_sidecars/{side_name}")
            if size is None:
                return
            sidecar_actions.append(
                {
                    "sidecar": {
                        "path": side_name,
                        "sizeInBytes": size,
                        "modificationTime": millis,
                    }
                }
            )
        proto_doc: dict = {"minReaderVersion": mrv, "minWriterVersion": mwv}
        if rfeats is not None:
            proto_doc["readerFeatures"] = rfeats
        if wfeats is not None:
            proto_doc["writerFeatures"] = wfeats
        manifest_actions: list[dict] = [
            {"checkpointMetadata": {"version": delta_version}},
            {"protocol": proto_doc},
            {"metaData": meta},
            *(
                {
                    "domainMetadata": {
                        "domain": d,
                        "configuration": (domains or {})[d],
                        "removed": False,
                    }
                }
                for d in sorted(domains or {})
            ),
            *(
                {"txn": {"appId": a, "version": int((txns or {})[a])}}
                for a in sorted(txns or {})
            ),
            *sidecar_actions,
        ]
        manifest = (
            f"{table_path}/{_DELTA_DIR}/"
            f"{v20}.checkpoint.{uuid.uuid4().hex}.json"
        )
        payload = "\n".join(
            json.dumps(a, sort_keys=True) for a in manifest_actions
        ).encode()
        if _write_file_atomic(spark, manifest, payload):
            # OVERWRITE: the pointer must advance past earlier
            # checkpoint generations (round 13 — put-if-absent left
            # it stale forever after the first checkpoint)
            _write_file_overwrite(
                spark,
                f"{table_path}/{_DELTA_DIR}/_last_checkpoint",
                json.dumps(pointer, sort_keys=True).encode(),
            )
        return
    if len(rows) <= _CHECKPOINT_PART_MAX:
        published = _emit(rows, f"{v20}.checkpoint.parquet") is not None
    else:
        # MULTI-PART checkpoint (round 12, PROTOCOL.md classic-sharded
        # form %020d.checkpoint.%010d.%010d.parquet): at 100 TB a live
        # set of millions of adds makes a single checkpoint file the
        # metadata bottleneck — shard it so readers fetch parts in
        # parallel and no single write exceeds memory. Spec: parts
        # are a pure row-split; replay order within a checkpoint is
        # irrelevant (it is complete state, not a log).
        n_parts = -(-len(rows) // _CHECKPOINT_PART_MAX)
        published = True
        for i in range(n_parts):
            chunk = rows[
                i * _CHECKPOINT_PART_MAX : (i + 1) * _CHECKPOINT_PART_MAX
            ]
            published = published and _emit(
                chunk,
                f"{v20}.checkpoint.{i + 1:010d}.{n_parts:010d}.parquet",
            ) is not None
        pointer["parts"] = n_parts
    if published:  # raced writers: first one wins, pointer follows
        _write_file_overwrite(
            spark,
            f"{table_path}/{_DELTA_DIR}/_last_checkpoint",
            json.dumps(pointer, sort_keys=True).encode(),
        )


# ---- the one log reader (VersionedTable, read_delta, the deltastream
# ----- planner, and EXTERNAL Delta tables this repo never wrote) ------


class _LogDir:
    """The one file seam for ``_delta_log`` reads: plain OS calls
    when the table root is on the driver's local filesystem, the
    ``versioned._fs`` / ``_read_small_file`` Hadoop path otherwise.
    ``spark`` may be None (the deltastream planner has no session);
    the root must then be local."""

    def __init__(self, spark: SparkSession | None, table_path: str):
        from etl_deltalake_spark.sources.versioned import _local_path

        self.spark = spark
        self.uri = f"{table_path}/{_DELTA_DIR}"
        root = _local_path(spark, table_path)
        self.local = None if root is None else os.path.join(root, _DELTA_DIR)

    def listing(self) -> dict[str, int]:
        """Entry name → modification time (epoch millis); Hadoop's
        ``.crc`` sidecars are hidden, a missing log is empty."""
        if self.local is not None:
            try:
                with os.scandir(self.local) as it:
                    return {
                        e.name: e.stat().st_mtime_ns // 1_000_000
                        for e in it
                        if not (
                            e.name.startswith(".") and e.name.endswith(".crc")
                        )
                    }
            except FileNotFoundError:
                return {}
        from etl_deltalake_spark.sources.versioned import _fs

        jvm, fs, _ = _fs(self.spark, self.uri)
        hdir = jvm.org.apache.hadoop.fs.Path(self.uri)
        if not fs.exists(hdir):
            return {}
        return {
            st.getPath().getName(): int(st.getModificationTime())
            for st in fs.listStatus(hdir)
        }

    def read(self, name: str) -> bytes:
        if self.local is not None:
            with open(os.path.join(self.local, name), "rb") as f:
                return f.read()
        from etl_deltalake_spark.sources.versioned import _read_small_file

        return _read_small_file(self.spark, f"{self.uri}/{name}")

    def json_lines(self, name: str) -> list[dict]:
        return [
            json.loads(line)
            for line in self.read(name).decode("utf-8").splitlines()
            if line.strip()
        ]

    def parquet_rows(self, name: str) -> list[dict]:
        """Action rows of one checkpoint parquet (pyarrow, no Spark
        job): maps become dicts, and null fields of each action are
        dropped so a checkpoint action reads like its JSON form."""
        import io

        import pyarrow.parquet as pq

        src = (
            os.path.join(self.local, name)
            if self.local is not None
            else io.BytesIO(self.read(name))
        )
        # ParquetFile, not read_table: read_table's dataset layer costs
        # ~0.4 s on its first use in a process
        table = pq.ParquetFile(src).read()
        convs = [(f.name, _arrow_conv(f.type)) for f in table.schema]
        out = []
        for row in table.to_pylist():
            d = {}
            for name_, conv in convs:
                v = row.get(name_)
                if v is not None:
                    body = conv(v)
                    if isinstance(body, dict):
                        body = {k: x for k, x in body.items() if x is not None}
                    d[name_] = body
            out.append(d)
        return out

    def newest_checkpoint(
        self, names, at_most: int | None = None
    ) -> dict | None:
        """``{"version", "parts"?}`` of the newest COMPLETE checkpoint
        in the listing (at or below ``at_most``) — found by name, as
        the spec allows, so a stale or missing ``_last_checkpoint``
        pointer costs nothing and the pointer itself is never read.
        A multi-part checkpoint counts only with every part present."""
        parts: dict[tuple[int, int], set[int]] = {}
        best: dict | None = None

        def offer(cand: dict) -> None:
            nonlocal best
            if at_most is not None and cand["version"] > at_most:
                return
            if best is None or cand["version"] > best["version"]:
                best = cand

        for name in names:
            seg = name.split(".")
            if len(seg) < 3 or seg[1] != "checkpoint" or not seg[0].isdigit():
                continue
            v = int(seg[0])
            if len(seg) == 3 and seg[2] == "parquet":
                offer({"version": v})
            elif len(seg) == 4 and seg[3] in ("json", "parquet"):
                offer({"version": v})  # V2 named manifest
            elif (
                len(seg) == 5 and seg[4] == "parquet"
                and seg[2].isdigit() and seg[3].isdigit()
            ):
                parts.setdefault((v, int(seg[3])), set()).add(int(seg[2]))
        for (v, n), got in parts.items():
            if got == set(range(1, n + 1)):
                offer({"version": v, "parts": n})
        return best

    def checkpoint_rows(self, names, ckpt: dict) -> list[dict]:
        """A checkpoint's action rows across the three public layouts:
        classic single-file ``%020d.checkpoint.parquet``, multi-part
        ``%020d.checkpoint.%010d.%010d.parquet``, and the V2 NAMED
        checkpoint ``%020d.checkpoint.<uuid>.{parquet|json}`` (reader
        feature ``v2Checkpoint``) whose file actions live in
        ``_sidecars/`` parquet referenced by ``sidecar`` actions. The
        uuid is not in ``_last_checkpoint``, so V2 discovery lists the
        log directory, as the spec prescribes."""
        v = int(ckpt["version"])
        v20 = f"{v:0{_VERSION_DIGITS}d}"
        parts = ckpt.get("parts")
        if parts:
            out: list[dict] = []
            for i in range(int(parts)):
                out.extend(
                    self.parquet_rows(
                        f"{v20}.checkpoint.{i + 1:010d}"
                        f".{int(parts):010d}.parquet"
                    )
                )
            return out
        if f"{v20}.checkpoint.parquet" in names:
            return self.parquet_rows(f"{v20}.checkpoint.parquet")
        manifest = None
        for name in names:
            seg = name.split(".")
            if (
                len(seg) == 4
                and seg[0] == v20
                and seg[1] == "checkpoint"
                and seg[3] in ("parquet", "json")
            ):
                manifest = name
        if manifest is None:
            raise ValueError(
                f"{self.uri}: _last_checkpoint names version {v} but no "
                "checkpoint file exists for it"
            )
        raw = (
            self.json_lines(manifest)
            if manifest.endswith(".json")
            else self.parquet_rows(manifest)
        )
        out = []
        for a in raw:
            if a.get("sidecar") is not None:
                out.extend(
                    self.parquet_rows(f"_sidecars/{a['sidecar']['path']}")
                )
            elif a.get("checkpointMetadata") is not None:
                got = int(a["checkpointMetadata"]["version"])
                if got != v:
                    raise ValueError(
                        f"v2 checkpoint manifest is for version {got}, "
                        f"_last_checkpoint says {v}"
                    )
            else:
                out.append(a)
        return out


def _arrow_conv(t):
    """pyarrow value → its JSON-action form (maps as dicts)."""
    import pyarrow as pa

    if pa.types.is_map(t):
        kf, vf = _arrow_conv(t.key_type), _arrow_conv(t.item_type)
        return lambda v: {kf(k): vf(x) for k, x in v}
    if pa.types.is_struct(t):
        fs = [(t.field(i).name, _arrow_conv(t.field(i).type))
              for i in range(t.num_fields)]
        return lambda v: {
            n: (None if v[n] is None else f(v[n])) for n, f in fs
        }
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        f = _arrow_conv(t.value_type)
        return lambda v: [None if x is None else f(x) for x in v]
    return lambda v: v


def _json_versions(names) -> list[int]:
    return sorted(
        int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
    )


def delta_log_actions(
    spark: SparkSession | None, table_path: str, min_version: int = 0
) -> list[tuple[int, dict]]:
    """Every (version, action) in the JSON log at or above
    ``min_version``, version-ordered — the raw commit files, no
    snapshot state. The skip-below is by FILENAME, zero reads."""
    log = _LogDir(spark, table_path)
    out: list[tuple[int, dict]] = []
    for v in _json_versions(log.listing()):
        if v >= min_version:
            out.extend(
                (v, a) for a in log.json_lines(f"{v:0{_VERSION_DIGITS}d}.json")
            )
    return out


def log_tip(spark: SparkSession | None, table_path: str) -> int:
    """Newest Delta version in the log (-1 for no log) — one listing,
    no commit read."""
    log = _LogDir(spark, table_path)
    names = log.listing()
    versions = _json_versions(names)
    if versions:
        return versions[-1]
    ckpt = log.newest_checkpoint(names)
    return ckpt["version"] if ckpt is not None else -1


def _last_checkpoint(
    spark: SparkSession | None, table_path: str
) -> dict | None:
    """The ``_last_checkpoint`` pointer (None when absent)."""
    log = _LogDir(spark, table_path)
    if "_last_checkpoint" not in log.listing():
        return None
    return json.loads(log.read("_last_checkpoint"))


class _Replay:
    """Snapshot state under replay: live adds and remove tombstones
    keyed by (percent-encoded) path, the latest metaData and protocol,
    per-appId txn versions, live metadata domains, and the tip's
    commitInfo."""

    __slots__ = ("live", "tombstones", "meta", "protocol", "txns",
                 "domains", "version", "commit_info")

    def __init__(self, snap: dict | None = None):
        s = snap or {}
        self.live = {a["path"]: a for a in s.get("adds", ())}
        self.tombstones = dict(s.get("tombstones") or {})
        self.meta = s.get("metadata")
        self.protocol = s.get("protocol")
        self.txns = dict(s.get("txns") or {})
        self.domains = dict(s.get("domain_metadata") or {})
        self.version = s.get("version", -1)
        self.commit_info = s.get("commit_info")

    def apply(self, a: dict) -> None:
        if a.get("add") is not None:
            self.live[a["add"]["path"]] = a["add"]
            self.tombstones.pop(a["add"]["path"], None)
        elif a.get("remove") is not None:
            r = a["remove"]
            self.live.pop(r["path"], None)
            self.tombstones[r["path"]] = int(r.get("deletionTimestamp") or 0)
        elif a.get("metaData") is not None:
            self.meta = a["metaData"]
        elif a.get("protocol") is not None:
            self.protocol = a["protocol"]
        elif a.get("txn") is not None:
            # last-writer-wins per the protocol (actions arrive
            # version-ordered): a writer may legitimately LOWER an
            # appId's version, so plain assignment, never max()
            self.txns[a["txn"]["appId"]] = int(a["txn"]["version"])
        elif a.get("domainMetadata") is not None:
            # latest non-removed configuration per domain
            dm = a["domainMetadata"]
            if dm.get("removed"):
                self.domains.pop(dm["domain"], None)
            else:
                self.domains[dm["domain"]] = dm.get("configuration")
        elif a.get("commitInfo") is not None:
            self.commit_info = a["commitInfo"]
        # checkpointMetadata / cdc carry no snapshot-visible state

    def snapshot(self) -> dict:
        meta = self.meta or {}
        return {
            "files": sorted(self.live),
            "adds": [self.live[k] for k in sorted(self.live)],
            "schema_json": meta.get("schemaString"),
            "partition_columns": list(meta.get("partitionColumns") or []),
            "configuration": dict(meta.get("configuration") or {}),
            "protocol": self.protocol,
            "txns": dict(self.txns),
            "domain_metadata": dict(self.domains),
            "version": self.version,
            "metadata": self.meta,
            "tombstones": dict(self.tombstones),
            "commit_info": self.commit_info,
        }


def delta_snapshot(
    spark: SparkSession | None,
    table_path: str,
    version: int | None = None,
    each=None,
) -> dict:
    """THE snapshot replay, per the protocol: start from the newest
    complete checkpoint (writers DELETE old JSON commits after
    checkpointing, so a reader must not require version 0), then
    apply only the JSON tail — latest metaData wins, live files =
    adds minus later removes (path-keyed). Returns ``{"files",
    "adds" (path-ordered add dicts), "schema_json",
    "partition_columns", "configuration", "protocol", "txns",
    "domain_metadata", "version", "metadata", "tombstones" (path →
    deletionTimestamp), "commit_info"}``.

    ``version`` requests TIME TRAVEL (delta-spark's versionAsOf):
    replay starts from the newest checkpoint at or below it (else
    the JSON log from 0) and stops there, REFUSING honestly when log
    retention already deleted a needed commit — never a silent
    partial snapshot. ``each(version, actions, state)`` walks the
    history: it sees every JSON commit the replay applies, BEFORE
    applying it, and the replay then starts from commit 0 whenever
    that commit survives."""
    log = _LogDir(spark, table_path)
    names = log.listing()
    versions = _json_versions(names)
    state = _Replay()
    tail_from = 0
    newest = log.newest_checkpoint(names)
    if version is not None and version > max(
        versions[-1] if versions else -1,
        newest["version"] if newest is not None else -1,
    ):
        raise ValueError(f"{table_path}: version {version} does not exist")
    ckpt = (
        None
        if each is not None and versions and versions[0] == 0
        else log.newest_checkpoint(names, at_most=version)
    )
    if ckpt is not None:
        for a in log.checkpoint_rows(names, ckpt):
            state.apply(a)
        state.version = int(ckpt["version"])
        tail_from = state.version + 1
    tail = [
        v for v in versions
        if v >= tail_from and (version is None or v <= version)
    ]
    if version is not None:
        missing = sorted(set(range(tail_from, version + 1)) - set(tail))
        if missing:
            raise ValueError(
                f"{table_path}: cannot time-travel to version {version} "
                f"— commit files {missing} were removed by log "
                "retention"
            )
    for v in tail:
        actions = log.json_lines(f"{v:0{_VERSION_DIGITS}d}.json")
        if each is not None:
            each(v, actions, state)
        for a in actions:
            state.apply(a)
        state.version = v
    return state.snapshot()


def advance_snapshot(snap: dict, version: int, actions: list[dict]) -> dict:
    """``snap`` with one more commit applied — what a writer that just
    won ``version`` checkpoints, without re-reading the log."""
    state = _Replay(snap)
    for a in actions:
        state.apply(a)
    state.version = version
    return state.snapshot()


def shallow_clone(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    timestamp: str = "1970-01-01T00:00:00",
    version: int | None = None,
) -> int:
    """CREATE TABLE ... SHALLOW CLONE (Delta's metadata-only table
    copy, round 12): write a NEW ``_delta_log`` at ``dest_path``
    whose version-0 commit re-adds every live source file by
    ABSOLUTE percent-encoded path — zero data copied, however many
    terabytes the source holds; the spec explicitly allows absolute
    ``add.path`` for exactly this. Protocol, schema, configuration
    (column mapping included) and per-add partitionValues / stats /
    size carry over verbatim; UUID-relative deletion-vector
    descriptors rewrite to absolute ``p`` storage (they would
    otherwise resolve against the CLONE root and miss). ``version``
    clones a time-travel snapshot. The clone is an independent spec
    table (fresh table id): reads via ``read_delta`` / the
    ``deltastream`` source, and future writes to the SOURCE never
    change it. VACUUM on the source can still break a clone, like
    real Delta — the clone shares data files it does not own."""
    import base64
    import uuid as _uuid
    from urllib.parse import quote as _q

    from etl_deltalake_spark.sources.versioned import _write_file_atomic

    snap = delta_snapshot(spark, src_path, version=version)
    if snap["schema_json"] is None:
        raise ValueError(f"{src_path} has no metaData action to clone")
    millis = _iso_to_millis(timestamp)
    proto = snap.get("protocol") or dict(PROTOCOL_ACTION["protocol"])
    meta = metadata_action(
        snap["schema_json"],
        dest_path,
        millis,
        configuration=snap.get("configuration") or None,
        partition_columns=snap.get("partition_columns") or None,
    )
    actions: list[dict] = [{"protocol": dict(proto)}, meta]
    actions.append(
        {
            "commitInfo": {
                "timestamp": millis,
                "operation": "CLONE",
                "operationParameters": {
                    "source": src_path,
                    "sourceVersion": snap["version"],
                },
                "engineInfo": "etl-deltalake-spark versioned-table mirror",
            }
        }
    )
    for a in snap["adds"]:
        entry = dict(a)
        entry["path"] = _q(
            resolve_add_path(src_path, a["path"]), safe="/=:"
        )
        entry["modificationTime"] = millis
        entry["dataChange"] = True
        dv = entry.get("deletionVector")
        if dv is not None and dv.get("storageType") == "u":
            enc = dv["pathOrInlineDv"]
            prefix, enc_uuid = enc[:-20], enc[-20:]
            u = _uuid.UUID(bytes=base64.b85decode(enc_uuid))
            rel = f"{prefix}/" if prefix else ""
            entry["deletionVector"] = {
                **dv,
                "storageType": "p",
                "pathOrInlineDv": (
                    f"{src_path}/{rel}deletion_vector_{u}.bin"
                ),
            }
        actions.append({"add": entry})
    payload = (
        "\n".join(json.dumps(x, sort_keys=True) for x in actions)
    ).encode()
    if not _write_file_atomic(spark, _delta_path(dest_path, 0), payload):
        raise ValueError(f"{dest_path} already has a _delta_log")
    return 0


def delta_commit_timestamps(
    spark: SparkSession | None, table_path: str
) -> dict[int, int]:
    """version → commit-time millis per the spec clock: log-file
    modificationTime, MONOTONICALLY adjusted (max(mtime, prev+1) —
    object stores don't promise ordered mtimes), overridden by
    ``commitInfo.inCommitTimestamp`` from the enablement version on
    when the table carries in-commit timestamps. The shared clock
    behind ``timestampAsOf``, CDF timestamp bounds, and
    ``delta_history`` (round 13 refactor)."""
    entries = sorted(
        (int(name[:-5]), mtime)
        for name, mtime in _LogDir(spark, table_path).listing().items()
        if name.endswith(".json") and name[:-5].isdigit()
    )
    if not entries:
        return {}
    ts_by_version: dict[int, int] = {}
    prev = -1
    for v, mtime in entries:
        prev = max(mtime, prev + 1)
        ts_by_version[v] = prev
    snap = delta_snapshot(spark, table_path)
    cfg = snap.get("configuration") or {}
    if cfg.get("delta.enableInCommitTimestamps") == "true":
        enable_from = int(
            cfg.get(
                "delta.inCommitTimestampEnablementVersion", entries[0][0]
            )
        )
        for v, a in delta_log_actions(spark, table_path, entries[0][0]):
            if v >= enable_from and "commitInfo" in a:
                ict = a["commitInfo"].get("inCommitTimestamp")
                if ict is not None:
                    ts_by_version[v] = int(ict)
    return ts_by_version


def delta_history(spark: SparkSession, table_path: str):
    """DESCRIBE HISTORY through the Delta log alone (round 13) —
    works on FOREIGN tables this repo never wrote: one row per
    surviving commit (newest first, like delta-spark) with the spec
    clock's timestamp, commitInfo's operation/parameters/engineInfo,
    and the commit's add/remove counts. Only O(log) driver metadata;
    no data files open."""
    import json as _json

    import pyarrow as pa

    ts = delta_commit_timestamps(spark, table_path)
    if not ts:
        raise ValueError(f"{table_path} has no _delta_log commits")
    by_v: dict[int, dict] = {
        v: {"operation": None, "params": None, "engine": None,
            "adds": 0, "removes": 0}
        for v in ts
    }
    for v, a in delta_log_actions(spark, table_path, min(ts)):
        row = by_v.get(v)
        if row is None:
            continue
        if a.get("commitInfo") is not None:
            ci = a["commitInfo"]
            row["operation"] = ci.get("operation")
            params = ci.get("operationParameters")
            row["params"] = (
                _json.dumps(params, sort_keys=True)
                if params is not None
                else None
            )
            row["engine"] = ci.get("engineInfo")
        elif a.get("add") is not None:
            row["adds"] += 1
        elif a.get("remove") is not None:
            row["removes"] += 1
    vs = sorted(by_v, reverse=True)
    return spark.createDataFrame(
        pa.table({
            "version": vs,
            "timestamp": [ts[v] for v in vs],
            "operation": [by_v[v]["operation"] for v in vs],
            "operationParameters": [by_v[v]["params"] for v in vs],
            "engineInfo": [by_v[v]["engine"] for v in vs],
            "num_added_files": [by_v[v]["adds"] for v in vs],
            "num_removed_files": [by_v[v]["removes"] for v in vs],
        }),
        "version long, timestamp long, operation string, "
        "operationParameters string, engineInfo string, "
        "num_added_files long, num_removed_files long",
    )


def delta_version_at_timestamp(
    spark: SparkSession, table_path: str, timestamp: str | int
) -> int:
    """Resolve ``timestampAsOf`` → version per the spec: a commit's
    time is its log file's modificationTime, MONOTONICALLY adjusted
    (max(mtime, prev+1) — real writers do exactly this because object
    stores don't promise ordered mtimes); when in-commit timestamps
    are enabled (writer feature ``inCommitTimestamp`` /
    ``delta.enableInCommitTimestamps``), commits at or after the
    enablement version use ``commitInfo.inCommitTimestamp`` instead —
    the clock the table itself recorded. Picks the LATEST commit at
    or before the requested time; refuses a time before the first
    resolvable commit (older commits may be log-cleaned) or after the
    last one, like delta-spark."""
    want = (
        _iso_to_millis(timestamp)
        if isinstance(timestamp, str)
        else int(timestamp)
    )
    ts_by_version = delta_commit_timestamps(spark, table_path)
    if not ts_by_version:
        raise ValueError(f"{table_path} has no _delta_log commits")
    first_v = min(ts_by_version)
    eligible = [v for v, ts in sorted(ts_by_version.items()) if ts <= want]
    if not eligible:
        raise ValueError(
            f"{table_path}: timestamp {timestamp!r} predates the "
            f"earliest resolvable commit "
            f"(version {first_v} at {ts_by_version[first_v]})"
        )
    latest_v = max(ts_by_version)
    if want > ts_by_version[latest_v]:
        # strictly after the tip: refuse like delta-spark — "as of a
        # future time" silently meaning "latest" would hide clock
        # bugs in callers replaying history
        raise ValueError(
            f"{table_path}: timestamp {timestamp!r} is after the "
            f"latest commit (version {latest_v} at "
            f"{ts_by_version[latest_v]}); omit timestampAsOf to read "
            "the current snapshot"
        )
    return eligible[-1]


# ---- deletion vectors (reader protocol 3, PROTOCOL.md "Deletion
# Vectors") -----------------------------------------------------------
#
# Modern writer outputs (DBR 14+, delta-rs with DVs on) mark deleted
# rows with a per-file RoaringBitmapArray instead of rewriting the
# file; a reader that ignores them RESURRECTS deleted rows. Decode is
# pure public spec: the 64-bit "portable" RoaringBitmapArray (magic
# 1681511377 LE + i64 bitmap count + dense 32-bit roaring bitmaps,
# bitmap i covering row indexes [i*2^32, (i+1)*2^32)), each 32-bit
# bitmap per the official RoaringFormatSpec (array / bitset / run
# containers, both cookies).

_DV_MAGIC = 1681511377
_SERIAL_COOKIE = 12347
_SERIAL_COOKIE_NO_RUNS = 12346
_NO_OFFSET_THRESHOLD = 4


def _read_roaring32(buf: bytes, pos: int) -> tuple[list[int], int]:
    """One 32-bit RoaringBitmap in the official portable format →
    (sorted values, next offset)."""
    import numpy as np

    cookie = int.from_bytes(buf[pos : pos + 4], "little")
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        size = (cookie >> 16) + 1
        pos += 4
        nflag = (size + 7) // 8
        runflags = bytes(buf[pos : pos + nflag])
        pos += nflag
        has_offsets = size >= _NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUNS:
        pos += 4
        size = int.from_bytes(buf[pos : pos + 4], "little")
        pos += 4
        runflags = b"\x00" * ((size + 7) // 8)
        has_offsets = True
    else:
        raise ValueError(f"bad roaring bitmap cookie {cookie}")
    keys: list[int] = []
    cards: list[int] = []
    for _ in range(size):
        keys.append(int.from_bytes(buf[pos : pos + 2], "little"))
        cards.append(int.from_bytes(buf[pos + 2 : pos + 4], "little") + 1)
        pos += 4
    if has_offsets:
        pos += 4 * size  # sequential read; the offset index is redundant
    values: list[int] = []
    for i in range(size):
        base = keys[i] << 16
        if runflags[i // 8] & (1 << (i % 8)):
            nruns = int.from_bytes(buf[pos : pos + 2], "little")
            pos += 2
            for _ in range(nruns):
                start = int.from_bytes(buf[pos : pos + 2], "little")
                length = int.from_bytes(buf[pos + 2 : pos + 4], "little")
                pos += 4
                values.extend(range(base + start, base + start + length + 1))
        elif cards[i] <= 4096:
            arr = np.frombuffer(buf, dtype="<u2", count=cards[i], offset=pos)
            pos += 2 * cards[i]
            values.extend((base + arr.astype(np.int64)).tolist())
        else:  # bitset container: 1024 LE words, bit j of word w = w*64+j
            bits = np.frombuffer(buf, dtype=np.uint8, count=8192, offset=pos)
            pos += 8192
            idx = np.nonzero(np.unpackbits(bits, bitorder="little"))[0]
            values.extend((base + idx.astype(np.int64)).tolist())
    return values, pos


def roaring_array_positions(data: bytes) -> list[int]:
    """Decode Delta's 64-bit portable RoaringBitmapArray blob (magic
    + count + dense 32-bit bitmaps) into sorted row indexes."""
    if int.from_bytes(data[0:4], "little") != _DV_MAGIC:
        raise ValueError(
            f"bad deletion-vector magic {data[:4].hex()} (want"
            f" {_DV_MAGIC})"
        )
    n = int.from_bytes(data[4:12], "little")
    pos = 12
    out: list[int] = []
    for hi in range(n):
        vals, pos = _read_roaring32(data, pos)
        base = hi << 32
        out.extend(base + v for v in vals)
    if pos != len(data):
        raise ValueError(
            f"deletion vector has {len(data) - pos} trailing bytes"
        )
    return out


def dv_blob(dv: dict, table_path: str, read_bytes) -> bytes:
    """Resolve a ``deletionVector`` descriptor to its VALIDATED raw
    RoaringBitmapArray blob. Storage types per PROTOCOL.md: ``i``
    inline (base85, RFC 1924 alphabet), ``u`` UUID-relative sidecar
    (``<prefix?>deletion_vector_<uuid>.bin`` under the table),
    ``p`` absolute path. Sidecar layout: format-version byte 1, then
    at ``offset``: i32-BE size, the blob, i32-BE CRC-32 of the blob.

    ``read_bytes(path) -> bytes`` abstracts the byte source so the
    SAME resolution runs on the driver (Hadoop FS, scheme-agnostic)
    and inside executors (plain ``open()`` — the local-read contract
    the deltastream/cdf Python sources already use)."""
    import base64
    import uuid as _uuid
    import zlib as _zlib

    st = dv["storageType"]
    if st == "i":
        data = base64.b85decode(dv["pathOrInlineDv"])
    elif st in ("u", "p"):
        if st == "u":
            enc = dv["pathOrInlineDv"]
            prefix, enc_uuid = enc[:-20], enc[-20:]
            u = _uuid.UUID(bytes=base64.b85decode(enc_uuid))
            rel = f"{prefix}/" if prefix else ""
            path = f"{table_path}/{rel}deletion_vector_{u}.bin"
        else:
            path = dv["pathOrInlineDv"]
        raw = read_bytes(path)
        if raw[0:1] != b"\x01":
            raise ValueError(
                f"unsupported deletion-vector file version {raw[0]}"
            )
        off = int(dv["offset"])
        size = int.from_bytes(raw[off : off + 4], "big")
        data = raw[off + 4 : off + 4 + size]
        crc = int.from_bytes(raw[off + 4 + size : off + 8 + size], "big")
        if _zlib.crc32(data) != crc:
            raise ValueError("deletion-vector checksum mismatch")
    else:
        raise ValueError(f"unknown deletionVector storageType {st!r}")
    if len(data) != int(dv["sizeInBytes"]):
        raise ValueError(
            f"deletionVector sizeInBytes {dv['sizeInBytes']} != "
            f"{len(data)} actual"
        )
    return data


def _dv_decode_checked(data: bytes, dv: dict) -> list[int]:
    out = roaring_array_positions(data)
    if len(out) != int(dv["cardinality"]):
        raise ValueError(
            f"deletionVector cardinality {dv['cardinality']} != "
            f"{len(out)} decoded"
        )
    return out


def _local_read(path: str) -> bytes:
    """Executor-side byte source for ``dv_blob``: plain ``open()`` on
    the scheme-stripped path — same contract as the deltastream /
    cdf Python sources' worker reads."""
    with open(_norm_uri(path), "rb") as f:
        return f.read()


def dv_positions(spark: SparkSession, table_path: str, dv: dict) -> list[int]:
    """DRIVER-side descriptor → sorted deleted row indexes (Hadoop FS
    byte source, scheme-agnostic). Only used on the bounded fast path
    (Σcardinality ≤ ``_DV_BROADCAST_MAX``) and for metadata-sized
    decodes; large masks decode inside executors via
    ``_dv_deleted_udf`` so nothing O(deleted rows) exists here."""
    from etl_deltalake_spark.sources.versioned import _read_small_file

    data = dv_blob(dv, table_path, lambda p: _read_small_file(spark, p))
    return _dv_decode_checked(data, dv)


# ---- deletion-vector WRITE (writer feature ``deletionVectors``) ------
#
# The modern Delta DELETE path (merge-on-read): instead of rewriting a
# file to drop some rows, the writer records the deleted row indexes
# as a RoaringBitmapArray and re-adds the SAME file with a
# ``deletionVector`` descriptor. At 100 TB a delete touching 0.1% of
# rows costs kilobytes of bitmap per file instead of rewriting
# terabytes — the read-side cost (broadcast anti-join on
# ``_metadata.row_index`` against one Arrow relation of decoded
# positions, see ``dv_mask``; no Python worker runs) is proportional
# to DV cardinality, and OPTIMIZE materializes the masks away. The
# encoder below is the production twin of the reader above; the test
# suite carries a THIRD, independent spec encoder so neither is ever
# validated only against itself.

def _ser_roaring32(values) -> bytes:
    """Serialize one 32-bit RoaringBitmap (official portable format,
    no-runs cookie): sorted uint32 values → array containers when a
    16-bit key holds <= 4096 values, bitset containers above. The
    offset index is emitted (mandatory with the no-runs cookie)."""
    import numpy as np

    vals = np.asarray(values, dtype=np.uint32)
    head = _SERIAL_COOKIE_NO_RUNS.to_bytes(4, "little")
    if vals.size == 0:
        return head + (0).to_bytes(4, "little")
    keys = vals >> np.uint32(16)
    lows = (vals & np.uint32(0xFFFF)).astype("<u2")
    uniq, starts = np.unique(keys, return_index=True)
    bounds = np.append(starts, vals.size)
    conts: list[bytes] = []
    desc = b""
    for i, k in enumerate(uniq):
        group = lows[bounds[i] : bounds[i + 1]]
        desc += int(k).to_bytes(2, "little") + (
            group.size - 1
        ).to_bytes(2, "little")
        if group.size <= 4096:
            conts.append(group.tobytes())
        else:
            bits = np.zeros(65536, dtype=bool)
            bits[group.astype(np.int64)] = True
            conts.append(np.packbits(bits, bitorder="little").tobytes())
    out = head + uniq.size.to_bytes(4, "little") + desc
    base = len(out) + 4 * uniq.size
    offs = b""
    for c in conts:
        offs += base.to_bytes(4, "little")
        base += len(c)
    return out + offs + b"".join(conts)


def roaring_array_serialize(positions) -> bytes:
    """Encode sorted 64-bit row indexes as Delta's portable
    RoaringBitmapArray (magic + i64 count + DENSE 32-bit bitmaps:
    bitmap i covers [i*2^32, (i+1)*2^32), so gaps serialize as empty
    bitmaps). Inverse of ``roaring_array_positions``."""
    import numpy as np

    pos = np.asarray(sorted(positions), dtype=np.uint64)
    if pos.size and int(pos[0]) < 0:
        raise ValueError("row indexes must be non-negative")
    n = (int(pos[-1]) >> 32) + 1 if pos.size else 0
    out = _DV_MAGIC.to_bytes(4, "little") + n.to_bytes(8, "little")
    his = (pos >> np.uint64(32)).astype(np.int64)
    los = (pos & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    for hi in range(n):
        out += _ser_roaring32(los[his == hi])
    return out


def write_dv_sidecar(
    spark: SparkSession,
    table_path: str,
    dv_blobs: list[bytes],
    cardinalities: list[int],
) -> list[dict]:
    """Write one on-disk DV file holding every blob (real writers pack
    several files' DVs per sidecar — one PUT per commit, not per
    file) in the spec layout: format-version byte 1, then per blob at
    its descriptor ``offset``: i32-BE size, blob, i32-BE CRC-32.
    Returns one ``deletionVector`` descriptor per blob (storageType
    ``u``: the file name is ``deletion_vector_<uuid>.bin`` under the
    table root, encoded as the RFC-1924 base85 uuid)."""
    import base64
    import zlib as _zlib

    from etl_deltalake_spark.sources.versioned import _fs

    u = uuid.uuid4()
    body = bytearray(b"\x01")
    descs: list[dict] = []
    for blob, card in zip(dv_blobs, cardinalities):
        off = len(body)
        body += len(blob).to_bytes(4, "big")
        body += blob
        body += _zlib.crc32(blob).to_bytes(4, "big")
        descs.append(
            {
                "storageType": "u",
                "pathOrInlineDv": base64.b85encode(u.bytes).decode(),
                "offset": off,
                "sizeInBytes": len(blob),
                "cardinality": int(card),
            }
        )
    jvm, fs, _ = _fs(spark, table_path)
    p = jvm.org.apache.hadoop.fs.Path(
        f"{table_path}/deletion_vector_{u}.bin"
    )
    out = fs.create(p, False)
    out.write(bytearray(body))
    out.close()
    return descs


# ---- column mapping (PROTOCOL.md "Column Mapping") -------------------
#
# With delta.columnMapping.mode = name|id, parquet files store columns
# under per-field PHYSICAL names (``col-<uuid>``) recorded in the
# schema fields' metadata, so renames/drops never rewrite data. A
# reader must scan by physical name (or parquet field id in id mode)
# and surface LOGICAL names. Spark makes both cheap: struct casts
# match fields by POSITION, so logical renaming of an arbitrarily
# nested column is one cast+alias; id mode maps onto Spark's native
# parquet field-id matching (read-schema metadata ``parquet.field.id``
# + spark.sql.parquet.fieldId.read.enabled).

_CM_PHYS = "delta.columnMapping.physicalName"
_CM_ID = "delta.columnMapping.id"


def _cm_physical_type(dt, mode: str):
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        fields = []
        for f in dt.fields:
            meta = dict(f.metadata or {})
            phys = meta.get(_CM_PHYS, f.name)
            if mode == "id" and _CM_ID in meta:
                # Spark's parquet reader matches by field id when the
                # read schema carries this metadata key
                meta["parquet.field.id"] = int(meta[_CM_ID])
            fields.append(
                StructField(
                    phys, _cm_physical_type(f.dataType, mode),
                    f.nullable, meta,
                )
            )
        return StructType(fields)
    if isinstance(dt, ArrayType):
        return ArrayType(
            _cm_physical_type(dt.elementType, mode), dt.containsNull
        )
    if isinstance(dt, MapType):
        return MapType(
            _cm_physical_type(dt.keyType, mode),
            _cm_physical_type(dt.valueType, mode),
            dt.valueContainsNull,
        )
    return dt


def _norm_uri(p: str) -> str:
    import re as _re

    return _re.sub(r"^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/", p)


def _fp_encode(p: str) -> str:
    """Encode a RAW filesystem path exactly as Spark reports it in
    ``_metadata.file_path`` (Hadoop Path → java.net.URI string form,
    round 13): percent-encode chars outside the URI path charset
    (unreserved + sub-delims + ``:@/``), leave non-ASCII raw — the
    multi-arg java.net.URI constructor does not escape 'other'
    chars. One ``urllib.parse.unquote`` is the exact inverse. Every
    driver-built key that joins against a ``_metadata.file_path``
    column MUST pass through this (or the column's values through
    ``unquote``), else a partition value with a space or ``%``
    silently mismatches — masked rows would resurrect."""
    from urllib.parse import quote as _q

    if p.isascii():  # fast path: java and python agree on ASCII
        return _q(p, safe="/:@!$&'()*+,;=~")
    return "".join(
        ch if ord(ch) > 127 else _q(ch, safe="/:@!$&'()*+,;=~")
        for ch in p
    )


def resolve_add_path(table_path: str, p: str) -> str:
    """Spec ``add``/``remove`` paths are PERCENT-ENCODED and either
    table-relative or ABSOLUTE (PROTOCOL.md: shallow clones and some
    writers emit absolute URIs pointing at another table's files).
    Round 12: decode and resolve both forms — previously a foreign
    log with an encoded space or an absolute add misread."""
    import re as _re
    from urllib.parse import unquote

    p = unquote(p)
    if p.startswith("/") or _re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*:", p):
        return p
    return f"{table_path}/{p}"


# Above this many TOTAL masked positions (summed from descriptor
# ``cardinality`` fields — no decode needed to decide) the mask is
# applied by executor-side decode instead of a driver broadcast. The
# constant bounds the only driver-side position materialization left.
_DV_BROADCAST_MAX = 1_000_000


def _dv_deleted_udf(descs: dict, table_path: str):
    """Arrow-batched boolean predicate ``(file_path, row_index) →
    row is masked``, decoding each file's deletion vector INSIDE the
    executor that scans it (round 12 — the batch twin of
    delta_stream's worker-side decode). Only the two address columns
    cross into Python; data columns stay JVM-side, and nothing
    O(deleted rows) is ever built on the driver. Per-worker decoded
    masks are cached (bounded FIFO) as sorted int64 numpy arrays —
    per-file cardinality is bounded by per-file row count, so the
    cache is tens of MB even for fully-masked 128 MB files."""
    import pandas as pd
    from pyspark.sql import functions as F

    cache: dict = {}  # worker-local: survives across Arrow batches

    def _positions_np(fp: str):
        import numpy as np

        arr = cache.get(fp)
        if arr is None:
            if len(cache) >= 64:
                cache.pop(next(iter(cache)))
            blob = dv_blob(descs[fp], table_path, _local_read)
            arr = np.asarray(
                _dv_decode_checked(blob, descs[fp]), dtype=np.int64
            )
            cache[fp] = arr
        return arr

    def deleted(fp, ri):
        import numpy as np
        from urllib.parse import unquote as _unq

        out = np.zeros(len(ri), dtype=bool)
        rv = ri.to_numpy(dtype=np.int64, copy=False)
        fv = fp.to_numpy()
        for f in pd.unique(fv):
            # the scan column is URI-encoded; descs are keyed raw
            fd = _unq(f)
            if fd not in descs:
                continue
            pos = _positions_np(fd)
            if len(pos) == 0:
                continue
            m = fv == f
            r = rv[m]
            idx = np.minimum(np.searchsorted(pos, r), len(pos) - 1)
            out[m] = pos[idx] == r
        return pd.Series(out)

    # real class objects (not strings): the closure-local ``pd``
    # import is invisible to typing.get_type_hints' string eval
    deleted.__annotations__ = {
        "fp": pd.Series, "ri": pd.Series, "return": pd.Series
    }
    return F.pandas_udf(deleted, "boolean")


def dv_mask(df, fp_col: str, ri_col: str, descs: dict, table_path: str,
            keep: str = "live"):
    """Apply deletion-vector masks to a scan that carries per-row
    physical addresses (``fp_col`` = scheme-normalized file path,
    ``ri_col`` = in-file row index). ``keep='live'`` drops masked
    rows (snapshot read); ``keep='deleted'`` keeps ONLY masked rows
    (CDF delete extraction). Two physical strategies, picked from the
    descriptors' summed ``cardinality`` without decoding anything:

    - ≤ ``_DV_BROADCAST_MAX``: driver-side decode into ONE Arrow
      table (numpy int64 positions beside ``_fp_encode``d paths)
      and a broadcast hash anti/semi-join — the relation reaches the
      JVM as Arrow batches (a local relation while small), so no
      Python worker runs and nothing is pickled per row; all-JVM,
      whole-stage codegen around it.
    - above: per-file decode inside executors behind an Arrow-batched
      boolean ``pandas_udf`` over (file, row_index) only — no shuffle,
      partition-local, driver memory O(#files), the shape that
      survives a 10⁹-row right-to-be-forgotten purge.

    Masks compose: ``dv_mask(dv_mask(s, new, keep="deleted"), old)``
    is the rows ``new`` masks and ``old`` does not.
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    total = sum(int(d["cardinality"]) for d in descs.values())
    if total <= _DV_BROADCAST_MAX:
        import numpy as np
        import pyarrow as pa

        # descs are keyed by RAW paths; the scan column is Spark's
        # URI-encoded form — encode the join keys
        fps = list(descs)
        pos = [
            np.asarray(dv_positions(spark, table_path, descs[fp]),
                       dtype=np.int64)
            for fp in fps
        ]
        masked = spark.createDataFrame(
            pa.table({
                fp_col: pa.array(
                    np.repeat(
                        np.array([_fp_encode(fp) for fp in fps], dtype=object),
                        [len(p) for p in pos],
                    ),
                    type=pa.string(),
                ),
                ri_col: pa.array(
                    np.concatenate(pos) if pos else np.empty(0, np.int64)
                ),
            }),
            schema=f"{fp_col} string, {ri_col} long",
        )
        how = "left_anti" if keep == "live" else "left_semi"
        return df.join(F.broadcast(masked), [fp_col, ri_col], how)
    pred = _dv_deleted_udf(descs, table_path)(
        F.col(fp_col), F.col(ri_col)
    )
    return df.filter(~pred if keep == "live" else pred)


def _scan_with_dv(spark, schema, abs_paths, descs, table_path,
                  base_path=None, prior=None):
    """Scan parquet files masking DV-deleted rows: files without a DV
    take the plain fast path; files with one read alongside
    ``_metadata.row_index`` (Spark's native per-file row position)
    and drop masked rows via ``dv_mask`` — broadcast anti-join
    against an Arrow-built relation (no Python worker) below
    ``_DV_BROADCAST_MAX`` total positions, executor-side decode
    above it (nothing O(deleted rows) on the driver there).
    ``descs`` maps scheme-normalized absolute file path → the add's
    ``deletionVector`` descriptor dict.

    ``prior`` (keyed like ``descs``) turns the scan into a mask
    DELTA: only the rows ``descs`` masks and ``prior`` does not —
    what a commit that swapped ``prior`` for ``descs`` deleted (every
    file then needs a descriptor in ``descs``)."""
    from pyspark.sql import functions as F

    def reader():
        r = spark.read.schema(schema)
        # hive-partitioned layouts surface partition columns from the
        # directory names under one shared base path
        return r.option("basePath", base_path) if base_path else r

    plain = [p for p in abs_paths if _norm_uri(p) not in descs]
    dvd = [p for p in abs_paths if _norm_uri(p) in descs]
    parts = []
    if plain:
        parts.append(reader().parquet(*plain))
    if dvd:
        df = (
            reader()
            .parquet(*dvd)
            .select(
                "*",
                F.regexp_replace(
                    F.col("_metadata.file_path"),
                    r"^[a-zA-Z][a-zA-Z0-9+.-]*:/+",
                    "/",
                ).alias("__dv_fp"),
                F.col("_metadata.row_index").alias("__dv_ri"),
            )
        )
        keys = [_norm_uri(p) for p in dvd]
        mask = {k: descs[k] for k in keys}
        if prior is None:
            df = dv_mask(df, "__dv_fp", "__dv_ri", mask, table_path,
                         keep="live")
        else:
            # masks compose: in the new mask, then not in the old one
            df = dv_mask(df, "__dv_fp", "__dv_ri", mask, table_path,
                         keep="deleted")
            old = {k: prior[k] for k in keys if k in prior}
            if old:
                df = dv_mask(df, "__dv_fp", "__dv_ri", old, table_path,
                             keep="live")
        parts.append(df.drop("__dv_fp", "__dv_ri"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# Reader table features every log reader (``read_delta``,
# ``read_delta_cdf`` and the ``deltastream`` source) serves.
_READER_FEATURES_OK = frozenset({
    "deletionVectors",
    "columnMapping",
    # timestampNtz: the schema's timestamp_ntz columns map onto
    # Spark's native TIMESTAMP_NTZ parquet read
    "timestampNtz",
    # v2Checkpoint: named manifests + sidecars, resolved by the
    # checkpoint reader during snapshot replay
    "v2Checkpoint",
    # variantType: schema variant columns map onto Spark 4's native
    # VariantType parquet read (GA and preview feature names)
    "variantType",
    "variantType-preview",
    # typeWidening: files written before a widen carry narrower
    # parquet types; every read here projects the log's metaData
    # schema, and Spark 4's parquet readers perform the spec's
    # widening promotions (int→long/double, float→double,
    # int→decimal) at scan time — pinned by the foreign-fixture test
    "typeWidening",
    "typeWidening-preview",
    # vacuumProtocolCheck: constrains VACUUM writers only; the spec
    # sets no reader requirement
    "vacuumProtocolCheck",
})


def check_reader_protocol(table_path: str, snap: dict) -> None:
    """Refuse a snapshot whose protocol needs a reader this repo is
    not: minReaderVersion above 3, or (at 3, table features) a reader
    feature outside ``_READER_FEATURES_OK``. Version 2 is the legacy
    column-mapping tier, which every reader serves. HONEST refusal,
    never a silent misread: an unknown reader feature changes what
    the data files MEAN."""
    proto = snap.get("protocol") or {}
    mrv = int(proto.get("minReaderVersion", 1))
    if mrv < 3:
        return
    unsupported = sorted(
        set(proto.get("readerFeatures") or []) - _READER_FEATURES_OK
    )
    if unsupported or mrv > 3:
        raise ValueError(
            f"{table_path} requires unsupported reader features "
            f"{unsupported or mrv} — ignoring them would change "
            "what the data files mean"
        )


def read_delta(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    timestamp: str | int | None = None,
    ranges: dict | None = None,
    where: str | None = None,
):
    """Read the latest snapshot THROUGH the Delta log — what any
    external spec reader would materialize.
    ``timestamp`` is the spec form of delta-spark's ``timestampAsOf``
    (ISO-8601 string or epoch millis), resolved by
    ``delta_version_at_timestamp`` — commit-file modification times,
    monotonically adjusted, or ``commitInfo.inCommitTimestamp`` when
    the table enables in-commit timestamps.
    Handles PARTITIONED tables (real Delta writers put partition
    values in the log's ``partitionValues``, not in the parquet
    files): adds are grouped by their partition-value tuple, each
    group's files are read together, and the partition columns are
    injected as literals cast to the schema's declared types.

    Every read PROJECTS the log's metaData schema (round 10): data
    files written before a schema-evolution append lack the newer
    columns, and a spec reader must surface them as nulls — reading
    with an explicit schema makes the parquet scan null-fill, exactly
    like real Delta readers.

    Reader protocols 2 and 3 are READ (round 11): deletion vectors —
    per-file RoaringBitmapArray bitmaps (inline, UUID sidecar, or
    absolute-path storage) masking deleted rows via
    ``_metadata.row_index`` — and column mapping in BOTH modes
    (scan by physical name, or by parquet field id in id mode, then
    positional struct casts rename to logical; partitionValues are
    looked up by physical name). Only genuinely unknown reader
    features are refused.

    ``ranges`` (round 13, VERDICT r12 #4) is per-column file-level
    data skipping from the LOG's stats and partitionValues:
    ``{col: (lo, hi)}`` closed intervals (None bound = open) prune
    files that provably contain no matching row BEFORE any footer is
    opened — at 100 TB a point query should skip files from log
    metadata, not probe a million parquet footers. Skipping is
    conservative (files without stats are kept) and prunes I/O only:
    the caller still applies the real filter, and the filtered
    result is bit-equal with or without ``ranges``.

    ``where`` is the one-argument form: a SQL predicate string that
    is BOTH mined for prune ranges (``ranges_from_condition`` —
    conjuncts Catalyst can prove are per-column bounds) AND applied
    as the row filter on the result, so
    ``read_delta(s, p, where="k = 7 AND d >= DATE'2026-01-01'")``
    is the full predicate-pushdown read. Explicit ``ranges`` compose
    (intersection)."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = delta_version_at_timestamp(spark, table_path, timestamp)
    snap = delta_snapshot(spark, table_path, version=version)
    if snap["version"] < 0:
        raise ValueError(f"{table_path} has no _delta_log")
    cm_mode = (snap.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if cm_mode not in ("none", "name", "id"):
        raise ValueError(
            f"{table_path}: unknown delta.columnMapping.mode "
            f"{cm_mode!r}"
        )
    check_reader_protocol(table_path, snap)
    if cm_mode == "id":
        # Spark's field-id matching is gated by a session conf read
        # at SCAN time; it only applies to read schemas that carry
        # parquet.field.id metadata, so enabling it is inert for
        # every other read in the session.
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    schema = StructType.fromJson(_json.loads(snap["schema_json"]))
    if where is not None:
        mined = ranges_from_condition(spark, where)
        if ranges:
            # explicit ranges intersect the mined ones
            for c, (lo, hi) in ranges.items():
                mlo, mhi = mined.get(c, (None, None))
                if lo is not None and (mlo is None or lo > mlo):
                    mlo = lo
                if hi is not None and (mhi is None or hi < mhi):
                    mhi = hi
                mined[c] = (mlo, mhi)
        ranges = mined
    adds = snap["adds"]
    if ranges:
        # log-stats file skipping BEFORE any parquet footer is
        # touched; composes with the partition grouping below and
        # with DV masking (a kept file's mask applies unchanged)
        _pc = tuple(snap["partition_columns"])
        _phys = {
            f.name: (f.metadata or {}).get(_CM_PHYS, f.name)
            if cm_mode != "none"
            else f.name
            for f in schema.fields
        }
        _ddl = {f.name: f.dataType.simpleString() for f in schema.fields}
        adds = [
            a
            for a in adds
            if add_survives_ranges(a, ranges, _pc, _phys, _ddl)
        ]
    # Deletion vectors (round 11, rebuilt round 12): only the
    # kilobyte DESCRIPTORS reach the driver; position decode happens
    # on the broadcast fast path (bounded by _DV_BROADCAST_MAX) or
    # inside executors (dv_mask) — never O(deleted rows) here.
    dv_map = {
        _norm_uri(resolve_add_path(table_path, a["path"])): a[
            "deletionVector"
        ]
        for a in adds
        if a.get("deletionVector")
    }

    def finish(df):
        return df.filter(where) if where is not None else df

    if not adds:
        return finish(spark.createDataFrame([], schema=schema))

    def to_logical(df, phys_schema, logical_schema):
        if cm_mode == "none":
            return df
        # struct casts match by POSITION: one cast+alias renames the
        # whole (possibly nested) column back to logical names
        return df.select(
            *[
                F.col(pf.name).cast(lf.dataType).alias(lf.name)
                for pf, lf in zip(
                    phys_schema.fields, logical_schema.fields
                )
            ]
        )

    pcols = snap["partition_columns"]
    if not pcols:
        phys = _cm_physical_type(schema, cm_mode)
        return finish(to_logical(
            _scan_with_dv(
                spark,
                phys,
                [
                    resolve_add_path(table_path, a["path"])
                    for a in adds
                ],
                dv_map,
                table_path,
            ),
            phys,
            schema,
        ))
    ptypes = {f.name: f.dataType for f in schema.fields if f.name in pcols}
    # partitionValues keys are PHYSICAL names under column mapping
    phys_of = {
        f.name: (f.metadata or {}).get(_CM_PHYS, f.name)
        if cm_mode != "none"
        else f.name
        for f in schema.fields
    }
    data_schema = StructType(
        [f for f in schema.fields if f.name not in pcols]
    )
    phys_data_schema = _cm_physical_type(data_schema, cm_mode)
    groups: dict[tuple, list[str]] = {}
    for a in adds:
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(phys_of[c]) for c in pcols)
        groups.setdefault(key, []).append(
            resolve_add_path(table_path, a["path"])
        )
    out = None
    # None-safe group order: external tables mix null partition
    # values with strings, and None < str raises bare.
    for key, paths in sorted(
        groups.items(),
        key=lambda kv: tuple((v is None, v or "") for v in kv[0]),
    ):
        part = to_logical(
            _scan_with_dv(
                spark, phys_data_schema, paths, dv_map, table_path
            ),
            phys_data_schema,
            data_schema,
        )
        for c, raw in zip(pcols, key):
            lit = (
                F.lit(None).cast(ptypes[c])
                if raw is None
                else F.lit(raw).cast(ptypes[c])
            )
            part = part.withColumn(c, lit)
        part = part.select(*[f.name for f in schema.fields])
        out = part if out is None else out.unionByName(part)
    return finish(out)


def cleanup_log(spark: SparkSession, table_path: str) -> int:
    """Log retention (the real writers' behavior this reader already
    survives): delete ``_delta_log`` JSON commit files strictly below
    the newest checkpoint — snapshot resolution needs only the
    checkpoint + the JSON tail. Returns commit files deleted. Like a
    real Delta table after ``delta.logRetentionDuration`` cleanup,
    time travel, history and CDF then reach back only to the
    checkpoint — for VersionedTable too, since this is its only log.

    SUPERSEDED checkpoint generations go too (round 13): classic
    single/multi-part parquet and v2 manifests below the newest
    checkpoint version, plus ``_sidecars/`` parquet no surviving
    manifest references — a long-lived table checkpoints every N
    commits and would otherwise accumulate one dead metadata
    generation per interval forever (real Delta's metadata cleanup
    does the same). Not counted in the return value."""
    import re as _re

    from etl_deltalake_spark.sources.versioned import _fs, _read_small_file

    ckpt = _last_checkpoint(spark, table_path)
    if ckpt is None:
        return 0
    jvm, fs, _ = _fs(spark, table_path)
    log_dir = jvm.org.apache.hadoop.fs.Path(f"{table_path}/{_DELTA_DIR}")
    deleted = 0
    live_sidecars: set[str] = set()
    # a surviving PARQUET v2 manifest (foreign writers emit those)
    # would need a parquet read to learn its sidecar refs — skip the
    # sidecar sweep entirely in that case (conservative)
    opaque_manifest = False
    for st in fs.listStatus(log_dir):
        name = st.getPath().getName()
        if (
            name.endswith(".json")
            and name[:-5].isdigit()
            and int(name[:-5]) < ckpt["version"]
        ):
            fs.delete(st.getPath(), False)
            deleted += 1
            continue
        m = _re.match(r"^(\d{20})\.checkpoint(\..*)?\.(json|parquet)$", name)
        if m is None:
            continue
        v = int(m.group(1))
        if v < ckpt["version"]:
            fs.delete(st.getPath(), False)
            continue
        if name.endswith(".json"):
            # surviving v2 manifest: its sidecars must stay
            for line in _read_small_file(
                spark, str(st.getPath())
            ).decode().splitlines():
                if not line.strip():
                    continue
                a = json.loads(line)
                if a.get("sidecar") is not None:
                    live_sidecars.add(a["sidecar"]["path"])
        elif m.group(2) and not _re.fullmatch(
            r"\.\d{10}\.\d{10}", m.group(2)
        ):
            opaque_manifest = True  # surviving uuid-named parquet
    side_dir = jvm.org.apache.hadoop.fs.Path(
        f"{table_path}/{_DELTA_DIR}/_sidecars"
    )
    if fs.exists(side_dir) and not opaque_manifest:
        for st in fs.listStatus(side_dir):
            name = st.getPath().getName()
            if name.endswith(".parquet") and name not in live_sidecars:
                fs.delete(st.getPath(), False)
    return deleted


def pruned_files(
    spark: SparkSession,
    table_path: str,
    column: str,
    lo=None,
    hi=None,
) -> tuple[list[str], int]:
    """File-level data skipping from the log's ``stats`` (the
    consumer side of what emit_delta_commit writes): live files whose
    [minValues, maxValues] range for ``column`` intersects [lo, hi].
    Files without stats are conservatively KEPT (spec behavior —
    stats are optional). Returns (surviving table-relative paths,
    number skipped). Callers still apply the real filter; skipping
    only prunes I/O, exactly like Delta's reader."""
    snap = delta_snapshot(spark, table_path)
    keep: list[str] = []
    skipped = 0
    for a in snap["adds"]:
        st = a.get("stats")
        if st:
            doc = json.loads(st)
            fmin = doc.get("minValues", {}).get(column)
            fmax = doc.get("maxValues", {}).get(column)
            if fmin is not None and fmax is not None:
                if (hi is not None and fmin > hi) or (
                    lo is not None and fmax < lo
                ):
                    skipped += 1
                    continue
        keep.append(a["path"])
    return keep, skipped


def add_survives_ranges(
    add: dict,
    ranges: dict,
    pcols: tuple = (),
    phys_of: dict | None = None,
    ptype_ddl: dict | None = None,
) -> bool:
    """File-skip decision for one ``add`` action against per-column
    closed ranges ``{col: (lo, hi)}`` (a ``None`` bound is open).
    Partition columns compare their TYPED ``partitionValues``; data
    columns compare the add's ``stats`` min/max. Conservative in
    every ambiguous case — missing stats, unknown column,
    un-orderable type pair → KEEP — so skipping only removes files
    that provably contain no matching row (Delta data-skipping
    semantics; callers still apply the real filter). ``phys_of``
    maps logical → physical names for column-mapped tables (both
    partitionValues and footer stats key by physical name)."""
    doc = None
    for col, (lo, hi) in ranges.items():
        pname = (phys_of or {}).get(col, col)
        if col in pcols:
            raw = (add.get("partitionValues") or {}).get(pname)
            if raw is None:
                # a null partition value satisfies no range bound
                if lo is not None or hi is not None:
                    return False
                continue
            try:
                val = _partition_value_typed(
                    raw, (ptype_ddl or {}).get(col) or "string"
                )
                if (lo is not None and val < lo) or (
                    hi is not None and val > hi
                ):
                    return False
            except (TypeError, ValueError):
                continue
            continue
        st = add.get("stats")
        if not st:
            continue
        if doc is None:
            doc = json.loads(st) if isinstance(st, str) else st
        fmin = doc.get("minValues", {}).get(pname)
        fmax = doc.get("maxValues", {}).get(pname)
        if fmin is None or fmax is None:
            continue
        try:
            if (hi is not None and fmin > hi) or (
                lo is not None and fmax < lo
            ):
                return False
        except TypeError:
            # date/datetime bounds vs the stats JSON's ISO strings:
            # ISO-8601 order == lexicographic order, so compare the
            # isoformat forms; anything else stays a conservative keep
            import datetime

            def _iso(b):
                return (
                    b.isoformat()
                    if isinstance(
                        b, (datetime.date, datetime.datetime)
                    )
                    else b
                )

            lo_s, hi_s = _iso(lo), _iso(hi)
            if isinstance(fmin, str) and isinstance(fmax, str):
                try:
                    if (
                        hi_s is not None
                        and isinstance(hi_s, str)
                        and fmin > hi_s
                    ) or (
                        lo_s is not None
                        and isinstance(lo_s, str)
                        and fmax < lo_s
                    ):
                        return False
                except TypeError:
                    continue
            continue
    return True


def ranges_from_condition(spark: SparkSession, condition: str) -> dict:
    """Extract per-column closed ranges from a SQL predicate for
    file-level data skipping (round 13) — Catalyst parses the string
    (spark-first: no hand SQL tokenizer) and the TOP-LEVEL AND
    conjuncts of the tree are inspected for ``col OP literal`` /
    ``literal OP col`` (OP ∈ =, <, <=, >, >=), ``BETWEEN`` and
    ``IN``. Everything else — OR trees, functions over the column,
    non-literal sides, unsupported literal types — contributes
    NOTHING, never a wrong bound, so skipping stays conservative:
    the returned dict under-constrains the predicate and the caller
    still applies the full filter. Strict bounds relax to closed
    ones (a file whose max equals the strict bound is kept)."""
    import datetime

    try:
        root = (
            spark._jsparkSession.sessionState()
            .sqlParser()
            .parseExpression(condition)
        )
    except Exception:
        return {}

    def lit_value(x):
        dt = x.dataType().simpleString()
        v = x.value()
        if v is None:
            return None, False
        try:
            if dt in ("tinyint", "smallint", "int", "bigint"):
                return int(v), True
            if dt in ("float", "double"):
                return float(v), True
            if dt == "string":
                return str(v), True
            if dt == "date":
                return (
                    datetime.date(1970, 1, 1)
                    + datetime.timedelta(days=int(v)),
                    True,
                )
            if dt.startswith("decimal"):
                # carry decimal literals EXACTLY — float(str(v))
                # rounds to nearest, which can TIGHTEN a bound by
                # 1 ULP and prune a file containing a matching row
                # (a >17-significant-digit literal vs decimal-column
                # stats); Python compares Decimal against int/float
                # stats exactly, and an un-orderable pairing falls
                # into add_survives_ranges' conservative keep
                return decimal.Decimal(str(v)), True
        except Exception:
            return None, False
        return None, False  # timestamps/binary/etc: no bound

    out: dict[str, list] = {}

    def bound(col: str, lo, hi) -> None:
        cur = out.setdefault(col, [None, None])
        if lo is not None and (cur[0] is None or lo > cur[0]):
            cur[0] = lo
        if hi is not None and (cur[1] is None or hi < cur[1]):
            cur[1] = hi

    def name_of(x) -> str:
        return x.getClass().getSimpleName()

    def conjunct(x) -> None:
        nm = name_of(x)
        ch = x.children()
        if nm == "And":
            conjunct(ch.apply(0))
            conjunct(ch.apply(1))
            return
        if nm in (
            "EqualTo",
            "GreaterThan",
            "GreaterThanOrEqual",
            "LessThan",
            "LessThanOrEqual",
        ):
            left, right = ch.apply(0), ch.apply(1)
            flip = False
            if (
                name_of(left) == "Literal"
                and name_of(right) == "UnresolvedAttribute"
            ):
                left, right, flip = right, left, True
            if not (
                name_of(left) == "UnresolvedAttribute"
                and name_of(right) == "Literal"
            ):
                return
            v, ok = lit_value(right)
            if not ok:
                return
            col = left.name()
            greater = nm in ("GreaterThan", "GreaterThanOrEqual")
            if nm == "EqualTo":
                bound(col, v, v)
            elif greater != flip:  # col >= v (possibly mirrored)
                bound(col, v, None)
            else:
                bound(col, None, v)
            return
        if nm == "In" and ch.size() >= 2:
            if name_of(ch.apply(0)) != "UnresolvedAttribute":
                return
            vals = []
            for i in range(1, ch.size()):
                if name_of(ch.apply(i)) != "Literal":
                    return
                v, ok = lit_value(ch.apply(i))
                if not ok:
                    return
                vals.append(v)
            if vals:
                bound(ch.apply(0).name(), min(vals), max(vals))
            return
        if nm == "UnresolvedFunction":
            np = x.nameParts()
            fn = ".".join(np.apply(i) for i in range(np.size()))
            if fn == "between" and ch.size() == 3:
                if (
                    name_of(ch.apply(0)) == "UnresolvedAttribute"
                    and name_of(ch.apply(1)) == "Literal"
                    and name_of(ch.apply(2)) == "Literal"
                ):
                    lo, ok1 = lit_value(ch.apply(1))
                    hi, ok2 = lit_value(ch.apply(2))
                    if ok1 and ok2:
                        bound(ch.apply(0).name(), lo, hi)
            return
        # anything else (Or, Not, functions, subqueries): no bound

    conjunct(root)
    return {c: (lo, hi) for c, (lo, hi) in out.items()}


def _partition_value_typed(raw: str | None, ddl_type: str):
    """PROTOCOL.md partition-value string → typed Python value ("Partition
    Value Serialization"; ``None`` or ``""`` is null) — the one parser
    for the stats pruner and the ``deltastream`` workers."""
    if raw is None or raw == "":
        return None
    t = ddl_type.lower()
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return int(raw)
    if t.startswith("decimal"):
        # exact — float(raw) rounds to nearest, and a partition value
        # nudged across a range bound would mis-prune (round 14; the
        # same outward-safety rule as decimal literals in
        # ranges_from_condition)
        return decimal.Decimal(raw)
    if t in ("float", "double"):
        return float(raw)
    if t == "boolean":
        return raw == "true"
    if t == "date":
        import datetime

        return datetime.date.fromisoformat(raw)
    return raw


# integer digits each integer type needs, for typeWidening's
# integer → integer / decimal promotions
_INT_DIGITS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 20}


def _reads_as(old, new) -> bool:
    """Whether parquet data written as type ``old`` scans as ``new``:
    the same type, a struct/array/map of such (struct fields matched
    by name, added or dropped fields allowed), or one of Delta
    typeWidening's promotions, which Spark's parquet reader performs
    at scan time. Nullability and field metadata are ignored."""
    from pyspark.sql import types as T

    if isinstance(old, T.StructType) and isinstance(new, T.StructType):
        have = {f.name: f.dataType for f in new.fields}
        return all(
            f.name not in have or _reads_as(f.dataType, have[f.name])
            for f in old.fields
        )
    if isinstance(old, T.ArrayType) and isinstance(new, T.ArrayType):
        return _reads_as(old.elementType, new.elementType)
    if isinstance(old, T.MapType) and isinstance(new, T.MapType):
        return _reads_as(old.keyType, new.keyType) and _reads_as(
            old.valueType, new.valueType
        )
    if old == new:
        return True
    o, n = old.simpleString(), new.simpleString()
    if o in _INT_DIGITS:
        if n in _INT_DIGITS:
            return _INT_DIGITS[n] >= _INT_DIGITS[o]
        if isinstance(new, T.DecimalType):
            return new.precision - new.scale >= _INT_DIGITS[o]
        return n == "double" and o != "bigint"
    if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
        return new.scale >= old.scale and (
            new.precision - new.scale >= old.precision - old.scale
        )
    return (o, n) in (("float", "double"), ("date", "timestamp_ntz"))


def _check_cdf_layouts(spark, table_path, snap, from_version, to_version,
                       metas) -> None:
    """Refuse a change feed over ``(from_version, to_version]`` whose
    files were written under other partition columns, or a column
    type that does not widen to the latest one, than the latest
    schema ``read_delta_cdf`` scans them under: their partition
    columns would read as null or their scan would fail. delta-spark
    blocks such batch reads too. ``metas`` maps each version after
    ``from_version`` to the metaData it commits; with none, every
    file in the window was written under the latest metaData."""
    from pyspark.sql.types import StructType

    if not metas:
        return

    def layout(schema_json, part_cols, conf):
        # partition columns and column types, both by physical name
        logical = StructType.fromJson(json.loads(schema_json))
        phys = _cm_physical_type(
            logical, (conf or {}).get("delta.columnMapping.mode", "none")
        )
        names = dict(zip(logical.names, phys.names))
        return [names[c] for c in part_cols], phys

    olds = {
        v: layout(m["schemaString"], m.get("partitionColumns") or [],
                  m.get("configuration"))
        for v, m in metas.items()
        if v <= to_version
    }
    if from_version >= 0:
        s = delta_snapshot(spark, table_path, version=from_version)
        olds[from_version] = layout(
            s["schema_json"], s["partition_columns"], s["configuration"]
        )
    want_parts, want = layout(
        snap["schema_json"], snap["partition_columns"],
        snap["configuration"],
    )
    for v, (parts, have) in sorted(olds.items()):
        if parts != want_parts or not _reads_as(have, want):
            raise ValueError(
                f"{table_path}: version {v}'s files have other partition "
                "columns or column types than the latest schema, which "
                "the change feed reads every file under — read changes "
                "from after the table's last such change"
            )


def read_delta_cdf(
    spark: SparkSession,
    table_path: str,
    from_version: int | None = None,
    to_version: int | None = None,
    starting_timestamp: str | int | None = None,
    ending_timestamp: str | int | None = None,
):
    """Change-data-feed read THROUGH the Delta log (round 12) — the
    spec form of delta-spark's ``readChangeFeed``: rows changed by
    commits in ``(from_version, to_version]``, tagged
    ``_change_type`` / ``_commit_version`` / ``_commit_timestamp``.

    Per-commit rule (delta-spark's):

    - a commit carrying ``cdc`` actions serves THEM verbatim (the
      ``_change_data`` parquet files hold the change rows plus
      ``_change_type``) — O(changes) however big the touched files;
    - no cdc + dataChange adds → their live rows are ``insert``;
    - no cdc + full-file removes → the removed files' rows are
      ``delete`` (files must not be vacuumed yet, same as Delta);
      a commit with BOTH serves adds-as-insert plus
      removes-as-delete — delta-spark's CDCReader derivation for
      plain ``INSERT OVERWRITE`` on a CDF table, which writes no
      cdc files (round 13, was a refusal);
    - no cdc + a file removed and re-added with another deletion
      vector, or none (merge-on-read DML, RESTORE) → the rows in the
      add's mask and not in the remove's (which carries the old
      descriptor; no descriptor is an empty mask): ``delete``, or
      ``update_preimage`` when the commit also adds fresh files,
      whose rows are then ``update_postimage``; rows the old mask
      held and the new one drops (a RESTORE) come back labelled like
      the fresh rows. This is the one batch derivation:
      ``VersionedTable.table_changes`` reads through it.

    Columns resolve under the LATEST schema (delta-spark's default);
    column-mapped tables scan by physical name and alias back. A
    window whose files were written under other partition columns or
    an unwidenable column type refuses (``_check_cdf_layouts``). The
    latest protocol is checked like ``read_delta``'s.

    Timestamp bounds (round 13, delta-spark's readChangeFeed
    ``startingTimestamp`` / ``endingTimestamp``): the start resolves
    to the FIRST commit at or after the time (refusing one past the
    last commit), the end to the LAST commit at or before it —
    mutually exclusive with the corresponding version bound.
    """
    import json as _json
    from urllib.parse import unquote as _unquote

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if starting_timestamp is not None:
        if from_version is not None:
            raise ValueError(
                "pass from_version OR starting_timestamp, not both"
            )
        ts_map = delta_commit_timestamps(spark, table_path)
        want = (
            _iso_to_millis(starting_timestamp)
            if isinstance(starting_timestamp, str)
            else int(starting_timestamp)
        )
        hits = [v for v, ts in sorted(ts_map.items()) if ts >= want]
        if not hits:
            raise ValueError(
                f"{table_path}: starting_timestamp "
                f"{starting_timestamp!r} is after the last commit's "
                f"timestamp ({ts_map[max(ts_map)]} ms)"
            )
        from_version = hits[0] - 1
    if from_version is None:
        from_version = -1  # full feed
    if ending_timestamp is not None:
        if to_version is not None:
            raise ValueError(
                "pass to_version OR ending_timestamp, not both"
            )
        to_version = delta_version_at_timestamp(
            spark, table_path, ending_timestamp
        )
    snap = delta_snapshot(spark, table_path)
    check_reader_protocol(table_path, snap)
    tip = snap["version"]
    to_version = tip if to_version is None else to_version
    if not from_version <= to_version <= tip:
        raise ValueError(
            f"need from_version <= to_version <= {tip}, "
            f"got ({from_version}, {to_version})"
        )
    cm_mode = (snap.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    schema = StructType.fromJson(_json.loads(snap["schema_json"]))
    pcols = snap["partition_columns"]
    phys_of = {
        f.name: (f.metadata or {}).get(_CM_PHYS, f.name)
        if cm_mode != "none"
        else f.name
        for f in schema.fields
    }
    data_fields = [f for f in schema.fields if f.name not in pcols]
    data_schema = StructType(data_fields)
    phys_data = _cm_physical_type(data_schema, cm_mode)
    ptypes = {f.name: f.dataType for f in schema.fields if f.name in pcols}

    def scan(acts, change_lit: str | None, version: int, millis: int,
             dvs: dict | None = None, prior: dict | None = None):
        """acts: add/remove/cdc action dicts — read under the physical
        data schema (+ _change_type when stored in-file), inject
        partition literals, alias to logical, tag commit columns.
        Groups by partition tuple like read_delta. ``dvs`` and
        ``prior`` (scheme-normalized abs path → deletionVector
        descriptor) go to ``_scan_with_dv``: ``dvs`` alone keeps the
        files' live rows, both keep the rows ``dvs`` masks and
        ``prior`` does not."""
        ddl = phys_data
        if change_lit is None:  # cdc files store _change_type
            ddl = StructType(
                [*phys_data.fields]
            ).add("_change_type", "string")
        groups: dict[tuple, list[str]] = {}
        for a in acts:
            # spec removes MAY omit partitionValues; hive-layout paths
            # still carry them — decoded from the SPEC-encoded path
            # first, else `a%2520b` style values come back one decode
            # level wrong (round 13)
            pv = a.get("partitionValues") or partition_values_from_path(
                _unquote(a["path"])
            )
            key = tuple(pv.get(phys_of[c]) for c in pcols)
            groups.setdefault(key, []).append(
                resolve_add_path(table_path, a["path"])
            )
        out = None
        for key, paths in sorted(
            groups.items(),
            key=lambda kv: tuple((v is None, v or "") for v in kv[0]),
        ):
            part = _scan_with_dv(
                spark, ddl, paths, dvs or {}, table_path, prior=prior
            )
            part = part.select(
                *[
                    F.col(pf.name).cast(lf.dataType).alias(lf.name)
                    for pf, lf in zip(phys_data.fields, data_fields)
                ],
                *(
                    []
                    if change_lit is not None
                    else [F.col("_change_type")]
                ),
            )
            for c, raw in zip(pcols, key):
                lit = (
                    F.lit(None).cast(ptypes[c])
                    if raw is None
                    else F.lit(raw).cast(ptypes[c])
                )
                part = part.withColumn(c, lit)
            if change_lit is not None:
                part = part.withColumn("_change_type", F.lit(change_lit))
            out = part if out is None else out.unionByName(part)
        return out.select(
            *[f.name for f in schema.fields],
            "_change_type",
            F.lit(version).cast("long").alias("_commit_version"),
            F.lit(millis).cast("long").alias("_commit_timestamp"),
        )

    def path_key(a):
        return _norm_uri(resolve_add_path(table_path, a["path"]))

    def descs(acts):
        return {
            path_key(a): a["deletionVector"]
            for a in acts
            if a.get("deletionVector")
        }

    by_version: dict[int, list[dict]] = {}
    metas: dict[int, dict] = {}
    for v, a in delta_log_actions(spark, table_path, from_version + 1):
        if a.get("metaData") is not None:
            metas[v] = a["metaData"]
        if from_version < v <= to_version:
            by_version.setdefault(v, []).append(a)
    missing = sorted(
        set(range(from_version + 1, to_version + 1)) - set(by_version)
    )
    if missing:
        raise ValueError(
            f"{table_path}: commit files {missing} were removed by log "
            "retention — CDF cannot be read below the retention floor"
        )
    _check_cdf_layouts(spark, table_path, snap, from_version, to_version,
                       metas)
    parts = []
    for v in sorted(by_version):
        actions = by_version[v]
        millis = 0
        for a in actions:
            if a.get("commitInfo") is not None:
                millis = int(
                    a["commitInfo"].get("inCommitTimestamp")
                    or a["commitInfo"].get("timestamp")
                    or 0
                )
        cdcs = [a["cdc"] for a in actions if a.get("cdc") is not None]
        adds = [
            a["add"]
            for a in actions
            if a.get("add") is not None
            and a["add"].get("dataChange", True)
        ]
        removes = [
            a["remove"]
            for a in actions
            if a.get("remove") is not None
            and a["remove"].get("dataChange", True)
        ]
        if cdcs:
            parts.append(scan(cdcs, None, v, millis))
            continue
        if not adds and not removes:
            continue  # OPTIMIZE / metadata-only
        new, old = descs(adds), descs(removes)
        # a file removed and re-added changed only its mask (a missing
        # descriptor is an empty one); every other add is fresh, every
        # other remove gone (its live rows are deleted)
        readded = {path_key(a) for a in adds} & {
            path_key(r) for r in removes
        }
        fresh = [a for a in adds if path_key(a) not in readded]
        gone = [r for r in removes if path_key(r) not in readded]
        remasked = [
            a for a in adds
            if path_key(a) in readded
            and new.get(path_key(a)) != old.get(path_key(a))
        ]
        is_update = bool(remasked) and bool(fresh)
        post = "update_postimage" if is_update else "insert"
        if fresh:
            parts.append(scan(fresh, post, v, millis, dvs=new))
        if gone:
            parts.append(scan(gone, "delete", v, millis, dvs=old))
        # rows the new mask adds were deleted (or rewritten into the
        # fresh files); rows it drops from the old mask (a RESTORE)
        # came back
        masked = [a for a in remasked if path_key(a) in new]
        if masked:
            parts.append(scan(
                masked, "update_preimage" if is_update else "delete",
                v, millis, dvs=new, prior=old,
            ))
        unmasked = [a for a in remasked if path_key(a) in old]
        if unmasked:
            parts.append(scan(unmasked, post, v, millis, dvs=old, prior=new))
    if not parts:
        base = read_delta(spark, table_path).limit(0)
        return base.select(
            "*",
            F.lit(None).cast("string").alias("_change_type"),
            F.lit(None).cast("long").alias("_commit_version"),
            F.lit(None).cast("long").alias("_commit_timestamp"),
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
