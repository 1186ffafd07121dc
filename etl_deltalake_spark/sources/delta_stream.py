"""Structured Streaming source over a REAL Delta transaction log.

The one streaming reader that walks a log (``sources/cdf_source.py``'s
``versionedcdf`` is this reader's change feed reshaped for
VersionedTable): ``spark.readStream.format("deltastream")
.option("path", <table>)`` tails any spec-conformant ``_delta_log`` —
a table this repo mirrored OR a foreign table written by delta-spark /
delta-rs — without delta-spark installed. Reference analogue: the
reference engine reads its stored Delta tables (main.py:414,465); the
streaming form is delta-spark's ``readStream.format("delta")``, whose
public semantics this reimplements:

- the FIRST batch is the table's current snapshot (all live files,
  deletion-vector masks applied), exactly delta-spark's
  initial-snapshot behavior; ``startingVersion`` (an int, or
  ``"latest"``) replays the commit tail instead;
  ``startingTimestamp`` (round 12) resolves the tail start by the
  spec clock — monotonically-adjusted log mtimes, overridden by
  ``commitInfo.inCommitTimestamp`` — refusing a time past the last
  commit, mutually exclusive with ``startingVersion``;
- each later batch covers the commit versions that landed since the
  engine-checkpointed offset; only APPEND commits stream;
- a commit that removes or rewrites data (overwrite, DV DELETE /
  UPDATE, merge) REFUSES by default — the delta-spark "Detected a
  data update" contract, because silently streaming a rewrite
  duplicates rows downstream; ``skipChangeCommits=true`` skips such
  commits wholesale (the public escape hatch), and ``ignoreDeletes=
  true`` permits delete-ONLY commits (removes, no adds) to be
  skipped;
- ``dataChange=false`` commits (OPTIMIZE) are invisible;
- ``maxFilesPerTrigger`` (round 12) caps the data files per
  micro-batch once the reader knows its position — commit-granular
  (never splits a commit); the first offset a fresh process answers
  is unbounded because the Python DataSource API exposes no
  admission-control hook (see the __init__ comment);
- ``readChangeFeed=true`` (round 12) streams the CHANGE FEED: the
  schema gains ``_change_type``, commits carrying spec ``cdc``
  actions stream their recorded change rows (DML no longer
  refuses), appends derive as inserts, the initial snapshot labels
  current rows insert, a no-cdc commit with adds AND removes (plain
  INSERT OVERWRITE on a CDF table) derives adds-as-insert +
  removes-as-delete like delta-spark's CDCReader (round 13; removes
  carrying a deletion vector stream only their LIVE rows as
  deletes), and only a DV re-add without cdc still refuses honestly
  (enable delta.enableChangeDataFeed at write time) unless
  skipChangeCommits skips it.

Scope: file-scheme table roots (planner walks the
log with plain file I/O; executors read parquet via pyarrow in Python
workers). Deletion vectors are decoded in-worker from the descriptor
(inline / UUID sidecar / absolute path). Column mapping is supported
in BOTH modes (round 12): the worker scans by PHYSICAL name (name
mode) or parquet field id (id mode, falling back to physical name
for files without ids), partition values resolve by physical name,
and the declared reader schema carries LOGICAL names — so a foreign
table with rename/drop history streams exactly like the batch
reader reads it. Genuinely unknown reader features refuse with the
feature name.

Register per session: ``spark.dataSource.register(
DeltaStreamDataSource)``.
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


def _local(path: str) -> str:
    for prefix in ("file://", "file:"):
        if path.startswith(prefix):
            return path[len(prefix):]
    return path


def _commits_after(root: str, lo: int) -> dict[int, list[dict]]:
    """Commit version → its actions, for every JSON commit above
    ``lo`` (the planner walks the log through ``delta_log``'s reader,
    with no session)."""
    from etl_deltalake_spark.sources.delta_log import delta_log_actions

    out: dict[int, list[dict]] = {}
    for v, a in delta_log_actions(None, root, lo + 1):
        out.setdefault(v, []).append(a)
    return out


def _dv_positions_py(root: str, desc: dict) -> set[int]:
    """Worker-side descriptor resolve — delegates to the shared
    ``dv_blob`` resolver (round 12) so the sidecar-format version,
    size, CRC, and cardinality checks apply on the streaming path
    too; the previous hand-rolled copy silently skipped all four."""
    from etl_deltalake_spark.sources.delta_log import (
        _dv_decode_checked,
        _local_read,
        dv_blob,
    )

    return set(_dv_decode_checked(dv_blob(desc, root, _local_read), desc))


def _pa_type_of(ddl_type: str):
    """Arrow type for a DDL string, matching EXACTLY what Spark's
    Python-data-source worker produces for the row path
    (``to_arrow_schema``, see plan_data_source_read.py) — yielded
    RecordBatches bypass type validation, so a mismatch here would
    reach the JVM. None = not covered, caller takes the row path."""
    import re as _re

    import pyarrow as pa

    t = ddl_type.strip().lower()
    prim = {
        "tinyint": pa.int8(),
        "smallint": pa.int16(),
        "int": pa.int32(),
        "integer": pa.int32(),
        "bigint": pa.int64(),
        "long": pa.int64(),
        "float": pa.float32(),
        "real": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if t in prim:
        return prim[t]
    m = _re.fullmatch(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    return None


def _try_arrow_batch(specs, n_rows: int, masked):
    """Columnar fast path for the streaming readers (round 14, guide
    §4): build ONE RecordBatch per file partition so rows cross the
    Python->JVM boundary as Arrow columns instead of pickled tuples.

    ``specs`` is one (name, ddl_type, kind, payload) per output
    column — kind "col" (pyarrow column from the parquet read),
    "const" (python literal repeated n_rows times: partition values,
    the commit version, derived _change_type) or "null" (pre-schema-
    evolution null fill). ``masked`` is the DV's deleted row-index
    set; surviving rows keep file order. Returns None when any type
    or cast falls outside the supported map — callers then run the
    row path, which handles everything (same output, slower).
    Memory bound: one file's columns materialize at once — the same
    bound the row path already had (it built full to_pylist lists)."""
    import pyarrow as pa

    try:
        arrays = []
        names = []
        for name, ddl_type, kind, payload in specs:
            t = _pa_type_of(ddl_type)
            if t is None:
                return None
            if kind == "col":
                arr = payload
                if isinstance(arr, pa.ChunkedArray):
                    arr = arr.combine_chunks()
                if arr.type != t:
                    arr = arr.cast(t)
            elif kind == "const":
                if pa.types.is_timestamp(t) and isinstance(payload, str):
                    # Partition-value timestamps arrive as naive
                    # strings that Delta/Spark interpret in SESSION
                    # time; pa.array would parse them as UTC and
                    # shift the instant for non-UTC sessions (ADVICE
                    # r15). Fall back to the row path, which carries
                    # the string through Spark's own conversion.
                    return None
                arr = pa.array([payload] * n_rows, type=t)
            else:
                arr = pa.nulls(n_rows, type=t)
            arrays.append(arr)
            names.append(name)
        batch = pa.RecordBatch.from_arrays(arrays, names=names)
        if masked:
            keep = [i for i in range(n_rows) if i not in masked]
            batch = batch.take(pa.array(keep, type=pa.int64()))
        return batch
    except Exception:
        return None


class DeltaFilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        version: int,
        dv: dict | None,
        partition_values: dict,
        change_type: str | None = None,
        is_cdc: bool = False,
    ):
        self.path = path
        self.version = version
        self.dv = dv
        self.partition_values = partition_values
        # CDF streaming (round 12): a literal label for derived
        # changes ("insert"/"delete"), or is_cdc=True when the file
        # is a _change_data parquet carrying its own _change_type
        self.change_type = change_type
        self.is_cdc = is_cdc


class DeltaStreamReader(DataSourceStreamReader):
    def __init__(self, options, fields: list[tuple]):
        self.root = options.get("path", "")
        if not self.root:
            raise ValueError("deltastream requires the 'path' option")
        # (logical name, ddl type, physical name, field id) per TABLE
        # column — physical/id resolve column-mapped files in read()
        self.fields = fields
        self.skip_change = (
            options.get("skipChangeCommits", "false").lower() == "true"
        )
        self.ignore_deletes = (
            options.get("ignoreDeletes", "false").lower() == "true"
        )
        self.starting = options.get("startingVersion")
        self.starting_ts = options.get("startingTimestamp")
        if self.starting is not None and self.starting_ts is not None:
            raise ValueError(
                "deltastream: startingVersion and startingTimestamp "
                "are mutually exclusive (delta-spark rule)"
            )
        # Admission control (round 12): cap the data files one
        # micro-batch admits — a stream catching up on a 100k-commit
        # backlog must not plan ONE batch over all of it (per-batch
        # state, sink transaction size, and executor memory all scale
        # with batch size). Best-effort by necessity: the Python
        # DataSource API gives latestOffset() no start offset and no
        # read-limit hook (the JVM SupportsAdmissionControl /
        # SupportsTriggerAvailableNow traits are not exposed), so the
        # reader tracks its own position (initialOffset, partitions,
        # commit). Consequences, documented honestly: the FIRST
        # latestOffset a fresh process answers before learning any
        # position is unbounded — that is availableNow's pinned
        # target and the first batch after a restart; every
        # subsequent micro-batch (processingTime / continuous
        # catch-up) honors the cap. Commits are never split (a Delta
        # commit is the atomicity unit), so a single commit larger
        # than the cap still admits whole.
        self.read_cdf = (
            options.get("readChangeFeed", "false").lower() == "true"
        )
        mft = options.get("maxFilesPerTrigger")
        self.max_files = int(mft) if mft is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        self._pos: dict | None = None

    # offset {"version": V, "initial": bool}: V = last consumed
    # commit version; initial=True means the snapshot AS OF V still
    # has to stream (it becomes the first batch).
    def initialOffset(self):
        if self.starting_ts is not None:
            # delta-spark startingTimestamp: replay every commit AT
            # OR AFTER the timestamp (the next commit when nothing
            # matches exactly); after the last commit → refuse
            from etl_deltalake_spark.sources.delta_log import (
                _iso_to_millis,
                delta_commit_timestamps,
            )

            want = _iso_to_millis(self.starting_ts)
            ts_map = delta_commit_timestamps(None, self.root)
            if not ts_map:
                raise ValueError(f"{self.root} has no commits to stream")
            hits = [v for v, ts in sorted(ts_map.items()) if ts >= want]
            if not hits:
                raise ValueError(
                    f"deltastream: startingTimestamp "
                    f"{self.starting_ts!r} is after the last commit's "
                    f"timestamp ({ts_map[max(ts_map)]} ms) — nothing "
                    "to stream"
                )
            # track the position like every other branch, else
            # maxFilesPerTrigger never caps the first micro-batch in
            # timestamp mode (round 13)
            self._pos = {"version": hits[0] - 1, "initial": False}
            return self._pos
        if self.starting is None:
            self._pos = {"version": -1, "initial": True}
        elif str(self.starting) == "latest":
            from etl_deltalake_spark.sources.delta_log import log_tip

            self._pos = {"version": log_tip(None, self.root),
                         "initial": False}
        else:
            self._pos = {"version": int(self.starting) - 1,
                         "initial": False}
        return self._pos

    def latestOffset(self):
        from etl_deltalake_spark.sources.delta_log import log_tip

        end = {"version": log_tip(None, self.root), "initial": False}
        if (
            self.max_files is not None
            and self._pos is not None
            and not self._pos.get("initial")  # snapshot batch = whole
        ):
            lo = self._pos["version"]
            budget = self.max_files
            v_end = lo
            for v, actions in sorted(_commits_after(self.root, lo).items()):
                n = sum(1 for a in actions if a.get("add") is not None)
                if v_end > lo and n > budget:
                    break  # next commit would blow the cap
                v_end = v
                budget -= n
                if budget <= 0:
                    break
            end = {"version": v_end, "initial": False}
        self._pos = end
        return end

    def partitions(self, start, end):
        # acquire position for rate limiting: after a RESTART the
        # engine never calls initialOffset, so the checkpointed batch
        # boundary first becomes visible HERE — the batch being
        # planned ends at `end`, so the next latestOffset continues
        # from it (never regress below what the engine has planned)
        if self._pos is None or (
            not end.get("initial")
            and end["version"] > self._pos.get("version", -1)
        ):
            self._pos = {"version": end["version"], "initial": False}
        from etl_deltalake_spark.sources.delta_log import (
            check_reader_protocol,
            delta_snapshot,
        )

        hi = end["version"]
        parts: list[DeltaFilePartition] = []
        if start.get("initial"):
            # initial snapshot AS OF `hi` — all live files, masks on
            snap = delta_snapshot(None, self.root, version=hi)
            check_reader_protocol(self.root, snap)
            for a in snap["adds"]:
                parts.append(
                    self._part(
                        a, hi,
                        change_type="insert" if self.read_cdf else None,
                    )
                )
            return parts
        lo = start["version"]
        check_reader_protocol(self.root, delta_snapshot(None, self.root))
        commits = {
            v: a for v, a in _commits_after(self.root, lo).items() if v <= hi
        }
        in_range = sorted(commits)
        missing = sorted(set(range(lo + 1, hi + 1)) - set(in_range))
        if missing:
            # a Delta log is contiguous by construction — a gap means
            # log retention deleted commits the stream still needs
            raise ValueError(
                f"{self.root}: commit files {missing} were removed by "
                "log retention — the stream cannot resume from "
                f"version {lo + 1}"
            )
        for v in in_range:
            actions = commits[v]
            adds = [
                a["add"]
                for a in actions
                if a.get("add") is not None and a["add"].get("dataChange", True)
            ]
            removes = [
                a["remove"]
                for a in actions
                if a.get("remove") is not None
                and a["remove"].get("dataChange", True)
            ]
            if self.read_cdf:
                # CDF streaming (round 12, delta-spark's
                # readChangeFeed): commits carrying cdc actions stream
                # their RECORDED change rows — DML no longer refuses;
                # pure appends derive as inserts; a rewrite without
                # cdc still refuses (enable CDF at write time) unless
                # skipChangeCommits skips it wholesale.
                cdcs = [
                    a["cdc"] for a in actions if a.get("cdc") is not None
                ]
                if cdcs:
                    for c in cdcs:
                        parts.append(self._part(c, v, is_cdc=True))
                    continue
                if not adds and not removes:
                    continue  # OPTIMIZE / metadata-only commit
                if any(a.get("deletionVector") for a in adds):
                    # a DV re-add without cdc: the per-row change set
                    # is not derivable — refuse unless skipped
                    if self.skip_change:
                        continue
                    raise ValueError(
                        f"deltastream: version {v} re-masks files "
                        "without cdc actions — the change set is not "
                        "derivable; enable delta.enableChangeDataFeed "
                        "at write time or set skipChangeCommits=true"
                    )
                # adds-as-insert + removes-as-delete — delta-spark's
                # CDCReader derivation for plain INSERT OVERWRITE on a
                # CDF table (round 13, matching read_delta_cdf). A
                # remove carrying a DV masks the file so only its
                # LIVE rows stream as deletes.
                for a in adds:
                    parts.append(self._part(a, v, change_type="insert"))
                for r in removes:
                    if not r.get("partitionValues"):
                        from urllib.parse import unquote as _unq

                        from etl_deltalake_spark.sources.delta_log import (
                            partition_values_from_path,
                        )

                        r = {
                            **r,
                            "partitionValues": partition_values_from_path(
                                _unq(r["path"])
                            ),
                        }
                    parts.append(self._part(r, v, change_type="delete"))
                continue
            if not adds and not removes:
                continue  # OPTIMIZE / metadata-only commit
            if removes:
                if self.skip_change:
                    continue
                if not adds and self.ignore_deletes:
                    continue
                op = ""
                for a in actions:
                    if a.get("commitInfo") is not None:
                        op = a["commitInfo"].get("operation", "")
                raise ValueError(
                    f"deltastream: version {v} ({op or 'unknown op'}) "
                    "removes or rewrites data — streaming it would "
                    "duplicate or lose rows downstream. Set "
                    "skipChangeCommits=true to skip such commits"
                    + (
                        ""
                        if adds
                        else ", or ignoreDeletes=true for delete-only"
                        " commits"
                    )
                )
            for a in adds:
                parts.append(self._part(a, v))
        return parts

    def _part(
        self, add: dict, version: int, change_type: str | None = None,
        is_cdc: bool = False,
    ) -> DeltaFilePartition:
        # spec paths are percent-encoded, relative OR absolute
        # (shallow clones point at another table's files)
        from etl_deltalake_spark.sources.delta_log import resolve_add_path

        return DeltaFilePartition(
            _local(resolve_add_path(_local(self.root), add["path"])),
            version,
            add.get("deletionVector"),
            dict(add.get("partitionValues") or {}),
            change_type=change_type,
            is_cdc=is_cdc,
        )

    def read(self, part: DeltaFilePartition):
        import pyarrow.parquet as pq

        from etl_deltalake_spark.sources.delta_log import (
            _partition_value_typed,
        )

        pf = pq.ParquetFile(part.path)
        sch = pf.schema_arrow
        # column-mapping resolution (round 12): id mode matches the
        # parquet field ids the writer stamped; name mode (and the
        # id-mode fallback for files written before ids existed)
        # matches the PHYSICAL name — files never store logical names
        # on a mapped table, which is what makes renames free
        by_id: dict[int, str] = {}
        for i in range(len(sch.names)):
            fld = sch.field(i)
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                by_id[int(fid)] = fld.name
        present = set(sch.names)
        col_of: dict[str, str] = {}  # logical name -> file column
        for name, _t, phys, fid in self.fields:
            if fid is not None and fid in by_id:
                col_of[name] = by_id[fid]
            elif phys in present:
                col_of[name] = phys
        wanted = sorted(set(col_of.values()))
        if part.is_cdc and "_change_type" in present:
            wanted.append("_change_type")
        table = pf.read(columns=wanted)
        n_rows = table.num_rows if wanted else pf.metadata.num_rows
        masked = (
            _dv_positions_py(self.root, part.dv) if part.dv else None
        )
        specs = []
        for name, ddl_type, phys, _fid in self.fields:
            src = col_of.get(name)
            # spec: partitionValues keys are PHYSICAL names on a
            # mapped table (physical == logical when unmapped)
            if src is not None:
                specs.append((name, ddl_type, "col", table.column(src)))
            elif phys in part.partition_values:
                val = _partition_value_typed(
                    part.partition_values.get(phys), ddl_type
                )
                specs.append((name, ddl_type, "const", val))
            else:  # pre-schema-evolution file: null fill
                specs.append((name, ddl_type, "null", None))
        if self.read_cdf:
            # CDF column: recorded in the cdc file itself, or the
            # derived literal ("insert" for snapshot/append rows)
            if part.is_cdc:
                specs.append(
                    ("_change_type", "string", "col",
                     table.column("_change_type"))
                )
            else:
                specs.append(
                    ("_change_type", "string", "const", part.change_type)
                )
        specs.append(("_commit_version", "bigint", "const", part.version))
        batch = _try_arrow_batch(specs, n_rows, masked)
        if batch is not None:
            if batch.num_rows:
                yield batch
            return
        # row fallback — types outside the arrow map; same output
        cols = []
        for name, ddl_type, kind, payload in specs[:-1]:
            if kind == "col":
                cols.append(payload.to_pylist())
            elif kind == "const":
                cols.append([payload] * n_rows)
            else:
                cols.append([None] * n_rows)
        for i, row in enumerate(zip(*cols) if cols else ()):
            if masked is not None and i in masked:
                continue
            yield (*row, part.version)

    def commit(self, end):
        # offsets live in the engine checkpoint; remember the batch
        # boundary so rate limiting resumes after a restart (the
        # first post-restart batch is unbounded — see __init__)
        self._pos = dict(end)


class DeltaStreamDataSource(DataSource):
    """``format("deltastream")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "deltastream"

    def _table_fields(self) -> list[tuple]:
        from pyspark.sql.types import StructType

        from etl_deltalake_spark.sources.delta_log import (
            check_reader_protocol,
            delta_snapshot,
        )

        root = self.options.get("path", "")
        snap = delta_snapshot(None, root)
        if snap["version"] < 0:
            raise ValueError(f"{root} has no commits to stream")
        # fail at load(), not first batch: an unsupported protocol
        # means the declared schema would be wrong
        check_reader_protocol(root, snap)
        if snap["schema_json"] is None:
            raise ValueError("deltastream: table has no metaData action")
        struct = StructType.fromJson(json.loads(snap["schema_json"]))
        out = []
        for f in struct.fields:
            md = f.metadata or {}
            phys = md.get("delta.columnMapping.physicalName", f.name)
            fid = md.get("delta.columnMapping.id")
            out.append(
                (
                    f.name,
                    f.dataType.simpleString(),
                    phys,
                    int(fid) if fid is not None else None,
                )
            )
        return out

    def schema(self) -> str:
        cols = ", ".join(
            f"`{n}` {t}" for n, t, _p, _i in self._table_fields()
        )
        if self.options.get("readChangeFeed", "false").lower() == "true":
            return (
                f"{cols}, `_change_type` string, "
                "`_commit_version` bigint"
            )
        return f"{cols}, `_commit_version` bigint"

    def streamReader(self, schema) -> DeltaStreamReader:
        return DeltaStreamReader(self.options, self._table_fields())
