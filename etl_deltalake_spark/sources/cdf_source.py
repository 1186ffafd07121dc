"""Streaming change-data-feed source over VersionedTable.

``format("versionedcdf")`` is ``deltastream``'s change-feed reader
(``readChangeFeed=true`` from Delta version 0) run over the table's
spec ``_delta_log``, reshaped to the VersionedTable contract:

- only ``insert`` and ``update_postimage`` rows stream — the rows a
  commit made current, the same rows ``VersionedTable.read_changes``
  returns; deletes and pre-images are dropped;
- ``_change_type`` is dropped and ``_commit_version`` becomes
  ``_change_version`` = Delta version + 1, the VersionedTable version;
- appends stream their added rows; a DML commit on a ``cdf=True``
  table streams the change rows it recorded under ``_change_data/``
  (a deletion-vector commit never re-emits its surviving rows); an
  overwrite streams its post-image; a deletion-vector commit on a
  table without CDF refuses, naming ``delta.enableChangeDataFeed``
  (``read_changes`` derives that commit's rows from its mask delta);
- ``dataChange=false`` commits (compaction) stream nothing;
- column-mapped tables stream under their logical names.

The engine-managed offset is the Delta version; every change file is
one ``InputPartition`` read by executors with pyarrow. Combined with
``streaming.exactly_once_versioned_sink`` on the write side, a
versioned table is a full streaming hop: upstream commits →
exactly-once downstream consumption across restarts, no rescans.

Register per session: ``spark.dataSource.register(
VersionedCdfDataSource)``; then ``spark.readStream
.format("versionedcdf").option("path", table_root).load()``.
"""

from __future__ import annotations

from etl_deltalake_spark.sources.delta_stream import (
    DeltaFilePartition,
    DeltaStreamDataSource,
    DeltaStreamReader,
)

_POST_IMAGE = ("insert", "update_postimage")


class VersionedCdfStreamReader(DeltaStreamReader):
    def __init__(self, path: str, fields: list[tuple]):
        super().__init__(
            {"path": path, "readChangeFeed": "true", "startingVersion": "0"},
            fields,
        )

    def read(self, part: DeltaFilePartition):
        import pyarrow as pa
        import pyarrow.compute as pc

        for out in super().read(part):
            if isinstance(out, tuple):  # row fallback
                if out[-2] in _POST_IMAGE:
                    yield (*out[:-2], out[-1] + 1)
                continue
            out = out.filter(
                pc.is_in(out.column("_change_type"), pa.array(_POST_IMAGE))
            )
            if out.num_rows:
                yield pa.RecordBatch.from_arrays(
                    [*out.columns[:-2], pc.add(out.column(-1), 1)],
                    names=[*out.schema.names[:-2], "_change_version"],
                )


class VersionedCdfDataSource(DeltaStreamDataSource):
    """``format("versionedcdf")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "versionedcdf"

    def schema(self) -> str:
        cols = ", ".join(
            f"`{n}` {t}" for n, t, _p, _i in self._table_fields()
        )
        return f"{cols}, `_change_version` bigint"

    def streamReader(self, schema) -> VersionedCdfStreamReader:
        return VersionedCdfStreamReader(
            self.options.get("path", ""), self._table_fields()
        )
