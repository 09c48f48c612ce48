"""Structured Streaming source that TAILS a snapshot table's manifest
log (operators/snapshots.py) — the streaming twin of x84's batch
incremental read, and the same idea as Delta's streaming source /
Iceberg's incremental scan: offsets are COMMIT VERSIONS, each micro-batch
covers the versions committed since the checkpointed offset, and the
batch's input partitions are exactly the data files those commits added
(the file-set difference of consecutive manifests). A consumer therefore
reads O(new files) per trigger, never lists data directories, and never
re-reads old data — which is the only viable way to follow a 100 TB
table.

Soundness is ``read_incremental``'s, by the same rule
(``table_log.appended_files``): every version in the consumed range must
be an append (newer files == newer rows); a non-append commit in range
fails the batch rather than silently emitting wrong deltas.

Driver-side metadata IO (manifest list/read) goes through the table
log's ``pyarrow.fs`` handle (``table_log.ArrowLog``) — the
DataSourceStreamReader runs in the driver's Python process with no
SparkSession, so the fsio/Hadoop route used elsewhere is unavailable;
``fsio._pa_fs`` resolves local paths and ``s3://``-style URIs the same
way. Executor-side reads use pyarrow parquet and yield Arrow
RecordBatches (vectorized — never per-row Python), reconciling evolved
schemas by materializing missing columns as typed nulls, exactly like
the batch reader's ``_read_files``. :class:`LogStreamReader` holds all
of this for both snapshot-log sources (``snapshot_changes`` too).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from nagios_custom_etl_spark import fsio, table_log

# Spark simpleString -> pyarrow type factory, for typed-null backfill of
# columns an old data file predates (schema evolution, x73)
_ARROW_TYPES = {
    "bigint": "int64",
    "int": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "double": "float64",
    "float": "float32",
    "string": "string",
    "boolean": "bool_",
    "date": "date32",
    "timestamp": "timestamp_us",
    "timestamp_ntz": "timestamp_us",
}


def _arrow_type(simple: str):
    import pyarrow as pa

    name = _ARROW_TYPES.get(simple)
    if name is None:
        raise ValueError(f"snapshot_tail: unsupported column type {simple!r}")
    if name == "timestamp_us":
        return pa.timestamp("us")
    return getattr(pa, name)()


#: target bytes per input partition when BUNDLING a micro-batch's files
#: (r15, guide §2.2/§6): one InputPartition per file meant one Spark task
#: + one executor-side Python worker round trip per file, near-empty at
#: small commit sizes. Files pack (in feed order) into partitions up to
#: this budget, so a small micro-batch is ONE task while a large backlog
#: still fans out at ~split granularity. Bundling changes only task
#: boundaries — rows and their provenance columns are identical to
#: one-file-per-partition planning.
_BUNDLE_BYTES = 128 * 1024 * 1024


@dataclass
class LogFilePartition(InputPartition):
    #: bundled (fs-native path, commit_version) pairs in feed order, with
    #: the change type appended by snapshot_changes (None for a
    #: RECORDED change file, which carries its own _change_type)
    files: tuple
    # per declared column, aligned with the reader's column list:
    # (candidate physical names — current name first then the alias
    # chain, has_default, default). Resolved DRIVER-side in partitions()
    # from the LATEST manifest's schema (the fullest alias chains, the
    # schema _read_files resolves against), so a file written before or
    # after a rename is read under its own era's physical name instead
    # of silently backfilling NULLs (r11 ADVICE: name-first-then-aliases
    # resolution, both rename directions).
    resolve: tuple = ()


class LogStreamReader(DataSourceStreamReader):
    """What the two snapshot-log streaming sources share: offsets are
    commit versions, the range rules and the replay come from
    ``table_log`` (through :class:`~..table_log.ArrowLog` — the reader
    runs in the driver's Python process with no SparkSession), the
    files of a batch are bundled by bytes, and ``read`` projects each
    file onto the declared columns through the column-mapping
    resolution. Subclasses give the range rule (:meth:`_entries`) and
    the columns appended per file (:meth:`_extra`)."""

    def __init__(self, options: dict, ddl_schema: str):
        self.root = options["root"]
        self.start_version = int(options.get("start_version", "0"))
        self.end_version = (
            int(options["end_version"]) if "end_version" in options else None
        )
        # [(name, simple_type)] parsed from the declared DDL
        self.columns = [
            tuple(c.strip().rsplit(" ", 1)) for c in ddl_schema.split(",")
        ]

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        versions = table_log.ArrowLog(self.root).versions()
        latest = versions[-1] if versions else self.start_version
        if self.end_version is not None:
            latest = min(latest, self.end_version)
        return {"version": max(latest, self.start_version)}

    def _entries(self, log, have: set[int], lo: int, hi: int) -> list:
        raise NotImplementedError

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = int(start["version"]), int(end["version"])
        if hi <= lo:
            return []
        log = table_log.ArrowLog(self.root)
        have = log.versions()
        entries = self._entries(log, set(have), lo, hi)
        if not entries:
            return []
        # alias chains come from the NEWEST manifest available at
        # planning time (not each adding commit's: a pre-rename manifest
        # cannot know the post-rename name a stream's DDL may declare)
        schema = table_log.head_fields(
            log.read_json(table_log.manifest_name(have[-1]))
        ).get("schema")
        res = table_log.column_resolution((n for n, _ in self.columns), schema)
        # fs-native paths through the one resolver (normalizes a branch
        # member's ../../ on object stores), then one batched stat call
        # and greedy packing in feed order (see _BUNDLE_BYTES)
        fs, _ = fsio._pa_fs(self.root)
        paths = [
            (fsio._pa_fs(f"{self.root}/{rel}")[1], *rest)
            for rel, *rest in entries
        ]
        parts: list[InputPartition] = []
        bundle: list[tuple] = []
        bundled_bytes = 0
        for e, info in zip(paths, fs.get_file_info([p for p, *_ in paths])):
            sz = info.size or 0
            if bundle and bundled_bytes + sz > _BUNDLE_BYTES:
                parts.append(LogFilePartition(tuple(bundle), res))
                bundle, bundled_bytes = [], 0
            bundle.append(e)
            bundled_bytes += sz
        if bundle:
            parts.append(LogFilePartition(tuple(bundle), res))
        return parts

    def _extra(self, table, n: int, version: int, ctype) -> list:
        raise NotImplementedError

    def read(self, partition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        # paths are fs-native (the scheme is stripped when resolving
        # s3://-style roots), so the filesystem is re-resolved here on
        # the executor — a bare pq.read_table would try the stripped
        # path against the local FS and fail for any non-local root
        fs, _ = fsio._pa_fs(self.root)
        resolve = partition.resolve or tuple(
            ((name,), False, None) for name, _ in self.columns
        )
        for path, commit_version, *ctype in partition.files:
            table = pq.read_table(path, filesystem=fs)
            n = table.num_rows
            arrays, fields = [], []
            for (name, simple), (cands, has_default, default) in zip(
                self.columns, resolve
            ):
                typ = _arrow_type(simple)
                # name-first-then-aliases: a pre-rename file stores the
                # column under a former physical name (see partitions())
                src = next(
                    (c for c in cands if c in table.column_names), None
                )
                if src is not None:
                    arrays.append(
                        table.column(src).cast(typ).combine_chunks()
                    )
                elif has_default:  # Iceberg initial-default
                    arrays.append(pa.array([default] * n).cast(typ))
                else:  # pre-evolution file: typed-null backfill
                    arrays.append(pa.nulls(n, typ))
                fields.append(pa.field(name, typ))
            for field, array in self._extra(
                table, n, commit_version, ctype[0] if ctype else None
            ):
                fields.append(field)
                arrays.append(array)
            yield from pa.Table.from_arrays(
                arrays, schema=pa.schema(fields)
            ).to_batches()

    def commit(self, end: dict) -> None:  # checkpoint owns progress
        pass


class SnapshotTailStreamReader(LogStreamReader):
    def __init__(self, options: dict, ddl_schema: str):
        super().__init__(options, ddl_schema)
        # Delta's skipChangeCommits for auto-compacted bronze: step over
        # 'replace' versions carrying the compactor's data_change:false
        # marker. Sound because the range rule diffs VERSION BY VERSION
        # — a compaction contributes no new rows by contract, and later
        # appends diff against ITS file set, so nothing is double-
        # counted. Consumer-lag contract: vacuum retention must exceed
        # stream lag or the pre-compaction originals may be reclaimed
        # before this reader gets to them (Delta documents the same
        # constraint).
        self.skip_compactions = (
            options.get("skip_compactions", "false").lower() == "true"
        )

    def _entries(self, log, have: set[int], lo: int, hi: int) -> list:
        prev = set(table_log.replay(log, lo)["files"]) if lo > 0 else set()
        return [
            (f, v)
            for f, v, _ in table_log.appended_files(
                log, have, lo, hi, prev, self.skip_compactions
            )
        ]

    def _extra(self, table, n: int, version: int, ctype) -> list:
        import pyarrow as pa

        return [
            (
                pa.field("commit_version", pa.int64()),
                pa.array([version] * n, pa.int64()),
            )
        ]


class SnapshotTailSource(DataSource):
    """``spark.readStream.format("snapshot_tail")`` — options:
    ``root`` (table root), ``schema_ddl`` (the table columns to surface,
    e.g. ``"doc_id bigint, source string"``), optional ``start_version``
    / ``end_version`` bounds, optional ``skip_compactions`` ("true" to
    step over data_change:false replace versions — required when the
    table is auto-compacted; see the reader's note for the vacuum-lag
    contract). Output schema = declared columns + ``commit_version
    bigint`` provenance."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_tail"

    def schema(self) -> str:
        return self.options["schema_ddl"] + ", commit_version bigint"

    def streamReader(self, schema) -> SnapshotTailStreamReader:
        return SnapshotTailStreamReader(self.options, self.options["schema_ddl"])
