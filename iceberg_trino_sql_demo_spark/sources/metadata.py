"""Versioned-table metadata model (SURVEY.md §1.1).

A table is: an evolving schema (columns with stable ids), an evolving
partition spec (spec ids, per-file), table properties, and an append-only
chain of snapshots, each snapshot holding the *full* set of live data files
and delete files (state manifests, not incremental ones — diffing two
snapshots is then trivial for CDC, and time travel is a single lookup).

On-disk layout per table::

    <location>/
      metadata/
        v1.metadata.json, v2.metadata.json, ...   (immutable)
        snap-<id>-<uuid>.json                     (one manifest list per snapshot)
        seg-<uuid>.parquet                        (immutable entry segments)
        version-hint.text                         (current version pointer)
      data/<commit-uuid>/...parquet               (immutable data file groups)
      deletes/...parquet                          (position-delete files)

A snapshot's manifest is a small JSON manifest list that names parquet
entry segments (one row per data file, with typed stats columns) and
carries the snapshot's delete files inline.  Snapshots share segments, so
a commit writes only its delta (``manifest_store.py``); in memory the
state is a ``manifest_store.LazyManifest``.  The *model* (full-state
manifest per snapshot, stats per file, spec-id per file) is unchanged by
that representation.  Nothing below ever reads data files.

Reference behaviors this model serves (iceberg_trino_sqldemo.sql):
snapshots/history/refs metadata tables (:74-82), time travel (:216),
rollback (:218), branches (:234-253), CDC (:114-125), schema evolution with
defaults (:166) and drops (:181), partition evolution (:193, :201).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import types as T

FORMAT_VERSION = 3
MAIN = "main"


def now_ms() -> int:
    return int(time.time() * 1000)


# ---------------------------------------------------------------------------
# Schema
# ---------------------------------------------------------------------------

_SPARK_TYPES: dict[str, T.DataType] = {}


def spark_type(ddl: str) -> T.DataType:
    """'bigint' / 'string' / 'timestamp_ns' / ... -> Spark DataType.

    ``timestamp_ns`` is our engine type for the reference's TIMESTAMP(9)
    (line 185): physically a LongType of nanos-since-epoch (Spark's
    TimestampType ceiling is microseconds, SURVEY.md §1.3).
    ``variant`` maps to Spark 4's VariantType (line 175).
    """
    if ddl not in _SPARK_TYPES:
        if ddl == "timestamp_ns":
            _SPARK_TYPES[ddl] = T.LongType()
        elif ddl == "variant":
            _SPARK_TYPES[ddl] = T.VariantType()
        else:
            _SPARK_TYPES[ddl] = T._parse_datatype_string(ddl)
    return _SPARK_TYPES[ddl]


# SQL expression text for projections.  A ``selectExpr`` list costs the
# driver one py4j round trip per element; building the same projection
# from ``Column`` objects costs several per column (``F.col``, ``cast``,
# ``alias`` are each a JVM call).


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _type_text(dt: T.DataType) -> str:
    if isinstance(dt, T.StructType):
        return "struct<" + ",".join(
            f"{sql_ident(f.name)}:{_type_text(f.dataType)}" for f in dt.fields) + ">"
    if isinstance(dt, T.ArrayType):
        return f"array<{_type_text(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{_type_text(dt.keyType)},{_type_text(dt.valueType)}>"
    return dt.simpleString()


def sql_type(ddl: str) -> str:
    """SQL type text that parses back to ``spark_type(ddl)``."""
    return _type_text(spark_type(ddl))


def _str_lit(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_literal(value: Any, ddl: str) -> str:
    """``value`` as SQL text typed like an engine ``ddl`` column — the text
    form of ``F.lit(value).cast(spark_type(ddl))`` (``parse_json`` for a
    non-null variant)."""
    if ddl == "variant" and value is not None:
        return f"parse_json({_str_lit(value if isinstance(value, str) else json.dumps(value))})"
    if value is None:
        text = "NULL"
    elif isinstance(value, bool):
        text = "TRUE" if value else "FALSE"
    elif isinstance(value, int):
        text = str(value)
    elif isinstance(value, float):
        text = f"CAST({_str_lit(repr(value))} AS DOUBLE)"
    else:
        text = _str_lit(str(value))
    return f"CAST({text} AS {sql_type(ddl)})"


def column_sql(name: str, src: str | None, ddl: str | None = None, default: Any = None) -> str:
    """One select-list entry: column ``src`` (cast to ``ddl`` when given)
    named ``name``; with no ``src``, the literal ``default`` typed as
    ``ddl``."""
    if src is None:
        expr = sql_literal(default, ddl)
    elif ddl is None:
        expr = sql_ident(src)
    else:
        expr = f"CAST({sql_ident(src)} AS {sql_type(ddl)})"
    return f"{expr} AS {sql_ident(name)}"


@dataclass(frozen=True)
class NestedField:
    """A column with a stable id.

    ``physical_name`` is the name under which values are stored in parquet
    files; it differs from ``name`` only when a dropped column's name is
    later reused (name-collision avoidance without id-aware file formats).
    ``initial_default`` follows the reference's DEFAULT semantics (line
    166-171): rows written *before* the column existed surface the default,
    not NULL.
    """

    id: int
    name: str
    type: str  # DDL string, or 'variant' / 'timestamp_ns'
    nullable: bool = True
    initial_default: Any = None
    write_default: Any = None
    physical_name: str | None = None
    doc: str | None = None  # COMMENT ON COLUMN text

    @property
    def pname(self) -> str:
        return self.physical_name or self.name

    def to_dict(self) -> dict:
        d: dict[str, Any] = {"id": self.id, "name": self.name, "type": self.type}
        if not self.nullable:
            d["nullable"] = False
        if self.initial_default is not None:
            d["initial_default"] = self.initial_default
        if self.write_default is not None:
            d["write_default"] = self.write_default
        if self.physical_name:
            d["physical_name"] = self.physical_name
        if self.doc:
            d["doc"] = self.doc
        return d

    @staticmethod
    def from_dict(d: dict) -> "NestedField":
        return NestedField(
            id=d["id"],
            name=d["name"],
            type=d["type"],
            nullable=d.get("nullable", True),
            initial_default=d.get("initial_default"),
            write_default=d.get("write_default"),
            physical_name=d.get("physical_name"),
            doc=d.get("doc"),
        )


@dataclass(frozen=True)
class TableSchema:
    schema_id: int
    fields: tuple[NestedField, ...]

    def field_by_name(self, name: str) -> NestedField:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(name)

    def has(self, name: str) -> bool:
        return any(f.name == name for f in self.fields)

    @property
    def names(self) -> list[str]:
        return [f.name for f in self.fields]

    def to_struct(self, physical: bool = False) -> T.StructType:
        return T.StructType(
            [
                T.StructField(f.pname if physical else f.name, spark_type(f.type), f.nullable)
                for f in self.fields
            ]
        )

    def to_dict(self) -> dict:
        return {"schema_id": self.schema_id, "fields": [f.to_dict() for f in self.fields]}

    @staticmethod
    def from_dict(d: dict) -> "TableSchema":
        return TableSchema(
            d["schema_id"], tuple(NestedField.from_dict(f) for f in d["fields"])
        )


# ---------------------------------------------------------------------------
# Partition spec
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SpecField:
    field_id: int
    source_id: int  # column id
    transform: str  # spec_string form, e.g. 'year(orderdate)' or 'mktsegment'


@dataclass(frozen=True)
class PartitionSpec:
    spec_id: int
    fields: tuple[SpecField, ...]

    def to_dict(self) -> dict:
        return {
            "spec_id": self.spec_id,
            "fields": [
                {"field_id": f.field_id, "source_id": f.source_id, "transform": f.transform}
                for f in self.fields
            ],
        }

    @staticmethod
    def from_dict(d: dict) -> "PartitionSpec":
        return PartitionSpec(
            d["spec_id"],
            tuple(SpecField(f["field_id"], f["source_id"], f["transform"]) for f in d["fields"]),
        )


# ---------------------------------------------------------------------------
# Files & snapshots
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class DataFile:
    path: str
    spec_id: int
    schema_id: int
    partition: dict[str, Any]  # partition field name -> value
    record_count: int
    file_size_bytes: int
    # column stats keyed by *column id* (as str, json keys are strings):
    # {"4": {"min": ..., "max": ..., "nulls": n}}
    stats: dict[str, dict]
    first_row_id: int
    sequence_number: int
    file_modified_ms: int
    has_lineage: bool = False  # file physically stores _row_id/_last_updated_seq
    #: physical format of the data file — engine writes are always
    #: parquet; adopted foreign Iceberg entries may be ORC (r12).  Scans
    #: route per-group: plain ORC scans use Spark's native reader, while
    #: position-addressed ORC reads (position deletes/DVs, row lineage,
    #: CDC) go through the pyarrow positional stripe scan
    #: (reader._orc_scan_with_positions) because Spark's ORC source has
    #: no _metadata.row_index.
    file_format: str = "parquet"

    def to_dict(self) -> dict:
        return self.__dict__.copy()

    @staticmethod
    def from_dict(d: dict) -> "DataFile":
        return DataFile(**d)


@dataclass(frozen=True)
class DeleteFile:
    """A delete file — position or equality content (Iceberg v2/v3).

    ``content='position'``: parquet columns (file_path string, pos long);
    ``file_path`` values are stored as ``file:`` URIs so the read-path
    anti-join compares directly against Spark's ``_metadata.file_path``.
    ``referenced_files`` (plain paths) lets the reader scope the anti-join
    to affected data files without opening the delete file.

    ``content='equality'``: parquet columns ``k_<id>`` (one per entry of
    ``equality_ids``, id-stable so renames never corrupt the mapping);
    applies to every data file with ``sequence_number`` STRICTLY below this
    file's — which is what lets a streaming upsert commit the delete and
    the replacement rows in ONE snapshot with no read-before-write: the
    new data files share the commit's sequence number and are exempt.
    """

    path: str
    record_count: int
    file_size_bytes: int
    sequence_number: int
    referenced_files: tuple[str, ...] = ()
    content: str = "position"
    equality_ids: tuple[int, ...] = ()
    #: content='dv' only: columnar (file_path, offset, length, count)
    #: parquet locating each data file's blob inside ``path`` (the pack)
    index_path: str | None = None

    def artifact_paths(self) -> tuple[str, ...]:
        """Every on-disk file this entry comprises (expiry/orphan sweeps
        must treat the DV index as referenced, not orphaned)."""
        return (self.path,) if self.index_path is None else (
            self.path, self.index_path,
        )

    def to_dict(self) -> dict:
        d = self.__dict__.copy()
        d["referenced_files"] = list(self.referenced_files)
        d["equality_ids"] = list(self.equality_ids)
        if d.get("index_path") is None:
            d.pop("index_path", None)
        return d

    @staticmethod
    def from_dict(d: dict) -> "DeleteFile":
        d = dict(d)
        d["referenced_files"] = tuple(d.get("referenced_files", ()))
        d["content"] = d.get("content", "position")
        d["equality_ids"] = tuple(d.get("equality_ids", ()))
        d.setdefault("index_path", None)
        return DeleteFile(**d)


@dataclass(frozen=True)
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    sequence_number: int
    timestamp_ms: int
    operation: str  # append | replace | overwrite | delete
    manifest: str  # path relative to table location
    summary: dict[str, Any] = field(default_factory=dict)

    def to_dict(self) -> dict:
        return self.__dict__.copy()

    @staticmethod
    def from_dict(d: dict) -> "Snapshot":
        return Snapshot(**d)


@dataclass
class Manifest:
    """A resolved list of files to scan — what ``reader.snapshot_df`` and
    the pruners take.  Never a snapshot's state: that is always a
    ``manifest_store.LazyManifest``."""

    data_files: list[DataFile]
    delete_files: list[DeleteFile]


# ---------------------------------------------------------------------------
# Table metadata (the vN.metadata.json document)
# ---------------------------------------------------------------------------


@dataclass
class TableMetadata:
    table_uuid: str
    location: str
    properties: dict[str, str]
    schemas: list[TableSchema]
    current_schema_id: int
    specs: list[PartitionSpec]
    default_spec_id: int
    snapshots: list[Snapshot]
    refs: dict[str, int]  # ref name -> snapshot_id
    snapshot_log: list[dict]  # [{snapshot_id, timestamp_ms}] — $history
    metadata_log: list[dict]  # [{file, timestamp_ms, latest_snapshot_id}]
    last_column_id: int
    last_partition_field_id: int
    last_sequence_number: int
    last_snapshot_id: int
    next_row_id: int
    format_version: int = FORMAT_VERSION
    sort_order: list[str] = field(default_factory=list)
    column_stats: dict[str, dict] = field(default_factory=dict)  # ANALYZE output
    #: ref name -> "branch" | "tag"; absent = branch (older metadata files
    #: predate tags, and every pre-tag ref was writable)
    ref_types: dict[str, str] = field(default_factory=dict)
    #: ref name -> {"max_snapshot_age_ms": int, "min_snapshots_to_keep": int}
    #: — per-ref retention consulted by expire_snapshots (Iceberg's
    #: branch-level max-snapshot-age / min-snapshots-to-keep); absent ref =
    #: global behavior (only the head is pinned)
    ref_retention: dict[str, dict] = field(default_factory=dict)
    #: spilled-history archives, CHRONO order (oldest first): each
    #: {"file": rel path, "snapshots": n, "snapshot_log": n,
    #: "metadata_log": n}.  The pointer file keeps only the RECENT tail of
    #: snapshots / snapshot_log / metadata_log inline (see
    #: MetadataIO._maybe_spill_history); older entries live in immutable
    #: side files, loaded lazily by id lookups and the full_* accessors —
    #: commit cost and pointer size stay O(recent), not O(history).
    snapshot_archives: list[dict] = field(default_factory=list)

    def ref_type(self, name: str) -> str:
        return self.ref_types.get(name, "branch")

    # -- spilled-history access --------------------------------------------
    def _archive_doc(self, ref: dict) -> dict:
        cache = getattr(self, "_archive_cache", None)
        if cache is None:
            cache = {}
            object.__setattr__(self, "_archive_cache", cache)
        doc = cache.get(ref["file"])
        if doc is None:
            with open(os.path.join(self.location, ref["file"])) as fh:
                doc = json.load(fh)
            doc["snapshots"] = [Snapshot.from_dict(s) for s in doc["snapshots"]]
            cache[ref["file"]] = doc
        return doc

    def all_snapshots(self) -> list["Snapshot"]:
        """Every snapshot, archived + inline, chronological."""
        if not self.snapshot_archives:
            return list(self.snapshots)
        out: list[Snapshot] = []
        for ref in self.snapshot_archives:
            out.extend(self._archive_doc(ref)["snapshots"])
        out.extend(self.snapshots)
        return out

    def full_snapshot_log(self) -> list[dict]:
        out: list[dict] = []
        for ref in self.snapshot_archives:
            out.extend(self._archive_doc(ref)["snapshot_log"])
        out.extend(self.snapshot_log)
        return out

    def full_metadata_log(self) -> list[dict]:
        out: list[dict] = []
        for ref in self.snapshot_archives:
            out.extend(self._archive_doc(ref)["metadata_log"])
        out.extend(self.metadata_log)
        return out

    def inline_all_history(self) -> None:
        """Materialize every archived entry back inline and detach the
        archives — the rewrite step history-mutating ops (expire) take
        before filtering; the next commit re-spills the survivors and the
        detached archive files become orphan-sweepable."""
        if not self.snapshot_archives:
            return
        self.snapshots = self.all_snapshots()
        self.snapshot_log = self.full_snapshot_log()
        self.metadata_log = self.full_metadata_log()
        self.snapshot_archives = []

    # -- accessors --------------------------------------------------------
    @property
    def schema(self) -> TableSchema:
        return next(s for s in self.schemas if s.schema_id == self.current_schema_id)

    @property
    def spec(self) -> PartitionSpec:
        return next(s for s in self.specs if s.spec_id == self.default_spec_id)

    def spec_by_id(self, spec_id: int) -> PartitionSpec:
        return next(s for s in self.specs if s.spec_id == spec_id)

    def schema_by_id(self, schema_id: int) -> TableSchema:
        return next(s for s in self.schemas if s.schema_id == schema_id)

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        # spilled history: time travel / parent walks into the archived
        # range load the side files lazily (cached per metadata object)
        for ref in reversed(self.snapshot_archives):
            for s in self._archive_doc(ref)["snapshots"]:
                if s.snapshot_id == snapshot_id:
                    return s
        raise KeyError(f"no snapshot {snapshot_id}")

    def current_snapshot_id(self, ref: str = MAIN) -> int | None:
        return self.refs.get(ref)

    def is_ancestor(self, ancestor_id: int, descendant_id: int) -> bool:
        """Walk the parent chain (reference :249 FAST FORWARD precondition)."""
        cur: int | None = descendant_id
        while cur is not None:
            if cur == ancestor_id:
                return True
            parent = self.snapshot_by_id(cur).parent_id
            cur = parent
        return False

    # -- serialization ----------------------------------------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "format_version": self.format_version,
                "table_uuid": self.table_uuid,
                "location": self.location,
                "properties": self.properties,
                "schemas": [s.to_dict() for s in self.schemas],
                "current_schema_id": self.current_schema_id,
                "specs": [s.to_dict() for s in self.specs],
                "default_spec_id": self.default_spec_id,
                "snapshots": [s.to_dict() for s in self.snapshots],
                "refs": self.refs,
                "snapshot_log": self.snapshot_log,
                "metadata_log": self.metadata_log,
                "last_column_id": self.last_column_id,
                "last_partition_field_id": self.last_partition_field_id,
                "last_sequence_number": self.last_sequence_number,
                "last_snapshot_id": self.last_snapshot_id,
                "next_row_id": self.next_row_id,
                "sort_order": self.sort_order,
                "column_stats": self.column_stats,
                "ref_types": self.ref_types,
                "ref_retention": self.ref_retention,
                "snapshot_archives": self.snapshot_archives,
            },
            indent=1,
            default=str,
        )

    @staticmethod
    def from_json(text: str) -> "TableMetadata":
        d = json.loads(text)
        return TableMetadata(
            table_uuid=d["table_uuid"],
            location=d["location"],
            properties=d["properties"],
            schemas=[TableSchema.from_dict(s) for s in d["schemas"]],
            current_schema_id=d["current_schema_id"],
            specs=[PartitionSpec.from_dict(s) for s in d["specs"]],
            default_spec_id=d["default_spec_id"],
            snapshots=[Snapshot.from_dict(s) for s in d["snapshots"]],
            refs={k: int(v) for k, v in d["refs"].items()},
            snapshot_log=d["snapshot_log"],
            metadata_log=d["metadata_log"],
            last_column_id=d["last_column_id"],
            last_partition_field_id=d["last_partition_field_id"],
            last_sequence_number=d["last_sequence_number"],
            last_snapshot_id=d["last_snapshot_id"],
            next_row_id=d["next_row_id"],
            format_version=d.get("format_version", FORMAT_VERSION),
            sort_order=d.get("sort_order", []),
            column_stats=d.get("column_stats", {}),
            ref_types=d.get("ref_types", {}),
            ref_retention=d.get("ref_retention", {}),
            snapshot_archives=d.get("snapshot_archives", []),
        )

    @staticmethod
    def new(location: str, schema: TableSchema, spec: PartitionSpec, properties: dict) -> "TableMetadata":
        return TableMetadata(
            table_uuid=str(uuid.uuid4()),
            location=location,
            properties=dict(properties),
            schemas=[schema],
            current_schema_id=schema.schema_id,
            specs=[spec],
            default_spec_id=spec.spec_id,
            snapshots=[],
            refs={},
            snapshot_log=[],
            metadata_log=[],
            last_column_id=max((f.id for f in schema.fields), default=0),
            last_partition_field_id=max((f.field_id for f in spec.fields), default=999),
            last_sequence_number=0,
            last_snapshot_id=0,
            next_row_id=0,
        )


# ---------------------------------------------------------------------------
# Metadata IO (atomic pointer)
# ---------------------------------------------------------------------------


class CommitConflict(RuntimeError):
    """Another writer committed the metadata version this writer targeted.

    Retryable: re-read the latest metadata, re-validate the change against
    it (no overlapping file removals), re-apply, and commit again —
    ``Table._commit_snapshot`` does exactly that.
    """


class MetadataIO:
    """Reads/writes vN.metadata.json + version-hint.text under <location>/metadata.

    Commit protocol (optimistic CAS, safe under concurrent local writers):
    the next version's metadata file itself is the lock.  Content is
    written to a private temp file, then published with ``os.link`` onto
    ``vN+1.metadata.json`` — link fails with EEXIST if any other writer won
    that version, and the winner's file is never clobbered because link
    refuses to replace.  version-hint.text is a read-optimization only,
    refreshed after the CAS; ``current_version`` treats it as a floor and
    recovers from a crash between CAS and hint update by probing for newer
    versions on disk.  A real multi-writer deployment would CAS the pointer
    in a catalog service; the exclusive-create here is the same protocol
    with the filesystem as the catalog.
    """

    def __init__(self, location: str):
        self.location = location
        self.meta_dir = os.path.join(location, "metadata")

    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, "version-hint.text")

    def current_version(self) -> int:
        try:
            with open(self._hint_path()) as fh:
                v = int(fh.read().strip())
        except FileNotFoundError:
            v = 0
        # hint is advisory: a writer that crashed between the metadata CAS
        # and the hint rename leaves the hint one (or more) behind — probe
        # forward so no committed version is ever invisible
        while os.path.exists(self.metadata_file(v + 1)):
            v += 1
        return v

    def metadata_file(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version}.metadata.json")

    def read(self, version: int | None = None) -> tuple[TableMetadata, int]:
        v = version if version is not None else self.current_version()
        if v == 0:
            raise FileNotFoundError(f"no committed metadata under {self.meta_dir}")
        with open(self.metadata_file(v)) as fh:
            return TableMetadata.from_json(fh.read()), v

    #: inline-history tail the pointer file keeps per list; older entries
    #: spill to immutable snaplog-* side files.  Spill triggers only once
    #: the inline count reaches KEEP + CHUNK (so ~one archive per CHUNK
    #: commits, not one per commit) and spills down to KEEP.
    HISTORY_KEEP = 100
    HISTORY_CHUNK = 100

    def _maybe_spill_history(self, meta: TableMetadata) -> None:
        keep, chunk = self.HISTORY_KEEP, self.HISTORY_CHUNK
        if len(meta.snapshots) < keep + chunk:
            return
        cut = len(meta.snapshots) - keep
        log_cut = max(0, len(meta.snapshot_log) - keep)
        mlog_cut = max(0, len(meta.metadata_log) - keep)
        doc = {
            "snapshots": [s.to_dict() for s in meta.snapshots[:cut]],
            "snapshot_log": meta.snapshot_log[:log_cut],
            "metadata_log": meta.metadata_log[:mlog_cut],
        }
        rel = os.path.join("metadata", f"snaplog-{uuid.uuid4().hex[:12]}.json")
        with open(os.path.join(self.location, rel), "w") as fh:
            json.dump(doc, fh, default=str)
        meta.snapshot_archives = meta.snapshot_archives + [
            {
                "file": rel,
                "snapshots": cut,
                "snapshot_log": log_cut,
                "metadata_log": mlog_cut,
            }
        ]
        meta.snapshots = meta.snapshots[cut:]
        meta.snapshot_log = meta.snapshot_log[log_cut:]
        meta.metadata_log = meta.metadata_log[mlog_cut:]

    def commit(self, meta: TableMetadata, expected_version: int) -> int:
        """Atomically publish the next metadata version; raises
        ``CommitConflict`` if any other writer committed since
        ``expected_version`` was read (optimistic concurrency)."""
        os.makedirs(self.meta_dir, exist_ok=True)
        new_v = expected_version + 1
        mfile = self.metadata_file(new_v)
        saved = (
            meta.snapshots, meta.snapshot_log,
            meta.metadata_log, meta.snapshot_archives,
        )
        meta.metadata_log = meta.metadata_log + [
            {
                "file": os.path.relpath(mfile, self.location),
                "timestamp_ms": now_ms(),
                "latest_snapshot_id": meta.refs.get(MAIN),
            }
        ]
        self._maybe_spill_history(meta)
        tmp = mfile + f".tmp{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(meta.to_json())
        try:
            # the CAS: exclusive create of the version file — exactly one
            # racing writer can succeed, and full content appears atomically
            os.link(tmp, mfile)
        except FileExistsError:
            # restore pre-commit state (a spilled archive file, if any,
            # becomes an orphan the sweep reclaims — same as manifests)
            (meta.snapshots, meta.snapshot_log,
             meta.metadata_log, meta.snapshot_archives) = saved
            raise CommitConflict(
                f"concurrent commit: v{new_v} already exists under {self.meta_dir}"
            ) from None
        finally:
            os.unlink(tmp)
        hint_tmp = self._hint_path() + f".tmp{uuid.uuid4().hex[:8]}"
        with open(hint_tmp, "w") as fh:
            fh.write(str(new_v))
        os.replace(hint_tmp, self._hint_path())
        return new_v

    # -- manifests --------------------------------------------------------
    # A snapshot's manifest file is a small JSON MANIFEST LIST naming
    # immutable parquet entry-SEGMENTS (manifest_store.py).  An append
    # reuses the parent's segments and writes one delta segment — commit
    # cost O(delta); a removal rewrites only the segments its paths live in
    # (found via path prefixes).

    def write_manifest(self, snapshot_id: int, manifest) -> str:
        """Write a snapshot manifest (a ``LazyManifest``) under a UNIQUE path.

        The uuid suffix is load-bearing for optimistic concurrency: two
        writers racing on the same table both pick the same next snapshot
        id, and manifests are written *before* the version-pointer CAS — an
        id-keyed filename would let the losing writer clobber the winner's
        committed manifest (silent data loss on its retry)."""
        os.makedirs(self.meta_dir, exist_ok=True)
        segments = self._maybe_compact(self._apply_delta(manifest))
        rel = os.path.join(
            "metadata", f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}.json"
        )
        doc = {
            "format": 2,
            "segments": [s.to_dict() for s in segments],
            "delete_files": [d.to_dict() for d in manifest.delete_files],
        }
        with open(os.path.join(self.location, rel), "w") as fh:
            json.dump(doc, fh, default=str)
        return rel

    def _apply_delta(self, manifest) -> list:
        """Resolve a LazyManifest's recorded delta into a segment list:
        untouched segments are REUSED (no IO), segments holding removed
        paths are rewritten without them, added entries become one fresh
        segment."""
        from iceberg_trino_sql_demo_spark.sources import manifest_store as ms

        removed = set(manifest.removed)
        removed_dirs = {os.path.dirname(p) for p in removed}
        loose: list = list(manifest.added)
        kept_segments: list = []
        found: set[str] = set()
        for seg in manifest.segments:
            may_hit = bool(removed_dirs & set(seg.prefixes))
            if not may_hit:
                kept_segments.append(seg)
                continue
            tbl = ms.read_segment(self.location, seg)
            paths = tbl.column("path").to_pylist()
            hits = [i for i, p in enumerate(paths) if p in removed]
            if not hits:
                kept_segments.append(seg)
                continue
            found.update(paths[i] for i in hits)
            if len(hits) < len(paths):
                hitset = set(hits)
                keep_idx = [i for i in range(len(paths)) if i not in hitset]
                loose.extend(ms.entries_from_arrow(tbl.take(keep_idx)))
        missing = removed - found
        if missing:
            raise RuntimeError(
                f"manifest delta removes {len(missing)} path(s) absent from "
                f"the base segments, e.g. {sorted(missing)[:3]}"
            )
        if loose:
            kept_segments.append(ms.write_segment(self.location, loose))
        return kept_segments

    def _maybe_compact(self, segments: list) -> list:
        """Fold the small tail of segments together once the list exceeds
        MAX_SEGMENTS — bounds per-query segment opens; the KEEP_LARGEST
        biggest segments are never folded (log-structured amortization)."""
        from iceberg_trino_sql_demo_spark.sources import manifest_store as ms

        if len(segments) <= ms.MAX_SEGMENTS:
            return segments
        by_size = sorted(segments, key=lambda s: s.count, reverse=True)
        keep, fold = by_size[: ms.KEEP_LARGEST], by_size[ms.KEEP_LARGEST :]
        entries: list = []
        for seg in fold:
            entries.extend(
                ms.entries_from_arrow(ms.read_segment(self.location, seg))
            )
        return keep + [ms.write_segment(self.location, entries)]

    def read_manifest(self, snapshot: Snapshot):
        """A snapshot's live-file state as a ``LazyManifest``.  A format-1
        manifest (full-state JSON, written before the segment store) loads
        as zero segments with every entry held as ``added``; the first
        commit on top of it writes them out as a format-2 segment."""
        from iceberg_trino_sql_demo_spark.sources import manifest_store as ms

        with open(os.path.join(self.location, snapshot.manifest)) as fh:
            d = json.load(fh)
        return ms.LazyManifest(
            self.location,
            [ms.SegmentRef.from_dict(s) for s in d.get("segments", ())],
            [DeleteFile.from_dict(x) for x in d["delete_files"]],
            added=[DataFile.from_dict(f) for f in d.get("data_files", ())],
        )

    def manifest_artifacts(self, snapshot: Snapshot) -> list[str]:
        """Relative paths of every metadata artifact a snapshot's manifest
        comprises (the list file + its segments).  Segments are SHARED
        across snapshots — expire_snapshots must refcount these against the
        kept set before unlinking any."""
        out = [snapshot.manifest]
        try:
            with open(os.path.join(self.location, snapshot.manifest)) as fh:
                d = json.load(fh)
        except FileNotFoundError:
            return out
        out.extend(s["path"] for s in d.get("segments", []))
        return out
