"""The versioned Table — the engine's core abstraction (SURVEY.md §1.1).

Re-expresses the reference's Iceberg-table surface
(/root/reference/iceberg_trino_sqldemo.sql) Spark-first:

====================  =====================================  ==============
reference             statement                              method here
====================  =====================================  ==============
:11,:13,:19-40        CREATE OR REPLACE TABLE ... AS SELECT  Table.ctas
:103-106 etc.         INSERT INTO ... VALUES                 insert
:129,:241             UPDATE ... SET ... WHERE               update
:137,:228,:240        DELETE FROM ... WHERE                  delete
:146-157              MERGE INTO ... USING                   merge
:166,:175,:185        ALTER TABLE ADD COLUMN [DEFAULT]       add_column
:181                  ALTER TABLE DROP COLUMN                drop_column
:193,:201             SET PROPERTIES partitioning            set_partitioning
:216,:243             FOR VERSION AS OF                      df(version=/ref=)
:218                  rollback_to_snapshot                   rollback_to_snapshot
:234-236              CREATE/DROP/SHOW BRANCH                create_branch...
:249                  FAST FORWARD                           fast_forward
:114-125              system.table_changes                   table_changes
:260,:261             expire_snapshots / remove_orphan_files expire_snapshots...
:263,:267             optimize [WHERE]                       optimize
:42                   SHOW CREATE TABLE                      show_create
:48,:49               ANALYZE / SHOW STATS                   analyze / show_stats
:74-82                "t$snapshots" etc.                     meta_df(kind)
====================  =====================================  ==============

All relational work (the scan, the DML rewrite jobs, the anti-joins) is
Catalyst; this class only plans file sets and commits metadata.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import Any, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_trino_sql_demo_spark.functions.trino import parse_ns_timestamp
from iceberg_trino_sql_demo_spark.plans.predicates import parse_simple_predicates
from iceberg_trino_sql_demo_spark.plans.pruning import Predicate
from iceberg_trino_sql_demo_spark.sources.manifest_store import LazyManifest
from iceberg_trino_sql_demo_spark.sources.metadata import (
    MAIN,
    CommitConflict,
    DataFile,
    DeleteFile,
    Manifest,
    MetadataIO,
    NestedField,
    PartitionSpec,
    Snapshot,
    SpecField,
    TableMetadata,
    TableSchema,
    column_sql,
    now_ms,
    spark_type,
    sql_ident,
)
from iceberg_trino_sql_demo_spark.sources.reader import (
    LAST_SEQ,
    ROW_ID,
    _to_uri,
    read_position_deletes,
    rows_at_positions,
    rows_matching_equality,
    snapshot_df,
)
from iceberg_trino_sql_demo_spark.sources.transforms import parse_transform
from iceberg_trino_sql_demo_spark.sources.writer import (
    harvest_files,
    spec_transforms,
    write_data_files,
)

COPY_ON_WRITE = "copy-on-write"
MERGE_ON_READ = "merge-on-read"

#: file-count gate for routing unpruned scans through the manifest-segment
#: DataSource plan instead of spark.read.parquet(*paths).  Below it, the
#: JVM path costs little (~134 µs/path of Py4J conversion + listing) and
#: the JVM vectorized parquet reader is the faster executor; above it the
#: O(files) driver-side handoff dominates (measured 49 s at 200k files,
#: ~4 minutes at 1M — SCALING.md "End-to-end read path").
_PYDS_SCAN_FILES = 10_000

#: minimum age before remove_orphan_files may sweep a pruned-scan
#: survivor side file (metadata/scan-*.parquet): lazy pruned-scan plans
#: re-read their side file per action, so plan scratch must outlive any
#: reasonable in-flight plan even under retention_ms=0 maintenance
_SCAN_SCRATCH_MIN_AGE_S = 3600

#: the BYTES half of the scan-route decision (VERDICT r8 #2): the Python
#: DataSource reader executes via pyarrow in Python workers with no column
#: pruning, so on bytes-heavy tables it pays a per-byte throughput penalty
#: vs the JVM vectorized reader.  Measured on this box
#: (scripts/reader_throughput.py, 16 x ~68 MB files / 1.08 GB, narrow SUM
#: shape — the JVM's best case): jvm 2719 MB/s vs pyds 683 MB/s -> penalty
#: (1/T_pyds - 1/T_jvm) = 1.10e-9 s/byte (wide shape: 886 vs 477 ->
#: 0.97e-9, same band).  The JVM plan's launch cost is
#: ~1.9e-4 s/file (19.3 s at 100k files, same SCALING.md table).  Route
#: pyds iff files * _JVM_PER_FILE_S > bytes * _PYDS_BYTE_PENALTY, i.e. the
#: launch savings beat the worst-case throughput loss.  At 100 MB/file the
#: break-even is ~580 files' launch per GB — a 10k x 100 MB table (1 TB)
#: routes JVM, a 10k x 4 MB table routes pyds, exactly the intent.
_PYDS_BYTE_PENALTY = 1.1e-9
_JVM_PER_FILE_S = 1.9e-4


def _struct_to_fields(struct: T.StructType, start_id: int = 1) -> tuple[NestedField, ...]:
    out = []
    for i, f in enumerate(struct.fields):
        ddl = f.dataType.simpleString()
        out.append(NestedField(id=start_id + i, name=f.name, type=ddl, nullable=True))
    return tuple(out)


def _spec_from_partitioning(
    partitioning: Iterable[str], schema: TableSchema, spec_id: int, first_field_id: int
) -> PartitionSpec:
    fields = []
    for i, s in enumerate(partitioning):
        t = parse_transform(s)
        src = schema.field_by_name(t.source)
        fields.append(SpecField(field_id=first_field_id + i, source_id=src.id, transform=s))
    return PartitionSpec(spec_id=spec_id, fields=tuple(fields))


def _surviving_deletes(
    manifest: LazyManifest, removed_paths: set[str]
) -> list[DeleteFile]:
    """The delete files still needed once ``removed_paths`` leave
    ``manifest``.  Equality deletes always stay: they apply table-wide to
    every older file.  A position or DV delete stays while one of the data
    files it references is live afterwards, or when it records none.  One
    whose every target is gone, removed by this commit or an earlier one,
    is inert and dropped."""
    refs = {
        p for d in manifest.delete_files
        if d.content != "equality" for p in d.referenced_files
    }
    live = manifest.live_among(refs - removed_paths)
    return [
        d for d in manifest.delete_files
        if d.content == "equality"
        or not d.referenced_files
        or not live.isdisjoint(d.referenced_files)
    ]


class Table:
    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.location = location
        self.io = MetadataIO(location)
        self.meta, self.version = self.io.read()

    # ------------------------------------------------------------------
    # creation
    # ------------------------------------------------------------------
    @staticmethod
    def create(
        spark: SparkSession,
        location: str,
        columns: list[tuple[str, str]],
        partitioning: Iterable[str] = (),
        properties: dict | None = None,
        sort_order: list[str] | None = None,
    ) -> "Table":
        """CREATE TABLE with explicit columns [(name, ddl_type), ...]."""
        schema = TableSchema(
            schema_id=1,
            fields=tuple(
                NestedField(id=i + 1, name=n, type=t) for i, (n, t) in enumerate(columns)
            ),
        )
        spec = _spec_from_partitioning(partitioning, schema, spec_id=1, first_field_id=1000)
        props = {"format": "parquet", "format_version": "3", "merge_mode": MERGE_ON_READ}
        props.update({k: str(v) for k, v in (properties or {}).items()})
        meta = TableMetadata.new(location, schema, spec, props)
        meta.sort_order = list(sort_order or [])
        io = MetadataIO(location)
        io.commit(meta, 0)
        return Table(spark, location)

    @staticmethod
    def ctas(
        spark: SparkSession,
        location: str,
        df: DataFrame,
        partitioning: Iterable[str] = (),
        properties: dict | None = None,
        sort_order: list[str] | None = None,
    ) -> "Table":
        """CREATE OR REPLACE TABLE ... AS SELECT (reference :11/:13/:19-40).

        REPLACE keeps snapshot history (D4): the new state is committed as a
        ``replace`` snapshot on top of the existing chain.
        """
        io = MetadataIO(location)
        exists = io.current_version() > 0
        if not exists:
            t = Table.create(
                spark,
                location,
                [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
                partitioning,
                properties,
                sort_order,
            )
            t._append_files(df, operation="append", ref=MAIN)
            return t
        # replace: new schema version + new spec, history retained
        t = Table(spark, location)
        m = t.meta
        new_schema = TableSchema(
            schema_id=max(s.schema_id for s in m.schemas) + 1,
            fields=_struct_to_fields(df.schema, start_id=m.last_column_id + 1),
        )
        m.schemas.append(new_schema)
        m.current_schema_id = new_schema.schema_id
        m.last_column_id = max(f.id for f in new_schema.fields)
        new_spec = _spec_from_partitioning(
            partitioning, new_schema, max(s.spec_id for s in m.specs) + 1,
            m.last_partition_field_id + 1,
        )
        m.specs.append(new_spec)
        m.default_spec_id = new_spec.spec_id
        m.last_partition_field_id = max(
            (f.field_id for f in new_spec.fields), default=m.last_partition_field_id
        )
        if properties:
            m.properties.update({k: str(v) for k, v in properties.items()})
        m.sort_order = list(sort_order or [])
        t._append_files(
            df, operation="replace", ref=MAIN,
            base_manifest=LazyManifest(t.location, [], []),
        )
        return t

    # ------------------------------------------------------------------
    # snapshot resolution + reads
    # ------------------------------------------------------------------
    def refresh(self) -> "Table":
        self.meta, self.version = self.io.read()
        return self

    def _resolve(
        self,
        ref: str = MAIN,
        version: int | None = None,
        as_of_ms: int | None = None,
    ) -> Snapshot | None:
        if version is not None:
            return self.meta.snapshot_by_id(int(version))
        sid = self.meta.refs.get(ref)
        snap = None if sid is None else self.meta.snapshot_by_id(sid)
        if as_of_ms is not None:
            # FOR TIMESTAMP AS OF: newest ancestor committed at or before
            # the instant — a parent-chain walk over manifest metadata only
            while snap is not None and snap.timestamp_ms > as_of_ms:
                snap = (
                    None
                    if snap.parent_id is None
                    else self.meta.snapshot_by_id(snap.parent_id)
                )
            if snap is None:
                raise ValueError(
                    f"no snapshot on ref {ref!r} at or before {as_of_ms} ms"
                )
        return snap

    def _manifest(self, snap: Snapshot | None) -> LazyManifest:
        if snap is None:
            return LazyManifest(self.location, [], [])
        return self.io.read_manifest(snap)

    def df(
        self,
        ref: str = MAIN,
        version: int | None = None,
        hidden: bool = False,
        where: str | None = None,
        as_of_ms: int | None = None,
        prune_predicates: list | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Read a snapshot (P1/P9/P10).  ``where`` (Spark SQL expression
        text) is applied as a filter AND used for engine-side manifest
        pruning when it parses into simple predicates.  ``as_of_ms``
        implements FOR TIMESTAMP AS OF (newest snapshot at or before).

        ``prune_predicates`` (pre-parsed ``plans.pruning.Predicate`` list)
        prunes the manifest WITHOUT adding a row filter — the caller
        guarantees an equivalent filter runs downstream.  This is how the
        SQL frontend hands a statement's WHERE to the manifest pruner while
        the statement's own WHERE still executes in Catalyst (pruning stays
        correctness-neutral either way: conservative keep-on-unknown).

        ``columns`` declares the caller's projection.  The Python
        DataSource API has no column-pruning hook, so the segment-scan
        route would otherwise decode EVERY column for a narrow read (the
        measured 4x narrow-scan gap vs the JVM reader, SCALING.md
        "Reader throughput"); declared columns reach the Arrow reader and
        the rest are never decoded.  The scan keeps ``columns`` plus any
        identifier ``where`` mentions (a conservative superset — the
        filter must evaluate), then projects down.  Catalyst routes get a
        plain ``.select`` (the JVM parquet reader prunes natively)."""
        snap = self._resolve(ref, version, as_of_ms)
        manifest = self._manifest(snap)
        preds = parse_simple_predicates(where) if where else []
        if prune_predicates:
            preds = [*preds, *prune_predicates]
        scan_cols: list[str] | None = None
        if columns:
            want = set(columns)
            if where:
                # case-insensitive: Spark SQL resolves columns that way,
                # so a WHERE naming a column in different case must still
                # keep it in the scan (review r10)
                toks = {w.lower()
                        for w in re.findall(r"[A-Za-z_]\w*", where)}
                want |= {f.name for f in self.meta.schema.fields
                         if f.name.lower() in toks}
            scan_cols = [f.name for f in self.meta.schema.fields
                         if f.name in want]
            missing = want - set(scan_cols)
            if missing:
                raise ValueError(
                    f"df(columns=...): {sorted(missing)} not in the "
                    "current schema")
        out: DataFrame | None = None
        if preds:
            manifest = self.prune(manifest, preds)
            if not hidden:
                # LARGE survivor sets take the DataSource plan too: the
                # survivor list rides ONE parquet side file instead of an
                # O(survivors) Py4J path handoff + JVM listing
                out = self._pruned_scan_df(manifest, scan_cols)
        elif (
            not hidden
            and snap is not None
            and manifest.counts()[0] >= _PYDS_SCAN_FILES
            and self._pyds_bytes_ok(
                manifest.counts()[0], manifest.total_bytes(),
                scan_cols,
            )
            and self._segment_scan_safe(manifest)
        ):
            # LARGE unpruned scan: plan from manifest segments via the
            # ice_table DataSource — no per-file Python objects, no
            # O(files) Py4J path handoff, no JVM file listing (sizes
            # come from the manifest).  Measured: ~245 s saved at 10^6
            # files (SCALING.md "End-to-end read path").
            out = self._segment_scan_df(snap, manifest, scan_cols)
        else:
            # unpruned scan: lean materialization (no stats/partition
            # json parsing — see manifest_store.scan_files) unless the
            # hidden $partition column needs the full tuples
            manifest = Manifest(
                manifest.scan_files(hidden=hidden), manifest.delete_files
            )
        if out is None:
            out = snapshot_df(self.spark, self.meta, manifest, hidden=hidden)
        if where:
            out = out.where(F.expr(where))
        if preds:
            out = self._stats_broadcast_hint(out, manifest, preds)
        if columns:
            out = out.selectExpr(*map(sql_ident, columns))
        return out

    def _segment_scan_safe(self, manifest) -> bool:
        """Is the manifest-segment DataSource plan EXACTLY equivalent to
        the snapshot_df plan for this state?  Schema evolution and
        position deletes / deletion vectors are handled on the route
        itself now (per-partition column-id projection specs; anti-join
        above the scan), so the only disqualifiers are equality deletes
        (their strictly-older-sequence semantics stay on snapshot_df) and
        schemas whose projection to current needs a type outside the
        Arrow reader (variant / ns-timestamps).  Pure metadata checks —
        no segment reads (r8 re-read every segment's schema_id column per
        planned query; the projection specs made that check obsolete)."""
        if any(d.content == "equality" for d in manifest.delete_files):
            return False
        return self._pyds_schemas_safe()

    def _pyds_bytes_ok(self, n_files: int, total_bytes: int | None,
                       scan_cols: list[str] | None = None) -> bool:
        """Bytes half of the route decision: take the DataSource plan only
        while the O(files) JVM launch cost it saves exceeds the Python
        reader's worst-case per-byte throughput penalty (both measured —
        see _PYDS_BYTE_PENALTY above).  Unknown bytes (segments predating
        the bytes field) keep the count-only decision.

        A declared projection (``scan_cols``) scales the byte estimate by
        the column fraction — the Arrow reader decodes only those columns
        now, so a 2-of-16-column scan of a wide table pays ~1/8 of the
        worst-case penalty and the route flips back to pyds exactly where
        the narrow-read measurements say it should."""
        if total_bytes is None:
            return True
        if scan_cols:
            n_all = max(1, len(self.meta.schema.fields))
            total_bytes = int(total_bytes * min(1.0, len(scan_cols) / n_all))
        return n_files * _JVM_PER_FILE_S > total_bytes * _PYDS_BYTE_PENALTY

    def _pyds_schemas_safe(self) -> bool:
        """Every (historical schema -> current) projection expressible in
        the Arrow-side reader — O(schemas x fields) on inline metadata.

        The CURRENT schema's types must each be Arrow/DDL-expressible
        independently of evolution: a never-evolved table whose columns
        include variant/timestamp_ns yields an all-'take' projection spec
        (proj_spec never consults the type map for takes), but the
        DataSource cannot emit those types in its Spark schema — the
        engine-side dual representations live on the Catalyst read path
        (review r9 finding: the old per-entry guard rejected these;
        the spec-based gate must too).  Only these engine-only types
        disqualify — ordinary types absent from the picklable cast map
        (timestamp_ntz, ...) read natively as takes."""
        from iceberg_trino_sql_demo_spark.sources.pyds import proj_spec

        cur = self.meta.schema
        if any(f.type in ("variant", "timestamp_ns") for f in cur.fields):
            return False
        return all(proj_spec(s, cur) is not None for s in self.meta.schemas)

    def _pruned_scan_df(self, manifest: Manifest,
                        scan_cols: list[str] | None = None
                        ) -> DataFrame | None:
        """DataSource plan for a PRUNED survivor set, or None when the
        JVM path is right (small set — its Py4J/listing cost is trivial
        and the JVM vectorized reader is the faster executor) or the
        state needs snapshot_df (equality deletes, exotic types).  The
        survivor (path, size, schema_id) list is written to one side
        parquet; executors byte-pack their own task chunks from it.

        The side file lives in the table's OWN metadata dir
        (``metadata/scan-*.parquet``), not the OS tmp dir: the returned
        DataFrame is lazy and re-executable, so the file must outlive
        this call — a tmp-dir file leaks per scan (unbounded for a
        resident session) and dies under external /tmp cleaning.  Here
        the routine orphan sweep reclaims it once past retention
        (remove_orphan_files treats scan-* as never-live metadata)."""
        import uuid

        if len(manifest.data_files) < _PYDS_SCAN_FILES:
            return None
        if not self._pyds_bytes_ok(
            len(manifest.data_files),
            sum(f.file_size_bytes for f in manifest.data_files),
            scan_cols,
        ):
            return None
        if not self._segment_scan_safe(manifest):
            return None
        import pyarrow as pa
        import pyarrow.parquet as pq

        from iceberg_trino_sql_demo_spark.sources.pyds import (
            FORMAT_NAME,
            IceTableDataSource,
        )

        emit_pos = bool(manifest.delete_files)
        meta_dir = os.path.join(self.location, "metadata")
        os.makedirs(meta_dir, exist_ok=True)
        tmp = os.path.join(meta_dir, f"scan-{uuid.uuid4().hex}.parquet")
        pq.write_table(
            pa.table(
                {
                    "path": pa.array(
                        [f.path for f in manifest.data_files], pa.string()
                    ),
                    "file_size_bytes": pa.array(
                        [f.file_size_bytes for f in manifest.data_files],
                        pa.int64(),
                    ),
                    "schema_id": pa.array(
                        [f.schema_id for f in manifest.data_files], pa.int32()
                    ),
                }
            ),
            tmp,
        )
        self.spark.dataSource.register(IceTableDataSource)  # idempotent
        reader = (
            self.spark.read.format(FORMAT_NAME)
            .option("path", self.location)
            .option("plan", "segments")
            .option("paths_file", tmp)
            .option("emit_pos", "true" if emit_pos else "false")
        )
        if scan_cols:
            reader = reader.option("columns", json.dumps(scan_cols))
        out = reader.load()
        if emit_pos:
            out = self._apply_pos_deletes(out, manifest)
        return out

    def _segment_scan_df(self, snap: Snapshot, manifest,
                         scan_cols: list[str] | None = None) -> DataFrame:
        from iceberg_trino_sql_demo_spark.sources.pyds import (
            FORMAT_NAME,
            IceTableDataSource,
        )

        emit_pos = bool(manifest.delete_files)
        self.spark.dataSource.register(IceTableDataSource)  # idempotent
        reader = (
            self.spark.read.format(FORMAT_NAME)
            .option("path", self.location)
            .option("plan", "segments")
            .option("snapshot_id", snap.snapshot_id)
            .option("emit_pos", "true" if emit_pos else "false")
        )
        if scan_cols:
            reader = reader.option("columns", json.dumps(scan_cols))
        out = reader.load()
        if emit_pos:
            out = self._apply_pos_deletes(out, manifest)
        return out

    def _apply_pos_deletes(self, df: DataFrame, manifest) -> DataFrame:
        """Anti-join the position-delete / deletion-vector set above a
        segment DataSource scan (the reader emitted per-row __sg_file /
        __sg_pos).  Globally correct without per-file grouping: tombstones
        name (file, pos) pairs, so rows of unreferenced files never match.
        The delete side broadcasts only while the MANIFEST proves it small
        (same gate as the snapshot_df MoR join)."""
        from iceberg_trino_sql_demo_spark.sources.pyds import (
            POS_FILE_COL,
            POS_POS_COL,
        )
        from iceberg_trino_sql_demo_spark.sources.reader import (
            _hint_deletes,
            read_position_deletes,
        )

        dels = read_position_deletes(self.spark, manifest)
        n_del = sum(
            d.record_count
            for d in manifest.delete_files
            if d.content in ("position", "dv")
        )
        df = df.join(
            _hint_deletes(dels, n_del),
            (df[POS_FILE_COL] == dels["__del_file"])
            & (df[POS_POS_COL] == dels["__del_pos"]),
            "left_anti",
        )
        return df.drop(POS_FILE_COL, POS_POS_COL)

    #: broadcast budget for the stats-estimated post-filter size, with a
    #: 10x skew headroom applied by the caller — parquet bytes are
    #: compressed and NDV-uniformity can be off, so only estimates that
    #: stay under budget even at 10x qualify
    _STATS_BHJ_BYTES = 8 * 1024 * 1024

    def _stats_broadcast_hint(self, df: DataFrame, pruned: Manifest, preds: list):
        """Feed engine ANALYZE stats to Catalyst (VERDICT r5 #8).

        Spark estimates a parquet scan's size from FILE bytes; without
        catalog column stats it cannot see that an equality/IN filter
        keeps ~rows/NDV of them, so a selectively-filtered fact side of a
        join stays sort-merge when it should broadcast (with AQE off, or
        before the first shuffle materializes).  The engine DOES know:
        ANALYZE persists per-column NDV (`meta.column_stats`), the pruned
        manifest gives exact surviving row/byte counts.  Estimate
        rows-after-filter multiplicatively over equality/IN conjuncts and
        attach a broadcast hint only when even a 10x-skewed estimate fits
        the budget — the same measured-size gate as the shingle join, so
        a wrong uniformity assumption degrades to at most a 10x-under-
        budget broadcast, never an OOM."""
        st = self.meta.column_stats or {}
        total = st.get("row_count")
        if not total:
            return df  # never ANALYZEd: no selectivity knowledge
        rows = sum(f.record_count for f in pruned.data_files)
        bytes_ = sum(f.file_size_bytes for f in pruned.data_files)
        if rows == 0:
            return df
        sel, saw_eq = 1.0, False
        for p in preds:
            cs = st.get(p.column) if isinstance(st.get(p.column), dict) else None
            ndv = (cs or {}).get("ndv") or 0
            if ndv <= 0:
                continue
            if p.op == "=":
                sel *= 1.0 / ndv
                saw_eq = True
            elif p.op == "in" and isinstance(p.value, (list, tuple)):
                sel *= min(1.0, len(p.value) / ndv)
                saw_eq = True
        if not saw_eq:
            return df
        est_bytes = rows * sel * (bytes_ / max(rows, 1))
        if est_bytes * 10 <= self._STATS_BHJ_BYTES:
            return df.hint("broadcast")
        return df

    def prune(self, manifest: LazyManifest, predicates: list) -> Manifest:
        """Manifest entries that may contain rows matching ALL predicates
        (conservative; plans/pruning.py semantics), via the three-stage
        path (summary skip -> vectorized stats mask -> exact per-file
        check on survivors) that never materializes non-candidate
        entries."""
        return Manifest(
            manifest.pruned(self.meta, predicates, self.spark),
            manifest.delete_files,
        )

    def append_entries(self, entries: list[DataFile], ref: str = MAIN) -> Snapshot:
        """Commit already-written data files as an append — the metadata
        half of every insert (and the streaming-ingest hot path): O(delta)
        regardless of table size."""
        base = self._manifest(self._resolve(ref))
        return self._commit_snapshot(
            base.with_delta(added=list(entries)),
            "append",
            ref,
            summary={"added-data-files": len(entries)},
        )

    # ------------------------------------------------------------------
    # commit plumbing
    # ------------------------------------------------------------------
    def _next_ids(self) -> tuple[int, int]:
        return self.meta.last_snapshot_id + 1, self.meta.last_sequence_number + 1

    #: optimistic-concurrency retry budget for snapshot commits — each retry
    #: is metadata-only work (the data files are already written), so a
    #: generous budget costs nothing when uncontended
    COMMIT_RETRIES = 12

    def _commit_snapshot(
        self,
        manifest: LazyManifest,
        operation: str,
        ref: str,
        summary: dict | None = None,
        parent: int | None = None,
        rebase: bool = True,
    ) -> Snapshot:
        """Commit ``manifest`` as a new snapshot on ``ref`` with optimistic
        concurrency (SURVEY.md §7 hard parts; Iceberg's atomic-swap protocol
        that underlies every DML in the reference script, :103-157).

        On a version conflict the commit is REBASED: re-read the latest
        metadata, re-validate that no concurrent commit removed a file this
        operation also removes (overlapping rewrites are not safely
        mergeable — raise), then re-apply this commit's file delta (added /
        removed data and delete files, computed against the ref head the
        caller planned from) on top of the new head and retry, up to
        COMMIT_RETRIES times.  Disjoint concurrent writers (two appends,
        an append + a delete of other files) all land; semantics are
        snapshot isolation — a row-level op does not see rows appended
        after its planning read, exactly like Iceberg's snapshot-isolation
        mode.  ``rebase=False`` (CTAS REPLACE, which also swaps schema and
        spec) fails fast on conflict instead."""
        if self.meta.ref_type(ref) == "tag":
            raise ValueError(
                f"ref {ref!r} is a tag; tags are immutable — target a branch"
            )
        base = self._manifest(self._resolve(ref))
        base_del_paths = {d.path for d in base.delete_files}
        new_dels = {d.path for d in manifest.delete_files}
        added_dels = [d for d in manifest.delete_files if d.path not in base_del_paths]
        removed_dels = base_del_paths - new_dels
        # the delta was RECORDED by the planner (with_delta) — no base
        # materialization, no path-set diff: this is what makes an
        # append O(delta) regardless of how many files the table holds.
        # A format-1 base holds its live entries as ``added``: those are
        # state, not delta, and must not be re-applied on a rebase.
        held = {f.path for f in base.added}
        added_data = [f for f in manifest.added if f.path not in held]
        kept = {f.path for f in manifest.added}
        removed_records = dict(manifest.removed)
        removed_records.update(
            (f.path, f.record_count) for f in base.added if f.path not in kept
        )
        removed_data = set(removed_records)
        last_err: CommitConflict | None = None
        for attempt in range(self.COMMIT_RETRIES):
            if attempt:
                # jittered exponential backoff before re-racing the CAS —
                # without it, N writers in tight commit loops re-collide
                # in lockstep and a loser can exhaust any fixed retry
                # budget (measured: 4 racing one-file appenders blew
                # through 8 bare retries).  Iceberg's commit retry backs
                # off the same way.
                import random as _random

                time.sleep(
                    min(0.2, 0.002 * (2 ** attempt)) * (0.5 + _random.random())
                )
            try:
                return self._try_commit_snapshot(manifest, operation, ref, summary, parent)
            except CommitConflict as e:
                last_err = e
                # the failed attempt mutated self.meta — refresh discards it
                # and loads the winning writer's state in one step
                self.refresh()
                if not rebase:
                    raise
                latest = self._manifest(self._resolve(ref))
                live_dels = {d.path for d in latest.delete_files}
                # the live data-path set costs O(total files) to build —
                # only pay it when a check actually consumes it.  A pure
                # append (removed/added delete sets empty) needs NONE of
                # the file-overlap checks, which is what keeps contended
                # append throughput independent of table size.
                live_data: set[str] | None = None
                if removed_data or removed_dels or added_dels:
                    live_data = latest.data_paths()
                if live_data is not None and not (
                    removed_data <= live_data and removed_dels <= live_dels
                ):
                    raise CommitConflict(
                        f"cannot rebase {operation} on {ref!r}: a concurrent "
                        "commit removed file(s) this operation also rewrites"
                    ) from e
                # delete-file / data-file cross-dependencies (a file-set
                # delta alone is NOT enough to merge safely):
                # (a) a concurrent MoR delete referencing a data file this
                #     op REWRITES — our replacement files were built from a
                #     read that never saw that delete, so rebasing would
                #     resurrect the deleted rows;
                # (b) a delete file this op ADDS referencing a data file
                #     the concurrent commit removed — the delete would land
                #     dangling (reports deleted-records, deletes nothing).
                foreign_dels = [
                    d for d in latest.delete_files
                    if d.path not in {d2.path for d2 in base.delete_files}
                ]
                if any(
                    p in removed_data
                    for d in foreign_dels
                    for p in d.referenced_files
                ):
                    raise CommitConflict(
                        f"cannot rebase {operation} on {ref!r}: a concurrent "
                        "delete references data file(s) this operation "
                        "rewrites (rewriting would drop the deleted rows)"
                    ) from e
                live_after = (
                    ((live_data or set()) - removed_data)
                    | {f.path for f in added_data}
                    if added_dels
                    else set()
                )
                if any(
                    p not in live_after
                    for d in added_dels
                    for p in d.referenced_files
                ):
                    raise CommitConflict(
                        f"cannot rebase {operation} on {ref!r}: this delete "
                        "references data file(s) a concurrent commit "
                        "removed (the delete would apply to nothing)"
                    ) from e
                new_del_list = [
                    d for d in latest.delete_files if d.path not in removed_dels
                ] + added_dels
                manifest = LazyManifest(
                    latest.location,
                    latest.segments,
                    new_del_list,
                    added=latest.added + added_data,
                    removed=removed_records,
                )
        raise last_err  # type: ignore[misc]

    def _try_commit_snapshot(
        self,
        manifest: LazyManifest,
        operation: str,
        ref: str,
        summary: dict | None = None,
        parent: int | None = None,
    ) -> Snapshot:
        m = self.meta
        sid, seq = self._next_ids()
        # assign row-lineage ranges to fresh files (first_row_id == -1);
        # with a recorded delta only the ADDED entries can be fresh, so the
        # fix never walks the table's full file list
        next_row = m.next_row_id

        def _fix(files: list[DataFile]) -> list[DataFile]:
            nonlocal next_row
            out = []
            for f in files:
                if f.first_row_id == -1:
                    f = DataFile(**{**f.to_dict(), "first_row_id": next_row})
                    next_row += f.record_count
                out.append(f)
            return out

        manifest = LazyManifest(
            manifest.location,
            manifest.segments,
            manifest.delete_files,
            added=_fix(manifest.added),
            removed=manifest.removed,
        )
        n_files, n_records = manifest.counts()
        rel = self.io.write_manifest(sid, manifest)
        snap = Snapshot(
            snapshot_id=sid,
            parent_id=parent if parent is not None else m.refs.get(ref),
            sequence_number=seq,
            timestamp_ms=now_ms(),
            operation=operation,
            manifest=rel,
            summary={
                "total-data-files": n_files,
                "total-delete-files": len(manifest.delete_files),
                "total-records": n_records,
                "schema-id": m.current_schema_id,
                **(summary or {}),
            },
        )
        m.snapshots.append(snap)
        m.last_snapshot_id = sid
        m.last_sequence_number = seq
        m.next_row_id = next_row
        m.refs[ref] = sid
        if ref == MAIN:
            m.snapshot_log.append({"snapshot_id": sid, "timestamp_ms": snap.timestamp_ms})
        self.version = self.io.commit(m, self.version)
        return snap

    def _commit_metadata_only(self) -> None:
        self.version = self.io.commit(self.meta, self.version)

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------
    @property
    def merge_mode(self) -> str:
        return self.meta.properties.get("merge_mode", MERGE_ON_READ)

    def _enrich_blooms(self, new_files: list["DataFile"]) -> None:
        """Attach per-file bloom filters (stats[cid]['bloom']) for the
        columns named in the ``bloom_filter_columns`` table property —
        point-lookup file skipping for high-cardinality unclustered
        columns (Iceberg's write.parquet.bloom-filter-enabled analog;
        sources/bloom.py).  One narrow Spark job per commit; no-op when
        the property is unset.  Loud on non-int/string columns: a bloom
        whose canonical form diverges between build (JVM) and probe
        (Python) would wrongly prune files."""
        from iceberg_trino_sql_demo_spark.sources.bloom import (
            _BLOOMABLE_TYPES,
            build_file_blooms,
        )

        prop = self.meta.properties.get("bloom_filter_columns")
        if not prop or not new_files:
            return
        cols: list[tuple[str, str]] = []
        for name in [c.strip() for c in prop.split(",") if c.strip()]:
            fld = self.meta.schema.field_by_name(name)
            if fld.type not in _BLOOMABLE_TYPES:
                raise ValueError(
                    f"bloom_filter_columns: {name!r} has type {fld.type!r}; "
                    "only integer/string columns have an engine-stable "
                    "canonical form"
                )
            cols.append((str(fld.id), fld.pname))
        blooms = build_file_blooms(
            self.spark, [f.path for f in new_files], cols
        )
        for f in new_files:
            for cid, hexbits in blooms.get(f.path, {}).items():
                f.stats.setdefault(cid, {})["bloom"] = hexbits

    def _append_files(
        self,
        df: DataFrame,
        operation: str,
        ref: str,
        base_manifest: LazyManifest | None = None,
        summary: dict | None = None,
    ) -> Snapshot:
        m = self.meta
        base = (
            base_manifest
            if base_manifest is not None
            else self._manifest(self._resolve(ref))
        )
        new_files = write_data_files(
            df, self.location, m.schema, m.spec, m.last_sequence_number + 1, m.sort_order or None
        )
        self._enrich_blooms(new_files)
        summary = {"added-data-files": len(new_files),
                   "added-records": sum(f.record_count for f in new_files), **(summary or {})}
        manifest = base.with_delta(added=new_files)
        # conflict handling lives in _commit_snapshot (rebase + retry);
        # a CTAS REPLACE (explicit empty base_manifest, schema swap) is the
        # one shape that cannot be rebased and fails fast instead
        return self._commit_snapshot(
            manifest, operation, ref, summary, rebase=base_manifest is None
        )

    def append(self, df: DataFrame, ref: str = MAIN) -> Snapshot:
        """Append a DataFrame as new data files (engine-internal
        INSERT ... SELECT; used by the incremental MV refresh path).
        Columns are aligned to the current schema by name with casts."""
        aligned = df.selectExpr(
            *[column_sql(f.name, f.name, f.type) for f in self.meta.schema.fields]
        )
        return self._append_files(aligned, "append", ref)

    def _align_values_df(self, rows: list[dict]) -> DataFrame:
        """VALUES rows (possibly partial columns) -> schema-aligned DataFrame
        with write-defaults filled (reference :168: INSERT omitting a
        DEFAULT'd column reads the default back)."""
        schema = self.meta.schema
        build = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.StringType() if f.type == "variant" else spark_type(f.type),
                    True,
                )
                for f in schema.fields
            ]
        )
        from collections.abc import Mapping

        data = []
        for r in rows:
            if not isinstance(r, Mapping):
                # a tuple/list row would silently fail every `name in row`
                # test below and insert all-default columns — refuse loudly
                raise TypeError(
                    "insert rows must be mappings of column name -> value "
                    f"(got {type(r).__name__}); pass a DataFrame for "
                    "positional rows"
                )
            vals = []
            for f in schema.fields:
                if f.name in r:
                    v = r[f.name]
                    if f.type == "timestamp_ns" and v is not None:
                        v = parse_ns_timestamp(v)
                    if f.type.startswith(("bigint", "long")) and v is not None:
                        v = int(v)
                    if f.type == "double" and v is not None:
                        v = float(v)
                else:
                    v = f.write_default
                    if f.type == "timestamp_ns" and v is not None:
                        v = parse_ns_timestamp(v)
                vals.append(v)
            data.append(tuple(vals))
        df = self.spark.createDataFrame(data, build)
        for f in schema.fields:
            if f.type == "variant":
                df = df.withColumn(f.name, F.try_parse_json(F.col(f.name)))
        return df

    def insert(
        self,
        rows: "list[dict] | DataFrame",
        ref: str = MAIN,
        summary: dict | None = None,
    ) -> Snapshot:
        """INSERT INTO [@branch] (reference :103-106, :238-239).

        ``summary`` entries ride the snapshot's summary map inside the
        SAME atomic metadata commit as the appended files — the hook the
        streaming sink uses to make micro-batch appends exactly-once
        (streaming/ingest.py: the batch id is either committed with its
        data or absent, never half)."""
        df = rows if isinstance(rows, DataFrame) else self._align_values_df(rows)
        return self._append_files(df, "append", ref, summary=summary)

    def dynamic_overwrite(self, df: DataFrame, ref: str = MAIN) -> Snapshot:
        """INSERT OVERWRITE with dynamic partition resolution (Spark's
        ``partitionOverwriteMode=dynamic`` / Iceberg's dynamic overwrite):
        replace exactly the partitions the source DataFrame touches;
        untouched partitions keep their files byte-for-byte.  An
        unpartitioned table degenerates to a full REPLACE.

        Partition identity is the CURRENT spec's transform tuple,
        computed from the newly written files' manifest entries — no
        extra Spark job.  Files written under an OLDER spec cannot be
        compared tuple-for-tuple, so their presence raises (compact with
        ``optimize()`` to rewrite them under the current spec first)
        rather than risking a silently partial overwrite.  Atomicity:
        removed + added files commit in one snapshot via the usual CAS.
        """
        m = self.meta
        base = self._manifest(self._resolve(ref))
        # stale-spec check FIRST (ADVICE r5): it needs only the manifest,
        # and raising after write_data_files would leave orphaned parquet
        # no snapshot references (and expire_snapshots can't reclaim)
        if m.spec.fields:
            stale = [f for f in base.data_files if f.spec_id != m.spec.spec_id]
            if stale:
                raise ValueError(
                    f"dynamic_overwrite: {len(stale)} file(s) were written "
                    "under an older partition spec and cannot be matched "
                    "against the current spec's partition tuples — run "
                    "optimize() to rewrite them under the current spec first"
                )
        aligned = df.select(
            *[
                F.col(f.name).cast(spark_type(f.type)).alias(f.name)
                for f in m.schema.fields
            ]
        )
        new_files = write_data_files(
            aligned, self.location, m.schema, m.spec,
            m.last_sequence_number + 1, m.sort_order or None,
        )
        self._enrich_blooms(new_files)
        if not m.spec.fields:
            removed = list(base.data_files)
        else:
            touched = {tuple(sorted(f.partition.items())) for f in new_files}
            removed = [
                f for f in base.data_files
                if tuple(sorted(f.partition.items())) in touched
            ]
        # delete files whose referenced data files are all gone are dropped;
        # ones also referencing surviving files stay (their entries for
        # removed files are inert — those files are no longer scanned)
        kept_deletes = _surviving_deletes(base, {f.path for f in removed})
        summary = {
            "added-data-files": len(new_files),
            "added-records": sum(f.record_count for f in new_files),
            "removed-data-files": len(removed),
            "removed-records": sum(f.record_count for f in removed),
            "replaced-partitions": (
                len({tuple(sorted(f.partition.items())) for f in new_files})
                if m.spec.fields else "all"
            ),
        }
        out = base.with_delta(
            added=new_files, removed=removed, delete_files=kept_deletes
        )
        return self._commit_snapshot(out, "overwrite", ref, summary, rebase=False)

    # ------------------------------------------------------------------
    # row-level DML (SURVEY.md §3.3)
    # ------------------------------------------------------------------
    def _affected_files(
        self, manifest: LazyManifest, cond: Column, where_text: str | None
    ) -> list[DataFile]:
        """Prune by predicate, then run one narrow Spark job to find files
        that truly contain matches (driver <-> executor round trip).
        Candidates come out of the three-stage prune without materializing
        the rest of the table's entries."""
        preds = parse_simple_predicates(where_text) if where_text else []
        cands = manifest.pruned(self.meta, preds, self.spark)
        if not cands:
            return []
        probe = snapshot_df(
            self.spark, self.meta, Manifest(cands, manifest.delete_files), hidden=True
        )
        hit_paths = {
            r[0].replace("file:", "")
            for r in probe.where(cond).select("_path").distinct().collect()
        }
        return [f for f in cands if f.path in hit_paths]

    def truncate(self, ref: str = MAIN) -> Snapshot:
        """TRUNCATE TABLE: one metadata-only commit dropping every data and
        delete file from the ref's manifest.  No file IO, no Spark job —
        the files stay on disk for time travel/rollback and age out via
        expire_snapshots, exactly like any other replaced snapshot."""
        n, rec = self._manifest(self._resolve(ref)).counts()
        return self._commit_snapshot(
            LazyManifest(self.location, [], []),
            "delete",
            ref,
            {
                "removed-data-files": n,
                "removed-records": rec,
                "truncate": "true",
            },
            rebase=False,
        )

    # -- equality deletes (Iceberg v2/v3; the streaming-upsert answer to
    # position deletes' read-before-write) --------------------------------
    def _write_equality_delete(
        self, keys_df: DataFrame, key_cols: list[str], seq: int
    ) -> list[DeleteFile]:
        """Write DISTINCT key tuples as an equality-delete parquet.
        Columns are named ``k_<column id>`` so later renames never corrupt
        the mapping (reader resolves ids against the current schema)."""
        import pyarrow.parquet as pq

        ids = [self.meta.schema.field_by_name(c).id for c in key_cols]
        ddir = os.path.join(self.location, "deletes", uuid.uuid4().hex[:16])
        (
            keys_df.select(
                *[
                    F.col(c).cast(spark_type(self.meta.schema.field_by_name(c).type)).alias(f"k_{i}")
                    for c, i in zip(key_cols, ids)
                ]
            )
            .distinct()
            .write.mode("overwrite")
            .parquet(ddir)
        )
        entries: list[DeleteFile] = []
        for root, _d, fs in os.walk(ddir):
            for fn in sorted(fs):
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(root, fn)
                n = pq.ParquetFile(p).metadata.num_rows
                if n == 0:
                    continue
                entries.append(
                    DeleteFile(
                        path=p,
                        record_count=n,
                        file_size_bytes=os.path.getsize(p),
                        sequence_number=seq,
                        content="equality",
                        equality_ids=tuple(ids),
                    )
                )
        return entries

    def delete_by_key(
        self, keys_df: DataFrame, key_cols: list[str], ref: str = MAIN
    ) -> Snapshot:
        """DELETE every row whose key tuple appears in ``keys_df`` — as an
        equality-delete file, NO read of existing data (contrast
        ``delete(where)``, which probes files for matches).  Applies to all
        data files strictly older than this commit."""
        seq = self.meta.last_sequence_number + 1
        entries = self._write_equality_delete(keys_df, key_cols, seq)
        base = self._manifest(self._resolve(ref))
        manifest = base.with_delta(delete_files=base.delete_files + entries)
        return self._commit_snapshot(
            manifest,
            "delete",
            ref,
            {
                "added-delete-files": len(entries),
                "equality-deletes": "true",
                "deleted-keys": sum(e.record_count for e in entries),
            },
        )

    def upsert_by_key(
        self,
        df: DataFrame,
        key_cols: list[str],
        ref: str = MAIN,
        extra_delete_keys: DataFrame | None = None,
        summary: dict | None = None,
    ) -> Snapshot:
        """Blind upsert: ONE commit carrying an equality delete on ``df``'s
        keys plus ``df``'s rows as new data files.  The new files share the
        commit's sequence number, so the delete (which applies strictly
        below it) removes every OLD row with those keys and none of the new
        ones — no read-before-write anywhere, which is what a CDC-replica
        ingest loop needs (MERGE and position deletes both must first find
        matching rows).  Duplicate keys WITHIN one batch land as duplicate
        rows — dedupe upstream, exactly like Iceberg's upsert writer.

        ``extra_delete_keys`` folds pure deletions into the SAME atomic
        commit (a CDC micro-batch = upserts + deletes in one snapshot, so
        an exactly-once watermark in ``summary`` covers both)."""
        m = self.meta
        seq = m.last_sequence_number + 1
        keys = df.select(*key_cols)
        if extra_delete_keys is not None:
            keys = keys.unionByName(extra_delete_keys.select(*key_cols))
        entries = self._write_equality_delete(keys, key_cols, seq)
        aligned = df.select(
            *[
                F.col(f.name).cast(spark_type(f.type)).alias(f.name)
                for f in m.schema.fields
            ]
        )
        new_files = write_data_files(
            aligned, self.location, m.schema, m.spec, seq, m.sort_order or None
        )
        self._enrich_blooms(new_files)
        base = self._manifest(self._resolve(ref))
        manifest = base.with_delta(
            added=new_files, delete_files=base.delete_files + entries
        )
        return self._commit_snapshot(
            manifest,
            "overwrite",
            ref,
            {
                "added-data-files": len(new_files),
                "added-records": sum(f.record_count for f in new_files),
                "added-delete-files": len(entries),
                "equality-deletes": "true",
                "upserted-keys": sum(e.record_count for e in entries),
                **(summary or {}),
            },
        )

    def rewrite_equality_deletes(self, ref: str = MAIN) -> Snapshot | None:
        """Materialize accumulated equality deletes into position-delete
        files (visible state unchanged) — the maintenance op that bounds
        the read path: every scan of older files pays one anti-join per
        live equality-delete KEY-SET, so a long-running upsert stream
        would otherwise accumulate them forever.  After this commit the
        suppressed rows are ordinary position deletes (scoped by
        referenced_files, compactable by optimize(rewrite_deletes=True))
        and the equality files are dropped.  Iceberg reaches the same
        state through rewrite_position_delete_files + compaction."""
        from iceberg_trino_sql_demo_spark.sources.reader import equality_positions

        manifest = self._manifest(self._resolve(ref))
        eq = [d for d in manifest.delete_files if d.content == "equality"]
        if not eq:
            return None
        max_seq = max(d.sequence_number for d in eq)
        files = [f for f in manifest.data_files if f.sequence_number < max_seq]
        stripped = [d for d in manifest.delete_files if d.content != "equality"]
        base = manifest.with_delta(delete_files=stripped)
        if not files:
            return self._commit_snapshot(
                base, "replace", ref,
                {"rewritten-equality-deletes": len(eq), "data-invariant": "true"},
            )
        matches = equality_positions(self.spark, self.meta, manifest, files, eq)
        return self._write_position_deletes(
            base, files, matches, "replace", ref,
            extra_summary={"rewritten-equality-deletes": len(eq),
                           "data-invariant": "true"},
        )

    def rewrite_position_deletes(self, ref: str = MAIN) -> Snapshot | None:
        """Consolidate accumulated position tombstones into ONE deletion-
        vector pack (visible state unchanged) — the maintenance op that
        bounds MoR read cost: every scan of a delete-referenced file
        anti-joins against the UNION of live position-delete files, so a
        long-running UPDATE/DELETE history otherwise pays O(delete
        commits) per read.  After this commit the table carries one
        ``content='dv'`` entry (per-file zstd blobs + columnar index,
        sources/deletion_vectors.py) holding the distinct live tombstones;
        tombstones for no-longer-live data files are dropped.  Iceberg v3
        reaches the same state via deletion vectors in puffin files
        (reference: DELETION VECTOR section, iceberg_trino_sqldemo.sql
        :141-143); Trino/Iceberg v2 via rewrite_position_delete_files.

        Returns None when there is nothing to consolidate (zero or one
        already-consolidated entry)."""
        from iceberg_trino_sql_demo_spark.sources.deletion_vectors import (
            write_dv_pack,
        )

        manifest = self._manifest(self._resolve(ref))
        pos = [
            d for d in manifest.delete_files
            if d.content in ("position", "dv")
        ]
        if not pos or (len(pos) == 1 and pos[0].content == "dv"):
            return None
        others = [d for d in manifest.delete_files if d not in pos]
        # scope to LIVE data files: tombstones referencing rewritten /
        # removed files are inert and must not survive consolidation
        covered = sorted(
            manifest.live_among({p for d in pos for p in d.referenced_files})
        )
        seq = max(d.sequence_number for d in pos)
        summary = {
            "rewritten-position-delete-files": len(pos),
            "data-invariant": "true",
        }
        # the chosen delete files may also name dead data files: keep only
        # tombstones of live ones
        matches = read_position_deletes(self.spark, Manifest([], pos), only_for=covered)
        matches = matches.where(F.col("__del_file").isin([_to_uri(p) for p in covered]))
        packed = write_dv_pack(self.location, matches) if covered else None
        new_dels = list(others)
        if packed is not None:
            pack_path, index_path, total, refs = packed
            new_dels.append(
                DeleteFile(
                    path=pack_path,
                    record_count=total,
                    file_size_bytes=os.path.getsize(pack_path),
                    sequence_number=seq,
                    referenced_files=refs,
                    content="dv",
                    index_path=index_path,
                )
            )
            summary["dv-tombstones"] = total
        out = manifest.with_delta(delete_files=new_dels)
        return self._commit_snapshot(out, "replace", ref, summary)

    def delete(self, where: str, ref: str = MAIN) -> Snapshot:
        """DELETE FROM ... WHERE (reference :137, :228, :240).

        merge-on-read: write a position-delete file (deletion vector, :141);
        copy-on-write: rewrite affected files without matching rows.
        """
        cond = F.expr(where)
        manifest = self._manifest(self._resolve(ref))
        affected = self._affected_files(manifest, cond, where)
        if not affected:
            return self._commit_snapshot(manifest, "delete", ref, {"matched-files": 0})
        if self.merge_mode == COPY_ON_WRITE:
            keep_df = self._read_files_with_lineage(manifest, affected).where(~cond)
            return self._rewrite_files(manifest, affected, keep_df, "delete", ref)
        # MoR: write the matching (file, position) pairs as a deletion vector
        matches = self._positions_for(cond, where, affected, manifest)
        return self._write_position_deletes(manifest, affected, matches, "delete", ref)

    def _positions_for(
        self, cond: Column, where: str, files: list[DataFile], manifest: LazyManifest
    ) -> DataFrame:
        """(file_path URI, pos) of rows matching cond (the SQL text
        ``where``) within ``files``, honouring already-applied MoR deletes.
        A ``where`` that names a row-lineage column sees it valued as the
        ``_affected_files`` probe and ``_read_files_with_lineage`` see it."""
        from iceberg_trino_sql_demo_spark.sources.reader import (  # internal
            _FILE,
            _POS,
            _hint_deletes,
            _scan_with_positions,
        )

        names = where.lower()
        df = _scan_with_positions(self.spark, self.meta, files,
                                  lineage=ROW_ID in names or LAST_SEQ in names)
        # exclude rows already deleted by live position deletes (broadcast
        # only while the manifest proves the delete set small)
        dels = read_position_deletes(self.spark, manifest, only_for=[f.path for f in files])
        n_del = sum(d.record_count for d in manifest.delete_files)
        df = df.join(
            _hint_deletes(dels, n_del),
            (df[_FILE] == dels["__del_file"]) & (df[_POS] == dels["__del_pos"]),
            "left_anti",
        )
        return df.where(cond).selectExpr(f"{_FILE} AS file_path", f"{_POS} AS pos")

    def _write_position_deletes(
        self,
        manifest: LazyManifest,
        affected: list[DataFile],
        matches: DataFrame,
        operation: str,
        ref: str,
        extra_data_df: DataFrame | None = None,
        extra_summary: dict | None = None,
    ) -> Snapshot:
        ddir = os.path.join(self.location, "deletes", uuid.uuid4().hex[:16])
        # Hash-partition by referenced data file, NOT coalesce(1): a DELETE
        # matching millions of rows writes N delete files in parallel, and
        # each output file references a disjoint set of data files (tight
        # referenced_files -> precise delete-application at read time).
        # The key is the file's position in ``affected`` (manifest order),
        # not its path: paths hold random commit uuids, and the number of
        # delete files a DML writes must not depend on them.
        # Explicit partition count (AQE honours user-specified numbers —
        # repartition(col) alone would be coalesced back to one tiny task).
        n_parts = max(1, min(len(affected), int(self.spark.conf.get("spark.sql.shuffle.partitions"))))
        key = F.array_position(F.lit([_to_uri(f.path) for f in affected]), F.col("file_path"))
        matches.repartition(n_parts, key).write.mode("overwrite").parquet(ddir)
        import pyarrow.parquet as pq

        entries: list[DeleteFile] = []
        seq = self.meta.last_sequence_number + 1
        for root, _d, fs in os.walk(ddir):
            for fn in sorted(fs):
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(root, fn)
                tbl = pq.read_table(p, columns=["file_path"])
                refs = sorted({s.replace("file:", "") for s in set(tbl.column("file_path").to_pylist())})
                entries.append(
                    DeleteFile(
                        path=p,
                        record_count=pq.ParquetFile(p).metadata.num_rows,
                        file_size_bytes=os.path.getsize(p),
                        sequence_number=seq,
                        referenced_files=tuple(refs),
                    )
                )
        new_files: list[DataFile] = []
        if extra_data_df is not None:
            new_files = write_data_files(
                extra_data_df, self.location, self.meta.schema, self.meta.spec, seq,
                sort_order=self.meta.sort_order or None,
                extra_physical_cols=[ROW_ID, LAST_SEQ],
            )
            new_files = [DataFile(**{**f.to_dict(), "has_lineage": True}) for f in new_files]
            self._enrich_blooms(new_files)
        # MoR leaves the data side untouched: pure O(delta) commit
        out = manifest.with_delta(
            added=new_files, delete_files=manifest.delete_files + entries
        )
        return self._commit_snapshot(
            out, operation, ref,
            {"added-delete-files": len(entries),
             "deleted-records": sum(e.record_count for e in entries),
             **(extra_summary or {})},
        )

    def _read_files_with_lineage(
        self, manifest: LazyManifest, files: list[DataFile]
    ) -> DataFrame:
        """Rows of ``files`` (deletes applied) with _row_id/_last_seq kept —
        the input of every CoW rewrite, so lineage survives rewrites."""
        sub = Manifest(files, manifest.delete_files)
        return snapshot_df(self.spark, self.meta, sub, hidden=True).drop(
            "_partition", "_path", "_file_modified_time"
        )

    def _rewrite_files(
        self,
        manifest: LazyManifest,
        replaced: list[DataFile],
        new_df: DataFrame,
        operation: str,
        ref: str,
        preserve_order: bool = False,
        summary: dict | None = None,
    ) -> Snapshot:
        """Swap ``replaced`` for files holding ``new_df`` (CoW / optimize).
        ``new_df`` must carry _row_id/_last_seq columns.  The table's
        declared sort order is re-applied so compaction/CoW PRESERVES
        clustering — otherwise every optimize() erodes the min/max
        file-skipping a sorted_by table exists for.  ``preserve_order=True``
        skips that re-sort: the caller already arranged ``new_df``'s
        partitioning/ordering (the z-order rewrite keys on a derived
        column the writer never sees)."""
        seq = self.meta.last_sequence_number + 1
        new_files = write_data_files(
            new_df, self.location, self.meta.schema, self.meta.spec, seq,
            sort_order=None if preserve_order else (self.meta.sort_order or None),
            extra_physical_cols=[ROW_ID, LAST_SEQ],
            preserve_order=preserve_order,
        )
        new_files = [DataFile(**{**f.to_dict(), "has_lineage": True}) for f in new_files]
        self._enrich_blooms(new_files)
        # position deletes left referencing no live data are now applied /
        # garbage; EQUALITY deletes always survive a rewrite — the rewritten
        # rows were read through the delete-applying path (so the new,
        # newer-sequence files are correctly exempt while other files still
        # need them)
        kept_dels = _surviving_deletes(manifest, {f.path for f in replaced})
        # only segments holding replaced entries get rewritten
        out = manifest.with_delta(
            added=new_files, removed=replaced, delete_files=kept_dels
        )
        return self._commit_snapshot(
            out, operation, ref,
            {"removed-data-files": len(replaced),
             "added-data-files": len(new_files),
             **(summary or {})},
        )

    def update(self, assignments: dict[str, Any], where: str, ref: str = MAIN) -> Snapshot:
        """UPDATE ... SET ... WHERE (reference :129, :241).

        Matched rows get a new _last_updated_sequence_number but keep their
        _row_id (v3 row lineage, reference :133-135).
        """
        cond = F.expr(where)
        new_seq = self.meta.last_sequence_number + 1
        manifest = self._manifest(self._resolve(ref))
        affected = self._affected_files(manifest, cond, where)
        if not affected:
            return self._commit_snapshot(manifest, "overwrite", ref, {"matched-files": 0})

        def apply_assign(df: DataFrame, only_matched: bool) -> DataFrame:
            # SQL UPDATE semantics: every RHS (and the condition) is
            # evaluated against the OLD row, so stage new values in temp
            # columns before replacing anything.
            out = df.withColumn("__upd_cond", F.lit(True) if only_matched else cond)
            staged = {}
            for col_name, expr in assignments.items():
                if isinstance(expr, Column):
                    val = expr
                elif isinstance(expr, str):
                    val = F.expr(expr)
                else:
                    val = F.lit(expr)
                staged[col_name] = f"__upd_{col_name}"
                out = out.withColumn(staged[col_name], val)
            for col_name, tmp in staged.items():
                out = out.withColumn(
                    col_name,
                    F.when(F.col("__upd_cond"), F.col(tmp)).otherwise(F.col(col_name)),
                )
            out = out.withColumn(
                LAST_SEQ,
                F.when(F.col("__upd_cond"), F.lit(new_seq)).otherwise(F.col(LAST_SEQ)),
            )
            return out.drop("__upd_cond", *staged.values())

        if self.merge_mode == COPY_ON_WRITE:
            src = self._read_files_with_lineage(manifest, affected)
            return self._rewrite_files(manifest, affected, apply_assign(src, False), "overwrite", ref)
        # MoR: delete old versions by position, append updated versions
        matches = self._positions_for(cond, where, affected, manifest)
        updated = self._read_files_with_lineage(manifest, affected).where(cond)
        updated = apply_assign(updated, True)
        return self._write_position_deletes(
            manifest, affected, matches, "overwrite", ref, extra_data_df=updated
        )

    #: raw-row bound under which a MERGE source's keys become a manifest
    #: runtime filter (same cap as collect_runtime_filter_keys)
    _MERGE_RF_MAX_KEYS = 1000

    def _merge_filter_keys(self, source: DataFrame, on: str) -> list | None:
        """Source join keys when the source is PROVABLY small, else None.

        Bound enforced before materialization: LIMIT N+1 then collect
        holds at most N+1 rows driver-side and reads ~one source
        partition; no distinct ever runs over a large source.  None (or
        an all-NULL key set) means "don't prune"."""
        cap = self._MERGE_RF_MAX_KEYS
        rows = source.select(on).limit(cap + 1).collect()
        if len(rows) > cap:
            return None
        keys = sorted({r[0] for r in rows if r[0] is not None})
        return keys or None

    def merge(
        self,
        source: DataFrame,
        on: str,
        matched_set: dict[str, str] | None = None,
        matched_condition: str | None = None,
        matched_delete_condition: str | None = None,
        insert_not_matched: bool = True,
        delete_not_matched_by_source: bool = False,
        ref: str = MAIN,
    ) -> Snapshot:
        """MERGE INTO target USING source ON (t.on = s.on)
        [WHEN MATCHED AND del_cond THEN DELETE]
        WHEN MATCHED [AND cond] THEN UPDATE SET ...
        WHEN NOT MATCHED THEN INSERT (reference :146-157)
        [WHEN NOT MATCHED BY SOURCE THEN DELETE — beyond the reference:
        the full-sync form that makes the target converge to the source].

        ``matched_set`` maps target column -> source expression (over source
        columns).  Executed as CoW over affected files + one append of
        unmatched source rows.  ``ref`` targets a branch like every other
        DML (the reference only merges on main, :146-157; accepting a ref
        removes the one API asymmetry VERDICT r2 flagged — "What's wrong"
        #4).

        ``delete_not_matched_by_source`` drops target rows whose key has
        no source row.  Any file may hold such rows, so this form
        rewrites every data file (exactly like Spark/Iceberg's own
        NOT MATCHED BY SOURCE without a narrowing condition) — and skips
        the affected-file probe entirely; a matched-but-condition-false
        row is kept, not deleted.

        ``matched_delete_condition`` is the multi-clause MERGE form
        (WHEN MATCHED AND cond THEN DELETE preceding the UPDATE clause):
        clause order follows the SQL statement — a matched row satisfying
        the delete condition is removed and never reaches the UPDATE
        branch; both conditions evaluate against the OLD row plus source
        columns, Trino/Spark first-match-wins semantics.
        """
        manifest = self._manifest(self._resolve(ref))
        src_cols = {c: f"__src_{c}" for c in source.columns}
        src = source.selectExpr(*[column_sql(a, c) for c, a in src_cols.items()])

        # Plan affected files DISTRIBUTEDLY: semi-join the target's hidden
        # _path column against the source keys.  Only file paths (manifest
        # cardinality) reach the driver — the source key set never does, so
        # a 100 TB CDC-upsert source flows executor-to-executor throughout.
        #
        # Small-source fast path (VERDICT r6/r7 #7): when the source's raw
        # row count is provably tiny (LIMIT N+1 collect — one cheap job,
        # never a full distinct), its keys become a manifest runtime
        # filter (the ice_runtime_filter_join mechanism): min/max + bloom
        # pruning bounds BOTH the probe and the not-matched anti-join to
        # files that can contain a source key, so a 10-key MERGE against a
        # 10^6-file table reads the pruned subset, not the table.  Pruning
        # is a conservative superset; the row-level semi-join still
        # decides the exact affected set, so correctness never depends on
        # it.  Rows in pruned-away files cannot equi-match any source key,
        # so the NOT MATCHED anti-join over the pruned state is exact too.
        if delete_not_matched_by_source:
            affected = list(manifest.data_files)
            scan_manifest = manifest
        else:
            keys = self._merge_filter_keys(source, on)
            scan_manifest = (
                self.prune(manifest, [Predicate(on, "in", keys)])
                if keys is not None
                else manifest
            )
            probe = snapshot_df(self.spark, self.meta, scan_manifest, hidden=True)
            hit_paths = {
                r[0].replace("file:", "")
                for r in probe.join(
                    src, probe[on] == src[src_cols[on]], "left_semi"
                )
                .select("_path")
                .distinct()
                .collect()
            }
            affected = [f for f in scan_manifest.data_files if f.path in hit_paths]
        new_seq = self.meta.last_sequence_number + 1
        tgt_names = [f.name for f in self.meta.schema.fields]

        # matched branch: rewrite affected files applying the update
        parts_new: list[DataFrame] = []
        if affected:
            # No forced broadcast: AQE picks broadcast-hash for a small
            # source and falls back to shuffle-hash/sort-merge (with skew
            # splitting) when the source is itself table-sized.
            tgt = self._read_files_with_lineage(manifest, affected)
            joined = tgt.join(src, tgt[on] == src[src_cols[on]], "left")
            is_hit = F.col(src_cols[on]).isNotNull()
            dcond = (
                is_hit & F.expr(matched_delete_condition)
                if matched_delete_condition
                else F.lit(False)
            )
            mcond = is_hit & ~dcond
            if matched_condition:
                mcond = mcond & F.expr(matched_condition)
            # evaluate BOTH clause conditions against the OLD row once,
            # before any assignment rewrites the columns they reference;
            # the delete clause precedes the update clause (statement
            # order, first match wins)
            out = joined.withColumn("__mdel", dcond).withColumn("__matched", mcond)
            for col_name, src_expr in (matched_set or {}).items():
                out = out.withColumn(
                    col_name,
                    F.when(F.col("__matched"), F.expr(src_expr)).otherwise(F.col(col_name)),
                )
            out = out.withColumn(
                LAST_SEQ, F.when(F.col("__matched"), F.lit(new_seq)).otherwise(F.col(LAST_SEQ))
            ).where(~F.col("__mdel")).drop("__matched", "__mdel")
            if delete_not_matched_by_source:
                out = out.where(F.col(src_cols[on]).isNotNull())
            matched_df = out.select(*tgt_names, ROW_ID, LAST_SEQ)
            parts_new.append(matched_df)

        if insert_not_matched:
            tgt_keys = snapshot_df(self.spark, self.meta, scan_manifest).select(on)
            unmatched = src.join(
                tgt_keys, src[src_cols[on]] == tgt_keys[on], "left_anti"
            )
            ins = unmatched.selectExpr(
                *[
                    column_sql(n, src_cols[n]) if n in src_cols
                    else column_sql(n, None, self.meta.schema.field_by_name(n).type)
                    for n in tgt_names
                ]
            )
            ins = ins.withColumn(ROW_ID, F.lit(None).cast("long")).withColumn(
                LAST_SEQ, F.lit(new_seq)
            )
            parts_new.append(ins)

        if not parts_new:
            return self._commit_snapshot(manifest, "overwrite", ref, {"matched-files": 0})
        new_df = parts_new[0]
        for p in parts_new[1:]:
            new_df = new_df.unionByName(p)
        return self._rewrite_files(manifest, affected, new_df, "overwrite", ref)

    def apply_changes(self, changes: DataFrame, on: str) -> None:
        """Apply a ``table_changes`` CDC feed to THIS table — the
        replica-sync pattern: a downstream copy converges by replaying net
        row deltas instead of re-copying the table.  Changes compress to
        ONE net action per key (highest ``_change_ordinal`` wins; at equal
        ordinal — an UPDATE's delete+insert pair — the insert is the final
        state), then apply as MERGE: net-insert keys upsert, net-delete
        keys are removed when present (a delete for a key the replica
        never had is a no-op, NOT an insert of the tombstone's old image).

        100 TB shape: the source side of the pipeline reads only changed
        files (table_changes is manifest-delta scoped), compression is one
        keyed window over the delta (not the table), and each merge
        rewrites only affected replica files via the distributed
        affected-file probe."""
        from pyspark.sql import Window

        cols = self.meta.schema.names
        pri = F.when(F.col("_change_type") == "insert", 1).otherwise(0)
        w = Window.partitionBy(on).orderBy(
            F.col("_change_ordinal").desc(), pri.desc()
        )
        net = (
            changes.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        ins = net.where(F.col("_change_type") == "insert").select(*cols)
        if not ins.isEmpty():
            self.merge(
                ins,
                on=on,
                matched_set={
                    c: f"__src_{c}" for c in cols if c != on
                },
            )
        dels = net.where(F.col("_change_type") == "delete").select(on)
        if not dels.isEmpty():
            self.merge(
                dels,
                on=on,
                matched_delete_condition="true",
                insert_not_matched=False,
            )

    # ------------------------------------------------------------------
    # schema evolution (D9-D13)
    # ------------------------------------------------------------------
    def _evolve_schema(self, new_fields: tuple[NestedField, ...]) -> None:
        m = self.meta
        new_schema = TableSchema(
            schema_id=max(s.schema_id for s in m.schemas) + 1, fields=new_fields
        )
        m.schemas.append(new_schema)
        m.current_schema_id = new_schema.schema_id
        m.last_column_id = max(m.last_column_id, *(f.id for f in new_fields))
        self._commit_metadata_only()

    def add_column(self, name: str, type_: str, default: Any = None) -> None:
        """ADD COLUMN [DEFAULT] (reference :166/:175/:185).  The default is
        both initial (old rows) and write (omitting inserts) default.
        If the name was ever used before, the physical name is mangled so
        stale bytes in old files can never resurface (SURVEY.md §1.4)."""
        m = self.meta
        cid = m.last_column_id + 1
        used_names = {f.name for s in m.schemas for f in s.fields}
        physical = f"{name}_{cid}" if name in used_names else None
        fld = NestedField(
            id=cid, name=name, type=type_,
            initial_default=default, write_default=default, physical_name=physical,
        )
        self._evolve_schema(self.meta.schema.fields + (fld,))

    def drop_column(self, name: str) -> None:
        """DROP COLUMN without rewriting files (reference :181)."""
        fields = tuple(f for f in self.meta.schema.fields if f.name != name)
        if len(fields) == len(self.meta.schema.fields):
            raise KeyError(name)
        self._evolve_schema(fields)

    def rename_column(self, old: str, new: str) -> None:
        """RENAME COLUMN — metadata-only (Iceberg's ALTER TABLE ... RENAME
        COLUMN; beyond the reference script, which evolves by add/drop
        only — :164-187).  The field keeps its column id, so files written
        under the old name keep resolving through the by-id projection
        (reader.projection_sql reads each file with ITS OWN schema
        version's physical names) and no data file is rewritten; files
        written after the rename store the new name under the same id.
        Partition specs reference columns by source_id, so transforms on
        the renamed column keep working unchanged."""
        import dataclasses

        m = self.meta
        if any(f.name == new for f in m.schema.fields):
            raise ValueError(f"column {new!r} already exists")
        fields = tuple(
            dataclasses.replace(f, name=new) if f.name == old else f
            for f in m.schema.fields
        )
        if fields == m.schema.fields:
            raise KeyError(old)
        # name-based references must follow the rename or later writes
        # break on the stale name: declared sort order, and the
        # comma-separated column-list properties (bloom filters, recorded
        # z-order clustering)
        m.sort_order = [new if c == old else c for c in m.sort_order]
        for prop in ("bloom_filter_columns", "zorder-by"):
            val = m.properties.get(prop)
            if val:
                m.properties[prop] = ",".join(
                    new if c.strip() == old else c.strip()
                    for c in val.split(",")
                )
        self._evolve_schema(fields)

    def set_partitioning(self, partitioning: Iterable[str]) -> None:
        """SET PROPERTIES partitioning = ARRAY[...] (reference :193/:201).
        Existing files keep their old spec-id; only new writes use this."""
        m = self.meta
        spec = _spec_from_partitioning(
            partitioning, m.schema, max(s.spec_id for s in m.specs) + 1,
            m.last_partition_field_id + 1,
        )
        m.specs.append(spec)
        m.default_spec_id = spec.spec_id
        m.last_partition_field_id = max(
            (f.field_id for f in spec.fields), default=m.last_partition_field_id
        )
        self._commit_metadata_only()

    def set_properties(self, **props: str) -> None:
        self.meta.properties.update({k: str(v) for k, v in props.items()})
        self._commit_metadata_only()

    def set_table_comment(self, text: str | None) -> None:
        """COMMENT ON TABLE — stored as the ``comment`` table property
        (Trino surfaces it the same way); IS NULL clears."""
        if text is None:
            self.meta.properties.pop("comment", None)
        else:
            self.meta.properties["comment"] = text
        self._commit_metadata_only()

    def set_column_comment(self, column: str, text: str | None) -> None:
        """COMMENT ON COLUMN — stored on the field itself (``doc``, the
        Iceberg field-doc slot).  A comment is metadata-only: the schema
        id does NOT bump (no reader behavior changes), matching Iceberg's
        updateSchema().updateColumnDoc() semantics."""
        sch = self.meta.schema
        if not sch.has(column):
            raise KeyError(column)
        fields = tuple(
            NestedField(
                id=f.id, name=f.name, type=f.type, nullable=f.nullable,
                initial_default=f.initial_default, write_default=f.write_default,
                physical_name=f.physical_name, doc=text,
            ) if f.name == column else f
            for f in sch.fields
        )
        new_schema = TableSchema(schema_id=sch.schema_id, fields=fields)
        self.meta.schemas = [
            new_schema if s.schema_id == sch.schema_id else s
            for s in self.meta.schemas
        ]
        self._commit_metadata_only()

    # ------------------------------------------------------------------
    # branching & time travel (V1-V5, M5)
    # ------------------------------------------------------------------
    def create_branch(self, name: str, if_not_exists: bool = True) -> None:
        if name in self.meta.refs:
            if if_not_exists:
                return
            raise ValueError(f"branch {name} exists")
        head = self.meta.refs.get(MAIN)
        if head is None:
            raise ValueError("cannot branch an empty table")
        self.meta.refs[name] = head
        self._commit_metadata_only()

    def drop_branch(self, name: str, if_exists: bool = True) -> None:
        if name == MAIN:
            raise ValueError("cannot drop main")
        if name not in self.meta.refs:
            if if_exists:
                return
            raise KeyError(name)
        if self.meta.ref_type(name) == "tag":
            raise ValueError(f"{name} is a tag; use drop_tag")
        del self.meta.refs[name]
        self._commit_metadata_only()

    def branches(self) -> dict[str, int]:
        return {
            k: v
            for k, v in self.meta.refs.items()
            if self.meta.ref_type(k) == "branch"
        }

    def set_branch_retention(
        self,
        name: str,
        max_snapshot_age_ms: int | None = None,
        min_snapshots_to_keep: int | None = None,
    ) -> None:
        """Per-ref retention (Iceberg branch properties max-snapshot-age /
        min-snapshots-to-keep; VERDICT r4 #8): ``expire_snapshots`` keeps
        a ref's ANCESTORS that fall inside the ref's own window, not just
        its head — a long-lived dev branch can pin its recent history
        through an aggressive main-side expire.  Passing both as None
        clears the override (back to global: only the head is pinned)."""
        if name not in self.meta.refs:
            raise KeyError(f"no ref {name}")
        if max_snapshot_age_ms is None and min_snapshots_to_keep is None:
            self.meta.ref_retention.pop(name, None)
        else:
            entry: dict = {}
            if max_snapshot_age_ms is not None:
                entry["max_snapshot_age_ms"] = int(max_snapshot_age_ms)
            if min_snapshots_to_keep is not None:
                if int(min_snapshots_to_keep) < 1:
                    raise ValueError("min_snapshots_to_keep must be >= 1")
                entry["min_snapshots_to_keep"] = int(min_snapshots_to_keep)
            self.meta.ref_retention[name] = entry
        self._commit_metadata_only()

    # -- tags: immutable named refs (Iceberg tag semantics — a pinned
    # audit/release pointer; reads resolve like branches, every write
    # path refuses them, expire_snapshots never reaps a tagged snapshot
    # because keep_ids covers all refs) --------------------------------
    def create_tag(
        self,
        name: str,
        snapshot_id: int | None = None,
        if_not_exists: bool = True,
    ) -> None:
        if name in self.meta.refs:
            if if_not_exists and self.meta.ref_type(name) == "tag":
                return
            raise ValueError(f"ref {name} exists")
        sid = snapshot_id if snapshot_id is not None else self.meta.refs.get(MAIN)
        if sid is None:
            raise ValueError("cannot tag an empty table")
        self.meta.snapshot_by_id(int(sid))  # must exist
        self.meta.refs[name] = int(sid)
        self.meta.ref_types[name] = "tag"
        self._commit_metadata_only()

    def drop_tag(self, name: str, if_exists: bool = True) -> None:
        if name not in self.meta.refs:
            if if_exists:
                return
            raise KeyError(name)
        if self.meta.ref_type(name) != "tag":
            raise ValueError(f"{name} is a branch; use drop_branch")
        del self.meta.refs[name]
        self.meta.ref_types.pop(name, None)
        self._commit_metadata_only()

    def tags(self) -> dict[str, int]:
        return {
            k: v
            for k, v in self.meta.refs.items()
            if self.meta.ref_type(k) == "tag"
        }

    def fast_forward(self, branch: str, to: str) -> None:
        """ALTER BRANCH x FAST FORWARD TO y (reference :249): requires x's
        head to be an ancestor of y's head."""
        m = self.meta
        if m.ref_type(branch) == "tag":
            raise ValueError(f"{branch} is a tag; tags are immutable")
        src, dst = m.refs[branch], m.refs[to]
        if not m.is_ancestor(src, dst):
            raise ValueError(f"{branch} is not an ancestor of {to}; cannot fast-forward")
        m.refs[branch] = dst
        if branch == MAIN:
            m.snapshot_log.append({"snapshot_id": dst, "timestamp_ms": now_ms()})
        self._commit_metadata_only()

    def rollback_to_snapshot(self, snapshot_id: int) -> None:
        """CALL system.rollback_to_snapshot (reference :218): moves main back;
        nothing is deleted, the DAG keeps the abandoned heads (:221)."""
        self.meta.snapshot_by_id(snapshot_id)  # must exist
        self.meta.refs[MAIN] = snapshot_id
        self.meta.snapshot_log.append(
            {"snapshot_id": snapshot_id, "timestamp_ms": now_ms()}
        )
        self._commit_metadata_only()

    def cherrypick(self, snapshot_id: int, ref: str = MAIN) -> Snapshot:
        """CALL system.cherrypick_snapshot: re-apply ONE snapshot's file
        delta (vs its own parent) onto ``ref``'s current head as a new
        commit.  The source snapshot — typically on another branch or an
        abandoned head after a rollback (reference :218-231) — is not
        moved; this is Iceberg's cherry-pick, the selective counterpart
        of fast_forward (which requires full ancestry).

        Supported deltas mirror Iceberg's: pure appends and dynamic
        overwrites.  A snapshot carrying a delete-file delta (MoR DELETE/
        UPDATE/MERGE) raises — position deletes reference parent-chain
        file paths that need not exist on the target.  Overwrite deltas
        additionally require every replaced file to still be live on the
        target (otherwise the overwrite's read-set has diverged and the
        replace is not semantically replayable).

        File-delta replay, not data copy: the new commit lists the SAME
        added file paths, so a 100 TB cherry-pick moves zero data bytes
        and costs one manifest write."""
        m = self.meta
        snap = m.snapshot_by_id(snapshot_id)
        parent = self._manifest(
            None if snap.parent_id is None else m.snapshot_by_id(snap.parent_id)
        )
        child = self._manifest(snap)
        if {d.path for d in child.delete_files} != {
            d.path for d in parent.delete_files
        }:
            raise ValueError(
                "cherrypick: snapshot carries a delete-file delta (MoR "
                "DELETE/UPDATE/MERGE); only append and dynamic-overwrite "
                "snapshots can be cherry-picked"
            )
        parent_paths = parent.data_paths()
        added = [f for f in child.data_files if f.path not in parent_paths]
        removed = parent_paths - child.data_paths()
        base = self._manifest(self._resolve(ref))
        base_paths = base.data_paths()
        if not removed <= base_paths:
            raise ValueError(
                "cherrypick: snapshot replaces file(s) no longer live on "
                f"{ref!r}; the overwrite is not replayable"
            )
        dup = [f.path for f in added if f.path in base_paths]
        if dup:
            raise ValueError(
                f"cherrypick: added file(s) already live on {ref!r} "
                f"(already picked or fast-forwarded): {dup[:3]}"
            )
        gone = [f for f in base.data_files if f.path in removed] if removed else []
        manifest = base.with_delta(added=added, removed=gone)
        summary = {
            "cherrypicked-from": str(snapshot_id),
            "added-data-files": len(added),
            "added-records": sum(f.record_count for f in added),
        }
        return self._commit_snapshot(manifest, snap.operation, ref, summary)

    def branch_diff(self, left: str = MAIN, right: str = "dev") -> DataFrame:
        """Content diff between two refs: the multiset of rows only on
        ``left`` / only on ``right``, as (side, <row columns>, n_copies).

        Scale shape — manifest-first: a data file PRESENT ON BOTH SIDES
        with an identical referencing-delete-file set contributes the
        identical row multiset to both branches and cancels WITHOUT being
        read; only the symmetric file difference (plus shared files whose
        MoR delete sets diverged) is scanned.  A one-commit dev branch on
        a 100 TB table diffs by reading that commit's files, not the
        table.  The residual row-level diff groups each side by a row
        digest (md5 of the canonical JSON struct — digest compare only,
        both sides rendered by the same engine) and joins on the single
        non-null digest key, so NULL-valued columns cannot mis-join."""
        ml = self._manifest(self._resolve(left))
        mr = self._manifest(self._resolve(right))

        def delmap(man: LazyManifest) -> dict[str, frozenset]:
            mp: dict[str, frozenset] = {f.path: frozenset() for f in man.data_files}
            for d in man.delete_files:
                for p in d.referenced_files:
                    if p in mp:
                        mp[p] = mp[p] | {d.path}
            return mp

        dl, dr = delmap(ml), delmap(mr)
        same = {p for p in dl.keys() & dr.keys() if dl[p] == dr[p]}
        lf = [f for f in ml.data_files if f.path not in same]
        rf = [f for f in mr.data_files if f.path not in same]
        ldf = snapshot_df(self.spark, self.meta, Manifest(lf, ml.delete_files))
        rdf = snapshot_df(self.spark, self.meta, Manifest(rf, mr.delete_files))
        cols = self.meta.schema.names

        def digest_counts(df: DataFrame) -> DataFrame:
            k = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
            return df.groupBy(k.alias("_k")).agg(
                F.count(F.lit(1)).alias("_n"),
                *[F.first(c).alias(c) for c in cols],
            )

        lc, rc = digest_counts(ldf), digest_counts(rdf)
        j = lc.alias("l").join(rc.alias("r"), "_k", "full")
        delta = F.coalesce(F.col("l._n"), F.lit(0)) - F.coalesce(
            F.col("r._n"), F.lit(0)
        )
        side = F.when(delta > 0, F.lit("left")).otherwise(F.lit("right"))
        return (
            j.where(delta != 0)
            .select(
                side.alias("side"),
                *[
                    F.coalesce(F.col(f"l.{c}"), F.col(f"r.{c}")).alias(c)
                    for c in cols
                ],
                F.abs(delta).cast("long").alias("n_copies"),
            )
        )

    def clone(self, location: str) -> "Table":
        """Zero-copy clone (Iceberg CALL system.snapshot / Delta SHALLOW
        CLONE): a NEW independent table at ``location`` whose first
        snapshot lists the source's live data and delete files by path —
        no data bytes move, the clone costs one metadata write at any
        table size.  Subsequent DML on the clone writes under the clone's
        own location and commits to the clone's own metadata; the source
        never observes it.

        Like Iceberg's snapshot tables the clone must not garbage-collect
        files it does not own: ``gc_scope=own_location`` is set so
        expire_snapshots only ever unlinks paths under the clone's
        location (remove_orphan_files is location-scoped by construction)."""
        m = self.meta
        os.makedirs(os.path.join(location, "metadata"), exist_ok=True)
        new_meta = TableMetadata.new(
            location,
            m.schema,
            m.spec,
            {**m.properties, "gc_scope": "own_location",
             "cloned_from": self.location},
        )
        # carry the full schema/spec history so old files' column-id
        # projection and per-file spec-id pruning resolve identically
        new_meta.schemas = list(m.schemas)
        new_meta.current_schema_id = m.current_schema_id
        new_meta.specs = list(m.specs)
        new_meta.default_spec_id = m.default_spec_id
        new_meta.last_column_id = m.last_column_id
        new_meta.last_partition_field_id = m.last_partition_field_id
        new_meta.sort_order = list(m.sort_order)
        # cloned files keep their first_row_id ranges and sequence numbers;
        # the clone's counters must start past them or its own first append
        # would mint overlapping row-lineage ids
        new_meta.next_row_id = m.next_row_id
        new_meta.last_sequence_number = m.last_sequence_number
        io = MetadataIO(location)
        io.commit(new_meta, 0)
        t = Table(self.spark, location)
        src = self._manifest(self._resolve(MAIN))
        if src.data_files or src.delete_files:
            t._commit_snapshot(
                t._manifest(None).with_delta(
                    added=src.data_files, delete_files=src.delete_files
                ),
                "append",
                MAIN,
                {"cloned-from": self.location,
                 "added-data-files": len(src.data_files)},
            )
        return t

    # ------------------------------------------------------------------
    # CDC (V6)
    # ------------------------------------------------------------------
    def table_changes(self, start_snapshot_id: int, end_snapshot_id: int) -> DataFrame:
        """system.table_changes(start, end) (reference :114-125): row-level
        diff, ``_change_type`` insert|delete, ``_change_ordinal`` = commit
        order, ``_commit_snapshot_id``.  Reads only changed files."""
        m = self.meta
        chain: list[Snapshot] = []
        cur = m.snapshot_by_id(end_snapshot_id)
        while cur.snapshot_id != start_snapshot_id:
            chain.append(cur)
            if cur.parent_id is None:
                raise ValueError("start snapshot is not an ancestor of end snapshot")
            cur = m.snapshot_by_id(cur.parent_id)
        chain.reverse()

        out: DataFrame | None = None
        prev_manifest = self._manifest(m.snapshot_by_id(start_snapshot_id))
        for ordinal, snap in enumerate(chain):
            cur_manifest = self._manifest(snap)
            if snap.summary.get("data-invariant") == "true":
                # compaction / z-order / equality-delete rewrite: the file
                # set changes, the logical rows do NOT — Iceberg's CDC
                # likewise emits nothing for replace snapshots.  Without
                # this, compacting a 100 TB table would re-stream every
                # row to every changelog consumer as delete+insert pairs.
                prev_manifest = cur_manifest
                continue
            prev_paths = {f.path for f in prev_manifest.data_files}
            cur_paths = {f.path for f in cur_manifest.data_files}
            added = [f for f in cur_manifest.data_files if f.path not in prev_paths]
            removed = [f for f in prev_manifest.data_files if f.path not in cur_paths]
            prev_dels = {d.path for d in prev_manifest.delete_files}
            new_dels = [d for d in cur_manifest.delete_files if d.path not in prev_dels]

            pieces: list[DataFrame] = []
            if added:
                ins = snapshot_df(self.spark, m, Manifest(added, cur_manifest.delete_files))
                pieces.append(ins.withColumn("_change_type", F.lit("insert")))
            if removed:
                dels = snapshot_df(self.spark, m, Manifest(removed, prev_manifest.delete_files))
                pieces.append(dels.withColumn("_change_type", F.lit("delete")))
            new_pos = [d for d in new_dels if d.content == "position"]
            new_eq = [d for d in new_dels if d.content == "equality"]
            if new_pos:
                del_df = read_position_deletes(self.spark, Manifest([], new_pos))
                ref_paths = {p for d in new_pos for p in d.referenced_files}
                ref_files = [f for f in prev_manifest.data_files if f.path in ref_paths]
                gone = rows_at_positions(
                    self.spark, m, ref_files, del_df,
                    n_delete_rows=sum(d.record_count for d in new_pos),
                )
                pieces.append(gone.withColumn("_change_type", F.lit("delete")))
            if new_eq:
                # equality deletes remove the PREVIOUS state's rows whose
                # key matches and whose file predates the delete — a
                # same-commit upsert's new rows are exempt (strictly-older
                # rule) and appear only in the insert piece above
                gone_eq = rows_matching_equality(
                    self.spark, m, prev_manifest, new_eq
                )
                pieces.append(gone_eq.withColumn("_change_type", F.lit("delete")))
            for p in pieces:
                p = p.withColumn("_change_ordinal", F.lit(ordinal)).withColumn(
                    "_commit_snapshot_id", F.lit(snap.snapshot_id)
                )
                out = p if out is None else out.unionByName(p)
            prev_manifest = cur_manifest
        if out is None:
            schema = T.StructType(
                list(m.schema.to_struct().fields)
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_change_ordinal", T.IntegerType()),
                    T.StructField("_commit_snapshot_id", T.LongType()),
                ]
            )
            return self.spark.createDataFrame([], schema)
        return out

    # ------------------------------------------------------------------
    # maintenance (V7-V10)
    # ------------------------------------------------------------------
    def expire_snapshots(self, retention_ms: int = 7 * 24 * 3600 * 1000) -> int:
        """EXECUTE expire_snapshots(retention_threshold) (reference :260).

        Per-ref retention overrides (``set_branch_retention``) extend the
        keep set: for each ref carrying one, its parent chain is walked
        head-down and an ancestor is kept while it is among the ref's
        ``min_snapshots_to_keep`` newest OR younger than the ref's
        ``max_snapshot_age_ms``; the walk stops at the first ancestor
        failing both (timestamps are monotone along the chain).  Refs
        without an override keep today's global behavior (head only +
        the global window)."""
        m = self.meta
        # expiry filters the FULL history — materialize spilled archives
        # back inline first (the next commit re-spills the survivors, and
        # the detached snaplog-* files become orphan-sweepable)
        m.inline_all_history()
        now = now_ms()
        cutoff = now - retention_ms
        keep_ids = set(m.refs.values())
        for ref, head in m.refs.items():
            rr = m.ref_retention.get(ref)
            if not rr:
                continue
            ref_cutoff = (
                now - rr["max_snapshot_age_ms"]
                if "max_snapshot_age_ms" in rr else None
            )
            min_keep = rr.get("min_snapshots_to_keep", 1)
            cur, k = head, 0
            while cur is not None:
                try:
                    s = m.snapshot_by_id(cur)
                except KeyError:  # chain truncated by an earlier expire
                    break
                within_count = k < min_keep
                within_age = ref_cutoff is not None and s.timestamp_ms >= ref_cutoff
                if not (within_count or within_age):
                    break
                keep_ids.add(cur)
                cur, k = s.parent_id, k + 1
        kept, dropped = [], []
        for s in m.snapshots:
            if s.snapshot_id in keep_ids or s.timestamp_ms >= cutoff:
                kept.append(s)
            else:
                dropped.append(s)
        if not dropped:
            return 0
        live_files: set[str] = set()
        live_artifacts: set[str] = set()
        for s in kept:
            man = self.io.read_manifest(s)
            live_files.update(man.data_paths())
            live_files.update(
                p for d in man.delete_files for p in d.artifact_paths()
            )
            # segments are SHARED across snapshots (an append chain reuses
            # every earlier segment) — refcount all metadata artifacts of
            # kept snapshots before unlinking a dropped one's
            live_artifacts.update(self.io.manifest_artifacts(s))
        # a shallow clone (gc_scope=own_location) must never unlink paths
        # it does not own — its manifests reference the source table's
        # files (Iceberg snapshot tables disable gc for the same reason)
        own_only = self.meta.properties.get("gc_scope") == "own_location"
        prefix = os.path.join(self.location, "")
        for s in dropped:
            man = self.io.read_manifest(s)
            del_paths = [p for d in man.delete_files for p in d.artifact_paths()]
            for p in list(man.data_paths()) + del_paths:
                if own_only and not p.startswith(prefix):
                    continue
                if p not in live_files and os.path.exists(p):
                    os.remove(p)
            for art in self.io.manifest_artifacts(s):
                if art in live_artifacts:
                    continue
                ap = os.path.join(self.location, art)
                if os.path.exists(ap):
                    os.remove(ap)
        # re-parent survivors whose parent was expired
        dropped_ids = {s.snapshot_id for s in dropped}
        m.snapshots = [
            s if s.parent_id not in dropped_ids
            else Snapshot(**{**s.to_dict(), "parent_id": None})
            for s in kept
        ]
        m.snapshot_log = [e for e in m.snapshot_log if e["snapshot_id"] not in dropped_ids]
        self._commit_metadata_only()
        return len(dropped)

    def add_files(self, source_dir: str, ref: str = MAIN) -> Snapshot:
        """CALL system.add_files — adopt existing parquet files IN PLACE
        (Iceberg's add_files / Trino's migrate-style ingestion): no data
        copy, no rewrite.  The manifest entries point at the original
        paths; only their footers are read (stats/bloom-free pruning
        still works off the harvested min/max).  After adoption the files
        are table-owned, exactly like Iceberg: expire_snapshots may
        delete them once unreferenced — callers adopting shared files
        should copy first or disable gc.

        V1 constraints (all loud):
        - current spec must be unpartitioned (hive-partition dirs would
          need partition-value parsing against the table's transforms);
        - no column carries a physical rename (adopted footers use
          logical names, which is what ``pname`` resolves to only while
          ``physical_name`` is unset);
        - every schema column must appear in each file's footer (columns
          ADDED after adoption are fine — that's the normal
          default-surfacing path — but a file missing a CURRENT column
          would silently read as all-null without lineage defaults).
        """
        m = self.meta
        if m.spec.fields:
            raise ValueError(
                "add_files: only unpartitioned tables can adopt files (the "
                "current spec has partition fields)")
        renamed = [f.name for f in m.schema.fields if f.physical_name]
        if renamed:
            raise ValueError(
                f"add_files: columns {renamed} carry physical renames; "
                "adopted footers resolve by logical name only")
        new_files = harvest_files(
            source_dir, m.schema, m.spec, m.last_sequence_number + 1
        )
        if not new_files:
            raise FileNotFoundError(f"add_files: no parquet under {source_dir}")
        import pyarrow.parquet as pq

        want = {f.name for f in m.schema.fields}
        for df_entry in new_files:
            have = {
                c.split(".")[0]
                for c in pq.ParquetFile(df_entry.path).schema_arrow.names
            }
            missing = want - have
            if missing:
                raise ValueError(
                    f"add_files: {df_entry.path} lacks schema columns "
                    f"{sorted(missing)}")
        manifest = self._manifest(self._resolve(ref)).with_delta(added=new_files)
        summary = {
            "added-data-files": len(new_files),
            "added-records": sum(f.record_count for f in new_files),
            "adopted": "true",
        }
        return self._commit_snapshot(manifest, "append", ref, summary)

    def remove_orphan_files(self, retention_ms: int = 7 * 24 * 3600 * 1000) -> int:
        """EXECUTE remove_orphan_files (reference :261): on-disk files not
        referenced by any snapshot, older than the threshold.

        Sweeps the METADATA plane too: a commit attempt that lost the
        version CAS leaves its pre-written manifest list + delta segment
        behind (they must be written before the CAS — see
        MetadataIO.write_manifest), and segment rewrites/folds strand the
        superseded segment files once no snapshot references them."""
        referenced: set[str] = set()
        for s in self.meta.all_snapshots():
            man = self.io.read_manifest(s)
            referenced.update(man.data_paths())
            referenced.update(
                p for d in man.delete_files for p in d.artifact_paths()
            )
        cutoff = time.time() - retention_ms / 1000
        removed = 0
        for sub in ("data", "deletes"):
            root = os.path.join(self.location, sub)
            for dirpath, _dirs, files in os.walk(root):
                for fn in files:
                    # Hadoop-convention hidden/marker files (_SUCCESS,
                    # .*.crc, _committed_*) are never data and never
                    # manifest-referenced — skip them like Iceberg's
                    # remove_orphan_files does, instead of "removing"
                    # them and inflating the reported count
                    if fn.startswith(("_", ".")):
                        continue
                    p = os.path.join(dirpath, fn)
                    if p not in referenced and os.path.getmtime(p) < cutoff:
                        os.remove(p)
                        removed += 1
        # metadata artifacts: everything a live snapshot's manifest list
        # names stays; unreferenced snap-*.json / seg-*.parquet older than
        # the cutoff are CAS losers or superseded segments
        live_meta: set[str] = set()
        # ARCHIVED snapshots are still reachable (time travel via
        # snapshot_by_id's archive lookup, $snapshots/$files meta tables,
        # expire's inline_all_history) — their snap-*.json manifests and
        # any seg-*.parquet only they reference must survive the sweep,
        # so walk all_snapshots() exactly like the data-file loop above.
        for s in self.meta.all_snapshots():
            live_meta.update(
                os.path.basename(a) for a in self.io.manifest_artifacts(s)
            )
        # spilled-history archives named by the CURRENT pointer are live;
        # ones detached by expire's inline_all_history (or by CAS losers)
        # are sweepable like any stranded metadata artifact
        live_meta.update(
            os.path.basename(a["file"]) for a in self.meta.snapshot_archives
        )
        meta_dir = os.path.join(self.location, "metadata")
        # pruned-scan survivor side files (_pruned_scan_df) are plan
        # scratch, never live — but a LAZY pruned-scan DataFrame re-reads
        # its side file on every action, so an aggressive retention
        # (retention_ms=0 maintenance) must not break plans still in
        # flight.  Floor their sweep age at one hour independently of the
        # caller's retention; plans older than that re-plan cheaply.
        scan_cutoff = min(cutoff, time.time() - _SCAN_SCRATCH_MIN_AGE_S)
        for fn in os.listdir(meta_dir) if os.path.isdir(meta_dir) else []:
            if not fn.startswith(("snap-", "seg-", "snaplog-", "scan-")):
                continue  # vN.metadata.json / version-hint are the log itself
            if fn in live_meta:
                continue
            p = os.path.join(meta_dir, fn)
            eff_cutoff = scan_cutoff if fn.startswith("scan-") else cutoff
            if os.path.getmtime(p) < eff_cutoff:
                os.remove(p)
                removed += 1
        return removed

    def optimize(
        self,
        file_size_threshold: int = 100 * 1024 * 1024,
        modified_after_ms: int | None = None,
        zorder_by: list[str] | None = None,
        rewrite_deletes: bool = False,
        partition_filter: dict[str, Any] | None = None,
    ) -> Snapshot | None:
        """EXECUTE optimize(file_size_threshold) [WHERE $file_modified_time]
        (reference :263, :267-268): bin-pack small files per partition.
        The WHERE form filters candidates on *manifest* metadata — no data
        is read to decide (V10).

        ``zorder_by=[col, ...]`` switches to a CLUSTERING rewrite (the
        scale-path extension of V9, mirroring Iceberg's
        rewrite_data_files sort strategy with a zorder() order): every
        data file is rewritten into files covering ranges of the Morton
        key over the named columns, so manifest min/max pruning serves
        predicates on ANY participating column.  See sources/zorder.py.

        ``partition_filter={col: value}`` scopes the compaction to the
        named identity partitions (``ALTER TABLE t EXECUTE optimize WHERE
        mktsegment = 'X'`` — Trino's partition-scoped optimize): only
        manifest entries whose partition tuple matches every pair are
        candidates, decided from metadata alone.  Keys must be identity
        partition fields of the current spec — transform fields
        (year/bucket/truncate) raise rather than guessing value mapping.

        ``rewrite_deletes=True`` (Iceberg's delete-file-threshold shape)
        additionally rewrites every data file a position-delete file
        references, regardless of size or group — materializing MoR
        deletes into clean files; _rewrite_files then drops the
        fully-applied delete files.  With a following
        ``expire_snapshots`` this is the compliance purge path: deleted
        rows stop existing on disk, not just in the read view."""
        if zorder_by:
            if modified_after_ms is not None:
                raise ValueError(
                    "optimize(zorder_by=...) is a full clustering rewrite; "
                    "it cannot be scoped by $file_modified_time"
                )
            return self._optimize_zorder(zorder_by, file_size_threshold)
        manifest = self._manifest(self._resolve(MAIN))
        targeted: set[str] = (
            {p for d in manifest.delete_files for p in d.referenced_files}
            if rewrite_deletes else set()
        )
        # vectorized on segment-backed manifests: a healthy 10^6-file
        # table's no-op bin-pack sweep decides from column scans
        # (~0.1 s) instead of the full 20+ s entry materialization
        cands = manifest.candidate_files(
            file_size_threshold, modified_after_ms, targeted
        )
        if partition_filter:
            # identity fields' partition-dict key IS the source column name
            identity = set()
            for sf in self.meta.spec.fields:
                if parse_transform(sf.transform).name == "identity":
                    identity.add(next(
                        c.name for c in self.meta.schema.fields
                        if c.id == sf.source_id))
            bad = set(partition_filter) - identity
            if bad:
                raise ValueError(
                    f"optimize WHERE: {sorted(bad)} are not identity "
                    f"partition fields of the current spec ({sorted(identity)})")
            cands = [
                f for f in cands
                if all(f.partition.get(k) == v for k, v in partition_filter.items())
            ]
        # only partitions with >1 small file benefit — except delete-
        # targeted files, which are rewritten even alone (the point is
        # materializing the delete, not the packing)
        by_part: dict[str, list[DataFile]] = {}
        for f in cands:
            by_part.setdefault(f"{f.spec_id}|{sorted(f.partition.items())}", []).append(f)
        compact = [
            f for fs in by_part.values()
            if len(fs) > 1 or any(f.path in targeted for f in fs)
            for f in fs
        ]
        if not compact:
            return None
        src = self._read_files_with_lineage(manifest, compact)
        # the actual BIN-PACK: without this the rewrite inherits one output
        # task per input file and re-emits the same small files (the empty-
        # part-file harvest drop exposed exactly that — the old test only
        # passed because phantom empty entries inflated the before-count)
        import math as _math

        target = max(
            1,
            _math.ceil(sum(f.file_size_bytes for f in compact) / file_size_threshold),
        )
        if self.meta.sort_order:
            # sorted tables compact via RANGE partitioning on the sort key:
            # coalesce would merge arbitrary inputs (overlapping [min,max]
            # per output file, eroding the skipping sorted_by exists for);
            # range + the rewrite's sortWithinPartitions yields globally
            # clustered, disjoint-range files
            src = src.repartitionByRange(target, *self.meta.sort_order)
        else:
            src = src.coalesce(target)
        return self._rewrite_files(
            manifest, compact, src, "replace", MAIN,
            summary={"data-invariant": "true"},
        )

    def _optimize_zorder(
        self, cols: list[str], file_size_threshold: int
    ) -> Snapshot | None:
        """Full clustering rewrite on the Morton key over ``cols``.

        Partitioned tables z-order WITHIN each hidden partition (Iceberg's
        semantics): the rewrite range-partitions on (partition tuple, z),
        so every output task holds whole (partition, z-range) runs and the
        writer's partitionBy split yields per-partition files that are
        z-contiguous — one shuffle total, the writer's own partition
        shuffle is skipped (preserve_order).  Row content is untouched, so
        every query result is invariant under this rewrite — the scenario
        oracle checks exactly that."""
        from iceberg_trino_sql_demo_spark.sources.writer import spec_transforms
        from iceberg_trino_sql_demo_spark.sources.zorder import (
            zorder_cluster,
            zorderable,
        )

        by_name = {f.name: f for f in self.meta.schema.fields}
        typed: list[tuple[str, str]] = []
        for c in cols:
            if c not in by_name:
                raise ValueError(f"zorder_by column {c!r} not in schema")
            if not zorderable(by_name[c].type):
                raise ValueError(
                    f"zorder_by column {c!r} has type {by_name[c].type} — "
                    "z-order needs a numeric/date/timestamp linear scale"
                )
            typed.append((c, by_name[c].type))
        manifest = self._manifest(self._resolve(MAIN))
        files = list(manifest.data_files)
        if not files:
            return None
        total = sum(f.file_size_bytes for f in files)
        n_rows = sum(f.record_count for f in files)
        # target-file-count = total/threshold (the bin-pack contract read
        # the other way); clamped so a tiny test threshold can't schedule
        # more range partitions than there are rows
        n_files = min(max(1, -(-total // max(1, file_size_threshold))), max(1, n_rows))
        src = self._read_files_with_lineage(manifest, files)
        # partitioned: lead the range key with the partition transform
        # values (computed here on logical columns; the writer recomputes
        # the identical deterministic values for the dir split)
        pref: list[str] = []
        for pt_name, t in spec_transforms(self.meta.spec, self.meta.schema):
            src_ddl = next((c.type for c in self.meta.schema.fields
                            if c.name == t.source), None)
            src = src.withColumn(pt_name, t.apply(F.col(t.source), src_ddl))
            pref.append(pt_name)
        clustered = zorder_cluster(
            src, typed, int(n_files), prefix_cols=pref
        ).drop(*pref)
        snap = self._rewrite_files(
            manifest, files, clustered, "replace", MAIN, preserve_order=True,
            summary={"data-invariant": "true"},
        )
        # record the clustering in table properties (SHOW CREATE surfaces
        # it; informational — DML appends don't re-cluster until the next
        # optimize, exactly like Iceberg's sort-order metadata)
        self.meta.properties["zorder-by"] = ",".join(cols)
        self._commit_metadata_only()
        return snap

    # ------------------------------------------------------------------
    # stats (A2/A3)
    # ------------------------------------------------------------------
    def analyze(self) -> None:
        """ANALYZE (reference :48): NDV/null per column from ONE scan, plus
        low/high/data_size folded from the parquet-footer manifest stats the
        writer already records — zero additional data reads, which is the
        property that matters when the manifest covers 100 TB of files."""
        df = self.df()
        schema = self.meta.schema
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for f in schema.fields:
            if f.type in ("variant",):
                continue
            aggs.append(F.approx_count_distinct(f.name).alias(f"ndv_{f.name}"))
            aggs.append(F.sum(F.col(f.name).isNull().cast("long")).alias(f"nulls_{f.name}"))
        row = df.agg(*aggs).collect()[0].asDict()

        # manifest fold: min/max/compressed-size per field id across files
        manifest = self._manifest(self._resolve(MAIN))
        folded: dict[str, dict] = {}
        for dfile in manifest.data_files:
            for fid, cs in (dfile.stats or {}).items():
                cur = folded.setdefault(fid, {"min": None, "max": None, "size": 0})
                mn, mx = cs.get("min"), cs.get("max")
                try:
                    if mn is not None and (cur["min"] is None or mn < cur["min"]):
                        cur["min"] = mn
                    if mx is not None and (cur["max"] is None or mx > cur["max"]):
                        cur["max"] = mx
                except TypeError:  # mixed types across schema evolution
                    pass
                cur["size"] += cs.get("size") or 0

        stats = {"row_count": row["__rows"]}
        for f in schema.fields:
            if f"ndv_{f.name}" in row:
                fold = folded.get(str(f.id), {})
                stats[f.name] = {
                    "ndv": row[f"ndv_{f.name}"],
                    "nulls": row[f"nulls_{f.name}"],
                    "low": fold.get("min"),
                    "high": fold.get("max"),
                    "data_size": fold.get("size"),
                }
        self.meta.column_stats = stats
        self._commit_metadata_only()

    def show_stats(self) -> DataFrame:
        """SHOW STATS FOR table (reference :49) — Trino's column set:
        column_name, data_size, distinct_values_count, nulls_fraction,
        low_value, high_value, plus the row_count summary."""
        st = self.meta.column_stats or {}
        rows = []
        n = st.get("row_count")

        def _s(v) -> str | None:
            return None if v is None else str(v)

        for f in self.meta.schema.fields:
            cs = st.get(f.name) or {}
            rows.append(
                (
                    f.name,
                    float(cs["data_size"]) if cs.get("data_size") is not None else None,
                    float(cs["ndv"]) if "ndv" in cs else None,
                    (float(cs["nulls"]) / n) if ("nulls" in cs and n) else None,
                    _s(cs.get("low")),
                    _s(cs.get("high")),
                )
            )
        # summary row carries row_count, Trino-style
        rows.append((None, None, None, None, None, None))
        schema = T.StructType(
            [
                T.StructField("column_name", T.StringType()),
                T.StructField("data_size", T.DoubleType()),
                T.StructField("distinct_values_count", T.DoubleType()),
                T.StructField("nulls_fraction", T.DoubleType()),
                T.StructField("low_value", T.StringType()),
                T.StructField("high_value", T.StringType()),
            ]
        )
        df = self.spark.createDataFrame(rows, schema)
        return df.withColumn(
            "row_count", F.lit(float(n) if n is not None else None).cast("double")
        )

    # ------------------------------------------------------------------
    # SHOW CREATE (D8) + metadata tables (P8) live in meta_tables.py
    # ------------------------------------------------------------------
    def meta_df(self, kind: str) -> DataFrame:
        from iceberg_trino_sql_demo_spark.sources.meta_tables import metadata_table

        return metadata_table(self, kind)

    def show_create(self, name: str = "table") -> str:
        from iceberg_trino_sql_demo_spark.sources.meta_tables import show_create_table

        return show_create_table(self, name)
