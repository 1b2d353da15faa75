"""Snapshot -> DataFrame resolution (SURVEY.md §3.1 steps 2-4).

The planner hands this module a (possibly pruned) manifest; everything here
builds ONE declarative Catalyst plan:

- files are grouped by (schema_id, has_lineage) and each group is read with
  an explicit physical schema, then projected to the *current* schema by
  column id — adds fill ``initial_default`` (reference :166-171: old rows
  surface the default, not NULL), drops are simply not selected (:181).
  The projection is SQL text applied with one ``selectExpr`` per group, so
  planning costs a few py4j round trips per group plus one per list
  element, not several per column;
- merge-on-read position deletes become ONE left-anti join above the union
  of the groups holding data files a delete file references, reading only
  the delete files whose ``referenced_files`` meet them — clean files keep
  an untouched scan with full parquet pushdown (SURVEY.md §4 "MoR plan kept
  narrow");
- hidden columns (reference :65-72) derive from Spark's ``_metadata`` struct
  (_path, _file_modified_time, row positions) plus manifest-side joins for
  _partition and row lineage (first_row_id + row_index, v3 row lineage).

Scale note: per-group unions are O(#schema versions) not O(#files); the
file-info side of every hidden-column join is manifest-sized and broadcast.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_trino_sql_demo_spark.sources.metadata import (
    DataFile,
    Manifest,
    TableMetadata,
    TableSchema,
    column_sql,
    spark_type,
    sql_ident,
)

ROW_ID = "_row_id"
LAST_SEQ = "_last_updated_sequence_number"
PATH_COL = "_path"
FILE_MTIME = "_file_modified_time"
PARTITION_COL = "_partition"
_FILE = "__mor_file"
_POS = "__mor_pos"

HIDDEN_COLS = (ROW_ID, LAST_SEQ, PARTITION_COL, PATH_COL, FILE_MTIME)


def _to_uri(path: str) -> str:
    # Spark's _metadata.file_path renders local files as 'file:/abs/path'
    return "file:" + path if path.startswith("/") else path


#: where a group scan's (file, position, mtime) come from: Spark's parquet
#: ``_metadata`` struct, or the columns the ORC/Avro positional scans emit
_PARQUET_POSITIONS = ("_metadata.file_path", "_metadata.row_index",
                      "_metadata.file_modification_time")
_SCAN_POSITIONS = (_FILE, _POS, FILE_MTIME)


def projection_sql(
    file_schema: TableSchema,
    current: TableSchema,
    has_lineage: bool,
    *,
    lineage: bool = False,
    positions: tuple[str, str, str] | None = None,
) -> list[str]:
    """Select-list text projecting a file group's physical layout to the
    current schema, by column id (never by name — SURVEY.md §1.4): renamed
    columns read their physical name, retyped ones cast, added ones surface
    their ``initial_default``, dropped ones are not selected.  ``lineage``
    appends _row_id and _last_updated_sequence_number (NULL for files
    written without them); ``positions`` names the sources of the
    (__mor_file, __mor_pos, _file_modified_time) columns.  Applied with one
    ``selectExpr`` per group."""
    by_id = {f.id: f for f in file_schema.fields}
    out = []
    for fld in current.fields:
        src = by_id.get(fld.id)
        if src is None:
            out.append(column_sql(fld.name, None, fld.type, fld.initial_default))
        else:
            out.append(column_sql(fld.name, src.pname,
                                  fld.type if src.type != fld.type else None))
    if lineage:
        out += ([ROW_ID, LAST_SEQ] if has_lineage
                else [f"CAST(NULL AS BIGINT) AS {c}" for c in (ROW_ID, LAST_SEQ)])
    if positions is not None:
        out += [f"{s} AS {d}" for s, d in zip(positions, _SCAN_POSITIONS)]
    return out


def _scan_group(
    spark: SparkSession,
    meta: TableMetadata,
    key: tuple[int, bool, str],
    files: list[DataFile],
    *,
    lineage: bool = False,
    positions: bool = True,
) -> DataFrame:
    """One file group (schema_id, has_lineage, format) read with its own
    physical schema and projected by ``projection_sql`` in one
    ``selectExpr``.  Parquet positions come from ``_metadata``; ORC (when
    positions are needed) and Avro (always: there is no native reader)
    take the positional scans below."""
    schema_id, has_lineage, fmt = key
    fschema = meta.schema_by_id(schema_id)
    struct = fschema.to_struct(physical=True)
    if has_lineage:
        struct = T.StructType(
            list(struct.fields)
            + [T.StructField(ROW_ID, T.LongType()), T.StructField(LAST_SEQ, T.LongType())]
        )
    if fmt == "avro" or (fmt == "orc" and positions):
        # Spark's ORC source has no _metadata.row_index, and this
        # distribution has no avro datasource at all — the pyarrow stripe /
        # pure-Python OCF readers supply exact file positions for the MoR
        # anti-join and row-id synthesis
        scan = _orc_scan_with_positions if fmt == "orc" else _avro_scan_with_positions
        df, src = scan(spark, files, struct), _SCAN_POSITIONS
    else:
        rd = spark.read.schema(struct)
        paths = [f.path for f in files]
        # NB: DataFrameReader.orc takes ONE path-or-list (its second
        # positional is mergeSchema), unlike .parquet(*paths)
        df, src = (rd.orc(paths) if fmt == "orc" else rd.parquet(*paths)), _PARQUET_POSITIONS
    return df.selectExpr(*projection_sql(
        fschema, meta.schema, has_lineage, lineage=lineage,
        positions=src if positions else None))


def _group_key(f: DataFile) -> tuple[int, bool, str]:
    return f.schema_id, bool(f.has_lineage), f.file_format or "parquet"


def _union(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


#: _row_id / _last_updated_sequence_number of a scan joined to
#: ``_file_info_df``: the physical values, else derived from the manifest
#: (first_row_id + position, the file's sequence number)
_LINEAGE_SQL = (f"coalesce({ROW_ID}, __fi_first_row_id + {_POS}) AS {ROW_ID}",
                f"coalesce({LAST_SEQ}, __fi_seq) AS {LAST_SEQ}")


def _scan_with_positions(
    spark: SparkSession, meta: TableMetadata, files: list[DataFile],
    *, lineage: bool = False,
) -> DataFrame:
    """``files`` projected to the current schema, plus (__mor_file,
    __mor_pos, _file_modified_time): one scan per file group, unioned.
    ``lineage`` adds _row_id and _last_updated_sequence_number valued as
    ``snapshot_df(hidden=True)`` values them, through the same broadcast
    join to the manifest's file info."""
    groups: dict[tuple[int, bool, str], list[DataFile]] = {}
    for f in files:
        groups.setdefault(_group_key(f), []).append(f)
    df = _union([_scan_group(spark, meta, k, fs, lineage=lineage)
                 for k, fs in sorted(groups.items())])
    if not lineage:
        return df
    info = _file_info_df(spark, files)
    df = df.join(F.broadcast(info), df[_FILE] == info["__fi_path"], "left")
    return df.selectExpr(*[sql_ident(f.name) for f in meta.schema.fields],
                         *_LINEAGE_SQL, *_SCAN_POSITIONS)


def _file_info_df(spark: SparkSession, files: list[DataFile]) -> DataFrame:
    rows = [
        (
            _to_uri(f.path),
            f.first_row_id,
            f.sequence_number,
            json.dumps(f.partition, default=str),
            bool(f.has_lineage),
        )
        for f in files
    ]
    schema = T.StructType(
        [
            T.StructField("__fi_path", T.StringType()),
            T.StructField("__fi_first_row_id", T.LongType()),
            T.StructField("__fi_seq", T.LongType()),
            T.StructField("__fi_partition", T.StringType()),
            T.StructField("__fi_has_lineage", T.BooleanType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def snapshot_df(
    spark: SparkSession,
    meta: TableMetadata,
    manifest: Manifest,
    *,
    hidden: bool = False,
) -> DataFrame:
    """Build the DataFrame for a snapshot's (pruned) manifest.

    ``hidden=True`` appends the reference's system columns (:65-72):
    _row_id, _last_updated_sequence_number, _partition, _path,
    _file_modified_time.  Plain reads skip every metadata-join so the scan
    stays a bare parquet read.
    """
    current = meta.schema
    out_struct = T.StructType(
        [T.StructField(f.name, spark_type(f.type), True) for f in current.fields]
        + [T.StructField(ROW_ID, T.LongType(), True), T.StructField(LAST_SEQ, T.LongType(), True)]
    )
    data_files = manifest.data_files
    if not data_files:
        if hidden:
            out_struct = T.StructType(
                list(out_struct.fields)
                + [
                    T.StructField(PARTITION_COL, T.StringType(), True),
                    T.StructField(PATH_COL, T.StringType(), True),
                    T.StructField(FILE_MTIME, T.TimestampType(), True),
                ]
            )
        empty = spark.createDataFrame([], out_struct)
        return empty if hidden else empty.select(*[f.name for f in current.fields])

    pos_dels = [d for d in manifest.delete_files
                if d.content in ("position", "dv")]
    eq_dels = [d for d in manifest.delete_files if d.content == "equality"]

    # data files referenced by live position-delete files need the MoR
    # (file, pos) anti-join
    deleted_refs: set[str] = set()
    for dfl in pos_dels:
        deleted_refs.update(_delete_refs(dfl))
    # an equality delete applies to every data file STRICTLY older than it
    # (same-commit data files are exempt — that exemption is what makes the
    # streaming upsert a blind write)
    max_eq_seq = max((d.sequence_number for d in eq_dels), default=None)

    groups: dict[tuple[bool, bool, int, bool, str], list[DataFile]] = {}
    for f in data_files:
        is_eq = max_eq_seq is not None and f.sequence_number < max_eq_seq
        groups.setdefault((f.path in deleted_refs, is_eq, *_group_key(f)), []).append(f)

    # delete-referenced groups are unioned under ONE position-delete
    # anti-join; clean groups stay bare scans (full parquet pushdown) and
    # carry no position columns unless the hidden columns need them
    dirty: list[DataFrame] = []
    parts: list[DataFrame] = []
    for (is_deleted, is_eq, *key), files in sorted(groups.items()):
        df = _scan_group(spark, meta, tuple(key), files, lineage=hidden,
                         positions=hidden or is_deleted or is_eq)
        if is_eq:
            df = _apply_equality_deletes(spark, meta, df, files, eq_dels)
        (dirty if is_deleted else parts).append(df)
    if dirty:
        df = _union(dirty)
        dels = read_position_deletes(
            spark, manifest,
            only_for=[f.path for (d, *_), fs in groups.items() if d for f in fs])
        n_del = sum(d.record_count for d in pos_dels)
        df = df.join(
            _hint_deletes(dels, n_del),
            (df[_FILE] == dels["__del_file"]) & (df[_POS] == dels["__del_pos"]),
            "left_anti",
        )
        parts.insert(0, df)

    if not hidden:
        return _union([p.drop(*_SCAN_POSITIONS) for p in parts])

    df = _union(parts)
    info = _file_info_df(spark, data_files)
    df = df.join(F.broadcast(info), df[_FILE] == info["__fi_path"], "left")
    return df.selectExpr(
        *[sql_ident(f.name) for f in current.fields],
        *_LINEAGE_SQL,
        f"__fi_partition AS {PARTITION_COL}",
        f"{_FILE} AS {PATH_COL}",
        FILE_MTIME,
    )


def _orc_scan_with_positions(
    spark: SparkSession, files: list[DataFile], struct: T.StructType
) -> DataFrame:
    """Positional scan of ORC data files: Spark's ORC reader exposes no
    ``_metadata.row_index``, so positions come from an Arrow-batched
    ``mapInPandas`` over per-file pyarrow.orc stripe reads — ORC row
    position IS file order (stripes in order, rows in stripe order),
    exactly the ordinal Iceberg position deletes and row-lineage
    synthesis address.  One task per file; each stripe converts as one
    Arrow batch, so memory is stripe-bounded.  Returns the group's
    physical columns plus (__mor_file, __mor_pos, _file_modified_time) —
    the same shape the parquet ``_metadata`` branch produces."""
    out = T.StructType(
        list(struct.fields)
        + [T.StructField(_FILE, T.StringType()),
           T.StructField(_POS, T.LongType()),
           T.StructField(FILE_MTIME, T.TimestampType())]
    )
    phys = [f.name for f in struct.fields]
    src = spark.createDataFrame(
        [(f.path,) for f in files], "path string"
    ).repartition(max(1, len(files)))

    def gen(it):
        import datetime as _dt
        import os as _os

        import pandas as _pd
        import pyarrow.orc as _po

        for pdf in it:
            for p in pdf["path"]:
                # tz-aware so Arrow carries the true instant regardless of
                # the executor OS timezone (the parquet branch's
                # _metadata.file_modification_time is likewise an instant).
                mtime = _dt.datetime.fromtimestamp(
                    _os.path.getmtime(p), tz=_dt.timezone.utc)
                of = _po.ORCFile(p)
                pos = 0
                for si in range(of.nstripes):
                    b = of.read_stripe(si).to_pandas()
                    d = _pd.DataFrame(
                        {c: (b[c] if c in b.columns else None)
                         for c in phys})
                    d[_FILE] = _to_uri(p)
                    d[_POS] = range(pos, pos + len(d))
                    d[FILE_MTIME] = mtime
                    pos += len(d)
                    yield d

    return src.mapInPandas(gen, out)


def _avro_scan_with_positions(
    spark: SparkSession, files: list[DataFile], struct: T.StructType
) -> DataFrame:
    """Positional scan of Avro OCF data files (adopted Iceberg tables —
    the spec permits Avro data files; this Spark distribution ships no
    spark-avro datasource).  The engine's pure-Python OCF decoder fans
    out as an Arrow-batched ``mapInPandas``: one task per file, rows in
    container order — which IS the ordinal Iceberg position deletes and
    row-lineage synthesis address.  Avro logical types surface raw from
    the decoder (date = int days, timestamp-micros = long), so values
    convert per the TARGET Spark field type here.  Each file decodes
    whole in its task (OCF blocks are row-oriented; no column pruning
    exists for Avro anywhere) — adoption-compaction to parquet
    (``optimize``) is the scale path, same as ORC."""
    out = T.StructType(
        list(struct.fields)
        + [T.StructField(_FILE, T.StringType()),
           T.StructField(_POS, T.LongType()),
           T.StructField(FILE_MTIME, T.TimestampType())]
    )
    conv = [(f.name, f.dataType.typeName()) for f in struct.fields]
    src = spark.createDataFrame(
        [(f.path,) for f in files], "path string"
    ).repartition(max(1, len(files)))

    def gen(it):
        import datetime as _dt
        import os as _os

        import pandas as _pd

        from iceberg_trino_sql_demo_spark.sources.avro_ocf import (
            read_ocf,
        )

        epoch_d = _dt.date(1970, 1, 1)
        epoch_ts = _dt.datetime(1970, 1, 1)

        def cell(v, tname):
            if v is None:
                return None
            if tname == "date" and isinstance(v, int):
                return epoch_d + _dt.timedelta(days=v)
            if tname == "timestamp" and isinstance(v, int):
                return epoch_ts + _dt.timedelta(microseconds=v)
            return v

        for pdf in it:
            for p in pdf["path"]:
                mtime = _dt.datetime.fromtimestamp(
                    _os.path.getmtime(p), tz=_dt.timezone.utc)
                _, rows = read_ocf(p)
                d = _pd.DataFrame({
                    name: [cell(r.get(name), tname) for r in rows]
                    for name, tname in conv
                })
                d[_FILE] = _to_uri(p)
                d[_POS] = range(len(rows))
                d[FILE_MTIME] = mtime
                yield d

    return src.mapInPandas(gen, out)


def rows_at_positions(
    spark: SparkSession,
    meta: TableMetadata,
    files: list[DataFile],
    delete_df: DataFrame,
    n_delete_rows: int | None = None,
) -> DataFrame:
    """Rows of ``files`` whose (path, position) appear in ``delete_df``
    (__del_file, __del_pos) — used by CDC to materialize deleted rows.
    ``n_delete_rows`` (manifest record counts) gates the broadcast hint."""
    if not files:
        return spark.createDataFrame([], meta.schema.to_struct())
    df = _scan_with_positions(spark, meta, files)
    hinted = (
        delete_df
        if n_delete_rows is not None and n_delete_rows > _DELETE_BROADCAST_ROWS
        else F.broadcast(delete_df)
    )
    df = df.join(
        hinted,
        (df[_FILE] == delete_df["__del_file"]) & (df[_POS] == delete_df["__del_pos"]),
        "left_semi",
    )
    return df.drop(*_SCAN_POSITIONS)


def _read_refs(delete_path: str) -> set[str]:
    """Fallback: distinct file_path values inside a position-delete parquet."""
    import pyarrow.parquet as pq

    t = pq.read_table(delete_path, columns=["file_path"])
    return set(t.column("file_path").to_pylist())


def _delete_refs(d) -> set[str]:
    """Data files a position-delete / DV entry references, from the
    manifest when it records them."""
    return set(d.referenced_files) or _read_refs(d.path)


#: broadcast ceiling for the position-delete set — (file,pos) pairs are
#: ~100 B serialized, so 2M rows ≈ 200 MB, comfortably under executor
#: memory; past that the anti-join must shuffle instead of OOMing.
_DELETE_BROADCAST_ROWS = 2_000_000


def _hint_deletes(dels, n_delete_rows: int):
    """Broadcast the delete set only while the MANIFEST (no data read)
    proves it small; a huge pre-compaction delete set shuffle-joins."""
    return F.broadcast(dels) if n_delete_rows <= _DELETE_BROADCAST_ROWS else dels


def _apply_equality_deletes(
    spark: SparkSession,
    meta: TableMetadata,
    df: DataFrame,
    files: list,
    eq_dels: list,
) -> DataFrame:
    """Anti-join ``df`` (projected to the current schema, carrying _FILE)
    against the live equality-delete sets.

    Semantics (Iceberg v2 equality deletes): a delete row with key K
    removes every row with key K from data files whose sequence_number is
    STRICTLY below the delete file's.  Null keys match null keys
    (null-safe equality), like Iceberg.  One anti-join per distinct key-id
    tuple; the per-row data sequence number comes from a broadcast
    (path -> seq) join over the group's manifest entries — no data read.
    """
    from functools import reduce

    # attach each row's data-file sequence number (file-cardinality join)
    seq_rows = [(_to_uri(f.path), f.sequence_number) for f in files]
    seq_df = spark.createDataFrame(seq_rows, "__seq_path string, __data_seq long")
    df = df.join(F.broadcast(seq_df), df[_FILE] == seq_df["__seq_path"], "left").drop(
        "__seq_path"
    )

    by_ids: dict[tuple[int, ...], list] = {}
    for d in eq_dels:
        by_ids.setdefault(tuple(d.equality_ids), []).append(d)
    for ids, dels in sorted(by_ids.items()):
        eqdf = read_equality_deletes(spark, meta, dels)
        conds = []
        for cid in ids:
            fld = next(f for f in meta.schema.fields if f.id == cid)
            conds.append(df[fld.name].eqNullSafe(eqdf[f"__eqk_{cid}"]))
        cond = reduce(lambda a, b: a & b, conds) & (
            df["__data_seq"] < eqdf["__eq_seq"]
        )
        n_del = sum(d.record_count for d in dels)
        df = df.join(_hint_deletes(eqdf, n_del), cond, "left_anti")
    return df.drop("__data_seq")


def read_equality_deletes(
    spark: SparkSession, meta: TableMetadata, dels: list
) -> DataFrame:
    """Union of equality-delete files sharing one key-id tuple, as
    (__eqk_<id>..., __eq_seq).  Files are grouped by sequence number so the
    scan stays a plain parquet read per distinct commit."""
    ids = tuple(dels[0].equality_ids)
    fields = []
    for cid in ids:
        fld = next(f for f in meta.schema.fields if f.id == cid)
        fields.append(T.StructField(f"k_{cid}", spark_type(fld.type), True))
    struct = T.StructType(fields)
    by_seq: dict[int, list[str]] = {}
    for d in dels:
        by_seq.setdefault(d.sequence_number, []).append(d.path)
    out: DataFrame | None = None
    for seq, paths in sorted(by_seq.items()):
        part = spark.read.schema(struct).parquet(*paths).withColumn(
            "__eq_seq", F.lit(seq).cast("long")
        )
        out = part if out is None else out.unionByName(part)
    assert out is not None
    return out.select(
        *[F.col(f"k_{cid}").alias(f"__eqk_{cid}") for cid in ids], "__eq_seq"
    )


def rows_matching_equality(
    spark: SparkSession, meta: TableMetadata, manifest: Manifest, eq_dels: list
) -> DataFrame:
    """Rows of ``manifest``'s state (all deletes applied) that the given
    equality-delete files remove — i.e. key matches AND the row's data file
    is strictly older than the delete.  Used by CDC to materialize the
    full values of equality-deleted rows."""
    from functools import reduce

    base = snapshot_df(spark, meta, manifest, hidden=True)
    files = manifest.data_files
    seq_rows = [(_to_uri(f.path), f.sequence_number) for f in files]
    seq_df = spark.createDataFrame(seq_rows, "__seq_path string, __data_seq long")
    base = base.join(
        F.broadcast(seq_df), base[PATH_COL] == seq_df["__seq_path"], "left"
    )
    by_ids: dict[tuple[int, ...], list] = {}
    for d in eq_dels:
        by_ids.setdefault(tuple(d.equality_ids), []).append(d)
    out: DataFrame | None = None
    for ids, dels in sorted(by_ids.items()):
        eqdf = read_equality_deletes(spark, meta, dels)
        conds = []
        for cid in ids:
            fld = next(f for f in meta.schema.fields if f.id == cid)
            conds.append(base[fld.name].eqNullSafe(eqdf[f"__eqk_{cid}"]))
        cond = reduce(lambda a, b: a & b, conds) & (
            base["__data_seq"] < eqdf["__eq_seq"]
        )
        n_del = sum(d.record_count for d in dels)
        hit = base.join(_hint_deletes(eqdf, n_del), cond, "left_semi")
        out = hit if out is None else out.unionByName(hit)
    assert out is not None
    return out.select(*[f.name for f in meta.schema.fields])


def equality_positions(
    spark: SparkSession,
    meta: TableMetadata,
    manifest: Manifest,
    files: list,
    eq_dels: list,
) -> DataFrame:
    """(file_path URI, pos) of every row the given equality deletes
    suppress within ``files`` — the probe behind
    ``Table.rewrite_equality_deletes`` (eq -> position materialization).
    Rows already covered by a position delete are excluded (they need no
    second tombstone)."""
    from functools import reduce

    base = _scan_with_positions(spark, meta, files)
    pos = read_position_deletes(spark, manifest, only_for=[f.path for f in files])
    n_pos = sum(
        d.record_count for d in manifest.delete_files
        if d.content in ("position", "dv")
    )
    base = base.join(
        _hint_deletes(pos, n_pos),
        (base[_FILE] == pos["__del_file"]) & (base[_POS] == pos["__del_pos"]),
        "left_anti",
    )
    seq_df = spark.createDataFrame(
        [(_to_uri(f.path), f.sequence_number) for f in files],
        "__seq_path string, __data_seq long",
    )
    base = base.join(F.broadcast(seq_df), base[_FILE] == seq_df["__seq_path"], "left")
    by_ids: dict[tuple[int, ...], list] = {}
    for d in eq_dels:
        by_ids.setdefault(tuple(d.equality_ids), []).append(d)
    out: DataFrame | None = None
    for ids, dels in sorted(by_ids.items()):
        eqdf = read_equality_deletes(spark, meta, dels)
        conds = []
        for cid in ids:
            fld = next(f for f in meta.schema.fields if f.id == cid)
            conds.append(base[fld.name].eqNullSafe(eqdf[f"__eqk_{cid}"]))
        cond = reduce(lambda a, b: a & b, conds) & (
            base["__data_seq"] < eqdf["__eq_seq"]
        )
        n_del = sum(d.record_count for d in dels)
        hit = base.join(_hint_deletes(eqdf, n_del), cond, "left_semi")
        out = hit if out is None else out.unionByName(hit)
    assert out is not None
    return out.selectExpr(f"{_FILE} AS file_path", f"{_POS} AS pos").distinct()


def read_position_deletes(
    spark: SparkSession, manifest: Manifest, only_for: list[str] | None = None
) -> DataFrame:
    """Union of live position tombstones as (__del_file, __del_pos) —
    raw position-delete parquet files plus consolidated deletion-vector
    packs (sources/deletion_vectors.py).  ``only_for`` (plain data paths)
    reads only the delete files whose referenced files meet it, chosen from
    the manifest; rows naming other data files may remain, which an
    anti- or semi-join on (file, pos) over ``only_for`` never matches."""
    dels = [d for d in manifest.delete_files if d.content in ("position", "dv")]
    if only_for is not None:
        want = set(only_for) | {_to_uri(p) for p in only_for}
        dels = [d for d in dels if not want.isdisjoint(_delete_refs(d))]
    paths = [d.path for d in dels if d.content == "position"]
    dvs = [d for d in dels if d.content == "dv"]
    parts: list[DataFrame] = []
    if paths:
        parts.append(
            spark.read.schema("file_path string, pos long").parquet(*paths)
            .withColumnsRenamed({"file_path": "__del_file", "pos": "__del_pos"}))
    if dvs:
        from iceberg_trino_sql_demo_spark.sources.deletion_vectors import (
            read_dv_positions,
        )

        parts.append(read_dv_positions(spark, dvs, only_for))
    if not parts:
        return spark.createDataFrame([], "__del_file string, __del_pos long")
    return _union(parts)
