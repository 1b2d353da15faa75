"""Data-file writer: DataFrame -> immutable parquet file group + DataFile entries.

Write path (SURVEY.md §3.2): append hidden partition-transform columns,
hash-repartition on them so each partition value lands in few tasks (no
small-file explosion at scale), ``partitionBy`` into a fresh
``data/<commit-uuid>/`` directory, then harvest per-file statistics from the
parquet footers (record count, per-column min/max/null-count) — the driver
never scans data, it reads O(files) footers.  Footer harvesting is the
engine's substitute for Iceberg's manifest stats and is what powers
file-level pruning (plans/pruning.py).
"""

from __future__ import annotations

import os
import uuid
from datetime import date, datetime
from typing import Any
from urllib.parse import unquote

import pyarrow.parquet as pq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iceberg_trino_sql_demo_spark.sources.metadata import (
    DataFile,
    PartitionSpec,
    TableSchema,
    column_sql,
    now_ms,
    sql_ident,
)
from iceberg_trino_sql_demo_spark.sources.transforms import Transform, parse_transform

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
PT_PREFIX = "_pt_"


def spec_transforms(spec: PartitionSpec, schema: TableSchema) -> list[tuple[str, Transform]]:
    """[(partition field name, bound Transform)] for a spec; transform source
    is resolved by column id so renames/drops never corrupt the mapping."""
    out = []
    for f in spec.fields:
        t = parse_transform(f.transform)
        src = next(c for c in schema.fields if c.id == f.source_id)
        t = Transform(t.name, src.name, t.param)
        out.append((PT_PREFIX + t.field_name, t))
    return out


def _parse_partition_value(raw: str, transform: Transform, source_type: str) -> Any:
    if raw == HIVE_NULL:
        return None
    v = unquote(raw)
    if transform.name in ("year", "month", "day", "hour", "bucket",
                          "ibucket"):
        return int(v)
    if transform.name == "truncate":
        return v
    # identity: convert to the source column's python type
    t = source_type.lower()
    if t in ("bigint", "long", "int", "integer", "smallint", "tinyint"):
        return int(v)
    if t in ("double", "float", "real"):
        return float(v)
    if t == "date":
        return v  # ISO string (JSON-friendly; pruning compares ISO order)
    if t.startswith("decimal"):
        return float(v)
    if t == "boolean":
        return v == "true"
    return v


def _stat_value(v: Any) -> Any:
    """Footer stat -> JSON-serializable, order-preserving value."""
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8", "replace")
        except Exception:
            return None
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return v


def write_data_files(
    df: DataFrame,
    location: str,
    schema: TableSchema,
    spec: PartitionSpec,
    sequence_number: int,
    sort_order: list[str] | None = None,
    extra_physical_cols: list[str] | None = None,
    preserve_order: bool = False,
) -> list[DataFile]:
    """Write ``df`` (logical column names, already schema-aligned) as one
    immutable file group; return manifest entries (first_row_id unassigned,
    filled by the committing Table).

    ``extra_physical_cols`` lets DML rewrites persist lineage columns
    (_row_id, _last_updated_sequence_number) alongside data columns.

    ``preserve_order=True``: the caller already arranged partitioning and
    row order (the z-order rewrite range-partitions on (partition, z)),
    so skip the writer's own partition-tuple repartition — which would
    destroy that arrangement — and any declared sort.  The partitionBy
    split still routes rows to their hidden-partition dirs; a task whose
    range spans several partitions writes one file per (task, dir).
    """
    commit_dir = os.path.join(location, "data", uuid.uuid4().hex[:16])
    pts = spec_transforms(spec, schema)
    extra = extra_physical_cols or []

    # logical -> physical names, preserving schema order
    out = df.selectExpr(
        *[column_sql(f.pname, f.name) for f in schema.fields],
        *[sql_ident(c) for c in extra],
    )
    by_name = {f.name: f for f in schema.fields}
    for pt_name, t in pts:
        out = out.withColumn(
            pt_name,
            t.apply(F.col(by_name[t.source].pname), by_name[t.source].type))

    if pts and not preserve_order:
        # One shuffle keyed on the partition tuple: each output task then
        # writes whole partitions instead of every task writing a sliver of
        # every partition (file-count = O(partitions), not O(tasks x parts)).
        out = out.repartition(*[pt_name for pt_name, _ in pts])
    if sort_order and not preserve_order:
        out = out.sortWithinPartitions(*sort_order)

    writer = out.write.mode("overwrite")
    if pts:
        writer = writer.partitionBy(*[pt_name for pt_name, _ in pts])
    writer.parquet(commit_dir)

    return harvest_files(commit_dir, schema, spec, sequence_number, pts)


def harvest_files(
    commit_dir: str,
    schema: TableSchema,
    spec: PartitionSpec,
    sequence_number: int,
    pts: list[tuple[str, Transform]] | None = None,
) -> list[DataFile]:
    """Scan a written file group's footers -> DataFile entries."""
    pts = pts if pts is not None else spec_transforms(spec, schema)
    by_pname = {f.pname: f for f in schema.fields}
    src_type = {pt_name: next(c.type for c in schema.fields if c.name == t.source) for pt_name, t in pts}
    tmap = dict(pts)
    entries: list[DataFile] = []
    for root, dirs, files in os.walk(commit_dir):
        dirs.sort()  # manifest order must not depend on directory listing order
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            path = os.path.join(root, fn)
            # partition values from hive-style dirs, e.g. _pt_mktsegment=AUTO
            partition: dict[str, Any] = {}
            for seg in os.path.relpath(root, commit_dir).split(os.sep):
                if "=" in seg:
                    k, raw = seg.split("=", 1)
                    if k in tmap:
                        partition[k[len(PT_PREFIX):]] = _parse_partition_value(
                            raw, tmap[k], src_type[k]
                        )
            try:
                pf = pq.ParquetFile(path)
            except OSError:
                # e.g. Spark's VARIANT logical type predates this pyarrow —
                # fall back to a metadata-only Spark read for the row count
                # and skip column stats for this file (pruning stays
                # conservative, correctness unaffected).
                from pyspark.sql import SparkSession

                spark = SparkSession.getActiveSession()
                n = spark.read.parquet(path).count()
                if n == 0:
                    continue  # same empty-part-file drop as the footer path
                entries.append(
                    DataFile(
                        path=path,
                        spec_id=spec.spec_id,
                        schema_id=schema.schema_id,
                        partition=partition,
                        record_count=n,
                        file_size_bytes=os.path.getsize(path),
                        stats={},
                        first_row_id=-1,
                        sequence_number=sequence_number,
                        file_modified_ms=now_ms(),
                    )
                )
                continue
            md = pf.metadata
            if md.num_rows == 0:
                # Spark occasionally emits an empty part file (e.g. a
                # 1-row insert through a 32-partition sort); an empty
                # data file carries no information, defeats the
                # "every file has stats/blooms" invariant, and costs a
                # scan task per read — drop it at harvest
                continue
            # Per-field accumulators with VALIDITY flags: a bound or null
            # count is only trustworthy if EVERY chunk of the column
            # contributed one.  A chunk without footer stats (or without
            # null_count) must poison the whole field's entry to None —
            # partial sums/bounds understate reality and pruning would
            # wrongly drop files (ADVICE r2: isnull pruning trusted
            # ``null_count or 0``).  _stats_ok treats None as unknown and
            # keeps the file.
            acc: dict[str, dict] = {}
            for rg_i in range(md.num_row_groups):
                rg = md.row_group(rg_i)
                for c_i in range(rg.num_columns):
                    col = rg.column(c_i)
                    if "." in col.path_in_schema:
                        # nested leaf (struct member / map key-value /
                        # list element): heterogeneous leaf types would
                        # poison the parent's single min/max accumulator
                        # (a struct<int,string> crashed the harvest),
                        # and predicates only target top-level columns —
                        # nested fields simply carry no stats entry
                        continue
                    name = col.path_in_schema
                    fld = by_pname.get(name)
                    if fld is None:
                        continue
                    cur = acc.setdefault(
                        str(fld.id),
                        {"mins": [], "maxs": [], "nulls": 0, "size": 0,
                         "mm_ok": True, "n_ok": True},
                    )
                    st = col.statistics
                    if st is None:
                        cur["mm_ok"] = cur["n_ok"] = False
                        continue
                    cur["size"] += col.total_compressed_size or 0
                    try:
                        has_min_max = st.has_min_max
                        mn, mx = (
                            (_stat_value(st.min), _stat_value(st.max))
                            if has_min_max else (None, None)
                        )
                    except NotImplementedError:
                        # pyarrow can't cast stats for some logical types
                        # (e.g. ns timestamps) — skip, pruning stays safe
                        has_min_max, mn, mx = False, None, None
                    if has_min_max and mn is not None and mx is not None:
                        cur["mins"].append(mn)
                        cur["maxs"].append(mx)
                    else:
                        cur["mm_ok"] = False
                    if st.null_count is None:
                        cur["n_ok"] = False
                    else:
                        cur["nulls"] += st.null_count
            stats: dict[str, dict] = {
                fid: {
                    "min": min(c["mins"]) if c["mm_ok"] and c["mins"] else None,
                    "max": max(c["maxs"]) if c["mm_ok"] and c["maxs"] else None,
                    "nulls": c["nulls"] if c["n_ok"] else None,
                    "size": c["size"],
                }
                for fid, c in acc.items()
            }
            entries.append(
                DataFile(
                    path=path,
                    spec_id=spec.spec_id,
                    schema_id=schema.schema_id,
                    partition=partition,
                    record_count=md.num_rows,
                    file_size_bytes=os.path.getsize(path),
                    stats=stats,
                    first_row_id=-1,
                    sequence_number=sequence_number,
                    file_modified_ms=now_ms(),
                )
            )
    return entries
