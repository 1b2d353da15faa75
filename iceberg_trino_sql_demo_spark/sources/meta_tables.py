"""Metadata tables — the table-about-the-table surface (reference :74-82).

Every aspect of a table's version metadata is itself a DataFrame, fully
joinable with normal queries (the reference's curr_ver_dets view, :85-94,
joins $snapshots x $history x $refs).  All frames are built driver-side from
the metadata JSON via ``createDataFrame`` — they are manifest-sized, never
data-sized.

Kinds: properties, snapshots, history, manifests, partitions, files, refs,
entries, metadata_log_entries.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from iceberg_trino_sql_demo_spark.sources.manifest_store import _FIXED_COLS
from iceberg_trino_sql_demo_spark.sources.metadata import MAIN

#: The fixed segment columns the ``$files`` scan reads, typed up front so the
#: scan runs no schema-inference job; the per-column stats columns vary
#: between segments and stay unread.
_FILES_SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField(name, from_arrow_type(typ))
        for name, typ in _FIXED_COLS
        if name in ("path", "spec_id", "partition", "record_count",
                    "file_size_bytes", "first_row_id", "sequence_number")
    ]
)


def _ts(ms: int) -> datetime:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc)


def metadata_table(table, kind: str) -> DataFrame:
    spark, m = table.spark, table.meta
    kind = kind.lstrip("$")

    if kind == "properties":
        rows = [(k, str(v)) for k, v in sorted(m.properties.items())]
        rows += [("format_version", str(m.format_version)), ("table_uuid", m.table_uuid)]
        return spark.createDataFrame(rows, "key string, value string")

    if kind == "snapshots":
        schema = T.StructType(
            [
                T.StructField("committed_at", T.TimestampType()),
                T.StructField("snapshot_id", T.LongType()),
                T.StructField("parent_id", T.LongType()),
                T.StructField("operation", T.StringType()),
                T.StructField("manifest_list", T.StringType()),
                T.StructField("summary", T.MapType(T.StringType(), T.StringType())),
            ]
        )
        rows = [
            (
                _ts(s.timestamp_ms),
                s.snapshot_id,
                s.parent_id,
                s.operation,
                s.manifest,
                {k: str(v) for k, v in s.summary.items()},
            )
            for s in m.all_snapshots()
        ]
        return spark.createDataFrame(rows, schema)

    if kind == "history":
        cur = m.refs.get(MAIN)
        ancestors = set()
        while cur is not None:
            ancestors.add(cur)
            cur = m.snapshot_by_id(cur).parent_id
        schema = T.StructType(
            [
                T.StructField("made_current_at", T.TimestampType()),
                T.StructField("snapshot_id", T.LongType()),
                T.StructField("parent_id", T.LongType()),
                T.StructField("is_current_ancestor", T.BooleanType()),
            ]
        )
        rows = [
            (
                _ts(e["timestamp_ms"]),
                e["snapshot_id"],
                m.snapshot_by_id(e["snapshot_id"]).parent_id,
                e["snapshot_id"] in ancestors,
            )
            for e in m.full_snapshot_log()
        ]
        return spark.createDataFrame(rows, schema)

    if kind == "refs":
        rows = [
            (name, m.ref_type(name).upper(), sid)
            for name, sid in sorted(m.refs.items())
        ]
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id long"
        )

    if kind == "metadata_log_entries":
        schema = T.StructType(
            [
                T.StructField("timestamp", T.TimestampType()),
                T.StructField("file", T.StringType()),
                T.StructField("latest_snapshot_id", T.LongType()),
            ]
        )
        rows = [
            (_ts(e["timestamp_ms"]), e["file"], e.get("latest_snapshot_id"))
            for e in m.full_metadata_log()
        ]
        return spark.createDataFrame(rows, schema)

    # file-level kinds need the current snapshot's manifest
    snap = table._resolve(MAIN)
    manifest = table._manifest(snap)

    if kind == "files":
        schema = T.StructType(
            [
                T.StructField("content", T.IntegerType()),  # 0=data, 1=position, 2=equality deletes
                T.StructField("file_path", T.StringType()),
                T.StructField("file_format", T.StringType()),
                T.StructField("spec_id", T.IntegerType()),
                T.StructField("partition", T.StringType()),
                T.StructField("record_count", T.LongType()),
                T.StructField("file_size_in_bytes", T.LongType()),
                T.StructField("first_row_id", T.LongType()),
                T.StructField("sequence_number", T.LongType()),
            ]
        )
        # Iceberg content ids: 0=data, 1=position deletes (incl. deletion
        # vectors, which Iceberg v3 stores as PUFFIN blobs), 2=equality
        del_rows = [
            (2 if d.content == "equality" else 1, d.path,
             "PUFFIN" if d.content == "dv" else "PARQUET",
             m.default_spec_id, "{}", d.record_count, d.file_size_bytes,
             None, d.sequence_number)
            for d in manifest.delete_files
        ]
        if manifest.segments:
            # manifests ARE data: serve $files straight off the segment
            # parquet with a distributed Spark scan instead of driver-side
            # entry materialization (26.8 s -> a parquet scan at 1M files;
            # a cluster deployment plans over manifests the same way).
            # Values are bit-identical to the slow path: the segment writer
            # stores partition with the same json.dumps form.
            from pyspark.sql import functions as F

            segs = [os.path.join(m.location, s.path) for s in manifest.segments]
            df = spark.read.schema(_FILES_SEGMENT_SCHEMA).parquet(*segs).select(
                F.lit(0).cast("int").alias("content"),
                F.col("path").alias("file_path"),
                F.lit("PARQUET").alias("file_format"),
                F.col("spec_id"),
                F.col("partition"),
                F.col("record_count"),
                F.col("file_size_bytes").alias("file_size_in_bytes"),
                F.col("first_row_id"),
                F.col("sequence_number"),
            )
            if manifest.removed:
                df = df.where(~F.col("file_path").isin(*manifest.removed))
            extra = [
                (0, f.path, "PARQUET", f.spec_id,
                 json.dumps(f.partition, default=str), f.record_count,
                 f.file_size_bytes, f.first_row_id, f.sequence_number)
                for f in manifest.added
            ] + del_rows
            if extra:
                df = df.unionByName(spark.createDataFrame(extra, schema))
            return df
        rows = [
            (
                0, f.path, "PARQUET", f.spec_id, json.dumps(f.partition, default=str),
                f.record_count, f.file_size_bytes, f.first_row_id, f.sequence_number,
            )
            for f in manifest.data_files
        ] + del_rows
        return spark.createDataFrame(rows, schema)

    if kind == "partitions":
        agg: dict[tuple, dict] = {}
        for f in manifest.data_files:
            key = (f.spec_id, json.dumps(f.partition, sort_keys=True, default=str))
            a = agg.setdefault(key, {"records": 0, "files": 0, "size": 0})
            a["records"] += f.record_count
            a["files"] += 1
            a["size"] += f.file_size_bytes
        schema = T.StructType(
            [
                T.StructField("partition", T.StringType()),
                T.StructField("spec_id", T.IntegerType()),
                T.StructField("record_count", T.LongType()),
                T.StructField("file_count", T.LongType()),
                T.StructField("total_size", T.LongType()),
            ]
        )
        rows = [
            (part, spec_id, a["records"], a["files"], a["size"])
            for (spec_id, part), a in sorted(agg.items(), key=lambda kv: kv[0][1])
        ]
        return spark.createDataFrame(rows, schema)

    if kind == "manifests":
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("length", T.LongType()),
                T.StructField("snapshot_id", T.LongType()),
                T.StructField("data_files_count", T.IntegerType()),
                T.StructField("delete_files_count", T.IntegerType()),
            ]
        )
        rows = []
        for s in m.all_snapshots():
            p = os.path.join(m.location, s.manifest)
            man = table.io.read_manifest(s)
            rows.append(
                (s.manifest, os.path.getsize(p) if os.path.exists(p) else None,
                 s.snapshot_id, len(man.data_files), len(man.delete_files))
            )
        return spark.createDataFrame(rows, schema)

    if kind == "entries":
        snap_seq = snap.sequence_number if snap else 0
        schema = T.StructType(
            [
                T.StructField("status", T.IntegerType()),  # 1=added this snapshot, 0=existing
                T.StructField("snapshot_id", T.LongType()),
                T.StructField("sequence_number", T.LongType()),
                T.StructField("file_path", T.StringType()),
                T.StructField("record_count", T.LongType()),
            ]
        )
        rows = [
            (
                1 if f.sequence_number == snap_seq else 0,
                snap.snapshot_id if snap else None,
                f.sequence_number,
                f.path,
                f.record_count,
            )
            for f in manifest.data_files
        ]
        return spark.createDataFrame(rows, schema)

    raise ValueError(f"unknown metadata table ${kind}")


def show_create_table(table, name: str) -> str:
    """SHOW CREATE TABLE round-trip (reference :42) rendered from metadata."""
    m = table.meta
    cols = ",\n".join(
        f"   {f.name} {f.type}"
        + (f" DEFAULT {f.initial_default!r}" if f.initial_default is not None else "")
        + (" COMMENT '" + f.doc.replace("'", "''") + "'" if f.doc else "")
        for f in m.schema.fields
    )
    props = [f"   format = '{m.properties.get('format', 'parquet')}'"]
    props.append(f"   format_version = {m.properties.get('format_version', '3')}")
    if m.spec.fields:
        parts = ", ".join(f"'{f.transform}'" for f in m.spec.fields)
        props.insert(0, f"   partitioning = ARRAY[{parts}]")
    if "merge_mode" in m.properties:
        props.append(f"   merge_mode = '{m.properties['merge_mode']}'")
    if m.sort_order:
        so = ", ".join(f"'{c}'" for c in m.sort_order)
        props.append(f"   sorted_by = ARRAY[{so}]")
    props.append(f"   location = '{m.location}'")
    comment = (
        "\nCOMMENT '" + m.properties["comment"].replace("'", "''") + "'"
        if m.properties.get("comment") else ""
    )
    return (
        f"CREATE TABLE {name} (\n{cols}\n){comment}\nWITH (\n"
        + ",\n".join(props) + "\n)"
    )
