"""Export an engine table snapshot as GENUINE Apache Iceberg v2 metadata.

The adoption path (``iceberg_compat.py``) lets this engine READ foreign
Iceberg tables; this module is the reverse interop direction: write a
spec-v2 ``metadata.json`` + Avro manifest list + Avro manifests that
point at the engine table's parquet data files IN PLACE, so any
Iceberg-reading engine (Trino's `register_table`, Spark's Iceberg
catalog, pyiceberg, DuckDB's iceberg extension) can consume the table
without a data copy.  A user of the reference stack can therefore hand
tables BACK to it.

Mechanics, all public spec:

- Avro manifests are written by the JVM's Apache Avro 1.12 (the same
  ``_AvroJvm`` JSON-decoder route the adoption test fixture uses — the
  reference Java implementation does all Avro type resolution).
- Column bounds are re-encoded from the engine's manifest stats into
  Iceberg single-value serialization (spec Appendix D) for
  int/long/float/double/string/date (dates: engine ISO-string stats ->
  4-byte LE days), so the export carries file-skipping stats, not just
  file lists.
- Engine position-delete files are re-written (deletes are
  O(deleted rows), metadata-plane sized) because the engine stores
  ``file:<abs>`` URIs while the export records ``file://<abs>`` data
  paths — the rewritten delete files match the exported manifests
  byte-for-byte, which is what an external reader's anti-join compares.

Scope — loud refusals beyond it:

- every engine tombstone form exports: position deletes at v2/v3,
  equality deletes at v2/v3 (their own sequence numbers carry, so the
  strictly-below rule is exact), consolidated-DV packs at v3 (puffin
  deletion vectors).  Delete manifests are written under a dedicated
  UNPARTITIONED spec (spec-id 1) when the data spec is partitioned —
  per the Iceberg spec a partitioned delete file applies only to data
  files with an EQUAL partition tuple, so all-null tuples under the
  data spec would silently apply to nothing (ADVICE r11);
- engine-only column types (timestamp_ns; variant below v3) don't
  exist in Iceberg v2;
- physically-renamed columns (``pname != name``) would break name-based
  external readers (engine parquet carries no field-id metadata);
- the export is a SNAPSHOT, not a live mirror: it captures one engine
  snapshot; re-export after engine DML (the reverse of
  ``sync_adopted_table``).

Round-trip verification in CI: export -> re-ADOPT the export through the
independent pure-Python reader -> value-equal to the source table
(tests/test_iceberg_compat.py).
"""
from __future__ import annotations

import json
import os
import struct
import time
import uuid
from typing import Any

class IcebergExportError(ValueError):
    pass


_DDL_TO_ICE = {
    "boolean": "boolean",
    "int": "int",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "string": "string",
    "binary": "binary",
    "timestamp": "timestamp",
}


def _split_top(inner: str) -> list[str]:
    """Split a DDL type list on TOP-LEVEL commas (nesting via <>)."""
    parts, depth, cur = [], 0, []
    for ch in inner:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def _ddl_to_iceberg(ddl: str, v3: bool = False) -> Any:
    ddl = ddl.strip()
    if v3 and ddl == "variant":
        # v3 HAS variant, and engine variant columns are written by
        # Spark's parquet writer with the real VARIANT logical type —
        # external v3 readers consume them as-is.  (timestamp_ns stays
        # refused even at v3: the engine stores plain int64 nanos with
        # no TIMESTAMP(NANOS) annotation, which an external reader
        # would misread.)
        return "variant"
    if ddl in _DDL_TO_ICE:
        return _DDL_TO_ICE[ddl]
    if ddl.startswith("decimal("):
        return ddl
    if ddl.startswith("array<") and ddl.endswith(">"):
        # nested-id placeholder 0 is re-assigned to a table-unique id by
        # _assign_nested_ids before the schema is written
        return {"type": "list", "element-id": 0,
                "element": _ddl_to_iceberg(ddl[len("array<"):-1], v3),
                "element-required": False}
    if ddl.startswith("struct<") and ddl.endswith(">"):
        fields = []
        for part in _split_top(ddl[len("struct<"):-1]):
            nm, ft = part.split(":", 1)
            fields.append({"id": 0, "name": nm.strip(),
                           "required": False,
                           "type": _ddl_to_iceberg(ft.strip(), v3)})
        return {"type": "struct", "fields": fields}
    if ddl.startswith("map<") and ddl.endswith(">"):
        kv = _split_top(ddl[len("map<"):-1])
        if len(kv) == 2:
            return {"type": "map", "key-id": 0, "value-id": 0,
                    "key": _ddl_to_iceberg(kv[0].strip(), v3),
                    "value": _ddl_to_iceberg(kv[1].strip(), v3),
                    "value-required": False}
    raise IcebergExportError(
        f"engine type {ddl!r} has no Iceberg v{3 if v3 else 2} "
        "representation (timestamp_ns is an engine-side type here; "
        "variant exports at v3 only) — drop or cast the column before "
        "exporting")


def _encode_bound(v: Any, ddl: str) -> bytes | None:
    """Engine stat value -> Iceberg single-value bytes (Appendix D);
    None for types/values we don't encode (readers treat absent bounds
    as unknown — conservative)."""
    if v is None:
        return None
    try:
        if ddl == "int":
            return struct.pack("<i", int(v))
        if ddl == "bigint":
            return struct.pack("<q", int(v))
        if ddl == "float":
            return struct.pack("<f", float(v))
        if ddl == "double":
            return struct.pack("<d", float(v))
        if ddl == "string" and isinstance(v, str):
            return v.encode("utf-8")
        if ddl == "date":
            # engine date stats are ISO strings (writer._stat_value);
            # Iceberg single-value form is 4-byte LE days from epoch
            import datetime as _dt

            d = (v if isinstance(v, _dt.date)
                 else _dt.date.fromisoformat(str(v)[:10]))
            return struct.pack("<i", (d - _dt.date(1970, 1, 1)).days)
        if ddl == "timestamp":
            # engine timestamp stats are ISO strings; Appendix D form is
            # 8-byte LE microseconds from epoch.  Floor division (not
            # int(ts)*1e6+micros) so pre-epoch fractional seconds round
            # DOWN — a truncated-toward-zero lower bound would exceed the
            # true minimum and let external readers prune a matching file.
            import datetime as _dt

            dt = (v if isinstance(v, _dt.datetime)
                  else _dt.datetime.fromisoformat(str(v)))
            if dt.tzinfo is not None:
                dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            micros = (dt - _dt.datetime(1970, 1, 1)) // _dt.timedelta(
                microseconds=1)
            return struct.pack("<q", micros)
        if ddl == "boolean" and isinstance(v, bool):
            return b"\x01" if v else b"\x00"
        # NOTE decimal bounds are deliberately NOT exported: the engine
        # stores decimal stats as float approximations (writer), and an
        # approximate bound re-encoded as an exact Appendix-D unscaled
        # decimal could be tighter than the true min/max — wrong pruning
        # metadata for external readers.  Absent bounds are only a cost.
    except (ValueError, TypeError, struct.error):
        return None
    return None


def _xcv_id(v: Any) -> Any:
    return v


def _xcv_int(v: Any) -> int:
    return int(v)


def _xcv_year(v: Any) -> int:
    # engine calendar year -> Iceberg years-since-1970
    return int(v) - 1970


def _xcv_month(v: Any) -> int:
    # engine year*12+month-1 -> Iceberg months-since-1970
    return int(v) - 1970 * 12


def _assign_nested_ids(fields: list[dict], last_id: int) -> int:
    """Give nested field ids (struct member ids, map key/value ids, list
    element ids) table-unique values past the top-level column ids, as
    the spec requires; returns the HIGHEST id assigned so the written
    ``last-column-id`` covers them (spec: it bounds every field id)."""
    nxt = last_id

    def walk(t):
        nonlocal nxt
        if not isinstance(t, dict):
            return
        k = t.get("type")
        if k == "list":
            nxt += 1
            t["element-id"] = nxt
            walk(t["element"])
        elif k == "struct":
            for f in t["fields"]:
                nxt += 1
                f["id"] = nxt
            for f in t["fields"]:
                walk(f["type"])
        elif k == "map":
            nxt += 1
            t["key-id"] = nxt
            nxt += 1
            t["value-id"] = nxt
            walk(t["key"])
            walk(t["value"])

    for f in fields:
        walk(f["type"])
    return nxt


def _file_uri(path: str) -> str:
    p = os.path.abspath(path)
    return f"file://{p}"


def _live_tombstones(manifest) -> dict[str, set[int]]:
    """Plain data-file path -> merged set of deleted positions, across
    both engine tombstone forms (position-delete parquet and the
    consolidated-DV pack+index).  O(live tombstones), metadata-plane."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out: dict[str, set[int]] = {}
    for d in manifest.delete_files:
        if d.content == "position":
            tbl = pq.read_table(d.path, columns=["file_path", "pos"])
            for p, pos in zip(tbl.column("file_path").to_pylist(),
                              tbl.column("pos").to_pylist()):
                out.setdefault(p.replace("file:", "", 1), set()).add(
                    int(pos))
        elif d.content == "dv":
            idx = pq.read_table(
                d.index_path,
                columns=["file_path", "offset", "length", "count"])
            with open(d.path, "rb") as fh:
                for p, off, ln, cnt in zip(
                        idx.column("file_path").to_pylist(),
                        idx.column("offset").to_pylist(),
                        idx.column("length").to_pylist(),
                        idx.column("count").to_pylist()):
                    fh.seek(int(off))
                    raw = pa.decompress(
                        fh.read(int(ln)), decompressed_size=int(cnt) * 8,
                        codec="zstd", asbytes=True)
                    import numpy as np

                    pos = np.frombuffer(raw, dtype="<u8")
                    out.setdefault(
                        p.replace("file:", "", 1), set()).update(
                        int(x) for x in pos)
        elif d.content == "equality":
            continue  # exported separately, as content=2 entries
        else:  # pragma: no cover — guarded by the caller's scope check
            raise IcebergExportError(
                f"unexpected delete content {d.content!r}")
    return out


def export_iceberg_metadata(table, dest: str, ref: str = "main",
                            format_version: int = 2) -> str:
    """Write genuine Iceberg metadata for ``table``'s current ``ref``
    snapshot under ``dest`` (data files referenced in place).  Returns
    the path of the written ``v1.metadata.json``.

    ``format_version=2`` (default) rewrites engine position deletes as
    spec position-delete parquet; engine consolidated-DV entries refuse
    (rewrite first, or export v3).  ``format_version=3`` exports EVERY
    engine tombstone form as spec **deletion vectors**: live positions
    group per data file, each file's bitmap is serialized by the JVM's
    reference RoaringBitmap (portable format) and wrapped as a puffin
    ``deletion-vector-v1`` blob with manifest locators — plus v3 row
    lineage (per-file ``first_row_id``, table ``next-row-id``) and
    column ``initial-default``s in the schema JSON."""
    from iceberg_trino_sql_demo_spark.sources.iceberg_fixture import (
        _MANIFEST_LIST_SCHEMA, _bytes_json, _int_map_json,
        _manifest_entry_schema, _manifest_entry_schema_v3, _u, _AvroJvm,
        _write_puffin,
    )

    if format_version not in (2, 3):
        raise IcebergExportError(
            f"format_version {format_version} not exportable (2 or 3)")
    v3 = format_version == 3

    meta = table.meta
    # -- loud scope checks --------------------------------------------
    renamed = [f.name for f in meta.schema.fields if f.physical_name]
    if renamed:
        raise IcebergExportError(
            f"columns {renamed} carry physical renames; engine parquet "
            "has no field-id metadata, so external name-based readers "
            "would resolve the wrong column — rewrite data first "
            "(optimize) to materialize current names")
    ice_fields = []
    for f in meta.schema.fields:
        fd = {"id": f.id, "name": f.name, "required": False,
              "type": _ddl_to_iceberg(f.type, v3)}
        for attr, key in (("initial_default", "initial-default"),
                          ("write_default", "write-default")):
            v = getattr(f, attr, None)
            if v is None:
                continue
            if not v3:
                raise IcebergExportError(
                    f"column {f.name!r} carries a default — defaults "
                    "are an Iceberg v3 feature; export with "
                    "format_version=3")
            if not isinstance(v, (int, float, str, bool)):
                raise IcebergExportError(
                    f"column {f.name!r} default of type "
                    f"{type(v).__name__} has no JSON single-value form")
            fd[key] = v
        ice_fields.append(fd)
    last_field_id = _assign_nested_ids(ice_fields, meta.last_column_id)
    # partition export (r11 identity, r12 hidden transforms — symmetric
    # with the adoption side): a default spec whose fields are ALL
    # expressible in Iceberg terms exports as a real Iceberg spec with
    # per-file partition tuples, so external readers partition-prune
    # the exported table.  Value encodings re-map per transform:
    # calendar year -> years-since-1970 (constant offsets, month
    # likewise), day/hour verbatim (both sides count from epoch),
    # truncate-string verbatim (identical semantics), and ibucket —
    # the engine's Iceberg-murmur3 bucket — verbatim bucket numbers
    # under Iceberg's own ``bucket[N]``.  The engine's NATIVE bucket
    # (xxhash64) and numeric truncate have no Iceberg equivalent and
    # fall back to unpartitioned — wrong pruning metadata would be a
    # correctness bug for external readers, absent pruning only a cost.
    from iceberg_trino_sql_demo_spark.sources.transforms import (
        Transform,
        parse_transform,
    )

    _AVRO_T = {"string": "string", "int": "int", "bigint": "long"}
    ddl_by_id_spec = {f.id: f.type for f in meta.schema.fields}
    name_by_id_spec = {f.id: f.name for f in meta.schema.fields}
    exp_spec: list[dict] = []
    for i, sf in enumerate(meta.spec.fields):
        t = parse_transform(sf.transform)
        ddl = ddl_by_id_spec.get(sf.source_id)
        src_name = name_by_id_spec.get(sf.source_id, t.source)
        ent: dict = {"source-id": sf.source_id, "field-id": 1000 + i}
        if t.name == "identity" and ddl in _AVRO_T:
            ent.update({"name": src_name, "transform": "identity",
                        "_avro": _AVRO_T[ddl], "_cv": _xcv_id})
        elif t.name == "year" and ddl in ("date", "timestamp"):
            ent.update({"name": f"{src_name}_year", "transform": "year",
                        "_avro": "int", "_cv": _xcv_year})
        elif t.name == "month" and ddl in ("date", "timestamp"):
            ent.update({"name": f"{src_name}_month",
                        "transform": "month", "_avro": "int",
                        "_cv": _xcv_month})
        elif t.name == "day" and ddl in ("date", "timestamp"):
            # day's Iceberg result type is date: int days + logical
            # annotation in the Avro partition record
            ent.update({"name": f"{src_name}_day", "transform": "day",
                        "_avro": {"type": "int", "logicalType": "date"},
                        "_branch": "int", "_cv": _xcv_int})
        elif t.name == "hour" and ddl == "timestamp":
            ent.update({"name": f"{src_name}_hour", "transform": "hour",
                        "_avro": "int", "_cv": _xcv_int})
        elif t.name == "truncate" and ddl == "string":
            ent.update({"name": f"{src_name}_trunc",
                        "transform": f"truncate[{int(t.param or 1)}]",
                        "_avro": "string", "_cv": str})
        elif t.name == "ibucket" and ddl in ("string", "int", "bigint",
                                             "date", "timestamp"):
            ent.update({"name": f"{src_name}_bucket",
                        "transform": f"bucket[{int(t.param or 1)}]",
                        "_avro": "int", "_cv": _xcv_int})
        else:
            exp_spec = []
            break
        ent.setdefault("_branch",
                       ent["_avro"] if isinstance(ent["_avro"], str)
                       else "int")
        # engine partition dicts key by the ID-resolved field name
        # (renames never corrupt the mapping, same rule as the writer)
        ent["_key"] = Transform(t.name, src_name, t.param).field_name
        exp_spec.append(ent)
    snap = table._resolve(ref)
    if snap is None:
        raise IcebergExportError(f"ref {ref!r} has no snapshot to export")
    manifest = table._manifest(snap)
    # per-file spec fidelity (ADVICE r11): set_partitioning keeps
    # existing files on their OLD spec-id, so an evolved table holds
    # data files whose partition dict lacks the default spec's keys.
    # Exporting those under spec-0 with null tuples would let external
    # readers partition-prune them on any predicate over the partition
    # column — silently missing rows.  Wrong pruning metadata is a
    # correctness bug, absent pruning is only a cost: export
    # unpartitioned unless EVERY live data file was written under the
    # default spec.
    if exp_spec and any(
            int(df.spec_id) != int(meta.default_spec_id)
            for df in manifest.data_files):
        exp_spec = []
    part_avro_fields = [
        {"name": s["name"], "type": ["null", s["_avro"]],
         "field-id": s["field-id"]}
        for s in exp_spec
    ]
    # equality deletes export at BOTH versions (Iceberg v2 defines them);
    # consolidated-DV packs need v3 (they become puffin deletion vectors)
    ok_contents = ("position", "dv", "equality") if v3 else (
        "position", "equality")
    bad = [d.content for d in manifest.delete_files
           if d.content not in ok_contents]
    if bad:
        raise IcebergExportError(
            f"delete files of content {sorted(set(bad))} are engine-side "
            "forms"
            + ("" if v3 else "; export format_version=3, which emits "
               "consolidated-DV entries as puffin deletion vectors"))
    eq_dels = [d for d in manifest.delete_files if d.content == "equality"]

    av = _AvroJvm(table.spark)
    meta_dir = os.path.join(dest, "metadata")
    data_dir = os.path.join(dest, "data")
    os.makedirs(meta_dir, exist_ok=True)
    ddl_by_id = {f.id: f.type for f in meta.schema.fields}

    # -- data manifest --------------------------------------------------
    entry_doc = (_manifest_entry_schema_v3(part_avro_fields) if v3
                 else _manifest_entry_schema(part_avro_fields))
    # delete entries NEVER carry the data spec's partition tuple: per
    # the Iceberg spec a partitioned delete file applies only to data
    # files with an EQUAL partition tuple (only unpartitioned-spec
    # deletes are global), so all-null tuples under a partitioned spec
    # would apply to nothing and deleted rows would silently resurface
    # in external readers (ADVICE r11).  Delete manifests therefore go
    # under a dedicated UNPARTITIONED spec (spec-id 1) whenever the
    # data spec is partitioned.
    del_entry_doc = (_manifest_entry_schema_v3([]) if v3
                     else _manifest_entry_schema([]))
    del_spec_id = 1 if exp_spec else 0
    for doc in (entry_doc, del_entry_doc):
        if eq_dels:
            # the Avro JSON route requires every record field present,
            # so the equality_ids field is added only when an export
            # carries equality deletes (all other entries then write it
            # as null)
            doc["fields"][-1]["type"]["fields"].append(
                {"name": "equality_ids", "default": None, "field-id": 135,
                 "type": ["null", {"type": "array", "items": "int"}]})
    entry_schema = av.parse(json.dumps(entry_doc))
    del_entry_schema = av.parse(json.dumps(del_entry_doc))

    def _eq_key(doc: dict, ids=None) -> dict:
        if eq_dels:
            doc["equality_ids"] = (
                None if ids is None else _u("array", list(ids)))
        return doc
    snapshot_id = int(snap.snapshot_id)
    seq = max(1, int(snap.sequence_number))
    data_entries = []
    # .data_files materializes full entries (stats included)
    data_files = manifest.data_files
    for df in data_files:
        lo, hi, nulls = [], [], []
        for fid_s, cs in (df.stats or {}).items():
            fid = int(fid_s)
            ddl = ddl_by_id.get(fid)
            if ddl is None:
                continue
            b_lo = _encode_bound(cs.get("min"), ddl)
            b_hi = _encode_bound(cs.get("max"), ddl)
            if b_lo is not None:
                lo.append((fid, _bytes_json(b_lo)))
            if b_hi is not None:
                hi.append((fid, _bytes_json(b_hi)))
            if cs.get("nulls") is not None:
                nulls.append((fid, int(cs["nulls"])))
        data_file_doc = {
            "content": 0,
            "file_path": _file_uri(df.path),
            "file_format": "PARQUET",
            "partition": {
                s["name"]: _u(s["_branch"], None
                              if (df.partition or {}).get(s["_key"])
                              is None
                              else s["_cv"](df.partition[s["_key"]]))
                for s in exp_spec
            },
            "record_count": int(df.record_count),
            "file_size_in_bytes": int(df.file_size_bytes),
            "null_value_counts":
                _int_map_json(nulls) if nulls else None,
            "lower_bounds": _int_map_json(lo) if lo else None,
            "upper_bounds": _int_map_json(hi) if hi else None,
        }
        if v3:
            data_file_doc.update({
                # row lineage: engine-assigned ranges export verbatim
                "first_row_id": (_u("long", int(df.first_row_id))
                                 if df.first_row_id >= 0 else None),
                "referenced_data_file": None,
                "content_offset": None,
                "content_size_in_bytes": None,
            })
        data_entries.append(json.dumps({
            "status": 1,
            "snapshot_id": _u("long", snapshot_id),
            "sequence_number": _u("long", max(1, df.sequence_number)),
            "file_sequence_number": _u("long", max(1, df.sequence_number)),
            "data_file": _eq_key(data_file_doc)}))
    man_meta = {
        "schema": json.dumps({"type": "struct", "schema-id": 0,
                              "fields": ice_fields}),
        "partition-spec": json.dumps([
            {k: v for k, v in s.items() if not k.startswith("_")}
            for s in exp_spec]),
        "partition-spec-id": "0",
        "format-version": str(format_version),
    }
    manifests = []
    if data_entries:
        data_man = f"manifest-data-{uuid.uuid4().hex[:8]}.avro"
        av.write_ocf(os.path.join(meta_dir, data_man), entry_schema,
                     data_entries, {**man_meta, "content": "data"},
                     deflate=True)
        manifests.append((data_man, 0, len(data_entries),
                          sum(int(d.record_count) for d in data_files)))

    # -- deletes ---------------------------------------------------------
    del_entries = []
    n_del_rows = 0
    if v3 and manifest.delete_files:
        # v3: every engine tombstone form (position parquet AND the
        # engine's consolidated-DV packs) exports as spec deletion
        # vectors — live positions merged per data file, one puffin
        # blob per file, bitmaps serialized by the JVM's reference
        # RoaringBitmap (same genuineness rule as the Avro manifests)
        tomb = _live_tombstones(manifest)
        if tomb:
            os.makedirs(data_dir, exist_ok=True)
            dv_specs = [
                (_file_uri(p), sorted(pos)) for p, pos in
                sorted(tomb.items())
            ]
            puf_name = f"export-deletes-{uuid.uuid4().hex[:8]}.puffin"
            puf_path = os.path.join(data_dir, puf_name)
            locs = _write_puffin(table.spark, puf_path, dv_specs,
                                 snapshot_id, seq)
            puf_size = os.path.getsize(puf_path)
            for ref_uri, off, size, card in locs:
                n_del_rows += card
                del_entries.append(json.dumps({
                    "status": 1,
                    "snapshot_id": _u("long", snapshot_id),
                    "sequence_number": _u("long", seq),
                    "file_sequence_number": _u("long", seq),
                    "data_file": _eq_key({
                        "content": 1,
                        "file_path": _file_uri(puf_path),
                        "file_format": "PUFFIN",
                        "partition": {},
                        "record_count": card,
                        "file_size_in_bytes": puf_size,
                        "null_value_counts": None,
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "first_row_id": None,
                        "referenced_data_file": _u("string", ref_uri),
                        "content_offset": _u("long", off),
                        "content_size_in_bytes": _u("long", size),
                    })}))
    for d in ([] if v3 else
              [d for d in manifest.delete_files
               if d.content == "position"]):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(d.path, columns=["file_path", "pos"])
        if tbl.num_rows == 0:
            continue
        os.makedirs(data_dir, exist_ok=True)
        paths = [_file_uri(p.replace("file:", "", 1))
                 for p in tbl.column("file_path").to_pylist()]
        out = os.path.join(
            data_dir, f"export-pos-del-{uuid.uuid4().hex[:8]}.parquet")
        # the Iceberg spec REQUIRES position-delete rows sorted by
        # (file_path, pos) — readers binary-search / merge-join on that
        # order; the engine's internal delete files carry commit order
        # (ADVICE r10).  NOTE: no external Iceberg READER exists in this
        # sandbox (no Trino / Spark-Iceberg / pyiceberg); since r13 the
        # export is byte-level spec-conformance-tested instead
        # (tests/test_iceberg_spec_conformance.py — independent in-test
        # decoders + a JVM Apache-Avro cross-read), on top of the
        # re-adoption round trip.
        rows = sorted(zip(paths,
                          (int(x) for x in tbl.column("pos").to_pylist())))
        pq.write_table(pa.table({
            "file_path": pa.array([r[0] for r in rows], pa.string()),
            "pos": pa.array([r[1] for r in rows], pa.int64()),
        }), out)
        n_del_rows += tbl.num_rows
        del_entries.append(json.dumps({
            "status": 1,
            "snapshot_id": _u("long", snapshot_id),
            "sequence_number": _u("long", seq),
            "file_sequence_number": _u("long", seq),
            "data_file": _eq_key({
                "content": 1,
                "file_path": _file_uri(out),
                "file_format": "PARQUET",
                "partition": {},
                "record_count": int(tbl.num_rows),
                "file_size_in_bytes": os.path.getsize(out),
                "null_value_counts": None,
                "lower_bounds": None,
                "upper_bounds": None,
            })}))
    # -- equality deletes (both versions; reverse of the adoption path) --
    for d in eq_dels:
        import pyarrow as pa
        import pyarrow.parquet as pq

        ktbl = pq.read_table(d.path)
        os.makedirs(data_dir, exist_ok=True)
        arrays, pa_fields = [], []
        for cid in d.equality_ids:
            fld = next(f for f in meta.schema.fields if f.id == cid)
            col = ktbl.column(f"k_{cid}").combine_chunks()
            arrays.append(col)
            pa_fields.append(pa.field(
                fld.name, col.type,
                metadata={b"PARQUET:field_id": str(cid).encode()}))
        out = os.path.join(
            data_dir, f"export-eq-del-{uuid.uuid4().hex[:8]}.parquet")
        pq.write_table(pa.table(arrays, schema=pa.schema(pa_fields)), out)
        n_del_rows += int(d.record_count)
        eq_doc = {
            "content": 2,
            "file_path": _file_uri(out),
            "file_format": "PARQUET",
            "partition": {},
            "record_count": int(d.record_count),
            "file_size_in_bytes": os.path.getsize(out),
            "null_value_counts": None,
            "lower_bounds": None,
            "upper_bounds": None,
        }
        if v3:
            eq_doc.update({
                "first_row_id": None,
                "referenced_data_file": None,
                "content_offset": None,
                "content_size_in_bytes": None,
            })
        del_entries.append(json.dumps({
            "status": 1,
            "snapshot_id": _u("long", snapshot_id),
            # the delete's OWN sequence number (strictly-below rule)
            "sequence_number": _u("long", max(1, d.sequence_number)),
            "file_sequence_number": _u("long", max(1, d.sequence_number)),
            "data_file": _eq_key(eq_doc, d.equality_ids)}))
    if del_entries:
        del_man = f"manifest-deletes-{uuid.uuid4().hex[:8]}.avro"
        av.write_ocf(os.path.join(meta_dir, del_man), del_entry_schema,
                     del_entries,
                     {**man_meta, "content": "deletes",
                      "partition-spec": "[]",
                      "partition-spec-id": str(del_spec_id)})
        manifests.append((del_man, 1, len(del_entries), n_del_rows))

    # -- manifest list + table metadata ---------------------------------
    ml_schema = av.parse(json.dumps(_MANIFEST_LIST_SCHEMA))
    ml_rows = [json.dumps({
        "manifest_path": _file_uri(os.path.join(meta_dir, fn)),
        "manifest_length": os.path.getsize(os.path.join(meta_dir, fn)),
        "partition_spec_id": del_spec_id if content == 1 else 0,
        "content": content,
        "sequence_number": seq, "min_sequence_number": 1,
        "added_snapshot_id": snapshot_id,
        "added_files_count": n_files, "existing_files_count": 0,
        "deleted_files_count": 0, "added_rows_count": n_rows,
        "existing_rows_count": 0, "deleted_rows_count": 0,
    }) for fn, content, n_files, n_rows in manifests]
    ml = f"snap-{snapshot_id}-1-{uuid.uuid4().hex[:8]}.avro"
    av.write_ocf(os.path.join(meta_dir, ml), ml_schema, ml_rows,
                 {"format-version": str(format_version)})
    now = int(time.time() * 1000)
    doc = {
        "format-version": format_version,
        "table-uuid": meta.table_uuid,
        "location": _file_uri(dest),
        "last-sequence-number": seq,
        "last-updated-ms": now,
        "last-column-id": last_field_id,
        "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0,
                     "fields": ice_fields}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {k: v for k, v in s.items() if not k.startswith("_")}
            for s in exp_spec]}] + (
            # the delete manifests' dedicated unpartitioned spec — every
            # spec-id referenced from the manifest list must resolve
            [{"spec-id": 1, "fields": []}] if exp_spec else []),
        "last-partition-id": (999 + len(exp_spec)) if exp_spec else 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {"write.format.default": "parquet",
                       "exported-by": "iceberg_trino_sql_demo_spark",
                       "exported-engine-snapshot": str(snapshot_id)},
        **({"next-row-id": int(meta.next_row_id)} if v3 else {}),
        "current-snapshot-id": snapshot_id,
        "refs": {"main": {"snapshot-id": snapshot_id, "type": "branch"}},
        "snapshots": [{
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "timestamp-ms": now,
            **({"first-row-id": 0} if v3 else {}),
            "summary": {"operation": "append"},
            "manifest-list": _file_uri(os.path.join(meta_dir, ml)),
            "schema-id": 0,
        }],
        "snapshot-log": [{"snapshot-id": snapshot_id,
                          "timestamp-ms": now}],
        "metadata-log": [],
    }
    out_meta = os.path.join(meta_dir, "v1.metadata.json")
    with open(out_meta, "w") as fh:
        json.dump(doc, fh, indent=1)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("1")
    return out_meta
