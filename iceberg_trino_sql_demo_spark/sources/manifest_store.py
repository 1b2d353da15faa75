"""Columnar manifest segments + lazy manifests — the metadata plane at
file-count scale (VERDICT r5 #1).

The round-1..5 model stored each snapshot's live-file state as ONE JSON
document: simple, debuggable, but every commit re-serialized every entry and
every query planned by looping Python over every entry.  At the 100 TB
target (~10^6 files of ~100 MB) both become the bottleneck long before Spark
does.  This module keeps the MODEL (full live state per snapshot, stats per
file, spec-id per file — `metadata.py` docstring) and changes the
REPRESENTATION, exactly the way Iceberg does:

- a snapshot's manifest is now a **manifest list**: a small JSON file naming
  immutable parquet **segments**, each holding many entries plus aggregated
  summaries (count, record sum, per-column-id min/max, path prefixes);
- an append **reuses the parent's segments untouched** and writes one new
  segment with just the added entries — commit cost is O(delta), not
  O(table);
- a row-level delete/rewrite rewrites ONLY the segments holding affected
  entries (located via their commit-directory path prefixes);
- planning prunes **segment-first** (summary check skips whole segments
  without opening them), then **vectorized** (pyarrow compute over the
  segment's typed min/max/null columns), and only materializes Python
  `DataFile` objects for the survivors, on which the EXACT per-file check
  (`plans/pruning.py` — partition transforms, blooms, buckets, OR-trees)
  gives the final verdict.  The vectorized stage is a conservative
  prefilter over footer stats only, so the result is always a subset of
  what the exact check alone would keep and never drops a matching file
  (pruning stays correctness-neutral: the WHERE re-executes in Catalyst).

Segments are immutable and content-addressed by uuid; snapshots share them
freely (an append chain of K commits shares all earlier segments), so
`expire_snapshots` must — and does — refcount them across live snapshots
before unlinking (see ``Table.expire_snapshots``).

A real deployment would read these same segment parquets with Spark itself
for cluster-side planning; everything here is plain pyarrow so planning has
no JVM dependency.  Reference anchor: the manifest-list + manifest pruning
surface the demo exposes via ``"customer$manifests"``
(iceberg_trino_sqldemo.sql:77).
"""

from __future__ import annotations

import json
import os
import uuid
from collections import OrderedDict
from dataclasses import dataclass
from typing import Any, Iterable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from iceberg_trino_sql_demo_spark.sources.metadata import (
    DataFile,
    DeleteFile,
    TableMetadata,
)

#: max segments per manifest before the small ones are folded together —
#: bounds per-query segment-open cost; the 32 largest are never touched by
#: a fold, so a table's big base segments are rewritten only by row-level
#: DML that actually hits them (log-structured amortization)
MAX_SEGMENTS = 48
KEEP_LARGEST = 32

_FIXED_COLS = [
    ("path", pa.string()),
    ("spec_id", pa.int32()),
    ("schema_id", pa.int32()),
    ("partition", pa.string()),  # json
    ("record_count", pa.int64()),
    ("file_size_bytes", pa.int64()),
    ("stats", pa.string()),  # json, full fidelity (incl. blooms)
    ("first_row_id", pa.int64()),
    ("sequence_number", pa.int64()),
    ("file_modified_ms", pa.int64()),
    ("has_lineage", pa.bool_()),
    # r12: per-file physical format (adopted foreign ORC entries);
    # segments written before the column existed read back as parquet
    ("file_format", pa.string()),
]


@dataclass(frozen=True)
class SegmentRef:
    """One immutable entry-segment as named by a manifest list."""

    path: str  # relative to table location
    count: int
    records: int
    #: {"<col id>": {"min":…, "max":…, "complete": bool}} — aggregated over
    #: entries; complete=False when some entry lacked stats for the id
    #: (the segment can then never be summary-skipped on that id)
    summary: dict[str, dict]
    #: distinct dirname prefixes of entry paths — lets a delta commit find
    #: the segments a removal can possibly live in without opening others
    prefixes: tuple[str, ...]
    #: column ids with typed smin_/smax_/snul_ companion columns
    vec_ids: tuple[str, ...]
    #: sum of entry file_size_bytes — lets the scan router weigh bytes
    #: without opening the segment; None on segments serialized before the
    #: field existed (the router then falls back to the count-only gate)
    bytes: int | None = None

    def to_dict(self) -> dict:
        return {
            "path": self.path,
            "count": self.count,
            "records": self.records,
            "summary": self.summary,
            "prefixes": list(self.prefixes),
            "vec_ids": list(self.vec_ids),
            "bytes": self.bytes,
        }

    @staticmethod
    def from_dict(d: dict) -> "SegmentRef":
        return SegmentRef(
            d["path"], d["count"], d["records"], d.get("summary", {}),
            tuple(d.get("prefixes", ())), tuple(d.get("vec_ids", ())),
            d.get("bytes"),
        )


# ---------------------------------------------------------------------------
# segment IO
# ---------------------------------------------------------------------------

#: immutable-segment read cache (path -> arrow table), bounded by total rows
_SEG_CACHE: "OrderedDict[str, pa.Table]" = OrderedDict()
_SEG_CACHE_MAX_ROWS = 4_000_000


def _cache_put(path: str, tbl: pa.Table) -> None:
    _SEG_CACHE[path] = tbl
    _SEG_CACHE.move_to_end(path)
    while sum(t.num_rows for t in _SEG_CACHE.values()) > _SEG_CACHE_MAX_ROWS and len(_SEG_CACHE) > 1:
        _SEG_CACHE.popitem(last=False)


def read_segment(location: str, seg: SegmentRef) -> pa.Table:
    abspath = os.path.join(location, seg.path)
    hit = _SEG_CACHE.get(abspath)
    if hit is not None:
        _SEG_CACHE.move_to_end(abspath)
        return hit
    tbl = pq.read_table(abspath)
    _cache_put(abspath, tbl)
    return tbl


def write_segment(location: str, entries: list[DataFile]) -> SegmentRef:
    """Write one immutable parquet segment under <location>/metadata.

    Typed companion columns smin_<id>/smax_<id>/snul_<id> are emitted for
    every column id whose min/max values arrow can type homogeneously —
    these power the vectorized prune; the json ``stats`` column keeps full
    fidelity (blooms included) for exact checks and reconstruction.
    """
    assert entries, "write_segment on empty entry list"
    cols: dict[str, Any] = {name: [] for name, _ in _FIXED_COLS}
    for e in entries:
        cols["path"].append(e.path)
        cols["spec_id"].append(e.spec_id)
        cols["schema_id"].append(e.schema_id)
        cols["partition"].append(json.dumps(e.partition, default=str))
        cols["record_count"].append(e.record_count)
        cols["file_size_bytes"].append(e.file_size_bytes)
        cols["stats"].append(json.dumps(e.stats, default=str))
        cols["first_row_id"].append(e.first_row_id)
        cols["sequence_number"].append(e.sequence_number)
        cols["file_modified_ms"].append(e.file_modified_ms)
        cols["has_lineage"].append(bool(e.has_lineage))
        cols["file_format"].append(e.file_format or "parquet")
    arrays = {
        name: pa.array(cols[name], type=typ) for name, typ in _FIXED_COLS
    }

    all_ids: set[str] = set()
    for e in entries:
        all_ids.update(e.stats.keys())
    vec_ids: list[str] = []
    summary: dict[str, dict] = {}
    for cid in sorted(all_ids):
        mins = [e.stats.get(cid, {}).get("min") for e in entries]
        maxs = [e.stats.get(cid, {}).get("max") for e in entries]
        nuls = [e.stats.get(cid, {}).get("nulls") for e in entries]
        try:
            amin, amax = pa.array(mins), pa.array(maxs)
            anul = pa.array(nuls, type=pa.int64())
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
            continue  # mixed/unencodable types: exact pass handles this id
        if pa.types.is_null(amin.type) or pa.types.is_null(amax.type):
            continue  # no usable bounds anywhere in the segment
        arrays[f"smin_{cid}"] = amin
        arrays[f"smax_{cid}"] = amax
        arrays[f"snul_{cid}"] = anul
        vec_ids.append(cid)
        nn_min = [v for v in mins if v is not None]
        nn_max = [v for v in maxs if v is not None]
        complete = len(nn_min) == len(entries) and len(nn_max) == len(entries)
        if nn_min and nn_max:
            try:
                summary[cid] = {
                    "min": min(nn_min), "max": max(nn_max), "complete": complete,
                }
            except TypeError:
                pass

    os.makedirs(os.path.join(location, "metadata"), exist_ok=True)
    rel = os.path.join("metadata", f"seg-{uuid.uuid4().hex[:12]}.parquet")
    tbl = pa.table(arrays)
    pq.write_table(tbl, os.path.join(location, rel), compression="zstd")
    _cache_put(os.path.join(location, rel), tbl)
    return SegmentRef(
        path=rel,
        count=len(entries),
        records=sum(e.record_count for e in entries),
        summary=summary,
        prefixes=tuple(sorted({os.path.dirname(e.path) for e in entries})),
        vec_ids=tuple(vec_ids),
        bytes=sum(e.file_size_bytes for e in entries),
    )


def entries_from_arrow(tbl: pa.Table, lean: bool = False) -> list[DataFile]:
    """Materialize DataFile objects from (a filtered slice of) a segment.

    ``lean=True`` skips the per-entry json parse of ``stats`` and
    ``partition`` (they come back empty) — those fields are pruning and
    maintenance concerns, and a plain full-table scan at 10^6 files
    spends most of its planning time parsing them for nothing.  Lean
    entries keep every field the read path consumes (path, schema/spec
    ids, lineage flag, sequence number, row-id base, counts)."""
    # in lean mode the json string columns are never even materialized out
    # of arrow — to_pylist of 10^6 multi-hundred-byte strings costs more
    # than every other column combined
    skip = {"partition", "stats"} if lean else set()
    have = set(tbl.column_names)
    fixed = {
        name: (None if name in skip or name not in have
               else tbl.column(name).to_pylist())
        for name, _ in _FIXED_COLS
    }
    n = tbl.num_rows
    out: list[DataFile] = []
    for i in range(n):
        out.append(
            DataFile(
                path=fixed["path"][i],
                spec_id=fixed["spec_id"][i],
                schema_id=fixed["schema_id"][i],
                partition={} if lean else json.loads(fixed["partition"][i]),
                record_count=fixed["record_count"][i],
                file_size_bytes=fixed["file_size_bytes"][i],
                stats={} if lean else json.loads(fixed["stats"][i]),
                first_row_id=fixed["first_row_id"][i],
                sequence_number=fixed["sequence_number"][i],
                file_modified_ms=fixed["file_modified_ms"][i],
                has_lineage=fixed["has_lineage"][i],
                file_format=(fixed["file_format"][i]
                             if fixed["file_format"] is not None
                             else "parquet"),
            )
        )
    return out


# ---------------------------------------------------------------------------
# vectorized stats prune (conservative prefilter; exact pass runs after)
# ---------------------------------------------------------------------------


def _pred_field_id(meta: TableMetadata, name: str) -> str | None:
    """Stable column id for a predicate name, or None when not cleanly
    resolvable (name reused for different ids across schema versions) —
    None means "don't vectorize this predicate", never a wrong prune."""
    ids = {f.id for s in meta.schemas for f in s.fields if f.name == name}
    return str(ids.pop()) if len(ids) == 1 else None


def _norm_value(v: Any) -> Any:
    from iceberg_trino_sql_demo_spark.plans.pruning import _norm

    return _norm(v)


def _keep_mask(tbl: pa.Table, cid: str, op: str, value: Any, n: int):
    """Boolean keep-mask for one simple predicate over one segment, or None
    when the comparison isn't arrow-expressible (type mismatch etc.).
    Null bounds always KEEP (unknown -> conservative), mirroring
    plans.pruning._cmp_ok / _stats_ok."""
    smin, smax, snul = f"smin_{cid}", f"smax_{cid}", f"snul_{cid}"
    if smin not in tbl.column_names:
        return None
    amin, amax = tbl.column(smin), tbl.column(smax)
    try:
        if op == "isnull":
            return pc.fill_null(pc.greater(tbl.column(snul), 0), True)
        if op == "notnull":
            return pc.fill_null(
                pc.less(tbl.column(snul), tbl.column("record_count")), True
            )
        v = _norm_value(value)
        if op == "=":
            return pc.and_(
                pc.fill_null(pc.less_equal(amin, v), True),
                pc.fill_null(pc.greater_equal(amax, v), True),
            )
        if op == "<":
            return pc.fill_null(pc.less(amin, v), True)
        if op == "<=":
            return pc.fill_null(pc.less_equal(amin, v), True)
        if op == ">":
            return pc.fill_null(pc.greater(amax, v), True)
        if op == ">=":
            return pc.fill_null(pc.greater_equal(amax, v), True)
        if op == "in":
            m = None
            for x in value:
                mx = _keep_mask(tbl, cid, "=", x, n)
                if mx is None:
                    return None
                m = mx if m is None else pc.or_(m, mx)
            return m
        if op == "!=":
            # prune only constant-valued files (min == max == value)
            const = pc.and_(
                pc.fill_null(pc.equal(amin, v), False),
                pc.fill_null(pc.equal(amax, v), False),
            )
            return pc.invert(const)
    except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError, TypeError):
        return None
    return None


def _segment_mask(tbl: pa.Table, meta: TableMetadata, predicates: list, n: int):
    """AND of per-predicate keep-masks; OR-predicates become the union of
    their branches' conjunctions.  Unvectorizable pieces contribute
    keep-all (the exact pass decides).  Returns None = keep everything."""
    mask = None
    for p in predicates:
        if p.op == "or":
            m_or = None
            any_branch_all_keep = False
            for branch in p.value:
                m_b = _segment_mask(tbl, meta, list(branch), n)
                if m_b is None:
                    any_branch_all_keep = True
                    break
                m_or = m_b if m_or is None else pc.or_(m_or, m_b)
            if any_branch_all_keep or m_or is None:
                continue
            m_p = m_or
        else:
            cid = _pred_field_id(meta, p.column)
            if cid is None:
                continue
            m_p = _keep_mask(tbl, cid, p.op, p.value, n)
            if m_p is None:
                continue
        mask = m_p if mask is None else pc.and_(mask, m_p)
    return mask


def _summary_admits(seg: SegmentRef, meta: TableMetadata, predicates: list) -> bool:
    """Can ANY entry of the segment survive?  Uses the aggregated per-id
    bounds; only ``complete`` summaries may skip (a missing-stats entry
    could hold anything).  Conjunction only — OR branches skip this level."""
    from iceberg_trino_sql_demo_spark.plans.pruning import _cmp_ok

    for p in predicates:
        if p.op in ("or", "isnull", "notnull", "!="):
            continue
        cid = _pred_field_id(meta, p.column)
        if cid is None:
            continue
        s = seg.summary.get(cid)
        if not s or not s.get("complete"):
            continue
        if not _cmp_ok(s["min"], s["max"], p.op, p.value):
            return False
    return True


# ---------------------------------------------------------------------------
# LazyManifest
# ---------------------------------------------------------------------------


class LazyManifest:
    """A snapshot's live-file state — the only representation of it:
    immutable base segments plus a recorded delta (added entries / removed
    paths) against them.  A new table is zero segments; a loaded format-1
    manifest is zero segments with every entry in ``added``.  Exposes
    ``data_files`` / ``delete_files`` like the ``metadata.Manifest`` scan
    list, but materializes Python entries only when a consumer genuinely
    needs every one."""

    def __init__(
        self,
        location: str,
        segments: Iterable[SegmentRef],
        delete_files: list[DeleteFile],
        added: list[DataFile] | None = None,
        removed: dict[str, int] | None = None,  # path -> record_count
    ):
        self.location = location
        self.segments = list(segments)
        self.delete_files = list(delete_files)
        self.added = list(added or [])
        self.removed = dict(removed or {})
        self._cache: list[DataFile] | None = None

    # -- delta construction -------------------------------------------------
    def with_delta(
        self,
        added: Iterable[DataFile] = (),
        removed: Iterable[DataFile] = (),
        delete_files: list[DeleteFile] | None = None,
    ) -> "LazyManifest":
        """New manifest = self ± delta (shares self's segments).  ``removed``
        entries must come from self (the caller planned them off this
        state); delete_files replaces the full (small) delete list."""
        added = list(added)
        removed = list(removed)
        added_paths = {f.path for f in added}
        removed_paths = {r.path for r in removed}
        prior_added_paths = {a.path for a in self.added}
        prior_added = [f for f in self.added if f.path not in removed_paths]
        rem = dict(self.removed)
        for r in removed:
            if r.path in prior_added_paths:
                continue  # removing a not-yet-committed add: cancel it
            rem[r.path] = r.record_count
        # re-adding a previously-removed path resurrects it from the delta
        for p in list(rem):
            if p in added_paths:
                del rem[p]
        return LazyManifest(
            self.location,
            self.segments,
            list(self.delete_files if delete_files is None else delete_files),
            added=prior_added + added,
            removed=rem,
        )

    # -- cheap aggregate accessors -------------------------------------------
    def counts(self) -> tuple[int, int]:
        """(total data files, total records) without materializing."""
        n = sum(s.count for s in self.segments) + len(self.added) - len(self.removed)
        rec = (
            sum(s.records for s in self.segments)
            + sum(f.record_count for f in self.added)
            - sum(self.removed.values())
        )
        return n, rec

    def total_bytes(self) -> int | None:
        """Live data bytes without materializing entries — None when any
        base segment predates the per-segment bytes field.  Removed-path
        bytes are not tracked (the delta records path -> record_count), so
        a delta state slightly OVERestimates; removals fold into fresh
        segments on commit, which restores exactness."""
        if any(s.bytes is None for s in self.segments):
            return None
        return sum(s.bytes for s in self.segments) + sum(
            f.file_size_bytes for f in self.added
        )

    def data_paths(self) -> set[str]:
        """Every live path — path-column reads only, no entry objects."""
        out: set[str] = set()
        for seg in self.segments:
            out.update(read_segment(self.location, seg).column("path").to_pylist())
        out -= set(self.removed)
        out.update(f.path for f in self.added)
        return out

    def live_among(self, paths: Iterable[str]) -> set[str]:
        """The members of ``paths`` that are live in this state.  Opens
        only the segments whose path prefixes can hold one of them."""
        want = set(paths) - set(self.removed)
        out = {f.path for f in self.added if f.path in want}
        rest = want - out
        dirs = {os.path.dirname(p) for p in rest}
        for seg in self.segments:
            if not rest:
                break
            if dirs.isdisjoint(seg.prefixes):
                continue
            col = read_segment(self.location, seg).column("path")
            hit = set(pc.filter(col, pc.is_in(col, value_set=pa.array(list(rest)))).to_pylist())
            out |= hit
            rest -= hit
        return out

    # -- materialization -----------------------------------------------------
    @property
    def data_files(self) -> list[DataFile]:
        if self._cache is None:
            out: list[DataFile] = []
            for seg in self.segments:
                out.extend(entries_from_arrow(read_segment(self.location, seg)))
            if self.removed:
                out = [f for f in out if f.path not in self.removed]
            out.extend(self.added)
            self._cache = out
        return self._cache

    def scan_files(self, hidden: bool = False) -> list[DataFile]:
        """Entries sufficient for ``snapshot_df``: full fidelity when
        ``hidden`` (the $partition system column surfaces per-row
        partition tuples), LEAN otherwise — a plain full-table scan needs
        path/ids/lineage/sequence, never the stats or partition json, and
        skipping those parses is most of full-scan planning at 10^6
        files.  Never cached (lean entries must not leak into consumers
        that expect stats)."""
        if hidden:
            return self.data_files
        out: list[DataFile] = []
        for seg in self.segments:
            out.extend(
                entries_from_arrow(read_segment(self.location, seg), lean=True)
            )
        if self.removed:
            out = [f for f in out if f.path not in self.removed]
        out.extend(self.added)
        return out

    def candidate_files(
        self,
        size_below: int,
        modified_after_ms: int | None = None,
        targeted: frozenset[str] | set[str] = frozenset(),
    ) -> list[DataFile]:
        """Maintenance candidate selection (optimize's predicate: smaller
        than ``size_below`` OR in ``targeted``, AND — if given — modified
        after ``modified_after_ms``) answered VECTORIZED per segment:
        pyarrow compute over the typed file_size_bytes / file_modified_ms
        / path columns, materializing Python entries only for survivors.
        A bin-pack sweep over a healthy 10^6-file table (few small files)
        previously paid the full 20+ s entry materialization just to
        decide there was nothing to do; this pays column scans
        (~0.1 s/10^6 entries) plus survivors."""
        import pyarrow.compute as pc

        out: list[DataFile] = []
        for seg in self.segments:
            tbl = read_segment(self.location, seg)
            mask = pc.less(tbl.column("file_size_bytes"), size_below)
            if targeted:
                mask = pc.or_(
                    mask, pc.is_in(tbl.column("path"),
                                   value_set=pa.array(sorted(targeted))),
                )
            if modified_after_ms is not None:
                mask = pc.and_(
                    mask,
                    pc.greater(tbl.column("file_modified_ms"),
                               modified_after_ms),
                )
            cand = tbl.filter(mask)
            if cand.num_rows:
                out.extend(entries_from_arrow(cand))
        if self.removed:
            out = [f for f in out if f.path not in self.removed]
        for f in self.added:
            if f.file_size_bytes < size_below or f.path in targeted:
                if (modified_after_ms is None
                        or f.file_modified_ms > modified_after_ms):
                    out.append(f)
        return out

    # -- pruned materialization (the planning hot path) -----------------------
    def pruned(self, meta: TableMetadata, predicates: list, spark=None) -> list[DataFile]:
        """Three-stage prune: segment summaries -> vectorized stats mask ->
        exact per-file check on the survivors.  Result is always a subset
        of ``prune_files(self.data_files, ...)`` and a superset of the
        files containing matching rows."""
        from iceberg_trino_sql_demo_spark.plans.pruning import _pred_ok

        preds = list(predicates)
        out: list[DataFile] = []
        for seg in self.segments:
            if not _summary_admits(seg, meta, preds):
                continue
            tbl = read_segment(self.location, seg)
            mask = _segment_mask(tbl, meta, preds, tbl.num_rows)
            cand = tbl if mask is None else tbl.filter(mask)
            if cand.num_rows == 0:
                continue
            for f in entries_from_arrow(cand):
                if f.path in self.removed:
                    continue
                if all(_pred_ok(f, meta, p, spark) for p in preds):
                    out.append(f)
        for f in self.added:
            if all(_pred_ok(f, meta, p, spark) for p in preds):
                out.append(f)
        return out
