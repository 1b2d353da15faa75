"""Columnar manifest-store tests (round 6 metadata plane).

What must hold:
- segment write/read round-trips every DataFile field exactly;
- a LazyManifest delta composes correctly (add, remove, cancel-add,
  re-add-after-remove) and materializes to the expected entry multiset;
- the three-stage prune returns EXACTLY the files that contain matching
  rows or can't be excluded — and never more than the pure-exact path
  (``prune_files``) keeps;
- appends reuse parent segments verbatim (O(delta) commits are real, not
  incidental);
- compaction keeps the segment count bounded without changing state;
- expire_snapshots never unlinks a segment a kept snapshot still
  references (segments are shared across snapshots);
- format-1 (full-state JSON) manifests remain readable, and the next
  commit rewrites them as format 2.
"""

from __future__ import annotations

import json
import os
from datetime import date

import pytest

from iceberg_trino_sql_demo_spark.plans.pruning import Predicate, prune_files
from iceberg_trino_sql_demo_spark.sources.manifest_store import (
    LazyManifest,
    MAX_SEGMENTS,
    SegmentRef,
    entries_from_arrow,
    read_segment,
    write_segment,
)
from iceberg_trino_sql_demo_spark.sources.metadata import (
    MAIN,
    DataFile,
    MetadataIO,
)
from iceberg_trino_sql_demo_spark.sources.table import Table

COLS = [
    ("k", "bigint"),
    ("d", "date"),
    ("s", "string"),
]


def entry(i: int, month: int = 1) -> DataFile:
    lo = date(1995, month, 1)
    return DataFile(
        path=f"/syn/data/c{i // 10:03d}/f{i:06d}.parquet",
        spec_id=1,
        schema_id=1,
        partition={"d_month": 1995 * 12 + month - 1},
        record_count=100 + i,
        file_size_bytes=1000,
        stats={
            "1": {"min": i * 10, "max": i * 10 + 9, "nulls": 0},
            "2": {"min": lo.isoformat(), "max": lo.isoformat(), "nulls": 0},
        },
        first_row_id=i * 1000,
        sequence_number=1,
        file_modified_ms=1_700_000_000_000 + i,
    )


def make_table(tmp_path, n=60) -> Table:
    t = Table.create(None, str(tmp_path / "t"), COLS, partitioning=["month(d)"])
    t._commit_snapshot(
        LazyManifest(
            t.location, [], [],
            added=[entry(i, month=(i % 12) + 1) for i in range(n)],
        ),
        "append",
        MAIN,
    )
    return t


def test_segment_roundtrip(tmp_path):
    loc = str(tmp_path)
    entries = [entry(i) for i in range(25)]
    seg = write_segment(loc, entries)
    assert seg.count == 25 and seg.records == sum(e.record_count for e in entries)
    back = entries_from_arrow(read_segment(loc, seg))
    assert back == entries  # frozen dataclasses: exact field equality
    assert "1" in seg.vec_ids and "2" in seg.vec_ids
    assert seg.summary["1"]["min"] == 0 and seg.summary["1"]["max"] == 249


def test_with_delta_semantics(tmp_path):
    loc = str(tmp_path)
    base_entries = [entry(i) for i in range(10)]
    seg = write_segment(loc, base_entries)
    base = LazyManifest(loc, [seg], [])
    e_new, e_new2 = entry(100), entry(101)
    m1 = base.with_delta(added=[e_new, e_new2])
    assert {f.path for f in m1.data_files} == {e.path for e in base_entries} | {
        e_new.path,
        e_new2.path,
    }
    # remove a base entry and a pending add in one step: the add cancels
    m2 = m1.with_delta(removed=[base_entries[3], e_new2])
    paths2 = {f.path for f in m2.data_files}
    assert base_entries[3].path not in paths2 and e_new2.path not in paths2
    assert e_new.path in paths2
    assert m2.counts() == (len(paths2), sum(f.record_count for f in m2.data_files))
    # re-adding a removed path resurrects it
    m3 = m2.with_delta(added=[base_entries[3]])
    assert base_entries[3].path in {f.path for f in m3.data_files}


def test_pruned_equals_exact(tmp_path):
    """Three-stage prune == pure-exact prune on stats+partition predicates
    (the vectorized stage must be invisible in the result here: these
    predicates are fully stats-expressible)."""
    t = make_table(tmp_path, n=120)
    man = t._manifest(t._resolve())
    assert isinstance(man, LazyManifest)
    cases = [
        [Predicate("k", ">=", 500), Predicate("k", "<", 700)],
        [Predicate("d", ">=", date(1995, 3, 1)), Predicate("d", "<", date(1995, 4, 1))],
        [Predicate("k", "in", [15, 155, 9999])],
        [Predicate("s", "notnull", None)],
        [Predicate("k", "!=", 15)],
        [
            Predicate(
                "",
                "or",
                [
                    [Predicate("k", "=", 15)],
                    [Predicate("d", ">=", date(1995, 11, 1))],
                ],
            )
        ],
    ]
    for preds in cases:
        exact = {f.path for f in prune_files(man.data_files, t.meta, preds)}
        staged = {f.path for f in man.pruned(t.meta, preds)}
        assert staged <= exact, preds
        # for these stats-expressible predicates the stages agree exactly
        assert staged == exact, preds


def test_append_reuses_segments(tmp_path):
    t = make_table(tmp_path, n=40)
    man0 = t._manifest(t._resolve())
    segs0 = {s.path for s in man0.segments}
    t.append_entries([entry(500)])
    man1 = t._manifest(t._resolve())
    segs1 = {s.path for s in man1.segments}
    assert segs0 <= segs1, "append must reuse the parent's segments"
    assert len(segs1) == len(segs0) + 1
    n, rec = man1.counts()
    assert n == 41


def test_removal_rewrites_only_hit_segments(tmp_path):
    t = make_table(tmp_path, n=40)
    t.append_entries([entry(500 + i) for i in range(5)])
    man = t._manifest(t._resolve())
    base_seg, delta_seg = man.segments
    victim = entry(502)
    m2 = man.with_delta(removed=[victim])
    t._commit_snapshot(m2, "delete", MAIN)
    man2 = t._manifest(t._resolve())
    paths = {s.path for s in man2.segments}
    assert base_seg.path in paths, "untouched segment must be reused"
    assert delta_seg.path not in paths, "hit segment must be rewritten"
    assert victim.path not in {f.path for f in man2.data_files}
    assert man2.counts()[0] == 44


def test_compaction_bounds_segments(tmp_path):
    t = make_table(tmp_path, n=30)
    for i in range(MAX_SEGMENTS + 8):
        t.append_entries([entry(1000 + i)])
    man = t._manifest(t._resolve())
    assert len(man.segments) <= MAX_SEGMENTS + 1
    assert man.counts()[0] == 30 + MAX_SEGMENTS + 8
    # state intact through all the folds
    ks = sorted(f.stats["1"]["min"] for f in man.data_files)
    assert len(ks) == 30 + MAX_SEGMENTS + 8


def test_expire_keeps_shared_segments(tmp_path):
    t = make_table(tmp_path, n=20)
    t.append_entries([entry(900)])
    t.append_entries([entry(901)])
    import time as _time

    _time.sleep(0.05)
    dropped = t.expire_snapshots(retention_ms=1)
    assert dropped >= 1
    # the head must still read completely: its segments (shared with the
    # expired ancestors) survived the artifact sweep
    man = t.refresh()._manifest(t._resolve())
    assert man.counts()[0] == 22
    assert len(man.data_files) == 22


def _legacy_head(t: Table, entries: list[DataFile]) -> str:
    """Write ``entries`` as a format-1 (full-state JSON) manifest and point
    main's head snapshot at it; returns the manifest's relative path."""
    rel = os.path.join("metadata", "snap-legacy.json")
    with open(os.path.join(t.location, rel), "w") as fh:
        json.dump(
            {"data_files": [e.to_dict() for e in entries], "delete_files": []},
            fh, default=str,
        )
    snap = t._resolve()
    t.meta.snapshots[-1] = type(snap)(**{**snap.to_dict(), "manifest": rel})
    t._commit_metadata_only()
    return rel


def test_format1_manifest_still_readable(tmp_path):
    """A pre-round-6 full-state JSON manifest loads with the same entries,
    its artifacts are just the list file, and the next commit on top of
    it writes a format-2 list backed by segments."""
    t = make_table(tmp_path, n=5)
    io = MetadataIO(t.location)
    entries = [entry(i) for i in range(5)]
    rel = _legacy_head(t, entries)
    legacy_snap = t._resolve()
    man = io.read_manifest(legacy_snap)
    assert [f.path for f in man.data_files] == [e.path for e in entries]
    # artifacts of a legacy manifest: just the file itself
    assert io.manifest_artifacts(legacy_snap) == [rel]

    t.append_entries([entry(500)])
    head = t.refresh()._resolve()
    with open(os.path.join(t.location, head.manifest)) as fh:
        doc = json.load(fh)
    assert doc["format"] == 2 and doc["segments"]
    assert {f.path for f in t._manifest(head).data_files} == {
        e.path for e in entries
    } | {entry(500).path}


def test_rebase_over_format1_head_adds_legacy_entries_once(tmp_path):
    """A format-1 head holds its entries as ``added``; two writers that
    both append onto it must not re-add them when the loser rebases onto
    the winner's format-2 state."""
    t = make_table(tmp_path, n=5)
    entries = [entry(i) for i in range(5)]
    _legacy_head(t, entries)
    a, b = Table(None, t.location), Table(None, t.location)
    a.append_entries([entry(600)])
    b.append_entries([entry(601)])  # CAS loses to a, rebases
    man = t.refresh()._manifest(t._resolve())
    assert sorted(f.path for f in man.data_files) == sorted(
        [e.path for e in entries] + [entry(600).path, entry(601).path]
    )


def test_lazy_manifest_data_paths_matches_materialization(tmp_path):
    t = make_table(tmp_path, n=25)
    t.append_entries([entry(700)])
    man = t._manifest(t._resolve())
    assert man.data_paths() == {f.path for f in man.data_files}


def test_files_meta_table_served_from_segments(tmp_path):
    """$files fast path (Spark scan over segment parquet) returns exactly
    the slow driver-side materialization."""
    import pytest

    pytest.importorskip("pyspark")
    from iceberg_trino_sql_demo_spark.session import get_spark
    from iceberg_trino_sql_demo_spark.sources.meta_tables import metadata_table

    spark = get_spark("segfiles")
    t = make_table(tmp_path, n=30)
    t.spark = spark
    fast = metadata_table(t, "files")
    # force the slow path: the same state held as zero segments
    man = t._manifest(t._resolve())
    eager = LazyManifest(t.location, [], man.delete_files, added=man.data_files)

    class _Shim:
        meta = t.meta
        spark = t.spark
        io = t.io

        def _resolve(self, ref):
            return t._resolve(ref)

        def _manifest(self, s):
            return eager

    slow = metadata_table(_Shim(), "files")
    k = lambda df: sorted(map(tuple, df.collect()))
    assert k(fast) == k(slow)


def test_delta_composition_property(tmp_path):
    """Property (hypothesis): ANY sequence of commit-sized add/remove
    deltas applied through LazyManifest.with_delta + write_manifest
    round-trips to exactly the state a plain Python set-model predicts —
    segment reuse, rewrite and folding are invisible to the reader."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        ops=st.lists(
            st.tuples(
                st.sampled_from(["add", "remove"]),
                st.lists(st.integers(min_value=0, max_value=120),
                         min_size=1, max_size=8, unique=True),
            ),
            min_size=1,
            max_size=12,
        )
    )
    def run(ops):
        import tempfile

        loc = tempfile.mkdtemp(prefix="ms_prop_", dir=str(tmp_path))
        t = Table.create(None, str(os.path.join(loc, "t")), COLS, ())
        model: dict[int, DataFile] = {}
        for kind, ids in ops:
            if kind == "add":
                fresh = [entry(i) for i in ids if i not in model]
                if not fresh:
                    continue
                t.append_entries(fresh)
                model.update({int(f.stats["1"]["min"] // 10): f for f in fresh})
            else:
                victims = [model[i] for i in ids if i in model]
                if not victims:
                    continue
                base = t._manifest(t._resolve())
                t._commit_snapshot(
                    base.with_delta(removed=victims), "delete", MAIN
                )
                for v in victims:
                    model.pop(int(v.stats["1"]["min"] // 10))
            man = t.refresh()._manifest(t._resolve())
            got = {f.path for f in man.data_files}
            assert got == {f.path for f in model.values()}
            n, rec = man.counts()
            assert n == len(model)
            assert rec == sum(f.record_count for f in model.values())

    run()


def test_scan_files_lean_matches_full(tmp_path):
    t = make_table(tmp_path, n=50)
    t.append_entries([entry(700)])
    man = t._manifest(t._resolve())
    lean = man.scan_files()
    full = man.data_files
    assert [f.path for f in lean] == [f.path for f in full]
    for a, b in zip(lean, full):
        assert (a.schema_id, a.has_lineage, a.sequence_number,
                a.first_row_id, a.record_count) == (
            b.schema_id, b.has_lineage, b.sequence_number,
            b.first_row_id, b.record_count)
    # hidden mode returns full fidelity (partition tuples needed per-row)
    assert man.scan_files(hidden=True)[0].partition


def test_vectorized_prune_property(tmp_path):
    """Property (hypothesis): for random predicate conjunctions over
    random-stats entries, the three-stage prune is ALWAYS a subset of the
    pure-exact prune, and exactly equal whenever every predicate is
    stats-expressible (no bucket/bloom/transform-only information in
    play here, so equality must hold)."""
    from datetime import timedelta

    from hypothesis import given, settings, strategies as st

    import random as _random

    rng = _random.Random(20260815)
    loc = str(tmp_path / "vp")
    t = Table.create(None, str(os.path.join(loc, "t")), COLS, ())
    entries = []
    for i in range(200):
        klo = rng.randrange(0, 5000)
        dlo = date(1994, 1, 1) + timedelta(days=rng.randrange(0, 700))
        e = DataFile(
            path=f"/syn/vp/c{i // 16:03d}/f{i:06d}.parquet",
            spec_id=1,
            schema_id=1,
            partition={},
            record_count=100,
            file_size_bytes=1000,
            stats={
                "1": {"min": klo, "max": klo + rng.randrange(0, 500),
                      "nulls": rng.choice([0, 0, 5, 100])},
                "2": {"min": dlo.isoformat(),
                      "max": (dlo + timedelta(days=rng.randrange(0, 60))).isoformat(),
                      "nulls": 0},
            },
            first_row_id=i * 100,
            sequence_number=1,
            file_modified_ms=1_700_000_000_000,
        )
        entries.append(e)
    t._commit_snapshot(
        LazyManifest(t.location, [], [], added=entries), "append", MAIN
    )
    man = t._manifest(t._resolve())
    assert isinstance(man, LazyManifest)

    leaf = st.one_of(
        st.tuples(st.just("k"),
                  st.sampled_from(["=", "<", "<=", ">", ">=", "!="]),
                  st.integers(min_value=-100, max_value=6000)),
        st.tuples(st.just("k"), st.just("in"),
                  st.lists(st.integers(min_value=0, max_value=6000),
                           min_size=1, max_size=4)),
        st.tuples(st.just("k"),
                  st.sampled_from(["isnull", "notnull"]), st.none()),
        st.tuples(st.just("d"), st.sampled_from(["=", "<", ">="]),
                  st.dates(min_value=date(1993, 6, 1),
                           max_value=date(1996, 6, 1))),
    )

    @settings(max_examples=60, deadline=None)
    @given(preds=st.lists(leaf, min_size=1, max_size=4))
    def run(preds):
        ps = [Predicate(c, op, v) for c, op, v in preds]
        exact = {f.path for f in prune_files(man.data_files, t.meta, ps)}
        staged = {f.path for f in man.pruned(t.meta, ps)}
        assert staged <= exact, (ps, staged - exact)
        assert staged == exact, (ps, exact - staged)

    run()


def test_remove_orphans_sweeps_metadata_losers(tmp_path):
    """A CAS-losing commit attempt leaves its manifest list + delta
    segment on disk; remove_orphan_files must sweep exactly those and
    never anything a live snapshot references."""
    import time as _time

    t = make_table(tmp_path, n=20)
    t.append_entries([entry(800)])
    meta_dir = os.path.join(t.location, "metadata")
    before = set(os.listdir(meta_dir))

    # simulate a losing attempt: write a manifest (list + segment) that no
    # snapshot will ever reference
    t.io.write_manifest(
        999, LazyManifest(t.location, [], [], added=[entry(900), entry(901)])
    )
    orphaned = set(os.listdir(meta_dir)) - before
    assert orphaned, "the losing attempt must have written artifacts"
    # age everything so the cutoff admits deletion
    old = _time.time() - 10
    for fn in os.listdir(meta_dir):
        p = os.path.join(meta_dir, fn)
        os.utime(p, (old, old))

    removed = t.remove_orphan_files(retention_ms=1000)
    after = set(os.listdir(meta_dir))
    assert orphaned.isdisjoint(after), "orphaned artifacts must be gone"
    assert removed >= len(orphaned)
    # live state untouched and fully readable
    man = t.refresh()._manifest(t._resolve())
    assert man.counts()[0] == 21
    assert len(man.data_files) == 21


def test_files_meta_table_content_ids(tmp_path):
    """$files content ids follow Iceberg: 0=data, 1=position deletes,
    2=equality deletes."""
    import pytest

    pytest.importorskip("pyspark")
    from iceberg_trino_sql_demo_spark.session import get_spark
    from iceberg_trino_sql_demo_spark.sources.catalog import Catalog
    from iceberg_trino_sql_demo_spark.sources.meta_tables import metadata_table

    spark = get_spark("contentids")
    cat = Catalog(spark, str(tmp_path / "wh_cid"))
    cat.create_schema("c")
    cat.use("c")
    t = cat.ctas("tbl", spark.createDataFrame([{"k": i, "v": f"v{i}"} for i in range(6)]))
    t.upsert_by_key(spark.createDataFrame([{"k": 2, "v": "N2"}]), ["k"])  # eq delete
    t.delete("k = 4")  # MoR position delete
    contents = {r.content for r in metadata_table(t.refresh(), "files").collect()}
    assert contents == {0, 1, 2}


def test_append_commit_never_materializes_entries(tmp_path, monkeypatch):
    """O(delta) appends, pinned mechanically: committing one file onto an
    existing table must never materialize (or even read) the base
    segments' entries — only segment METADATA (counts, prefixes) and the
    delta itself.  Timing claims live in SCALING.md; this is the
    structural guarantee."""
    import iceberg_trino_sql_demo_spark.sources.manifest_store as ms

    t = make_table(tmp_path, n=60)

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("append commit materialized segment entries")

    monkeypatch.setattr(ms, "entries_from_arrow", boom)
    t.append_entries([entry(900)])
    monkeypatch.undo()
    assert t.refresh()._manifest(t._resolve()).counts()[0] == 61


def test_dv_pack_roundtrip_property(spark):
    """Deletion-vector packs are lossless: for random (file, pos)
    multisets (duplicates across 'delete files' included), write_dv_pack
    followed by read_dv_positions returns exactly the DISTINCT tombstone
    set, and only_for scoping returns exactly the asked files' slices."""
    import random
    import tempfile

    from iceberg_trino_sql_demo_spark.sources.deletion_vectors import (
        read_dv_positions,
        write_dv_pack,
    )
    from iceberg_trino_sql_demo_spark.sources.metadata import DeleteFile

    rng = random.Random(42)
    for trial in range(5):
        n_files = rng.randint(1, 6)
        files = [f"/data/f{trial}_{i:03d}.parquet" for i in range(n_files)]
        pairs = []
        for fp in files:
            for _ in range(rng.randint(1, 40)):
                pairs.append((f"file:{fp}", rng.randint(0, 10_000)))
        # duplicates (same tombstone from two delete commits) must collapse
        pairs += rng.sample(pairs, k=min(10, len(pairs)))
        matches = spark.createDataFrame(
            pairs, "__del_file string, __del_pos long"
        )
        loc = tempfile.mkdtemp(prefix="dvprop_")
        pack, idx, total, refs = write_dv_pack(loc, matches)
        want = set(pairs)
        assert total == len(want)
        assert set(refs) == {p for p in files}
        entry = DeleteFile(
            path=pack, record_count=total, file_size_bytes=1,
            sequence_number=1, referenced_files=refs, content="dv",
            index_path=idx,
        )
        got = {
            (r["__del_file"], r["__del_pos"])
            for r in read_dv_positions(spark, [entry]).collect()
        }
        assert got == want
        only = files[: max(1, n_files // 2)]
        scoped = {
            (r["__del_file"], r["__del_pos"])
            for r in read_dv_positions(spark, [entry], only_for=only).collect()
        }
        assert scoped == {
            (f, p) for f, p in want if f.replace("file:", "") in only
        }
