"""Merge-on-read scan plans: building ``Table.df()`` costs a bounded number
of py4j round trips, and the position-delete set is read once per scan."""

from __future__ import annotations

import threading

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from iceberg_trino_sql_demo_spark.sources.catalog import Catalog

#: round trips one ``Table.df()`` of the 40-column table below may cost
#: (measured: 100 at 4 columns, 172 at 40)
MAX_ROUND_TRIPS = 250


def _table(spark, cat, name: str, width: int, mode: str):
    """``width`` bigint columns, 400 rows in two files; an UPDATE writes
    row-lineage files and tombstones the old rows, then a DELETE
    tombstones rows in lineage and non-lineage files alike."""
    df = spark.range(400).select(
        F.col("id").alias("k"),
        *[(F.col("id") * i).alias(f"c{i}") for i in range(1, width)])
    cat.ctas(name, df.repartition(2), properties={"merge_mode": mode})
    t = cat.table(name)
    t.update({"c1": 7}, "k % 5 = 0")
    t.delete("k % 3 = 0")
    return cat.table(name)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_scan_plan")))
    cat.create_schema("d")
    cat.use("d")
    out = {w: _table(spark, cat, f"mor{w}", w, "merge-on-read") for w in (4, 40)}
    out["cow"] = _table(spark, cat, "cow4", 4, "copy-on-write")
    return out


def _groups(t) -> set:
    """The (schema, lineage, format) file groups of the head snapshot, all
    of them referenced by a position-delete file."""
    man = t._manifest(t._resolve("main"))
    refs = {p for d in man.delete_files for p in d.referenced_files}
    assert all(f.path in refs for f in man.data_files)
    return {(f.schema_id, bool(f.has_lineage), f.file_format) for f in man.data_files}


def _round_trips(fn) -> int:
    """Commands ``fn`` sends from this thread.  py4j's finalizer thread
    sends the MEMORY_DEL of JavaObjects freed earlier whenever it next
    wakes, so its commands are not counted."""
    orig = ClientServerConnection.send_command
    caller = threading.get_ident()
    n = 0

    def counted(conn, command):
        nonlocal n
        if threading.get_ident() == caller:
            n += 1
        return orig(conn, command)

    ClientServerConnection.send_command = counted
    try:
        fn()
    finally:
        ClientServerConnection.send_command = orig
    return n


def test_scan_plan_round_trips_bounded(tables):
    counts = {}
    for w in (4, 40):
        t = tables[w]
        groups = _groups(t)
        assert {lin for _, lin, _ in groups} == {False, True}
        t.df()  # first build parses and caches the column types
        counts[w] = _round_trips(t.df)
    # the projection is one selectExpr per group: widening adds the
    # list-element conversion only (one round trip per column per group,
    # 72 here), not F.col + alias per column (about 20 per column); the
    # factor 2 leaves room for a stray py4j command in the counted window
    assert counts[40] - counts[4] <= 2 * (40 - 4) * len(groups), counts
    assert counts[40] <= MAX_ROUND_TRIPS, counts


def test_one_tombstone_read_per_scan(tables):
    df = tables[4].df()
    qe = df._jdf.queryExecution()
    # one anti-join above the union of the delete-referenced groups
    assert qe.analyzed().toString().count("LeftAnti") == 1
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in tables["cow"].df().collect())
    assert got == want and len(got) == 266
    # Catalyst copies the anti-join below the union; both copies share one
    # broadcast of ONE scan of the position-delete files
    plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("ReadSchema: struct<file_path:string,pos:bigint>") == 1, plan


@pytest.mark.parametrize("where, assignments", [
    ("_last_updated_sequence_number = {seq}", None),
    ("_last_updated_sequence_number = {seq} - 1", None),
    ("_row_id < 5", None),
    ("_last_updated_sequence_number = {seq} - 1", {"v": 5}),
])
def test_dml_where_names_lineage_column(spark, tmp_path, where, assignments):
    """A merge-on-read DELETE/UPDATE whose WHERE names a row-lineage column
    matches the rows a copy-on-write table matches, in files written with
    and without physical lineage columns alike."""
    cat = Catalog(spark, str(tmp_path))
    cat.create_schema("d")
    cat.use("d")
    rows = {}
    for mode in ("merge-on-read", "copy-on-write"):
        name = mode.replace("-", "_")
        df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        cat.ctas(name, df.repartition(2), properties={"merge_mode": mode})
        t = cat.table(name)
        t.update({"v": 0}, "k % 10 = 0")
        t = cat.table(name)
        before = sorted(tuple(r) for r in t.df().collect())
        w = where.format(seq=t.meta.last_sequence_number)
        if assignments is None:
            t.delete(w)
        else:
            t.update(assignments, w)
        rows[mode] = sorted(tuple(r) for r in cat.table(name).df().collect())
        assert rows[mode] != before, mode
    assert rows["merge-on-read"] == rows["copy-on-write"]
