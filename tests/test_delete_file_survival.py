"""A position-delete file stays in the manifest exactly while one of the
data files it references is live: copy-on-write rewrites of its targets,
one commit at a time, drop it once the last target is gone."""

from __future__ import annotations

from pyspark.sql import functions as F

from iceberg_trino_sql_demo_spark.session import pinned_conf
from iceberg_trino_sql_demo_spark.sources.catalog import Catalog


def _rows(t) -> list[tuple]:
    return sorted(tuple(r) for r in t.df().collect())


def test_delete_file_dropped_when_last_target_rewritten(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_schema("d")
    cat.use("d")
    # file A holds k in [0, 200), file B holds k in [200, 400)
    src = spark.range(400).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    tables = {}
    for name, mode in (("mor", "merge-on-read"), ("cow", "copy-on-write")):
        cat.ctas(name, src.where("k < 200").coalesce(1), properties={"merge_mode": mode})
        t = tables[name] = cat.table(name)
        t.append(src.where("k >= 200").coalesce(1))
    mor, cow = tables["mor"], tables["cow"]

    def pos_deletes():
        man = mor._manifest(mor._resolve("main"))
        return [d for d in man.delete_files if d.content == "position"]

    # one shuffle partition: the DELETE writes ONE delete file spanning A and B
    with pinned_conf(spark, {"spark.sql.shuffle.partitions": "1"}):
        for t in (mor, cow):
            t.delete("k % 7 = 0")
    (spanning,) = pos_deletes()
    assert len(spanning.referenced_files) == 2
    assert _rows(mor) == _rows(cow)

    mor.set_properties(merge_mode="copy-on-write")
    for t in (mor, cow):
        t.delete("k = 1")  # rewrites A only
    assert pos_deletes() == [spanning]  # still needed for B
    assert _rows(mor) == _rows(cow)

    for t in (mor, cow):
        t.delete("k = 201")  # rewrites B: no referenced file is live now
    assert pos_deletes() == []
    assert _rows(mor) == _rows(cow)
    assert len(_rows(mor)) == 400 - 58 - 2
