"""Raw-parquet reads: schema inference runs once per file identity, and
building a registry query over the testdata submits no Spark job."""

from __future__ import annotations

import pandas as pd

from iceberg_trino_sql_demo_spark.session import (
    parquet_row_count,
    read_parquet,
    register_views,
)


def test_footer_memos_follow_a_rewrite_in_place(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pd.DataFrame({"a": [1, 2, 3]}).to_parquet(path)
    assert parquet_row_count(path) == 3
    assert read_parquet(spark, path).schema.names == ["a"]

    pd.DataFrame({"a": range(5), "b": ["x"] * 5}).to_parquet(path)
    assert parquet_row_count(path) == 5
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(tuple(r) for r in df.collect()) == [(i, "x") for i in range(5)]


def test_tpch_builds_submit_no_jobs(spark, sf_oracle_dir):
    """Building each tpch_adhoc query is plan construction only: with the
    views registered (which learns every testdata schema), no builder may
    submit a job before the query runs."""
    from iceberg_trino_sql_demo_spark import operators as ops
    from perfbench.workloads import TPCH_QUERIES

    ops.load_all()
    register_views(spark, sf_oracle_dir)
    sc = spark.sparkContext
    jobs = {}
    try:
        for name in TPCH_QUERIES:
            group = f"build-{name}"
            sc.setJobGroup(group, name)
            ops.QUERIES[name](spark, sf_oracle_dir)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ops.release_caches()
    assert {n: j for n, j in jobs.items() if j} == {}
