"""JDBC federation fixtures: an embedded Derby database as the "remote"
engine behind the reference's foreign catalogs.

The reference joins ``postgresql.demo.customer x oracle.demo.nation x
snowflake_parallel.demo.region`` in one CTAS (iceberg_trino_sqldemo.sql
:36-38) and the flagship query joins ``postgresql.demo.orders`` (:291).
This sandbox has no database server, but Spark ships Apache Derby
(its Hive-metastore dependency) — a real SQL engine with a real JDBC
driver — so ``Engine.attach_jdbc_catalog`` can be exercised against a
live external database end-to-end: Spark's JDBC source plans the scan,
pushes filters/column pruning into Derby, and Derby executes SQL.

Embedded Derby is single-JVM by design: exactly the local[*] test shape.
A production deployment swaps the URL for a server database
(postgres/mysql); every code path above the DriverManager is identical.

Scale note: the federation pattern at 100 TB is dimension-sided — the
JDBC side holds catalog/dimension tables (customers, nations) while
facts live in the lakehouse; Spark's JDBC source ships predicates to
the database and only the filtered dimension rows travel, which is the
shape ``federation_agg`` (broadcast the filtered dim) already encodes.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_url(db_dir: str, create: bool = True) -> str:
    """Embedded-Derby URL; ``user=demo`` makes DEMO the current schema
    (Derby creates a user's schema implicitly on first object creation),
    so the reference's ``demo.<table>`` names resolve as written."""
    suffix = ";create=true" if create else ""
    return f"jdbc:derby:{db_dir}{suffix};user=demo"


def publish_tables(spark: SparkSession, url: str,
                   tables: dict[str, DataFrame]) -> None:
    """Write DataFrames into the database via Spark's JDBC sink (the
    same round-trip a real deployment's ingest would use).

    String columns are published as VARCHAR explicitly: Spark's Derby
    dialect maps StringType to CLOB, and Derby refuses CLOB = CHAR
    comparisons — which would reject every pushed-down string predicate
    (`WHERE r_name = 'EUROPE'`) at the database."""
    for name, df in tables.items():
        str_cols = [f.name for f in df.schema.fields
                    if f.dataType.simpleString() == "string"]
        w = (df.write.format("jdbc")
             .option("url", url)
             .option("dbtable", name)
             .option("driver", DERBY_DRIVER)
             .mode("overwrite"))
        if str_cols:
            w = w.option(
                "createTableColumnTypes",
                ", ".join(f"{c} VARCHAR(255)" for c in str_cols))
        w.save()


def derby_from_sf_dir(spark: SparkSession, db_dir: str, sf_dir: str,
                      tables: tuple[str, ...] = ("customer", "nation",
                                                 "region", "orders"),
                      ) -> str:
    """Load the given testdata tables into an embedded Derby at
    ``db_dir`` (idempotent: an already-built database is reused) and
    return its JDBC URL."""
    from iceberg_trino_sql_demo_spark.session import read_parquet, table_path

    url = derby_url(db_dir)
    marker = os.path.join(db_dir, ".published")
    if os.path.exists(marker):
        return url
    publish = {
        t: read_parquet(spark, table_path(sf_dir, t)) for t in tables
    }
    publish_tables(spark, url, publish)
    with open(marker, "w") as fh:
        fh.write("ok")
    return url
