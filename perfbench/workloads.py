"""The benchmark's workloads: what one pass runs, and how it is checked.

A pass is a list of ``Op``s.  ``Op.run`` is the timed body; ``Op.prelude``
runs just before it, untimed; ``Op.verify`` (called only in the
correctness pass, untimed) returns a list of problems, empty when the
output matches DuckDB.  The ``--seed`` reaches the program only through
the generated operation order and SQL text.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import shutil
import time
from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal
from typing import Any, Callable

#: the 22 TPC-H-shaped registry queries of ``tpch_adhoc``
TPCH_QUERIES = [
    "pricing_summary", "q2_min_cost_supplier", "q3_unshipped_revenue",
    "orders_exists_late_lineitem", "q5_local_supplier_revenue",
    "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
    "q9_product_type_profit", "q10_returned_items", "q11_important_share",
    "q12_priority_shipping", "q13_customer_distribution",
    "q14_promo_revenue_share", "q15_top_supplier", "q16_supplier_variety",
    "q17_small_quantity_revenue", "q18_large_volume_customer",
    "q19_brand_discounts", "q20_promotable_suppliers",
    "q21_sole_late_supplier", "q22_idle_balance_customers",
]

#: the 14 LLM-data operators of ``curation_dedup``
CURATION_QUERIES = [
    "dedup_minhash_lsh", "dedup_keep_list", "dedup_simhash",
    "dedup_embedding_prefiltered", "dedup_exact_normalized",
    "dedup_shingle_jaccard", "dedup_cluster_components",
    "ann_topk_ivf", "ann_topk_lsh", "ann_knn_join_lsh",
    "text_tfidf_top_terms", "contamination_bloom_prefilter",
    "training_corpus_select", "quality_filter_gopher",
]


@dataclass
class Op:
    name: str
    kind: str  # "query" | "read" | "commit"
    run: Callable[[], Any]
    verify: Callable[[Any], list[str]] | None = None
    prelude: Callable[[], None] | None = None
    after: Callable[[], None] | None = None  # untimed, right after ``run``


@dataclass
class Ctx:
    """What a workload needs: the session, the data, a scratch area."""
    data_dir: str
    work_dir: str
    spark: Any = None
    duck: Any = None
    tracer: Any = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


# -- result comparison ------------------------------------------------------

def _canon(v: Any) -> Any:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        if v.hour == v.minute == v.second == v.microsecond == 0:
            return v.date().isoformat()
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _close(a: Any, b: Any, rel: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return a == b or abs(a - b) <= rel * max(abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, rel) for x, y in zip(a, b))
    return a == b


def compare(got_cols: list[str], got_rows: list, want_cols: list[str],
            want_rows: list, rel: float = 0.0) -> list[str]:
    """Order-insensitive multiset comparison of two results.  ``rel`` = 0
    demands exact equality (the registry's oracle rule); DML reads allow a
    relative float tolerance because the two engines sum in different
    orders."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"]
    order_g = [got_cols.index(c) for c in sorted(got_cols)]
    order_w = [want_cols.index(c) for c in sorted(want_cols)]
    g = sorted((tuple(_canon(r[i]) for i in order_g) for r in got_rows), key=repr)
    w = sorted((tuple(_canon(r[i]) for i in order_w) for r in want_rows), key=repr)
    if len(g) != len(w):
        return [f"{len(g)} rows != oracle {len(w)}"]
    bad = [(a, b) for a, b in zip(g, w) if not _close(a, b, rel)]
    return [f"{len(bad)} rows differ, first: {bad[0][0]!r} != oracle {bad[0][1]!r}"] if bad else []


class Oracle:
    """DuckDB over the same parquet files, timing its own work so that
    the run can leave it out of ``setup_s``."""

    def __init__(self, data_dir: str):
        from iceberg_trino_sql_demo_spark.session import TESTDATA_TABLES

        t0 = time.perf_counter()
        import duckdb

        self.con = duckdb.connect()
        self.seconds = time.perf_counter() - t0
        self.execute("SET threads TO 2")
        for t in TESTDATA_TABLES:
            self.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")

    def execute(self, sql: str) -> None:
        self.rows(sql)

    def rows(self, sql: str) -> tuple[list[str], list]:
        t0 = time.perf_counter()
        try:
            cur = self.con.execute(sql)
            return [d[0] for d in cur.description or ()], cur.fetchall()
        finally:
            self.seconds += time.perf_counter() - t0


# -- registry workloads (tpch_adhoc, curation_dedup) ---------------------------

class RegistryWorkload:
    """Named registry queries, each a fresh statement over raw parquet:
    operator caches are drained before each query (untimed), then the
    query is built and materialized with a ``noop`` write (timed)."""

    kinds = ("query",)

    def __init__(self, names: list[str]):
        self.names = names

    def prepare(self, ctx: Ctx) -> None:
        from iceberg_trino_sql_demo_spark.session import register_views

        register_views(ctx.spark, ctx.data_dir)

    def prepare_oracle(self, ctx: Ctx) -> None:
        pass  # the oracle SQL reads the parquet views the Oracle creates

    def begin_pass(self, ctx: Ctx, rng: random.Random, check: bool) -> list[Op]:
        from iceberg_trino_sql_demo_spark import operators

        names = list(self.names)
        rng.shuffle(names)

        def release() -> None:
            with ctx.span("pins.release"):
                operators.release_caches()

        if check:
            # the correctness pass materializes by collecting; load the
            # noop-write path once here so no timed query pays for it
            ctx.spark.range(1).write.format("noop").mode("overwrite").save()

        def make(name: str) -> Op:
            def run():
                with ctx.span("operators.build"):
                    df = operators.QUERIES[name](ctx.spark, ctx.data_dir)
                if check:
                    return df.columns, df.collect()
                df.write.format("noop").mode("overwrite").save()

            def verify(result) -> list[str]:
                if name not in operators.ORACLE:
                    return ["no DuckDB oracle registered"]
                want_cols, want = ctx.duck.rows(operators.ORACLE[name])
                return compare(*result, want_cols, want)

            return Op(name, "query", run, verify, release)

        return [make(n) for n in names]

    def end_pass(self, ctx: Ctx) -> dict:
        return {}


# -- lakehouse_mixed ----------------------------------------------------------

_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
         "o_orderpriority")
_SRC = ("SELECT o_orderkey{shift}, o_custkey, o_orderstatus, o_totalprice, "
        "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority FROM orders")


#: key ranges of the sf0.1 corpus (o_orderkey, o_custkey)
ORDERS, CUSTOMERS = 150_000, 15_000


class LakehouseWorkload:
    """Trino SQL through ``Engine.sql`` on a merge-on-read table partitioned
    by ``year(o_orderdate)``.  Each pass starts from a zero-copy clone of
    the CTAS'd base table, registered under a fresh name, and runs one
    round of INSERT, UPDATE, DELETE, MERGE and optimize with ten reads
    between them: point, pruned, full-scan, time-travel and ``$files``.
    The correctness pass mirrors every statement into DuckDB and compares
    every read."""

    kinds = ("commit", "read")

    def prepare(self, ctx: Ctx) -> None:
        from iceberg_trino_sql_demo_spark.engine import Engine
        from iceberg_trino_sql_demo_spark.session import register_views

        register_views(ctx.spark, ctx.data_dir)
        wh = os.path.join(ctx.work_dir, "warehouse")
        shutil.rmtree(wh, ignore_errors=True)
        self.engine = Engine(ctx.spark, wh)
        self.engine.sql("CREATE SCHEMA IF NOT EXISTS lake")
        self.engine.sql("USE lake")
        self.engine.sql(
            "CREATE TABLE base WITH (partitioning = ARRAY['year(o_orderdate)'], "
            "format_version = 3, merge_mode = 'merge-on-read') AS " + _SRC.format(shift=""))
        self.passes = 0

    def prepare_oracle(self, ctx: Ctx) -> None:
        ctx.duck.execute("CREATE OR REPLACE TABLE lake_base AS " + _SRC.format(shift=""))

    def begin_pass(self, ctx: Ctx, rng: random.Random, check: bool) -> list[Op]:
        eng, duck = self.engine, ctx.duck
        self.passes += 1
        t = self.table = f"pass{self.passes}"
        eng.sql(f"CALL system.snapshot(source_table => 'base', table_name => '{t}')")
        self.location = eng.catalog.table(t).location
        land = f"land_{t}"
        land_sql = (f"SELECT o_orderkey + 5 AS o_orderkey, o_custkey, 'M' AS o_orderstatus, "
                    f"o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate, "
                    f"o_orderpriority FROM orders WHERE o_custkey % 40 = {rng.randrange(40)}")
        ctx.spark.sql(land_sql).createOrReplaceTempView(land)
        if check:
            duck.execute(f"CREATE OR REPLACE TABLE {t} AS SELECT * FROM lake_base")
            duck.execute(f"CREATE OR REPLACE TABLE {land} AS {land_sql}")

        def agg(suffix: str = "", table: str = t) -> str:
            return (f"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS s, "
                    f"max(o_orderkey) AS k FROM {table}{suffix} GROUP BY o_orderstatus")

        def read(name: str, sql: str, duck_sql: str | None = None) -> Op:
            def verify(rows) -> list[str]:
                want_cols, want = duck.rows(duck_sql or sql)
                got_cols = list(rows[0].__fields__) if rows else want_cols
                return compare(got_cols, rows, want_cols, want, rel=1e-9)

            return Op(name, "read", lambda: eng.sql(sql).collect(), verify)

        def commit(name: str, sql: str, *duck_sql: str, after=None) -> Op:
            def mirror(_) -> list[str]:
                for stmt in duck_sql or (sql,):
                    duck.execute(stmt)
                return []

            return Op(name, "commit", lambda: eng.sql(sql), mirror, after=after)

        def verify_version(rows) -> list[str]:
            want_cols, want = duck.rows(agg(table=f"{t}_v"))
            return compare(want_cols, rows, want_cols, want, rel=1e-9)

        def pin_version() -> None:
            # the snapshot that time travel reads back later in the pass
            self.version = eng.catalog.table(t).meta.current_snapshot_id()
            if check:
                duck.execute(f"CREATE OR REPLACE TABLE {t}_v AS SELECT * FROM {t}")

        def point(key: int) -> str:
            return (f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                    f"o_orderdate FROM {t} WHERE o_orderkey = {key}")

        year, year2 = rng.randrange(1995, 2001), rng.randrange(1995, 2001)
        return [
            commit("insert", f"INSERT INTO {t} " + _SRC.format(shift=" + 1000000")
                   + f" WHERE o_custkey % 50 = {rng.randrange(50)}"),
            commit("update", f"UPDATE {t} SET o_totalprice = o_totalprice + "
                   f"{rng.randrange(1, 10)} WHERE o_custkey % 50 = {rng.randrange(50)}"),
            read("select_point", point(rng.randrange(ORDERS))),
            commit("delete", f"DELETE FROM {t} WHERE o_orderkey % 97 = {rng.randrange(97)}",
                   after=pin_version),
            read("select_pruned", agg(f" WHERE o_orderdate >= DATE '{year}-01-01' "
                                      f"AND o_orderdate < DATE '{year + 1}-01-01'")),
            read("select_customer", f"SELECT count(*) AS n, sum(o_totalprice) AS s FROM {t} "
                                    f"WHERE o_custkey = {rng.randrange(CUSTOMERS)}"),
            read("select_full", agg()),
            read("select_pruned_span", agg(f" WHERE o_orderdate >= DATE '{year2}-07-01' "
                                           f"AND o_orderdate < DATE '{year2 + 1}-07-01'")),
            commit("merge",
                   f"MERGE INTO {t} AS b USING {land} AS l ON (b.o_orderkey = l.o_orderkey) "
                   f"WHEN MATCHED THEN UPDATE SET o_orderstatus = l.o_orderstatus "
                   f"WHEN NOT MATCHED THEN INSERT ({_COLS}) VALUES (l.o_orderkey, "
                   f"l.o_custkey, l.o_orderstatus, l.o_totalprice, l.o_orderdate, "
                   f"l.o_orderpriority)",
                   f"UPDATE {t} SET o_orderstatus = l.o_orderstatus FROM {land} AS l "
                   f"WHERE {t}.o_orderkey = l.o_orderkey",
                   f"INSERT INTO {t} SELECT * FROM {land} AS l WHERE l.o_orderkey NOT IN "
                   f"(SELECT o_orderkey FROM {t})"),
            Op("select_version", "read",
               lambda: eng.sql(agg(f" FOR VERSION AS OF {self.version}")).collect(),
               verify_version),
            read("select_priority", f"SELECT o_orderpriority, count(*) AS n, "
                                    f"max(o_totalprice) AS m FROM {t} GROUP BY o_orderpriority"),
            self._files_read(ctx, t),
            commit("optimize", f"ALTER TABLE {t} EXECUTE optimize", "SELECT 1"),
            read("select_after_optimize", agg()),
            read("select_point_after_optimize", point(rng.randrange(ORDERS))),
        ]

    def _files_read(self, ctx: Ctx, t: str) -> Op:
        """``"t$files"`` has no DuckDB counterpart.  Its check: every listed
        file exists, and the mirror's row count lies between the data-file
        records minus the delete-file records (a lower bound: deletes whose
        data file was rewritten stay listed until cleaned up) and the
        data-file records."""

        def run():
            return self.engine.sql(
                f'SELECT content, file_path, record_count FROM "{t}$files"').collect()

        def verify(rows) -> list[str]:
            data = sum(r.record_count for r in rows if r.content == 0)
            deleted = sum(r.record_count for r in rows if r.content != 0)
            (want,), = ctx.duck.rows(f"SELECT count(*) FROM {t}")[1]
            missing = [r.file_path for r in rows
                       if not os.path.exists(r.file_path.removeprefix("file:"))]
            problems = [f"{len(missing)} listed files missing, first {missing[0]}"] if missing else []
            if not data - deleted <= want <= data:
                problems.append(f"$files lists {data} data and {deleted} deleted "
                                f"records; oracle has {want} rows")
            return problems

        return Op("select_files", "read", run, verify)

    def end_pass(self, ctx: Ctx) -> dict:
        """Bytes the pass wrote under the clone's location; then drop it."""
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, files in os.walk(self.location) for f in files)
        self.engine.sql(f"DROP TABLE {self.table}")
        shutil.rmtree(self.location, ignore_errors=True)
        return {"written_mb": written / (1024 * 1024)}


WORKLOADS = {
    "tpch_adhoc": lambda: RegistryWorkload(TPCH_QUERIES),
    "lakehouse_mixed": LakehouseWorkload,
    "curation_dedup": lambda: RegistryWorkload(CURATION_QUERIES),
}
