"""Phase-1 relational operators (SURVEY.md §2.3-2.5) — pure Catalyst.

Each query re-expresses a statement of the reference script
(/root/reference/iceberg_trino_sqldemo.sql, cited per function) over the
driver's testdata star schema.  The DuckDB oracle SQL lives next to each
implementation; aliases match column-for-column.

Scale notes (100 TB framing):
- dimension tables (region 5, nation 25, customer ~sf*150k rows) are
  broadcast explicitly so the fact-side join never shuffles the big table;
- monetary aggregates go through DECIMAL accumulation (exact, order-free)
  instead of double sums — see functions.trino.decimal_sum;
- every filter/projection is expressed on base columns so Catalyst pushes
  it into the parquet scan (verified via .explain: PushedFilters/ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_trino_sql_demo_spark.operators import pins, register
from iceberg_trino_sql_demo_spark.functions.trino import (
    iround_long,
    scaled_long_sum,
    trino_date_format,
    trino_round,
)
from iceberg_trino_sql_demo_spark.session import parquet_row_count, read_parquet, table_path


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, table_path(sf_dir, name))


# ---------------------------------------------------------------------------
# customer pipeline — reference lines 19-40 (CTAS source SELECT).
# 3-way cross-source join (J1), projection+alias (P2), equality filter (P4),
# ROUND (F1), LIMIT (O3).  ORDER BY custkey added to make LIMIT deterministic
# (the reference's bare LIMIT 500 is order-free; Trino returns an arbitrary
# subset — we pin it for oracle comparison).
# ---------------------------------------------------------------------------
@register(
    "customer_pipeline",
    oracle="""
    SELECT c.c_custkey AS custkey,
           c.c_name    AS name,
           c.c_mktsegment AS mktsegment,
           round(c.c_acctbal) AS account_balance,
           n.n_name    AS nation
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
     WHERE r.r_name = 'EUROPE'
     ORDER BY custkey
     LIMIT 500
    """,
)
def customer_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.where(F.col("r_name") == "EUROPE")),
              F.col("r_regionkey") == F.col("n_regionkey"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("mktsegment"),
            trino_round(F.col("c_acctbal")).alias("account_balance"),
            F.col("n_name").alias("nation"),
        )
        .orderBy("custkey")
        .limit(500)
    )


# ---------------------------------------------------------------------------
# orderdate range scan — reference line 15.  (P3: half-open date interval;
# the demo's 1992 window predates this testdata, so the same shape is applied
# to an in-range window.)  Drives partition pruning once orders is stored as
# an engine table partitioned by year(orderdate) (reference line 13).
# ---------------------------------------------------------------------------
@register(
    "orderdate_range",
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS orderdate
      FROM orders
     WHERE CAST(o_orderdate AS DATE) >= DATE '1995-11-01'
       AND CAST(o_orderdate AS DATE) <  DATE '1996-01-01'
    """,
)
def orderdate_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.where(
        (d >= F.lit("1995-11-01").cast("date")) & (d < F.lit("1996-01-01").cast("date"))
    ).select(d.alias("orderdate"))


# ---------------------------------------------------------------------------
# federation aggregation — reference lines 286-295 (flagship).
# fact⋈dim join (J2), GROUP BY + SUM + ROUND (A1/F1), ORDER BY (O1).
# The demo's `customer` Iceberg table carries a `nation` name column
# (line 34); over the base schema that is customer⋈nation.
# ---------------------------------------------------------------------------
@register(
    "federation_agg",
    oracle="""
    SELECT n.n_name AS nation,
           round(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE))
               AS total_price
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON c.c_custkey = o.o_custkey
     WHERE c.c_mktsegment = 'AUTOMOBILE'
     GROUP BY n.n_name
     ORDER BY total_price
    """,
)
def federation_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "AUTOMOBILE")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    # orders is the big side at scale: broadcast the filtered dim product so
    # the fact table never shuffles.
    dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("nation")
    )
    return (
        o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey)
        .groupBy("nation")
        .agg(trino_round(scaled_long_sum(F.col("o_totalprice"), "x")).alias("total_price"))
        .orderBy("total_price")
    )


# ---------------------------------------------------------------------------
# IN-list predicate — reference line 137 (P5; there a DELETE predicate, here
# demonstrated as the equivalent scan).
# ---------------------------------------------------------------------------
@register(
    "customer_in_list",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal
      FROM customer
     WHERE c_custkey IN (2001, 2002, 2003)
    """,
)
def customer_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey").isin(2001, 2002, 2003))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# LEFT OUTER join — reference lines 92-93 ($history LEFT JOIN $refs).  The
# same join shape over base tables: every region row survives, nations only
# where the ON clause matches (null-extended otherwise).
# ---------------------------------------------------------------------------
@register(
    "left_join_shape",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation
      FROM region r
      LEFT JOIN nation n
        ON r.r_regionkey = n.n_regionkey AND n.n_nationkey < 3
    """,
)
def left_join_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return r.join(
        n, (r.r_regionkey == n.n_regionkey) & (n.n_nationkey < 3), "left"
    ).select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))


# ---------------------------------------------------------------------------
# scalar functions — reference lines 85-94 (curr_ver_dets view):
# concat_ws (F2, line 86), date_format '%Y/%m/%d-%T' (F3, line 87),
# ORDER BY committed_at (O1, line 94).  Applied to orders columns.
# ---------------------------------------------------------------------------
@register(
    "concat_datefmt",
    oracle="""
    SELECT o_orderkey AS orderkey,
           concat_ws(' > ', o_orderstatus, o_orderpriority) AS status_priority,
           strftime(o_orderdate, '%Y/%m/%d-%H:%M:%S') AS committed_at
      FROM orders
    """,
)
def concat_datefmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.concat_ws(" > ", "o_orderstatus", "o_orderpriority").alias("status_priority"),
        trino_date_format(F.col("o_orderdate"), "%Y/%m/%d-%T").alias("committed_at"),
    )
    # No global sort: result comparison is order-insensitive and a full-table
    # ORDER BY of a projection this wide is exactly what dies at 100 TB.
    # The ordered variant of the reference (line 94) is demonstrated by the
    # top-k queries (top_acctbal_desc) where a sort is actually bounded.


# ---------------------------------------------------------------------------
# interval arithmetic + now() shape — reference lines 267-268
# ("$file_modified_time" > CAST(now() - INTERVAL '2' DAY AS DATE)).  now()
# is non-deterministic, so the oracle-checked variant anchors to a fixed
# timestamp; the engine's optimize-WHERE path reuses this predicate builder.
# ---------------------------------------------------------------------------
@register(
    "interval_cutoff",
    oracle="""
    SELECT o_orderkey AS orderkey, CAST(o_orderdate AS DATE) AS orderdate
      FROM orders
     WHERE CAST(o_orderdate AS DATE)
           > CAST(TIMESTAMP '1999-01-15 12:00:00' - INTERVAL 30 DAY AS DATE)
    """,
)
def interval_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cutoff = (
        F.lit("1999-01-15 12:00:00").cast("timestamp") - F.expr("INTERVAL 30 DAY")
    ).cast("date")
    return o.where(F.to_date("o_orderdate") > cutoff).select(
        F.col("o_orderkey").alias("orderkey"),
        F.to_date("o_orderdate").alias("orderdate"),
    )


# ---------------------------------------------------------------------------
# pricing summary — TPC-H Q1 shape over lineitem.  Not a literal statement of
# the reference (its CTAS sources draw from tpch.sf1, lines 11-13); this is
# the canonical big-aggregation benchmark for the engine: grouped decimal
# sums with map-side partial aggregation, zero joins.
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_base_price,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS sum_disc_price,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS sum_charge,
           CAST(COUNT(*) AS BIGINT) AS count_order
      FROM lineitem
     WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-02'
     GROUP BY l_returnflag, l_linestatus
     ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sums via scaled-long accumulation (functions.trino.
    scaled_long_sum): 64-bit integer adds in the hash-agg hot loop instead
    of 128-bit decimal — same exactness, ~3x faster at scale."""
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.where(F.to_date("l_shipdate") <= F.lit("2001-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            scaled_long_sum(F.col("l_quantity"), "sum_qty"),
            scaled_long_sum(F.col("l_extendedprice"), "sum_base_price"),
            scaled_long_sum(disc_price, "sum_disc_price", scale=4),
            scaled_long_sum(charge, "sum_charge", scale=6),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# local supplier volume — TPC-H Q5 shape: the engine's multi-join benchmark
# (fact ⋈ 4 dims with a same-nation constraint), shuffle-heavy by design.
# ---------------------------------------------------------------------------
@register(
    "nation_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000.0
               AS revenue
      FROM customer c
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
                     AND s.s_nationkey = c.c_nationkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
     WHERE r.r_name = 'EUROPE'
     GROUP BY n.n_name
     ORDER BY revenue DESC
    """,
)
def nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(
                c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
                    F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
                )
            ),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(scaled_long_sum(revenue, "revenue", scale=4))
        .orderBy(F.desc("revenue"))
    )


# ---------------------------------------------------------------------------
# ORDER BY DESC + LIMIT — reference lines 131/139 ($snapshots ORDER BY
# committed_at DESC) and line 40 (LIMIT): top-k shape (O2/O3).
# ---------------------------------------------------------------------------
@register(
    "top_acctbal_desc",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal
      FROM customer
     ORDER BY c_acctbal DESC, c_custkey
     LIMIT 20
    """,
)
def top_acctbal_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
        )
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Beyond the reference's literal statements (SURVEY.md §2.5 notes these exist
# natively in Spark): window functions, hierarchical rollup, set operations —
# included so the engine's relational surface is complete for users who go
# past the demo script.
# ---------------------------------------------------------------------------
@register(
    "window_rank_per_nation",
    oracle="""
    SELECT * FROM (
      SELECT c_nationkey AS nationkey,
             c_custkey AS custkey,
             c_acctbal AS acctbal,
             CAST(row_number() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rk,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) OVER (PARTITION BY c_nationkey) AS DOUBLE)
                 AS nation_total
        FROM customer)
     WHERE rk <= 3
    """,
)
def window_rank_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers per nation by balance + a windowed nation total.
    One shuffle on the partition key serves both window functions."""
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    wt = Window.partitionBy("c_nationkey")
    return (
        c.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("acctbal"),
            F.row_number().over(w).alias("rk"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).over(wt)
            .cast("double").alias("nation_total"),
        )
        .where(F.col("rk") <= 3)
    )


@register(
    "rollup_order_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
     GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (status -> priority -> grand total) in one
    pass — Catalyst expands the rollup into a single Expand + hash-agg."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@register(
    "set_ops_customers",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    INTERSECT
    SELECT o_custkey FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '2000-01-01'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
    """,
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT chain: AUTOMOBILE customers with recent orders and
    non-negative balances.  Catalyst plans both as hash semi/anti joins."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    auto = c.where(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_custkey").alias("custkey")
    )
    recent = o.where(F.to_date("o_orderdate") >= F.lit("2000-01-01").cast("date")).select(
        F.col("o_custkey").alias("custkey")
    )
    negative = c.where(F.col("c_acctbal") < 0).select(F.col("c_custkey").alias("custkey"))
    return auto.intersect(recent).exceptAll(negative).distinct()


# ---------------------------------------------------------------------------
# correlated EXISTS subquery (TPC-H Q4 shape adapted to this schema):
# orders in a quarter having at least one deeply-discounted late-shipping
# lineitem.  Catalyst decorrelates the EXISTS into a left-semi hash join
# on l_orderkey — the scalable plan; the SQL surface is exercised through
# spark.sql so the subquery machinery itself runs (not a hand-built join).
# ---------------------------------------------------------------------------
@register(
    "orders_exists_late_lineitem",
    oracle="""
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders o
     WHERE o.o_orderdate >= DATE '1995-01-01'
       AND o.o_orderdate <  DATE '1995-04-01'
       AND EXISTS (
             SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_discount > 0.05
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
           )
     GROUP BY o.o_orderpriority
    """,
)
def orders_exists_late_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o.o_orderpriority, count(*) AS n_orders
          FROM v_orders o
         WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
           AND o.o_orderdate <  TIMESTAMP '1995-04-01'
           AND EXISTS (
                 SELECT 1 FROM v_lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_discount > 0.05
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
               )
         GROUP BY o.o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# correlated scalar subquery: parts priced at their brand's maximum.
# max() returns an exact element of the data (no float arithmetic), so the
# equality is boundary-safe across engines.  Catalyst rewrites the scalar
# subquery into an aggregate + join (decorrelation).
# ---------------------------------------------------------------------------
@register(
    "part_brand_max_price",
    oracle="""
    SELECT p.p_partkey, p.p_brand, p.p_retailprice
      FROM part p
     WHERE p.p_retailprice = (
             SELECT max(p2.p_retailprice) FROM part p2
              WHERE p2.p_brand = p.p_brand
           )
    """,
)
def part_brand_max_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    return spark.sql(
        """
        SELECT p.p_partkey, p.p_brand, p.p_retailprice
          FROM v_part p
         WHERE p.p_retailprice = (
                 SELECT max(p2.p_retailprice) FROM v_part p2
                  WHERE p2.p_brand = p.p_brand
               )
        """
    )


# ---------------------------------------------------------------------------
# CTE + cumulative window: monthly order revenue per priority with a
# running total.  Revenue accumulates in DECIMAL inside both the monthly
# aggregate AND the window frame, so the running sum is exact and
# order-free; one final cast to double is deterministic.
# ---------------------------------------------------------------------------
@register(
    "orders_cumulative_revenue",
    oracle="""
    WITH monthly AS (
      SELECT o_orderpriority,
             date_trunc('month', o_orderdate) AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders
       GROUP BY 1, 2
    )
    SELECT o_orderpriority, month,
           CAST(rev AS DOUBLE) AS monthly_revenue,
           CAST(SUM(rev) OVER (PARTITION BY o_orderpriority ORDER BY month)
                AS DOUBLE) AS cumulative_revenue
      FROM monthly
    """,
)
def orders_cumulative_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    monthly = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority", F.date_trunc("month", "o_orderdate").alias("month")
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    return monthly.select(
        "o_orderpriority",
        "month",
        F.col("rev").cast("double").alias("monthly_revenue"),
        F.sum("rev").over(w).cast("double").alias("cumulative_revenue"),
    )


#: rank-error knob for the approx variant: guarantees rank error <= n/ACC
_APPROX_PERCENTILE_ACC = 10_000

#: half-width (in percentile space) of the sketch probes that bracket each
#: band edge's value window; 0.004 = 40/ACC keeps the bracket safe for any
#: group of >= ~800 rows while filtering the ranked volume to ~3% of rows
_BAND_PROBE_MARGIN = 0.004

#: the four profiled percentiles, shared by query + oracle construction
_QUANTILE_TAGS = [(0, 0.25, "q25"), (1, 0.50, "q50"), (2, 0.75, "q75"), (3, 0.95, "q95")]



def _per_band(colfmt: str):
    """CASE chain selecting a per-tag column by the exploded band index."""
    c = None
    for idx, (_i, _p, tag) in enumerate(_QUANTILE_TAGS):
        e = F.col(colfmt.format(tag=tag))
        c = F.when(F.col("b") == idx, e) if c is None else c.when(
            F.col("b") == idx, e
        )
    return c


def _sketch_banded_ranked(base: DataFrame, ks: DataFrame) -> DataFrame:
    """Sort-free order statistics: given per-group value windows
    ``va_{tag}``/``vb_{tag}`` (from a bracket sketch) in ``ks``, return the
    rows inside each window with their exact global rank ``rn`` within
    (group, value-order) — WITHOUT ever sorting a whole group.

    rank = (#rows strictly below va — one conditional aggregate pass) +
    row_number within the window slice (a window over only the ~2*margin
    fraction of rows that survive the value filter).  Ranks of equal
    values are interchangeable, so value-at-rank is invariant to the tie
    order this induces.  A violated bracket (sketch outside its rank-error
    guarantee) surfaces as a missing edge row -> NULL -> loud value-hash
    mismatch, never a silent wrong answer.  This is the 100 TB-shaped
    harness: no full per-group sort at any scale.
    """
    from pyspark.sql.window import Window

    # ks (the |groups|-row sketch frame) feeds TWO broadcast subtrees (the
    # offset pass and ksx) — without an eager persist each broadcast build
    # re-runs the 0.4 s sketch aggregate (measured: the persist halves the
    # warm query)
    ks = pins.pin(ks)
    ks.count()
    off = (
        base.join(
            F.broadcast(
                ks.select(
                    "l_returnflag", *[f"va_{t}" for _i, _p, t in _QUANTILE_TAGS]
                )
            ),
            "l_returnflag",
        )
        .groupBy("l_returnflag")
        .agg(
            *[
                F.sum(
                    (F.col("l_extendedprice") < F.col(f"va_{t}")).cast("long")
                ).alias(f"off_{t}")
                for _i, _p, t in _QUANTILE_TAGS
            ]
        )
    )
    ksx = ks.join(off, "l_returnflag")
    joined = base.join(F.broadcast(ksx), "l_returnflag")
    # a flat distribution can make windows overlap, so a row may belong to
    # several bands — explode each row into its memberships
    band_struct = F.array(
        *[
            F.struct(
                F.lit(idx).alias("b"),
                (
                    (F.col("l_extendedprice") >= F.col(f"va_{tag}"))
                    & (F.col("l_extendedprice") <= F.col(f"vb_{tag}"))
                ).alias("member"),
            )
            for idx, (_i, _p, tag) in enumerate(_QUANTILE_TAGS)
        ]
    )
    survivors = (
        joined.select("*", F.explode(band_struct).alias("bm"))
        .where(F.col("bm.member"))
        .withColumn("b", F.col("bm.b"))
    )
    w = Window.partitionBy("l_returnflag", "b").orderBy("l_extendedprice")
    return survivors.withColumn(
        "rn", F.row_number().over(w) + _per_band("off_{tag}")
    )


def _bracket_probes() -> str:
    """The 8 band-bracket sketch probes as SQL double literals."""
    return ", ".join(
        f"{max(0.0, p - _BAND_PROBE_MARGIN)!r}D, {min(1.0, p + _BAND_PROBE_MARGIN)!r}D"
        for _i, p, _tag in _QUANTILE_TAGS
    )


# ---------------------------------------------------------------------------
# exact percentiles (data-profiling shape used to pick training-data
# quality thresholds).  Sort-free AND buffer-free: Spark's percentile()
# buffers every group value in the aggregation state (hot group OOMs at
# 100x) and ranking via a per-group window is a full sort — instead, a
# bracket sketch pins each interpolation rank's value window, only those
# slices are ranked (_sketch_banded_ranked), and the quantile is
# interpolated by hand with DuckDB's exact formula
# v_lo*(1-f) + v_hi*f  (f = h - floor(h), h = p*(n-1))
# — verified bit-identical against quantile_cont at sf0.01 AND sf0.1
# (the alternative v_lo + f*(v_hi - v_lo) differs in the last ulp on this
# data), so this stays a full-value oracle despite the float arithmetic.
# ---------------------------------------------------------------------------
@register(
    "lineitem_price_quantiles",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           quantile_cont(l_extendedprice, 0.25) AS q25,
           quantile_cont(l_extendedprice, 0.50) AS q50,
           quantile_cont(l_extendedprice, 0.75) AS q75,
           quantile_cont(l_extendedprice, 0.95) AS q95
      FROM lineitem
     GROUP BY l_returnflag
    """,
)
def lineitem_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    agg = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            f"approx_percentile(l_extendedprice, array({_bracket_probes()}), "
            f"{_APPROX_PERCENTILE_ACC})"
        ).alias("qa"),
    )
    ks = agg
    for idx, (_i, p, tag) in enumerate(_QUANTILE_TAGS):
        ks = (
            ks.withColumn(f"h_{tag}", F.expr(f"CAST({p} AS DOUBLE) * (n - 1)"))
            .withColumn(f"klo_{tag}", F.expr(f"CAST(floor(h_{tag}) AS BIGINT) + 1"))
            .withColumn(f"khi_{tag}", F.expr(f"least(n, klo_{tag} + 1)"))
            .withColumn(f"f_{tag}", F.expr(f"h_{tag} - floor(h_{tag})"))
            .withColumn(f"va_{tag}", F.col("qa")[2 * idx])
            .withColumn(f"vb_{tag}", F.col("qa")[2 * idx + 1])
        )
    ranked = _sketch_banded_ranked(base, ks)
    edge_rows = ranked.where(
        (F.col("rn") == _per_band("klo_{tag}"))
        | (F.col("rn") == _per_band("khi_{tag}"))
    )
    g = edge_rows.groupBy("l_returnflag").agg(
        F.first("n").alias("n"),
        *[
            c
            for idx, (_i, _p, tag) in enumerate(_QUANTILE_TAGS)
            for c in (
                F.first(f"f_{tag}").alias(f"f_{tag}"),
                F.min(
                    F.when(
                        (F.col("b") == idx)
                        & (F.col("rn") == F.col(f"klo_{tag}")),
                        F.col("l_extendedprice"),
                    )
                ).alias(f"vlo_{tag}"),
                F.min(
                    F.when(
                        (F.col("b") == idx)
                        & (F.col("rn") == F.col(f"khi_{tag}")),
                        F.col("l_extendedprice"),
                    )
                ).alias(f"vhi_{tag}"),
            )
        ],
    )
    return g.select(
        "l_returnflag",
        "n",
        *[
            (
                F.col(f"vlo_{tag}") * (F.lit(1.0) - F.col(f"f_{tag}"))
                + F.col(f"vhi_{tag}") * F.col(f"f_{tag}")
            ).alias(tag)
            for _i, _p, tag in _QUANTILE_TAGS
        ],
    )


def _quantile_band_oracle() -> str:
    """DuckDB oracle for the error-band check: compute the exact order
    statistics at the guarantee's rank-band edges (identical integer/double
    arithmetic to the Spark side) and assert the sketch landed inside by
    emitting TRUE for each ok_* column.  A sketch outside its guaranteed
    band makes the Spark side emit FALSE -> value-hash mismatch."""
    ks_cols = ",\n             ".join(
        f"greatest(1, CAST(floor({p} * n) AS BIGINT) - delta) AS lo_k_{tag},\n"
        f"             least(n, CAST(ceil({p} * n) AS BIGINT) + delta) AS hi_k_{tag}"
        for _i, p, tag in _QUANTILE_TAGS
    )
    val_cols = ",\n           ".join(
        f"min(CASE WHEN rn = lo_k_{tag} THEN l_extendedprice END) AS lo_{tag},\n"
        f"           min(CASE WHEN rn = hi_k_{tag} THEN l_extendedprice END) AS hi_{tag},\n"
        f"           TRUE AS ok_{tag}"
        for _i, _p, tag in _QUANTILE_TAGS
    )
    return f"""
    WITH agg AS (
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             CAST(ceil(count(*) / {float(_APPROX_PERCENTILE_ACC)}) AS BIGINT) + 1 AS delta
        FROM lineitem GROUP BY 1
    ),
    ks AS (
      SELECT l_returnflag, n,
             {ks_cols}
        FROM agg
    ),
    ranked AS (
      SELECT l_returnflag, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn
        FROM lineitem
    )
    SELECT r.l_returnflag, k.n,
           {val_cols}
      FROM ranked r JOIN ks k USING (l_returnflag)
     GROUP BY r.l_returnflag, k.n
    """


@register("lineitem_price_quantiles_approx", oracle=_quantile_band_oracle())
def lineitem_price_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production quantile profile: approx_percentile keeps a BOUNDED
    sketch per group (Greenwald-Khanna style, state independent of group
    size) instead of buffering the group's values, so a skewed key cannot
    OOM an executor at any scale.

    Oracle strategy (VERDICT r2 next-round #4 — this was the registry's
    only rows-only entry): raw sketch values are engine-specific, so the
    cross-engine check is an ERROR-BAND contract instead.  Both engines
    compute the exact order statistics at ranks p*n +/- (ceil(n/ACC) + 1)
    — the documented approx_percentile rank-error guarantee, plus one rank
    because the sketch returns an actual element while rank edges may fall
    between duplicates — with bit-identical arithmetic; Spark additionally
    checks its sketch landed inside the band (ok_* booleans) while the
    oracle emits the guaranteed TRUE.  Band edges are value-hash-compared,
    so the exact-order-statistic machinery itself is verified too.  At
    production scale you select only the sketch columns; the ranked band
    computation is the validation harness (it sorts per group, which the
    sketch exists to avoid)."""
    base = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    # SKETCH-GUIDED BAND PREFILTER (sort-free validation).  The naive
    # harness ranked every row (row_number over each group = a full
    # per-group sort with |groups|-way parallelism — the query's entire
    # cost, and the exact thing the sketch exists to avoid).  Instead, the
    # sketch's own rank-error guarantee brackets each band edge's VALUE:
    # sketch(p - m) has true rank <= p*n - n*(m - 1/ACC), which sits below
    # lo_k = floor(p*n) - delta whenever n*(m - 1/ACC) >= 3 + n/ACC — with
    # m = _BAND_PROBE_MARGIN that holds for any group of >= ~800 rows
    # (every tested sf).  Only the [va, vb] slices are ranked
    # (_sketch_banded_ranked) — no full sort at any scale.
    probes = "0.25, 0.50, 0.75, 0.95, " + _bracket_probes()
    agg = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        # ONE sketch evaluated at 12 probes: the 4 profile percentiles plus
        # the 8 band-bracket probes (same state, so q's values are
        # unchanged vs the 4-probe call)
        F.expr(
            f"approx_percentile(l_extendedprice, array({probes}), "
            f"{_APPROX_PERCENTILE_ACC})"
        ).alias("qa"),
    )
    ks = agg.withColumn(
        "delta",
        F.expr(f"CAST(ceil(n / {float(_APPROX_PERCENTILE_ACC)}) AS BIGINT) + 1"),
    ).withColumn("q", F.slice("qa", 1, len(_QUANTILE_TAGS)))
    for idx, (_i, p, tag) in enumerate(_QUANTILE_TAGS):
        ks = (
            ks.withColumn(
                f"lo_k_{tag}",
                F.expr(
                    f"greatest(CAST(1 AS BIGINT), CAST(floor({p} * n) AS BIGINT) - delta)"
                ),
            )
            .withColumn(
                f"hi_k_{tag}",
                F.expr(f"least(n, CAST(ceil({p} * n) AS BIGINT) + delta)"),
            )
            .withColumn(f"va_{tag}", F.col("qa")[len(_QUANTILE_TAGS) + 2 * idx])
            .withColumn(f"vb_{tag}", F.col("qa")[len(_QUANTILE_TAGS) + 2 * idx + 1])
        )
    ranked = _sketch_banded_ranked(base, ks)
    edge_rows = ranked.where(
        (F.col("rn") == _per_band("lo_k_{tag}"))
        | (F.col("rn") == _per_band("hi_k_{tag}"))
    )
    banded = edge_rows.groupBy("l_returnflag").agg(
        F.first("n").alias("n"),
        F.first("q").alias("q"),
        *[
            c
            for idx, (_i, _p, tag) in enumerate(_QUANTILE_TAGS)
            for c in (
                F.min(
                    F.when(
                        (F.col("b") == idx)
                        & (F.col("rn") == F.col(f"lo_k_{tag}")),
                        F.col("l_extendedprice"),
                    )
                ).alias(f"lo_{tag}"),
                F.min(
                    F.when(
                        (F.col("b") == idx)
                        & (F.col("rn") == F.col(f"hi_k_{tag}")),
                        F.col("l_extendedprice"),
                    )
                ).alias(f"hi_{tag}"),
            )
        ],
    )
    return banded.select(
        "l_returnflag",
        "n",
        *[
            c
            for i, _p, tag in _QUANTILE_TAGS
            for c in (
                F.col(f"lo_{tag}"),
                F.col(f"hi_{tag}"),
                (
                    (F.col("q")[i] >= F.col(f"lo_{tag}"))
                    & (F.col("q")[i] <= F.col(f"hi_{tag}"))
                ).alias(f"ok_{tag}"),
            )
        ],
    )


@register(
    "cube_returnflag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS qty
      FROM lineitem
     GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^k grouping-set combinations in one pass — like rollup, CUBE is
    a single Expand + hash aggregate, not k separate scans.  The sum uses
    the scaled-long construction (64-bit adds in the Expand-multiplied hot
    loop instead of 128-bit decimal — the expansion factor makes the
    accumulator width matter more here than in a plain groupBy)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        scaled_long_sum(F.col("l_quantity"), "qty"),
    )


@register(
    "pivot_segment_by_region",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           CAST(SUM(CASE WHEN r.r_name = 'EUROPE' THEN 1 ELSE 0 END) AS BIGINT) AS europe,
           CAST(SUM(CASE WHEN r.r_name = 'ASIA' THEN 1 ELSE 0 END) AS BIGINT) AS asia,
           CAST(SUM(CASE WHEN r.r_name = 'AMERICA' THEN 1 ELSE 0 END) AS BIGINT) AS america
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
     GROUP BY 1
    """,
)
def pivot_segment_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with an explicit value list: Spark folds it into conditional
    aggregates inside ONE hash aggregate (the values must be enumerated —
    an open-ended pivot would need a driver-side distinct pass first)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .select("c_mktsegment", "r_name")
    )
    return (
        joined.groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .pivot("r_name", ["EUROPE", "ASIA", "AMERICA"])
        .count()
        .select(
            "mktsegment",
            F.coalesce("EUROPE", F.lit(0)).alias("europe"),
            F.coalesce("ASIA", F.lit(0)).alias("asia"),
            F.coalesce("AMERICA", F.lit(0)).alias("america"),
        )
    )


# ---------------------------------------------------------------------------
# Classic decision-support shapes (TPC-H Q3/Q10/Q18 adapted to the testdata
# schema — it carries o_orderpriority instead of o_shippriority and no
# shipmode/receiptdate columns).  These exercise the three remaining big
# analytic plan shapes: join + agg + top-k on the fact's grain (Q3),
# filtered-fact join back to the dim with wide output (Q10), and a
# HAVING-filtered agg used as a semi-join (Q18).
# ---------------------------------------------------------------------------
@register(
    "q3_unshipped_revenue",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000.0
               AS revenue,
           o.o_orderdate AS orderdate, o.o_orderpriority AS orderpriority
      FROM customer c
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
     WHERE c.c_mktsegment = 'BUILDING'
       AND o.o_orderdate < DATE '1996-03-15'
       AND l.l_shipdate  > DATE '1996-03-15'
     GROUP BY 1, 3, 4
     ORDER BY revenue DESC, orderdate, orderkey
     LIMIT 10
    """,
)
def q3_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: segment-filtered customers (broadcast) x date-filtered
    orders x lineitem, revenue per order, top-10.  The per-order revenue
    rollup now runs BEFORE the orders join (guide §2.3 aggregate before
    the wire): the order-grain group keys (orderdate, orderpriority) are
    functionally dependent on orderkey, so summing the shipdate-filtered
    fact per orderkey first is value-identical, and what crosses the
    orders join is one narrow (orderkey, revenue) row per order instead
    of every lineitem — at 10x data the fact join had flipped to a
    SortMergeJoin of raw lineitem rows (SF1_PAIR_r13 plan drift); now
    the aggregate's own exchange IS the fact's only shuffle and the join
    reuses its partitioning."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.to_date("o_orderdate") < F.lit("1996-03-15").cast("date")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    l = _t(spark, sf_dir, "lineitem").where(
        F.to_date("l_shipdate") > F.lit("1996-03-15").cast("date")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    lagg = l.groupBy("l_orderkey").agg(scaled_long_sum(revenue, "revenue", scale=4))
    return (
        lagg.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey")), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("l_orderkey").alias("orderkey"),
            "revenue",
            F.to_date("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .orderBy(F.desc("revenue"), "orderdate", "orderkey")
        .limit(10)
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_name AS name,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000.0
               AS revenue,
           c.c_acctbal AS acctbal, n.n_name AS nation
      FROM customer c
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
     WHERE o.o_orderdate >= DATE '1996-10-01'
       AND o.o_orderdate <  DATE '1997-01-01'
       AND l.l_returnflag = 'R'
     GROUP BY 1, 2, 4, 5
     ORDER BY revenue DESC, custkey
     LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: who returned the most revenue in a quarter.  The quarter
    + returnflag predicates cut the fact early (both push down); customer
    and nation broadcast; one agg on the customer grain."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").where(
        (F.to_date("o_orderdate") >= F.lit("1996-10-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .agg(scaled_long_sum(revenue, "revenue", scale=4))
        .orderBy(F.desc("revenue"), "custkey")
        .limit(20)
        .select("custkey", "name", "revenue", "acctbal", "nation")
    )


@register(
    "q18_large_volume_customer",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
        FROM lineitem
       GROUP BY 1
      HAVING SUM(l_quantity) > 150
    )
    SELECT c.c_name AS name, c.c_custkey AS custkey,
           o.o_orderkey AS orderkey, o.o_orderdate AS orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS totalprice,
           CAST(SUM(CAST(round(l.l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
      FROM customer c
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
     WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
     GROUP BY 1, 2, 3, 4, 5
     ORDER BY totalprice DESC, orderkey
     LIMIT 100
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: orders whose total quantity exceeds a threshold, with
    their customers.  ONE per-order aggregate over a single lineitem scan
    computes BOTH the HAVING filter (sum l_quantity > 150) and the output
    sum (scaled-integer cents) — the previous form scanned the fact twice
    (once for the HAVING set, once re-joined for the output sum) and its
    second fact join flipped to a SortMergeJoin at 10x data because the
    planner could not see that the semi-filtered orders side was tiny
    (SF1_PAIR_r13 plan drift).  The group keys beyond orderkey are
    functionally dependent on it (one order -> one customer), so grouping
    by orderkey alone is value-identical; the filtered per-order frame is
    tiny BY CONSTRUCTION (same contract as the broadcast the HAVING set
    already rode), so it broadcasts into the orders dim join and the fact
    is never shuffled at all — one exchange (the partial-aggregated
    per-order rollup) end to end (guide §2.3 aggregate before the wire,
    §3.1 deliberate broadcast)."""
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    per_order = (
        l.groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("sq"),
            F.sum(iround_long(F.col("l_quantity") * 100)).alias("sum_qty_c"),
        )
        .where(F.col("sq") > 150)
        .select("l_orderkey", "sum_qty_c")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(F.broadcast(per_order), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.to_date("o_orderdate").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            (F.col("sum_qty_c").cast("double") / F.lit(100.0)).alias("sum_qty"),
        )
        .orderBy(F.desc("totalprice"), "orderkey")
        .limit(100)
    )


@register(
    "q12_priority_shipping",
    oracle="""
    SELECT l.l_linestatus AS linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
     WHERE l.l_shipdate >= DATE '1996-01-01'
       AND l.l_shipdate <  DATE '1997-01-01'
     GROUP BY l.l_linestatus
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (adapted to the testdata schema — no l_shipmode column, so
    l_linestatus is the grouping axis): conditional CASE-sums classify each
    joined row into priority buckets inside ONE aggregate pass — the
    pivot-style pattern that avoids N filtered scans.  The ship-year
    predicate pushes to the lineitem scan; the join shuffles each side
    once; both counts ride the same partial+final hash aggregate.
    Reference surface: joins + GROUP BY aggregation
    (iceberg_trino_sqldemo.sql:286-295) with Trino CASE semantics."""
    # classify each ORDER once before the fact join instead of evaluating
    # the priority IN-list per joined lineitem, and carry one boolean
    # across the join instead of the priority string (guide §2.3)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_high"),
    )
    l = _t(spark, sf_dir, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(F.col("is_high"), 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue_share",
    oracle="""
    SELECT CAST(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT)
                   ELSE 0 END) AS DOUBLE)
           / SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT))
           AS promo_revenue_pct
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
     WHERE l.l_shipdate >= DATE '1996-09-01'
       AND l.l_shipdate <  DATE '1996-10-01'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: a conditional-fraction aggregate (promo revenue share of
    one month).  part broadcasts (dim); the month predicate pushes to the
    fact scan; numerator and denominator come out of a single aggregate.
    Integer-scaled sums keep the division's operands exact so the one
    final double division matches DuckDB bit-for-bit."""
    l = _t(spark, sf_dir, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-09-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1996-10-01").cast("date"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    scaled = iround_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(10000)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", scaled).otherwise(F.lit(0))).cast("double")
                / F.sum(scaled)
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q19_brand_discounts",
    oracle="""
    SELECT CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT)) AS DOUBLE)
           / 10000.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
     WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
            AND l.l_quantity >= 1 AND l.l_quantity <= 21)
        OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
            AND l.l_quantity >= 10 AND l.l_quantity <= 30)
        OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
            AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def q19_brand_discounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: an OR of conjunctive predicate groups spanning BOTH join
    sides.  The single-side residues (p_brand IN (...), p_size <= 35,
    l_quantity <= 40) are derivable by Catalyst's constraint propagation
    into the scans, while the cross-side conjunctions stay as a post-join
    filter — the classic pushdown-through-disjunction test.  part
    broadcasts; one shuffle-free aggregate finishes it."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    g1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 21)
    )
    g2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30)
    )
    g3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .where(g1 | g2 | g3)
        .agg(
            scaled_long_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", scale=4
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# NDV sketch profile — the production distinct-count shape for data
# profiling at 100 TB: approx_count_distinct keeps a BOUNDED HyperLogLog++
# register set per group (state independent of group cardinality, merged
# map-side) where count(DISTINCT) shuffles every distinct key.  Oracle
# strategy mirrors lineitem_price_quantiles_approx: raw sketch estimates
# are engine-specific, so both engines emit the EXACT per-group NDV (the
# band arithmetic is bit-identical) and Spark additionally checks its own
# sketch landed within the error band (ok_ndv) while the oracle emits the
# guaranteed TRUE.  Spark's HLL++ is deterministic for fixed input (fixed
# hash, no seed), so the band check is stable at the oracle scale — a 5x
# rsd band on a 2% target rsd never trips for a sketch that is working.
# ---------------------------------------------------------------------------
_NDV_RSD = 0.02


@register(
    "orders_ndv_profile",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_exact,
           TRUE AS ok_ndv
      FROM orders
     GROUP BY o_orderpriority
    """,
)
def orders_ndv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority distinct-customer profile: exact NDV (value-checked
    cross-engine) + the HLL++ sketch validated against its error band.
    At production scale you select only the sketch column; the exact NDV
    is the validation harness."""
    o = _t(spark, sf_dir, "orders")
    # Dedup FIRST, then aggregate the distinct rows.  Writing
    # count_distinct + approx_count_distinct in one agg triggers Spark's
    # distinct-rewrite, which evaluates the approx PARTIAL per
    # (priority, custkey) group — one multi-KB HLL buffer per distinct
    # key, shuffled (measured 1.4 s warm at sf0.1 vs 0.3 s this way).
    # HLL is duplicate-insensitive, so the sketch over the deduped frame
    # is value-identical to the sketch over the raw rows, and only
    # |groups| sketch buffers ever exist.
    g = (
        o.select("o_orderpriority", "o_custkey")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("ndv_exact"),
            F.expr(f"approx_count_distinct(o_custkey, {_NDV_RSD})").alias(
                "ndv_sketch"
            ),
        )
    )
    band = F.lit(5.0 * _NDV_RSD) * F.col("ndv_exact").cast("double")
    ok = (
        F.abs(F.col("ndv_sketch").cast("double") - F.col("ndv_exact").cast("double"))
        <= band
    )
    return g.select("o_orderpriority", "ndv_exact", ok.alias("ok_ndv"))


# ---------------------------------------------------------------------------
# explicit GROUPING SETS — the grouping-analytics shape CUBE/ROLLUP above
# cannot express (an arbitrary subset of grouping combinations: both
# one-column marginals but NOT the grand total).  Like CUBE, Catalyst
# plans this as ONE Expand + hash aggregate — each input row is replicated
# once per grouping set, never one scan per set.  grouping() flags
# disambiguate "NULL because aggregated away" from data NULLs.
# Reference analog: the demo's summary aggregations (:286-295) extended
# to multi-grain reporting.
# ---------------------------------------------------------------------------
@register(
    "grouping_sets_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS qty
      FROM lineitem
     GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                             (l_returnflag), (l_linestatus))
    """,
)
def grouping_sets_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], ["l_linestatus"]],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
        scaled_long_sum(F.col("l_quantity"), "qty"),
    )


# ---------------------------------------------------------------------------
# Q15 shape: top-revenue supplier — an aggregate consumed by a scalar
# MAX subquery over itself.  The revenue CTE is computed ONCE and reused
# for both the max and the final join (Spark: same DataFrame object, so
# Catalyst sees a shared subplan; the 1-row max side is a broadcast).
# At 100 TB the fact aggregates down to |suppliers| rows before anything
# non-linear happens, so the only full-data pass is the one filtered scan.
# Reference analog: view + aggregate consumption (:53-55 + :286-295).
# ---------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
                      AS BIGINT)) AS rev_scaled
        FROM lineitem
       WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
         AND CAST(l_shipdate AS DATE) <  DATE '1996-04-01'
       GROUP BY 1
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS name,
           CAST(r.rev_scaled AS DOUBLE) / 10000.0 AS total_revenue
      FROM supplier s
      JOIN rev r ON r.suppkey = s.s_suppkey
     WHERE r.rev_scaled = (SELECT MAX(rev_scaled) FROM rev)
     ORDER BY suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ties resolved exactly: revenue is accumulated as scaled BIGINTs, so
    the MAX-equality never hinges on a double ulp."""
    l = _t(spark, sf_dir, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = l.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(iround_long(revenue * 10000)).alias("rev_scaled")
    )
    top = rev.agg(F.max("rev_scaled").alias("max_rev"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), F.col("rev_scaled") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("suppkey") == F.col("s_suppkey"))
        .select(
            "suppkey",
            F.col("s_name").alias("name"),
            (F.col("rev_scaled").cast("double") / 10000.0).alias("total_revenue"),
        )
        .orderBy("suppkey")
    )


# ---------------------------------------------------------------------------
# Q17 shape: small-quantity revenue — a correlated scalar subquery
# (per-part average quantity) decorrelated into a per-key aggregate joined
# back to the fact.  The threshold predicate is pure integer arithmetic
# (quantities are integral in this corpus; 5*qty*cnt < qsum <=>
# qty < 0.2*avg) so the boundary never floats.  Both fact passes shuffle
# on l_partkey only; the brand filter prunes the second pass via the
# broadcast part dim before the agg join.
# ---------------------------------------------------------------------------
@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pq AS (
      SELECT l_partkey,
             SUM(CAST(l_quantity AS BIGINT)) AS qsum,
             COUNT(*) AS cnt
        FROM lineitem
       GROUP BY 1
    )
    SELECT CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
                AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN pq     ON pq.l_partkey = l.l_partkey
     WHERE p.p_brand = 'Brand#23'
       AND 5 * CAST(l.l_quantity AS BIGINT) * pq.cnt < pq.qsum
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    pq = l.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qsum"),
        F.count(F.lit(1)).alias("cnt"),
    )
    lp = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).join(
        pq.withColumnRenamed("l_partkey", "pq_partkey"),
        F.col("l_partkey") == F.col("pq_partkey"),
    )
    small = lp.where(
        5 * F.col("l_quantity").cast("long") * F.col("cnt") < F.col("qsum")
    )
    return small.agg(
        (
            F.sum(iround_long(F.col("l_extendedprice") * 100))
            .cast("double")
            / 100.0
            / 7.0
        ).alias("avg_yearly")
    )


# ---------------------------------------------------------------------------
# Q21 shape: the sole late supplier on a multi-supplier order.  The
# classic phrasing is EXISTS(other supplier) AND NOT EXISTS(other LATE
# supplier) — two correlated anti/semi joins, i.e. two extra shuffles of
# the fact.  Here both existentials collapse into ONE aggregate over the
# order grain (count distinct suppliers, count distinct late suppliers),
# then a semi-style join back; at 100 TB that is one fact x orders join
# plus two orderkey-partitioned exchanges, no correlated re-scans.
# ---------------------------------------------------------------------------
@register(
    "q21_sole_late_supplier",
    oracle="""
    WITH lat AS (
      SELECT l.l_orderkey AS orderkey, l.l_suppkey AS suppkey,
             CAST(l.l_shipdate AS DATE) >
               CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY AS is_late
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    per_order AS (
      SELECT orderkey,
             COUNT(DISTINCT suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN is_late THEN suppkey END) AS n_late
        FROM lat
       GROUP BY 1
    ),
    sole AS (
      SELECT DISTINCT lat.orderkey, lat.suppkey
        FROM lat
        JOIN per_order po ON po.orderkey = lat.orderkey
       WHERE lat.is_late AND po.n_supp > 1 AND po.n_late = 1
    )
    SELECT s.s_name AS name, CAST(COUNT(*) AS BIGINT) AS numwait
      FROM sole
      JOIN supplier s ON s.s_suppkey = sole.suppkey
     GROUP BY 1
     ORDER BY numwait DESC, name
     LIMIT 20
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    # the lateness cutoff (orderdate + 60d) is a function of the ORDER:
    # computing it before the fact join parses the date string once per
    # order instead of once per joined lineitem, and ships a 4-byte date
    # instead of the string across the join (guide §2.3; at 10x data the
    # orders build side is 1.5M rows)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_add(F.to_date("o_orderdate"), 60).alias("late_cutoff"),
    )
    # Join strategy by measured size gate (guide §3.1; footer row count,
    # no count job).  SMALL orders: implicit broadcast join, then one
    # explicit orderkey repartition feeds both aggregates (measured
    # fastest at sf0.1 — 0.78 vs 1.04 s for the forced shuffle).  LARGE
    # orders (build side beyond Spark's broadcast budget — 10x data and
    # up): a SHUFFLED HASH join on orderkey, whose output partitioning
    # the (orderkey, suppkey) and (orderkey) aggregates both reuse — the
    # full join output is never re-exchanged AND the single-threaded
    # 1.5M-row broadcast build disappears (measured at 10x: 2.39 ->
    # 1.72 s; the per-partition build side is |orders|/partitions rows,
    # which is what a cluster sizes its partitions for).
    n_orders = parquet_row_count(table_path(sf_dir, "orders"))
    big_orders = n_orders * 12 > 10 * 1024 * 1024
    if big_orders:
        o = o.hint("shuffle_hash")
    lat = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_suppkey").alias("suppkey"),
            (F.to_date("l_shipdate") > F.col("late_cutoff")).alias("is_late"),
        )
    )
    if not big_orders:
        lat = lat.repartition("orderkey")
    # collapse to the (order, supplier) grain FIRST — after this the
    # existential counts are plain count/count_if over already-distinct
    # rows: no countDistinct Expand (which doubles the fact) and no join
    # back to `lat`.  Either branch clusters the pipeline by orderkey
    # exactly once: HashPartitioning(orderkey) satisfies the (orderkey,
    # suppkey) grouping's clustering requirement AND the per-order
    # rollup.  The per-order rollup is a HASH aggregate, not a window:
    # when exactly one supplier is late, max(when(late, suppkey)) IS
    # that supplier, so the sole-late row never needs a per-partition
    # sort (the window form paid one; measured 0.74 -> ~0.5 s at sf0.1).
    per = lat.groupBy("orderkey", "suppkey").agg(
        F.max("is_late").alias("late")
    )
    sole = (
        per.groupBy("orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum(F.col("late").cast("int")).alias("n_late"),
            F.max(F.when(F.col("late"), F.col("suppkey"))).alias("suppkey"),
        )
        .where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .select("orderkey", "suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        sole.join(F.broadcast(s), F.col("suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("s_name").alias("name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q22 shape: lapsed above-average balances — a scalar aggregate subquery
# (average positive balance) plus NOT EXISTS(recent orders), i.e. the
# classic anti-join.  (TPC-H's "no orders at all" predicate is vacuous in
# this corpus — every sf0.01 customer has orders — so the NOT EXISTS is
# scoped to a recency window, which keeps the identical plan shape and a
# non-trivial result.)  The average is compared in exact integer cents
# (cents * n > sum_cents <=> acctbal > avg) so the cut never floats.
# Spark plans the NOT EXISTS as a broadcast/shuffled LEFT ANTI join and
# the 1-row aggregate as a broadcast nested loop of cardinality 1 — both
# scale-safe; orders is filtered and projected to its join key before
# shuffling.
# ---------------------------------------------------------------------------
@register(
    "q22_idle_balance_customers",
    oracle="""
    WITH cents AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal
        FROM customer
    ),
    avg_pos AS (
      SELECT SUM(bal) AS s, COUNT(*) AS n FROM cents WHERE bal > 0
    )
    SELECT c.c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(c.bal) AS DOUBLE) / 100.0 AS totacctbal
      FROM cents c, avg_pos a
     WHERE c.bal * a.n > a.s
       AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND CAST(o.o_orderdate AS DATE) >= DATE '1999-01-01')
     GROUP BY 1
     ORDER BY 1
    """,
)
def q22_idle_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        iround_long(F.col("c_acctbal") * 100).alias("bal"),
    )
    avg_pos = cents.where(F.col("bal") > 0).agg(
        F.sum("bal").alias("s"), F.count(F.lit(1)).alias("n")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.to_date("o_orderdate") >= F.lit("1999-01-01").cast("date"))
        .select("o_custkey")
    )
    return (
        cents.crossJoin(F.broadcast(avg_pos))
        .where(F.col("bal") * F.col("n") > F.col("s"))
        .join(o, cents.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("bal").cast("double") / 100.0).alias("totacctbal"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# market-basket co-occurrence — the bounded self-join shape: which part
# pairs are ordered together most often.  The fan-out is quadratic ONLY in
# items-per-order (TPC-H: <=7 lineitems -> <=21 pairs), never in the
# table: the pair join is an equi-join on orderkey over the deduped
# (order, part) grain, filtered to a<b so each unordered pair emits once.
# At 100 TB this is one orderkey-keyed exchange whose per-key work is
# capped by basket size — the classic affinity-mining plan.  A top-20 cut
# keeps the result driver-small; ties broken on the pair key.
#
# DECISION RECORD (VERDICT r4 #4): the proposed a-priori frequency cut
# (drop parts whose order-frequency can't reach the top-20 support floor)
# was implemented experimentally and MEASURED INAPPLICABLE on this
# corpus: part frequencies are uniform (min 3, median 30, max ~53 at
# both sf0.01 and sf0.1) while the 20th pair count is only 2-3, so any
# CORRECT floor (a pair in k orders needs both parts in >=k orders;
# provable floor = the 20th candidate pair count, at most 3 here) prunes
# ZERO parts — every part clears it.  The cut only pays on skewed
# corpora where a long tail of near-singleton parts feeds the pair space.
# What does pay here: the pair key rides the shuffle as ONE packed long
# (part_a<<32 | part_b) instead of two longs — smaller exchange rows,
# single-column hash/compare in the final aggregate (~8% warm,
# measured 1.28 -> 1.17 s at sf0.1), and at 100 TB the same 8-byte key
# halves the dominant pair-exchange.
# ---------------------------------------------------------------------------
@register(
    "basket_part_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS orderkey, l_partkey AS partkey
        FROM lineitem
    )
    SELECT a.partkey AS part_a, b.partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM items a
      JOIN items b ON b.orderkey = a.orderkey AND a.partkey < b.partkey
     GROUP BY 1, 2
     ORDER BY n_orders DESC, part_a, part_b
     LIMIT 20
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    # one explicit repartition on orderkey serves the dedup AND both
    # sides of the self-join (co-partitioned — no second exchange)
    items = (
        l.select(F.col("l_orderkey").alias("orderkey"),
                 F.col("l_partkey").alias("partkey"))
        .repartition("orderkey")
        .distinct()
    )
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.orderkey") == F.col("b.orderkey"))
            & (F.col("a.partkey") < F.col("b.partkey")),
        )
        # pack the unordered pair into one long before the aggregate
        # exchange (see decision record above); partkeys are < 2^32
        .select(
            (F.shiftleft(F.col("a.partkey"), 32) + F.col("b.partkey")).alias("pk")
        )
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.shiftright("pk", 32).alias("part_a"),
            (F.col("pk") % (1 << 32)).alias("part_b"),
            "n_orders",
        )
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# z-score anomaly flags — per-user mean/stddev outliers WITHOUT floating
# boundaries: |x - mean| > 3*stddev is evaluated as the algebraically
# identical integer inequality  (n*x - S)^2 > 9*(n*SS - S^2)  over
# value-cents (x, S = sum, SS = sum of squares — all exact integers;
# z^2 = (x-mu)^2/sigma^2 with mu = S/n, sigma^2 = (n*SS - S^2)/n^2, and
# the n^2 denominators cancel), so the flag never flips on a ulp and
# both engines agree bit-for-bit.  Arithmetic runs in DECIMAL(38,0)
# (Spark) / HUGEINT (DuckDB): with cents ~1e4, the dominant term n*SS
# stays inside 38 digits up to ~1e9 events per user.  Plan: one user-grain aggregate, broadcast back
# over the fact (AQE picks broadcast while the user dim is small;
# shuffled hash join beyond) — two scans, one keyed exchange, no window
# sort.  Only users with n >= 30 are scored (small-sample z is noise).
# ---------------------------------------------------------------------------
@register(
    "events_anomaly_zscore",
    oracle="""
    WITH cents AS (
      SELECT event_id, user_id,
             CAST(round(value * 100, 0) AS BIGINT) AS x
        FROM events
    ),
    stats AS (
      SELECT user_id,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS s,
             CAST(SUM(x * x) AS HUGEINT) AS ss
        FROM cents GROUP BY 1
    )
    SELECT c.event_id, c.user_id,
           CAST(c.x AS DOUBLE) / 100.0 AS value
      FROM cents c
      JOIN stats t ON t.user_id = c.user_id
     WHERE t.n >= 30
       AND (t.n * c.x - t.s) * (t.n * c.x - t.s)
           > 9 * (t.n * t.ss - t.s * t.s)
     ORDER BY 1
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_trino_sql_demo_spark.operators.windows_ops import _events

    d38 = "decimal(38,0)"
    cents = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        iround_long(F.col("value") * 100).alias("x"),
    )
    stats = cents.groupBy("user_id").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("s"),
        # the x*x ACCUMULATOR must already be decimal (ADVICE r5): a LONG
        # running sum wraps at ~9.2e18 — about 1e6 rows of x~1e6 cents —
        # silently diverging from DuckDB's HUGEINT; casting the operand
        # promotes the whole sum to decimal(38,0), matching the documented
        # ~1e9-events-per-user bound
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("ss"),
    )
    dev = F.col("n") * F.col("x").cast(d38) - F.col("s")
    return (
        cents.join(stats, "user_id")
        .where(
            (F.col("n") >= 30)
            & (dev * dev
               > 9 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s")))
        )
        .select(
            "event_id",
            "user_id",
            (F.col("x").cast("double") / 100.0).alias("value"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Q11 shape: groups exceeding a share of the GLOBAL total — a HAVING
# clause against a scalar aggregate over the same fact.  Both the per-type
# revenue and the grand total accumulate as scaled BIGINTs from the same
# rows, so the share predicate (50 * group > total) is exact integer
# arithmetic — no floating threshold at the cut.  Plan: ONE fact
# aggregation reused for both sides (the 1-row total is a broadcast), so
# the fact is scanned and shuffled once.
# ---------------------------------------------------------------------------
@register(
    "q11_important_share",
    oracle="""
    WITH per_type AS (
      SELECT p.p_type AS type,
             SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS rev_c
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
       GROUP BY 1
    )
    SELECT type, CAST(rev_c AS DOUBLE) / 100.0 AS revenue
      FROM per_type, (SELECT SUM(rev_c) AS total_c FROM per_type) t
     WHERE 50 * rev_c > total_c
     ORDER BY revenue DESC, type
    """,
)
def q11_important_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    # only (key, type) of the part dim participate — project before the
    # broadcast so the build side carries 2 of 9 columns (guide §2.3)
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    per_type = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(F.col("p_type").alias("type"))
        .agg(
            F.sum(
                iround_long(F.col("l_extendedprice") * 100)
            ).alias("rev_c")
        )
    )
    total = per_type.agg(F.sum("rev_c").alias("total_c"))
    return (
        per_type.crossJoin(F.broadcast(total))
        .where(50 * F.col("rev_c") > F.col("total_c"))
        .select(
            "type", (F.col("rev_c").cast("double") / 100.0).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "type")
    )


# ---------------------------------------------------------------------------
# two-level re-aggregation — aggregate OF an aggregate: average basket
# (per-order lineitem revenue) by order priority.  The inner per-order
# sums accumulate as scaled BIGINTs; the outer average divides two exact
# integers, so the result is deterministic across engines AND across
# partitionings.  Plan: the fact shuffles once on orderkey for the inner
# agg; the outer agg re-shuffles only |orders| pre-aggregated rows — the
# canonical rollup-of-rollup shape warehouse reports live on.
# ---------------------------------------------------------------------------
@register(
    "orders_avg_basket_by_priority",
    oracle="""
    WITH per_order AS (
      SELECT l.l_orderkey AS orderkey,
             SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
                      AS BIGINT)) AS rev_sc
        FROM lineitem l
       GROUP BY 1
    )
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(p.rev_sc) AS DOUBLE) / 10000.0 / COUNT(*) AS avg_basket
      FROM per_order p
      JOIN orders o ON o.o_orderkey = p.orderkey
     GROUP BY 1
     ORDER BY 1
    """,
)
def orders_avg_basket_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_order = l.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.sum(iround_long(revenue * 10000)).alias("rev_sc")
    )
    return (
        per_order.join(o, per_order.orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                F.sum("rev_sc").cast("double")
                / 10000.0
                / F.count(F.lit(1))
            ).alias("avg_basket"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Q5 shape: local-supplier revenue — the 5-way join whose distinguishing
# constraint is an equality BETWEEN TWO DIMENSIONS (supplier.nation =
# customer.nation), not a fact FK.  All dims broadcast; the constraint is
# applied inside the supplier join condition so mismatched-nation rows
# die at the join instead of surviving to a filter.  One fact pass, one
# aggregate on the nation grain.
# ---------------------------------------------------------------------------
@register(
    "q5_local_supplier_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
                         AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
                     AND s.s_nationkey = c.c_nationkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
     WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
       AND CAST(o.o_orderdate AS DATE) <  DATE '1997-01-01'
     GROUP BY 1
     ORDER BY revenue DESC, nation
    """,
)
def q5_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1997-01-01").cast("date"))
    ).select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(scaled_long_sum(revenue, "revenue", scale=4))
        .orderBy(F.desc("revenue"), "nation")
    )


# ---------------------------------------------------------------------------
# Q6 shape: the pure filter-sum forecast — no join, three pushable
# predicates, one scalar aggregate.  Every predicate reaches the parquet
# scan (PushedFilters), so at 100 TB this is IO-bound on exactly the
# row groups whose min/max straddle the ship-date year.  The discount
# BETWEEN compares stored doubles against the same parsed literals on
# both engines — bit-identical, no epsilon games.
# ---------------------------------------------------------------------------
@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(round(l_extendedprice * l_discount * 10000, 0)
                         AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM lineitem
     WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
       AND CAST(l_shipdate AS DATE) <  DATE '1997-01-01'
       AND l_discount BETWEEN 0.05 AND 0.07
       AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.to_date("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (
                F.sum(
                    iround_long(
                        F.col("l_extendedprice") * F.col("l_discount") * 10000
                    )
                ).cast("double")
                / 10000.0
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Q7 shape: bi-national volume shipping — a DISJUNCTION OF CONJUNCTIONS
# over two dimension attributes ((s_nation=A AND c_nation=B) OR the
# reverse), grouped by the nation pair and ship year.  The OR cannot be
# split per side, so it evaluates after both nation joins; both nation
# lookups broadcast and each is pre-filtered to the two named nations, so
# the fact rows surviving to the OR are already the ~2/25ths that can
# match.  (Nation names in this corpus are the generator's NATION_k.)
# ---------------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) AS INT) AS l_year,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
                         AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
     WHERE (n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_6')
        OR (n1.n_name = 'NATION_6' AND n2.n_name = 'NATION_9')
     GROUP BY 1, 2, 3
     ORDER BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Push the selective nation pair INTO the dimension sides before any
    # fact join (guide §2.3/§3.1): only ~2/25 of customers and suppliers
    # belong to the two nations, so restricting customer (and through it
    # orders) and supplier FIRST shrinks the orders build side ~12x and
    # drops ~92% of lineitem probe output at the first join, instead of
    # joining the full fact pipeline and filtering the pair at the end.
    # Join order and inner-join/filter commutativity make this
    # value-identical to the oracle's WHERE-at-the-end form.
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pair = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_9", "NATION_6")
    )
    n1 = pair.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = pair.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    # pair-nation suppliers / customers, then pair-nation orders — all dim
    # side work, each a broadcast join over a dim
    s2 = s.join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")).select(
        "s_suppkey", "supp_nation"
    )
    c2 = c.join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")).select(
        "c_custkey", "cust_nation"
    )
    o2 = o.join(F.broadcast(c2), F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "cust_nation"
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(s2), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o2, l.l_orderkey == F.col("o_orderkey"))
        .where(
            (
                (F.col("supp_nation") == "NATION_9")
                & (F.col("cust_nation") == "NATION_6")
            )
            | (
                (F.col("supp_nation") == "NATION_6")
                & (F.col("cust_nation") == "NATION_9")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.to_date("l_shipdate")).alias("l_year"),
        )
        .agg(scaled_long_sum(revenue, "revenue", scale=4))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q8 shape: market share — a conditional fraction of a grouped total over
# time: what share of each year's revenue came from NATION_9 suppliers.
# Numerator and denominator are the SAME scaled-integer aggregate over
# the same rows (one pass, one shuffle); the division happens once per
# output row on exact longs, so the share is deterministic to the bit.
# ---------------------------------------------------------------------------
@register(
    "q8_market_share",
    oracle="""
    SELECT CAST(EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) AS INT) AS o_year,
           CAST(SUM(CASE WHEN s.s_nationkey = 9
                         THEN CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                         * 10000, 0) AS BIGINT)
                         ELSE 0 END) AS DOUBLE)
           / SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
                      AS BIGINT)) AS mkt_share
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
     GROUP BY 1
     ORDER BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    # project orders down to (key, year) BEFORE the fact join (guide §2.3
    # narrower types, §3.1): the year is computed once per ORDER instead of
    # once per joined LINEITEM, and the join's build side carries a 4-byte
    # int instead of a date string — at 10x data that build side is 1.5M
    # rows, so its width and per-row expression work are the join's cost
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year(F.to_date("o_orderdate")).alias("o_year")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    scaled = iround_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("s_nationkey") == 9, scaled).otherwise(F.lit(0))
                ).cast("double")
                / F.sum(scaled)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q13 shape: customer order-count distribution — a LEFT join whose filter
# lives IN THE JOIN CONDITION (so unmatched customers stay with count 0,
# which a WHERE would destroy), then a two-level aggregate: per-customer
# order counts, then the histogram of those counts.  All counting — no
# floats anywhere.
# ---------------------------------------------------------------------------
@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      FROM (
        SELECT c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
          FROM customer c
          LEFT JOIN orders o
            ON o.o_custkey = c.c_custkey
           AND o.o_orderpriority <> '1-URGENT'
         GROUP BY 1
      )
     GROUP BY 1
     ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Aggregate-before-join (guide §2.3/§3, VERDICT r13 next-round #2): the
    # direct form joined the WHOLE orders fact to customer before counting,
    # so the fact crossed a join (and at 10x data a 1.5M-row broadcast
    # build) just to be counted.  Counting per custkey FIRST reduces orders
    # map-side (partial count) to at most |customer| narrow rows; the LEFT
    # join then attaches counts to the customer dim with COALESCE(0) for
    # customers whose qualifying-order count is zero — exactly the rows the
    # LEFT-join-with-condition form kept at c_count = 0.  count(o_orderkey)
    # == count(*) per group because o_orderkey is never null.  The counts
    # side is bounded by the customer dim, the same contract as the
    # F.broadcast(c) the sibling queries already rely on.
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    counts = (
        o.where(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    per_cust = c.join(
        F.broadcast(counts), F.col("o_custkey") == F.col("c_custkey"), "left"
    ).select(F.coalesce(F.col("n_orders"), F.lit(0).cast("long")).alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# UNPIVOT / melt — the inverse of the pivot query: three measure columns
# fold into (measure, value) rows, then per-measure profile aggregates.
# Spark's ``stack`` does the melt in ONE scan of the fact (the generator
# emits 3 rows per input row inside the same whole-stage-codegen pass);
# the portable oracle needs three scans UNION ALL'd — at 100 TB that is
# the difference between reading the table once and three times.  Values
# melt as exact cents so every aggregate is integer arithmetic.
# ---------------------------------------------------------------------------
@register(
    "lineitem_measures_unpivot",
    oracle="""
    WITH m AS (
      SELECT 'quantity' AS measure,
             CAST(round(l_quantity * 100, 0) AS BIGINT) AS v FROM lineitem
      UNION ALL
      SELECT 'extendedprice',
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) FROM lineitem
      UNION ALL
      SELECT 'discount',
             CAST(round(l_discount * 100, 0) AS BIGINT) FROM lineitem
    )
    SELECT measure,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS DOUBLE) / 100.0 AS total,
           CAST(MIN(v) AS DOUBLE) / 100.0 AS min_v,
           CAST(MAX(v) AS DOUBLE) / 100.0 AS max_v
      FROM m
     GROUP BY 1
     ORDER BY 1
    """,
)
def lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    melted = l.selectExpr(
        "stack(3, "
        "'quantity',      CAST(round(l_quantity * 100, 0) AS BIGINT), "
        "'extendedprice', CAST(round(l_extendedprice * 100, 0) AS BIGINT), "
        "'discount',      CAST(round(l_discount * 100, 0) AS BIGINT)"
        ") AS (measure, v)"
    )
    return (
        melted.groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("v").cast("double") / 100.0).alias("total"),
            (F.min("v").cast("double") / 100.0).alias("min_v"),
            (F.max("v").cast("double") / 100.0).alias("max_v"),
        )
        .orderBy("measure")
    )


# ---------------------------------------------------------------------------
# Q2 shape: region-constrained minimum-cost supplier per part — the classic
# correlated MIN subquery, decorrelated into a per-part aggregate joined
# back on value equality.  No partsupp table exists in this corpus, so the
# part<->supplier cost relation derives from lineitem (min observed sale
# price in cents); the *shape* — dim-chain filter, per-key MIN, equality
# join-back, multi-dim output sort + LIMIT — is Q2's.  Costs accumulate as
# scaled BIGINT cents so the MIN-equality never hinges on a double ulp.
# 100 TB plan: region/nation/filtered-part/supplier are all broadcast; the
# only full fact pass is one scan aggregated on (partkey, suppkey) — the
# join-back runs on the already-aggregated (small) relation, repartitioned
# by partkey.  Reference analog: dim-chain SELECT, iceberg_trino_sqldemo
# .sql:19-40.
# ---------------------------------------------------------------------------
@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'EUROPE'
    ),
    ps AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             MIN(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS cost_c
        FROM lineitem
        JOIN eu ON l_suppkey = eu.s_suppkey
       GROUP BY 1, 2
    ),
    mn AS (SELECT partkey, MIN(cost_c) AS min_c FROM ps GROUP BY 1)
    SELECT eu.s_acctbal AS acctbal, eu.s_name AS supplier,
           eu.n_name AS nation, p.p_partkey AS partkey,
           p.p_brand AS brand,
           CAST(ps.cost_c AS DOUBLE) / 100.0 AS min_cost
      FROM ps
      JOIN mn ON mn.partkey = ps.partkey AND ps.cost_c = mn.min_c
      JOIN part p ON p.p_partkey = ps.partkey
      JOIN eu ON eu.s_suppkey = ps.suppkey
     WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
     ORDER BY acctbal DESC, supplier, partkey
     LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT is deterministic: (supplier, partkey) pairs are unique at the
    (partkey, suppkey) aggregate grain, so the sort is a total order."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pf = _t(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    # Prune the fact scan to filtered parts BEFORE aggregating: the per-part
    # MIN is independent of the part predicate, so prefiltering is lossless
    # (the oracle filters after the aggregate — same result, stated once).
    l = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(pf.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu.select("s_suppkey")), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    ps = l.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(iround_long(F.col("l_extendedprice") * 100)).alias("cost_c"))
    mn = ps.groupBy("partkey").agg(F.min("cost_c").alias("min_c"))
    return (
        ps.join(mn.withColumnRenamed("partkey", "mn_partkey"),
                (F.col("partkey") == F.col("mn_partkey"))
                & (F.col("cost_c") == F.col("min_c")))
        .join(F.broadcast(pf), F.col("p_partkey") == F.col("partkey"))
        .join(F.broadcast(eu), F.col("s_suppkey") == F.col("suppkey"))
        .select(
            F.col("s_acctbal").alias("acctbal"),
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            F.col("p_partkey").alias("out_partkey"),
            F.col("p_brand").alias("brand"),
            (F.col("cost_c").cast("double") / 100.0).alias("min_cost"),
        )
        .withColumnRenamed("out_partkey", "partkey")
        .orderBy(F.col("acctbal").desc(), "supplier", "partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q9 shape: product-type profit by nation and year — the widest join tree
# in the TPC-H sweep (fact x part x supplier x nation x orders) with an
# expression aggregate.  No partsupp supply cost exists in this corpus;
# cost is proxied as 50% of the part's retail price per unit, which keeps
# Q9's expression shape (revenue minus quantity-scaled cost) in exact
# scaled-cents BIGINT arithmetic on both engines.
# 100 TB plan: part ('%gear%' prefilter), supplier and nation broadcast;
# the single at-scale shuffle is lineitem><orders on orderkey (both sides
# bucketable on orderkey); the (nation, year) aggregate is ~|nations * 7|
# groups with map-side partials.  Reference analog: federation join + agg,
# iceberg_trino_sqldemo.sql:286-295.
# ---------------------------------------------------------------------------
@register(
    "q9_product_type_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                         AS BIGINT)
                    - CAST(round(p.p_retailprice * 50, 0) AS BIGINT)
                      * CAST(l.l_quantity AS BIGINT))
                AS DOUBLE) / 100.0 AS profit
      FROM lineitem l
      JOIN part p     ON p.p_partkey  = l.l_partkey
      JOIN supplier s ON s.s_suppkey  = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
     WHERE p.p_name LIKE '%gear%'
     GROUP BY 1, 2
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%gear%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    # year per ORDER before the fact join, not per joined lineitem, and a
    # long instead of a date string across the join (guide §2.3 — same
    # rationale as q8: the orders side is 1.5M rows at 10x data)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    l = _t(spark, sf_dir, "lineitem")
    rev_c = iround_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    )
    cost_c = iround_long(F.col("p_retailprice") * 50) * F.col(
        "l_quantity"
    ).cast("long")
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("o_year"),
        )
        .agg((F.sum(rev_c - cost_c).cast("double") / 100.0).alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q16 shape: supplier variety per (brand, type, size) — COUNT(DISTINCT) over
# an anti-joined key set.  The classic "customer complaints" NOT IN becomes
# a negative-balance supplier exclusion (this corpus's supplier table has no
# comment column); the shape — NOT IN decorrelated to a broadcast anti-join,
# then a distinct-count per composite dim key — is Q16's.
# 100 TB plan: the excluded-supplier set is a scalar-cardinality broadcast;
# the distinct runs as a two-phase shuffle on (brand, type, size, suppkey)
# with map-side partial dedup, then a cheap second aggregate — no Expand
# node, no whole-fact re-shuffle for the count.
# ---------------------------------------------------------------------------
@register(
    "q16_supplier_variety",
    oracle="""
    SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
     WHERE p.p_brand <> 'Brand#13'
       AND p.p_type <> 'MEDIUM'
       AND p.p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
       AND l.l_suppkey NOT IN
           (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
     GROUP BY 1, 2, 3
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45)
    )
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .select(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
            "l_suppkey",
        )
        .distinct()
        .groupBy("brand", "type", "size")
        .agg(F.count(F.lit(1)).alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q20 shape: promotable suppliers — nested semi-joins over a decorrelated
# threshold aggregate.  The classic availqty > 1/2 * year-demand predicate
# (partsupp-based) becomes: suppliers whose 1996 shipped quantity of
# 'old *' parts exceeds 1/6 of their all-time shipped quantity of those
# parts (integer cross-multiplied, no division), then restricted to ASIA.
# 100 TB plan: the part-name semi-join is a broadcast of the filtered part
# keys; ONE fact pass aggregates per supplier with a conditional partial
# sum; everything after runs at |suppliers| cardinality against broadcast
# dims.  Reference analog: filtered dim-chain, iceberg_trino_sqldemo
# .sql:215-216.
# ---------------------------------------------------------------------------
@register(
    "q20_promotable_suppliers",
    oracle="""
    WITH fp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'old %'),
    sp AS (
      SELECT l_suppkey AS suppkey,
             SUM(CASE WHEN CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
                       AND CAST(l_shipdate AS DATE) <  DATE '1997-01-01'
                      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS q96,
             SUM(CAST(l_quantity AS BIGINT)) AS qall
        FROM lineitem
        JOIN fp ON p_partkey = l_partkey
       GROUP BY 1
    )
    SELECT s.s_name AS supplier, n.n_name AS nation
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      JOIN sp ON sp.suppkey = s.s_suppkey
     WHERE r.r_name = 'ASIA' AND 6 * sp.q96 > sp.qall
     ORDER BY supplier
    """,
)
def q20_promotable_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = _t(spark, sf_dir, "part").where(F.col("p_name").like("old %")).select(
        "p_partkey"
    )
    l = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(fp), F.col("l_partkey") == F.col("p_partkey")
    )
    in96 = (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date")) & (
        F.to_date("l_shipdate") < F.lit("1997-01-01").cast("date")
    )
    qty = F.col("l_quantity").cast("long")
    sp = l.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(F.when(in96, qty).otherwise(F.lit(0))).alias("q96"),
        F.sum(qty).alias("qall"),
    )
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        sp.where(6 * F.col("q96") > F.col("qall"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("suppkey"))
        .select(F.col("s_name").alias("supplier"), F.col("n_name").alias("nation"))
        .orderBy("supplier")
    )


# ---------------------------------------------------------------------------
# Trino-dialect frontend round-trip over testdata (VERDICT r4 "What's
# missing" #1 — dialect breadth, driver-gated): the statement below is
# TRINO SQL, fed verbatim through Engine.sql, exercising the translation
# tiers end-to-end — the md5/to_utf8 hash idiom (binary-returning hashes),
# to_hex, byte-length of to_utf8, literal-delimiter split (\Q...\E regex
# quoting), and cardinality — against a DuckDB oracle written natively.
# The relational plan itself stays all-Catalyst: one hash aggregate.
# Reference analog: SELECT surface, iceberg_trino_sqldemo.sql:215-216.
# ---------------------------------------------------------------------------
@register(
    "trino_dialect_select",
    oracle="""
    SELECT lang,
           md5(source) AS src_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_ws_tokens
      FROM documents
     GROUP BY 1, 2
     ORDER BY 1, 2
    """,
)
def trino_dialect_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_trino_sql_demo_spark.engine import Engine

    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    eng = Engine(spark, tempfile.mkdtemp(prefix="dialect_wh_"))
    return eng.sql(
        """
        SELECT lang,
               lower(to_hex(md5(to_utf8(source)))) AS src_hash,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(to_utf8(text))) AS BIGINT) AS total_bytes,
               CAST(max(cardinality(split(text, ' '))) AS BIGINT) AS max_ws_tokens
          FROM documents
         GROUP BY 1, 2
         ORDER BY 1, 2
        """
    )


# ---------------------------------------------------------------------------
# Trino-dialect tier-3 round-trip (frontend breadth, driver-gated): the
# statement is TRINO SQL through Engine.sql exercising the tier-3
# rewrites — 2-arg regexp_extract (group-0 default), truncate (toward
# zero), to_base (lowercase digits, vs Spark conv's uppercase), format
# (printf), TRY(CAST(...)) -> TRY_CAST, bit_count's 64-bit form, and the
# ARRAY[...]/zip/repeat constructor family — against a native DuckDB
# oracle.  Aggregates stay order-insensitive (count/max) so no float
# summation boundary exists; the plan is one hash aggregate.
# ---------------------------------------------------------------------------
@register(
    "trino_dialect_tier3",
    oracle="""
    SELECT priority,
           pri_digit,
           n,
           max_trunc,
           n_hex,
           format('{}:{}', pri_digit, n) AS tag,
           TRY_CAST(pri_digit AS INTEGER) AS pri_num,
           CAST(bit_count(n) AS BIGINT) AS n_bits,
           CAST(2 AS BIGINT) AS z2
      FROM (
        SELECT o_orderpriority AS priority,
               regexp_extract(o_orderpriority, '[0-9]+') AS pri_digit,
               count(*) AS n,
               CAST(trunc(max(o_totalprice)) AS DOUBLE) AS max_trunc,
               printf('%x', count(*)) AS n_hex
          FROM orders GROUP BY 1, 2
      )
     ORDER BY priority
    """,
)
def trino_dialect_tier3(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_trino_sql_demo_spark.engine import Engine

    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    eng = Engine(spark, tempfile.mkdtemp(prefix="dialect_wh_"))
    return eng.sql(
        """
        SELECT priority,
               pri_digit,
               n,
               truncate(max_price) AS max_trunc,
               to_base(n, 16) AS n_hex,
               format('%s:%d', pri_digit, n) AS tag,
               TRY(CAST(pri_digit AS INTEGER)) AS pri_num,
               bit_count(n, 64) AS n_bits,
               CAST(cardinality(zip(repeat(n, 2), ARRAY[1, 2])) AS BIGINT) AS z2
          FROM (
            SELECT o_orderpriority AS priority,
                   regexp_extract(o_orderpriority, '[0-9]+') AS pri_digit,
                   CAST(count(*) AS BIGINT) AS n,
                   max(o_totalprice) AS max_price
              FROM orders GROUP BY 1, 2
          )
         ORDER BY priority
        """
    )


# ---------------------------------------------------------------------------
# Window-function sweep: the ranking/navigation family in ONE pass —
# ntile quartiles, lag/lead neighbours, percent_rank — partitioned by
# market segment, totally ordered by (acctbal, custkey) so every result
# is deterministic (custkey is unique; percent_rank's (rank-1)/(n-1)
# division is the same IEEE op on both engines).
# 100 TB plan: one hash exchange on mktsegment feeds a single Window
# operator evaluating all four functions over the same sorted run — the
# frame work is O(1) per row (navigation offsets + rank counters), never
# a per-row rescan.
# ---------------------------------------------------------------------------
@register(
    "customer_balance_quartiles",
    oracle="""
    SELECT c_custkey AS custkey,
           c_mktsegment AS segment,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           lag(c_custkey) OVER w AS prev_custkey,
           lead(c_custkey) OVER w AS next_custkey,
           percent_rank() OVER w AS pct_rank
      FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        _t(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_mktsegment").alias("segment"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.lag("c_custkey").over(w).alias("prev_custkey"),
            F.lead("c_custkey").over(w).alias("next_custkey"),
            F.percent_rank().over(w).alias("pct_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Trino-dialect tier-4 round-trip (frontend breadth, driver-gated): TRINO
# SQL through Engine.sql exercising the tier-4 rewrites — ngrams (sliding
# slices with Trino's max(len-n+1, 1) gram count), chr -> char, 2-arg
# regexp_replace (delete-matches; Spark/Trino both replace ALL matches,
# DuckDB needs the explicit 'g' flag), infinity() in a dead CASE branch —
# plus natively-shared higher-order reduce with a finisher lambda.  The
# oracle is written in native DuckDB (its reduce/ngrams shapes differ, so
# equivalent expressions stand in).  Aggregates are count/max only — no
# float summation boundary; the plan is one hash aggregate.
# ---------------------------------------------------------------------------
@register(
    "trino_dialect_tier4",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(greatest(least(len(string_split(text, ' ')), 64) - 1, 1))
                AS BIGINT) AS max_bigrams,
           chr(CAST(65 + max(len(text)) % 26 AS INTEGER)) AS len_char,
           max(regexp_replace(source, '[0-9]', '', 'g')) AS src_alpha,
           CAST(max(len(array_to_string(string_split(text, ' ')[1:64], '')))
                AS BIGINT) AS max_nonspace,
           CASE WHEN count(*) > 0 THEN CAST(0.0 AS DOUBLE)
                ELSE 'Infinity'::DOUBLE END AS inf_guard
      FROM documents
     GROUP BY 1
     ORDER BY 1
    """,
)
def trino_dialect_tier4(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_trino_sql_demo_spark.engine import Engine

    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    eng = Engine(spark, tempfile.mkdtemp(prefix="dialect_wh_"))
    return eng.sql(
        """
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(max(cardinality(ngrams(slice(split(text, ' '), 1, 64), 2)))
                    AS BIGINT) AS max_bigrams,
               chr(65 + max(length(text)) % 26) AS len_char,
               max(regexp_replace(source, '[0-9]')) AS src_alpha,
               CAST(max(reduce(slice(split(text, ' '), 1, 64), 0,
                               (s, x) -> s + length(x), s -> s)) AS BIGINT)
                   AS max_nonspace,
               CASE WHEN count(*) > 0 THEN 0.0E0 ELSE infinity() END
                   AS inf_guard
          FROM documents
         GROUP BY 1
         ORDER BY 1
        """
    )


# ---------------------------------------------------------------------------
# J2 over a LIVE JDBC source — the flagship federation query (:286-295)
# with `postgresql.demo.orders` backed by a real external database
# (embedded Derby, the JDBC engine Spark ships) instead of the testdata
# stand-in view.  Same result as federation_agg, so the same oracle; the
# interop point is the JDBC read path itself: Spark's JDBCRelation, with
# the dimension-side broadcast keeping the fact join shuffle-free.
# ---------------------------------------------------------------------------

#: one Derby database per sf_dir (immutable once published)
_DERBY_CACHE: dict[str, str] = {}


def _derby_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_trino_sql_demo_spark.sources.jdbc_fed import (
        DERBY_DRIVER, derby_from_sf_dir,
    )

    db_dir = _DERBY_CACHE.get(sf_dir)
    if db_dir is None:
        db_dir = os.path.join(
            tempfile.mkdtemp(prefix="derby_fed_"), "db")
        _DERBY_CACHE[sf_dir] = db_dir
    url = derby_from_sf_dir(spark, db_dir, sf_dir, tables=("orders",))
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "orders")
        .option("driver", DERBY_DRIVER)
        .load()
    )


@register(
    "federation_jdbc_agg",
    oracle="""
    SELECT n.n_name AS nation,
           round(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE))
               AS total_price
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON c.c_custkey = o.o_custkey
     WHERE c.c_mktsegment = 'AUTOMOBILE'
     GROUP BY n.n_name
     ORDER BY total_price
    """,
    bench=False,  # scenario setup cost (one-time Derby publish) dominates
)
def federation_jdbc_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "AUTOMOBILE")
    n = _t(spark, sf_dir, "nation")
    o = _derby_orders(spark, sf_dir)
    dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("nation")
    )
    return (
        o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey)
        .groupBy("nation")
        .agg(trino_round(scaled_long_sum(F.col("o_totalprice"), "x")).alias("total_price"))
        .orderBy("total_price")
    )
