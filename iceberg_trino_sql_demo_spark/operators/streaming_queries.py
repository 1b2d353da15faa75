"""Driver-contract registrations for the Structured Streaming replays
(SURVEY.md §7 streaming extension; implementations in streaming/).

These live in their own module (imported LAST by operators.load_all) because
each one replays the events table through a real micro-batch query and is
wall-clock-bound by stream startup/drain, not by data volume — the
correctness driver evaluates the registry in registration order under a
budget, so the cheap batch operators must not queue behind these.

Each stream query shares its oracle with the equivalent batch aggregation:
one plan, two execution modes, identical results (tests/test_streaming.py).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from iceberg_trino_sql_demo_spark.operators import register


@register(
    "events_stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events
     GROUP BY 1, 2
    """,
    bench=False,
)
def events_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling aggregation executed as a Structured Streaming query
    (readStream + watermark + availableNow) — same oracle as the batch
    variant: one plan, two execution modes, identical results."""
    from iceberg_trino_sql_demo_spark.streaming.ingest import stream_tumbling_counts

    return stream_tumbling_counts(
        spark, sf_dir, query_name=f"stream_tumbling_{uuid.uuid4().hex[:8]}"
    )


@register(
    "events_stateful_user_totals",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value,
           max(event_id) AS last_event_id
      FROM events
     GROUP BY user_id
    """,
    bench=False,
)
def events_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running totals accumulated across micro-batches; after draining, the
    state equals the batch aggregate — which is exactly the oracle."""
    from iceberg_trino_sql_demo_spark.streaming.stateful import (
        stream_running_user_totals,
    )

    return stream_running_user_totals(
        spark, sf_dir, query_name=f"stateful_{uuid.uuid4().hex[:8]}"
    )


@register(
    "events_stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type, value FROM events
    """,
    bench=False,
)
def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicates over the state store): after
    draining the replay the emitted rows equal batch DISTINCT — the oracle."""
    from iceberg_trino_sql_demo_spark.streaming.ingest import stream_dedup_events

    return stream_dedup_events(
        spark, sf_dir, query_name=f"stream_dedup_{uuid.uuid4().hex[:8]}"
    )


@register(
    "events_stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
      FROM events p
      JOIN events c
        ON p.event_type = 'purchase' AND c.event_type = 'click'
       AND c.user_id = p.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR
       AND c.ts <  p.ts
    """,
    bench=False,
)
def events_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (watermarked, state-bounded): after the
    availableNow drain the emitted pairs equal the batch inner join."""
    from iceberg_trino_sql_demo_spark.streaming.ingest import stream_interval_join

    return stream_interval_join(
        spark, sf_dir, query_name=f"stream_ij_{uuid.uuid4().hex[:8]}"
    )


@register(
    "events_stream_dedup_watermarked",
    oracle="""
    SELECT DISTINCT user_id, event_type, value FROM events
    """,
    bench=False,
)
def events_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup (dropDuplicatesWithinWatermark): the
    production-scale variant whose state is O(watermark window); with a
    horizon wider than the replay's event-time span the drained output
    equals batch DISTINCT, which is the oracle."""
    from iceberg_trino_sql_demo_spark.streaming.ingest import (
        stream_dedup_within_watermark,
    )

    return stream_dedup_within_watermark(
        spark, sf_dir, query_name=f"stream_dedup_wm_{uuid.uuid4().hex[:8]}"
    )


@register(
    "events_stream_sessionization",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS boundary
        FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM ordered
    )
    SELECT user_id,
           min(ts) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events
      FROM sessions
     GROUP BY user_id, session_no
    """,
    bench=False,
)
def events_stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization as a STREAMING query: merging session windows are a
    native stateful operator (sessions extend/merge incrementally under
    the watermark, state bounded by the gap horizon); after the
    availableNow drain the sessions equal the batch session_window
    aggregate — same gaps-and-islands oracle as events_sessionization."""
    from iceberg_trino_sql_demo_spark.streaming.ingest import (
        stream_sessionization,
    )

    return stream_sessionization(
        spark, sf_dir, query_name=f"stream_sess_{uuid.uuid4().hex[:8]}"
    )


@register(
    "events_stream_ohlc",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           arg_min(value, ts) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ts) AS close,
           CAST(count(*) AS BIGINT) AS n_events
      FROM events
     GROUP BY 1, 2
    """,
    bench=False,
)
def events_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candles computed by a Structured Streaming query: min_by/max_by
    are declarative aggregates, so open/close resolve incrementally across
    micro-batches without buffering a window's rows — after the availableNow
    drain the candles equal the batch aggregate (same oracle as
    events_ohlc_hourly)."""
    from iceberg_trino_sql_demo_spark.streaming.ingest import stream_ohlc

    return stream_ohlc(
        spark, sf_dir, query_name=f"stream_ohlc_{uuid.uuid4().hex[:8]}"
    )


@register(
    "events_stream_left_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
      FROM events p
      LEFT JOIN events c
        ON c.event_type = 'click'
       AND c.user_id = p.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR
       AND c.ts <  p.ts
     WHERE p.event_type = 'purchase'
    """,
    bench=False,
)
def events_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join with watermark-driven NULL
    finalization (flush-file pattern — see streaming/ingest.py): drained
    output equals the batch left join, which is the oracle."""
    from iceberg_trino_sql_demo_spark.streaming.ingest import stream_left_outer_join

    return stream_left_outer_join(
        spark, sf_dir, query_name=f"stream_loj_{uuid.uuid4().hex[:8]}"
    )


@register(
    "events_stream_full_outer",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR
       AND c.ts <  p.ts
    """,
    bench=False,
)
def events_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — unmatched rows emit
    NULL-padded from BOTH state stores under watermark finalization;
    drained output equals the batch full join, which is the oracle.
    See streaming/ingest.py:stream_full_outer_join."""
    from iceberg_trino_sql_demo_spark.streaming.ingest import stream_full_outer_join

    return stream_full_outer_join(
        spark, sf_dir, query_name=f"stream_foj_{uuid.uuid4().hex[:8]}"
    )


@register(
    "events_stream_chained_agg",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS w30, user_id,
             count(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT time_bucket(INTERVAL 1 HOUR, w30) AS hour_start,
           CAST(count(*) AS BIGINT) AS n_user_buckets,
           CAST(max(cnt) AS BIGINT) AS max_bucket_events
      FROM b GROUP BY 1
    """,
    bench=False,
)
def events_stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained stateful window aggregates in one streaming query
    (30-min per-user counts -> hourly rollup); drained equal to the batch
    two-level rollup.  See streaming/ingest.py:stream_chained_agg."""
    from iceberg_trino_sql_demo_spark.streaming.ingest import stream_chained_agg

    return stream_chained_agg(
        spark, sf_dir, query_name=f"stream_chain_{uuid.uuid4().hex[:8]}"
    )


@register(
    "events_stream_static_enrich",
    oracle="""
    SELECT date_trunc('hour', e.ts) AS window_start,
           c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events e
      JOIN customer c ON c.c_custkey = e.user_id
     GROUP BY 1, 2
    """,
    bench=False,
)
def events_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (dim lookup inside a streaming
    plan, zero join state) feeding a watermarked tumbling aggregate; after
    the availableNow drain the result equals the batch join+group — the
    oracle."""
    from iceberg_trino_sql_demo_spark.streaming.ingest import stream_static_enrich

    return stream_static_enrich(
        spark, sf_dir, query_name=f"stream_enrich_{uuid.uuid4().hex[:8]}"
    )


def _stream_ndv_oracle() -> str:
    # execution-mode twin: the streamed registers must equal the batch
    # pipeline's, so the oracle IS the batch sketch oracle
    from iceberg_trino_sql_demo_spark.operators.windows_ops import _hll_oracle

    return _hll_oracle()


@register(
    "events_stream_ndv_sketch",
    oracle=_stream_ndv_oracle(),
    bench=False,
)
def events_stream_ndv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL register sketch built by the STREAM (no pre-distinct —
    duplicate-insensitive max(rho) is the stateful aggregate, constant
    groups x 64 state at any volume); drained registers estimate equal to
    the batch pipeline.  See streaming/ingest.py:stream_ndv_sketch."""
    from iceberg_trino_sql_demo_spark.streaming.ingest import stream_ndv_sketch

    return stream_ndv_sketch(
        spark, sf_dir, query_name=f"stream_ndv_{uuid.uuid4().hex[:8]}"
    )
