"""Watermarked tumbling-window aggregation + duplicate suppression
(SURVEY.md §2.9 T5/T6/T7).

The reference buffers 5000 events in deques and re-aggregates 5-minute
buckets over the last 60 minutes on every render (dashboard.py:500-561).
The engine computes the same windows incrementally: watermark bounds
state (eviction = the deque's maxlen, but time-based and correct), and
dropDuplicates implements the dedup the reference describes but never
built (readme.md:157).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_events(events: DataFrame, keys: list[str], watermark: str | None = "60 minutes", ts_col: str = "ts") -> DataFrame:
    """T7 duplicate suppression on (key, event-time). On a watermarked
    stream the watermark column is part of the dedup key, so the state
    store evicts a (key, ts) pair once the watermark passes its ts:
    state holds the watermark delay's worth of pairs, not every pair
    ever seen. QoS-1 at-least-once delivery (T8) composes with this into
    effective exactly-once; a redelivery later than the watermark is
    dropped as late, not re-emitted. Batch frames dedup exactly."""
    if watermark and events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    return events.dropDuplicates(keys + [ts_col])


def sliding_window_sums(
    events: DataFrame,
    key: str,
    measures: list[str],
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str | None = "60 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """T5 sliding (hopping) windows: each event lands in
    window/slide overlapping buckets — the dashboard's "last 10 minutes,
    refreshed every 5" view as an incremental query instead of a
    re-scan. Spark expands the window/slide assignment map-side (an
    event emits window÷slide rows), so state per key stays
    O(horizon/slide); the shuffle key is (window, key) exactly like the
    tumbling form. Same batch/streaming duality as tumbling_window_sums."""
    if events.isStreaming and watermark:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.window(ts_col, window, slide).alias("w"), F.col(key))
        .agg(*[F.round(F.sum(m), 4).alias(f"sum_{m}") for m in measures])
        .select(
            F.col("w.start").alias("bucket_start"),
            F.col("w.end").alias("bucket_end"),
            key,
            *[f"sum_{m}" for m in measures],
        )
    )


def tumbling_window_sums(
    events: DataFrame,
    key: str,
    measures: list[str],
    window: str = "5 minutes",
    watermark: str | None = "60 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """T5/A3: per-key 5-minute tumbling sums. Streaming: watermarked
    (late events beyond 60 min dropped — the reference trusts order and
    would silently miscount, SURVEY.md §7.4 item 2); batch: same code
    without watermark, windows computed over all data. Pass
    watermark=None when the stream is already watermarked upstream
    (e.g. after dedup_events — Spark disallows redefining it across
    chained stateful operators)."""
    if events.isStreaming and watermark:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.window(ts_col, window).alias("w"), F.col(key))
        .agg(*[F.round(F.sum(m), 4).alias(f"sum_{m}") for m in measures])
        .select(F.col("w.start").alias("bucket"), key, *[f"sum_{m}" for m in measures])
    )


def session_window_sums(
    events: DataFrame,
    key: str,
    measures: list[str],
    gap: str = "30 minutes",
    watermark: str | None = "60 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Sessionization, streaming-native: Spark's session_window merges
    events within `gap` of each other into one growing window per key;
    the watermark closes a session once no in-order event can extend it.
    Batch form of the same semantics (with an exact oracle):
    operators.temporal.sessionize."""
    if events.isStreaming and watermark:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            *[F.round(F.sum(m), 4).alias(f"sum_{m}") for m in measures],
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key,
            "n_events",
            *[f"sum_{m}" for m in measures],
        )
    )


def totals_timeseries(
    events: DataFrame,
    measures: list[str],
    horizon_minutes: int = 60,
    bucket: str = "5 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """The dashboard's time-series query (totals_timeseries,
    dashboard.py:500-561): filter to the last `horizon_minutes` anchored
    at max(ts), bucket into tumbling windows, sum across all keys, sort
    by bucket. Batch form (the render plane re-queries a snapshot)."""
    from ..operators.relational import time_horizon

    recent = time_horizon(events, ts_col, horizon_minutes)
    return (
        recent.groupBy(F.window(ts_col, bucket).alias("w"))
        .agg(*[F.round(F.sum(m), 4).alias(f"sum_{m}") for m in measures])
        .select(F.col("w.start").alias("bucket"), *[f"sum_{m}" for m in measures])
        .orderBy("bucket")
    )


def ohlc_window_bars(
    events: DataFrame,
    key: str,
    measure: str,
    window: str = "15 minutes",
    watermark: str | None = "60 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming OHLC bars — the incremental form of q_ohlc
    (plans/queries_temporal.py): per key × tumbling window, open/close
    via min_by/max_by on event time plus high/low/count, computed as a
    plain watermarked streaming aggregation (no ranking windows, which
    streaming disallows — min_by IS the endpoint selection, so the
    operator runs incrementally with watermark-bounded state; append
    mode emits each bar once its window passes the watermark, update/
    complete expose bars as they form).
    Ties at identical (key, ts) must be removed upstream
    (dedup_events) for open/close determinism; the e2e test feeds the
    deduped stream. Batch: identical code, no watermark — which is
    exactly how the test establishes equivalence."""
    if events.isStreaming and watermark:
        events = events.withWatermark(ts_col, watermark)
    m = F.col(measure)
    return (
        events.groupBy(F.window(ts_col, window).alias("w"), F.col(key))
        .agg(
            F.round(F.min_by(m, F.col(ts_col)), 4).alias("open"),
            F.round(F.max(m), 4).alias("high"),
            F.round(F.min(m), 4).alias("low"),
            F.round(F.max_by(m, F.col(ts_col)), 4).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.col("w.start").alias("bucket"), key, "open", "high", "low", "close", "n")
    )
