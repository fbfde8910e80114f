"""The dashboard's ingest plane assembled end-to-end (SURVEY.md §3.3
"Spark shape"): one logical source plan fanned into four sinks —

    source ─ parse ─┬─ facility branch ─ enrich ─┬─ latest snapshot (update)
                    │                            └─ 5-min window sums (update)
                    ├─ market branch ──────────── latest snapshot (update)
                    └─ quarantine ─────────────── reject audit (append)

Execution note: these are four INDEPENDENT streaming queries over the
same source plan — each reads the source and keeps its own state
(simple, the shape memory sinks need; per-sink restartable once they
are swapped for tables, as memory sinks outside complete mode refuse
to recover from a checkpoint). At the 100 TB/day design point,
collapse to ONE query whose foreachBatch fans the parsed batch into
the four writes, each made idempotent by batch id through publish.py's
high-water-mark / commit_meta protocol: one source read and one dedup
state instead of four/two. The per-stage operators are identical
either way.

State width: every query starts with one shuffle (= state) partition
per core, not the session's batch width. AQE skips micro-batches, so
each stateful operator would otherwise commit that many state stores
every trigger. A checkpoint keeps the width it was first written with.

A user of the reference's dashboard.py switches by pointing this at
their broker source and reading the sink tables; every stage is the
tested operator from ingest/snapshot/windows, just wired together.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from . import ingest, snapshot, windows


@dataclass
class DashboardPipeline:
    """Handles to the four running queries and their sink tables."""

    facility_snapshot: StreamingQuery
    market_snapshot: StreamingQuery
    facility_windows: StreamingQuery
    quarantine: StreamingQuery

    def await_all(self, timeout_s: float | None = None) -> None:
        for q in (
            self.facility_snapshot,
            self.market_snapshot,
            self.facility_windows,
            self.quarantine,
        ):
            q.awaitTermination(timeout_s)

    def stop_all(self) -> None:
        for q in (
            self.facility_snapshot,
            self.market_snapshot,
            self.facility_windows,
            self.quarantine,
        ):
            if q.isActive:
                q.stop()


def run_dashboard_pipeline(
    raw_stream: DataFrame,
    facility_lookup: DataFrame,
    checkpoint_root: str,
    sink_prefix: str = "dash",
    available_now: bool = True,
) -> DashboardPipeline:
    """Wire the full ingest plane over any raw JSON-line stream (file
    drip-feed, Kafka `value`, socket). Memory sinks keep the example
    self-contained; production swaps `.format("memory")` for Delta/
    Parquet paths — the plans are identical.

    State bounds (SCALE.md §5): snapshots hold one row per key;
    the window agg holds 60 min of 5-min buckets per key (watermark
    eviction); dedup state holds 60 min of (key, ts) pairs.
    """
    trigger = {"availableNow": True} if available_now else {"processingTime": "5 seconds"}
    parsed = ingest.parse_events(raw_stream)

    fac = ingest.enrich_facility_events(
        ingest.facility_branch(parsed), facility_lookup
    )
    fac = windows.dedup_events(fac, ["facility_id"])  # T7 at-least-once → effective once
    fac_snap = snapshot.streaming_latest_snapshot(
        fac.select("facility_id", "ts", "power_mw", "co2_tonnes"), "facility_id"
    )
    w1 = (
        fac_snap.writeStream.outputMode("update")
        .format("memory")
        .queryName(f"{sink_prefix}_facility_snapshot")
        .option("checkpointLocation", f"{checkpoint_root}/fac_snap")
        .trigger(**trigger)
    )

    mkt = ingest.market_branch(parsed)
    mkt_snap = snapshot.streaming_latest_snapshot(
        mkt.select("region_id", "ts", "price_dmwh", "demand_mw"), "region_id"
    )
    w2 = (
        mkt_snap.writeStream.outputMode("update")
        .format("memory")
        .queryName(f"{sink_prefix}_market_snapshot")
        .option("checkpointLocation", f"{checkpoint_root}/mkt_snap")
        .trigger(**trigger)
    )

    # Same enriched + deduped stream as the snapshot branch: under QoS-1
    # at-least-once delivery a separately-parsed branch would double-count
    # exactly the re-deliveries the snapshot suppresses.
    win = windows.tumbling_window_sums(
        fac, "facility_id", ["power_mw", "co2_tonnes"], watermark=None
    )
    # UPDATE mode: append would emit a window only once the (60-min)
    # watermark passes it — the dashboard's newest hour (its main view)
    # would always be missing, and an availableNow replay spanning less
    # than the watermark would emit NOTHING. Update re-emits a bucket
    # whenever it changes; readers resolve latest-per-(bucket, key)
    # exactly as they do for the snapshot sinks.
    w3 = (
        win.writeStream.outputMode("update")
        .format("memory")
        .queryName(f"{sink_prefix}_facility_windows")
        .option("checkpointLocation", f"{checkpoint_root}/fac_win")
        .trigger(**trigger)
    )

    quar = ingest.quarantine_branch(parsed)
    w4 = (
        quar.writeStream.outputMode("append")
        .format("memory")
        .queryName(f"{sink_prefix}_quarantine")
        .option("checkpointLocation", f"{checkpoint_root}/quar")
        .trigger(**trigger)
    )

    return DashboardPipeline(*_start_all(raw_stream.sparkSession, (w1, w2, w3, w4)))


def _start_all(spark: SparkSession, writers: tuple[DataStreamWriter, ...]) -> list[StreamingQuery]:
    """Start each writer with one state partition per core. start()
    clones the session conf, so batch work keeps its width, except batch
    work that other threads start on this session during these starts."""
    key = "spark.sql.shuffle.partitions"
    batch_width = spark.conf.get(key)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        return [w.start() for w in writers]
    finally:
        spark.conf.set(key, batch_width)
