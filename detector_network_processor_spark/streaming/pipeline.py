"""End-to-end streaming main path (SURVEY.md §3.1 / §3.4):

    line source -> S2 parse -> F1 quality gate -> J1 station enrichment
    (broadcast) -> §2.5 coincidence clustering -> F4/K1 flatten

as ONE composable function over a streaming (topic, payload) DataFrame —
the engine's equivalent of the reference's whole `application::priv_run`
wiring (src/application.cpp:68-250), minus the transport clients.

Each stage is the same column-transform/operator used in batch; the only
streaming-specific piece is the session-window clustering. Catalyst plans
the parse+filter+join stages into the micro-batch's codegen stage; the
broadcast station dimension refreshes per batch when backed by a snapshot
table.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..constants import MAX_TIMING_ERROR_NS
from ..sources.lines import parse_events
from .coincidence import stream_cluster_coincidences

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark: SparkSession) -> None:
    """Switch stateful streaming to the RocksDB state store — the
    production backend at scale: state lives off-heap/on-disk per
    executor instead of in the JVM heap (the default HDFS-backed provider
    keeps every version of every key in memory, which caps state size at
    executor heap). Changelog checkpointing uploads per-batch deltas
    rather than full snapshots, shrinking commit latency for large state.
    Applies to queries STARTED after this call (provider is fixed at
    query start and persisted in the checkpoint)."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")


def stream_main_path(
    lines: DataFrame,
    stations: DataFrame,
    criterion: str = "physics",
    watermark_ns: int = 10_000_000_000,
) -> DataFrame:
    """lines: streaming (topic, payload); stations: static/batch dimension
    (hash, lat, lon, h). Returns the streaming L1 table (n>=2 flattening is
    the caller's sink projection — operators.coincidence.l1_flatten)."""
    events = parse_events(lines)
    # F1 quality gate (reference src/analysis/detectorstation.cpp:31-62)
    gated = events.filter(
        (F.col("time_acc") <= int(MAX_TIMING_ERROR_NS)) & (F.col("fix") == 1)
    )
    # J1 enrichment: broadcast the small station dimension
    enriched = gated.join(
        F.broadcast(stations.select("hash", "lat", "lon", "h")), "hash", "inner"
    )
    return stream_cluster_coincidences(enriched, criterion=criterion, watermark_ns=watermark_ns)


def stream_monitoring_path(
    lines: DataFrame,
    stations: DataFrame,
    interval_ns: int = 120 * 10**9,
    output: str = "text",
) -> DataFrame:
    """The reference's MONITORING wiring (src/application.cpp:141-176:
    station supervision feeding the detector_summary sinks), end to end as
    one streaming plan:

        line source -> S2 parse -> per-station windowed summaries
        (stream_detector_summaries, exact batch arithmetic) -> K1 text
        lines or K2 Influx points (streaming/sinks.py formatters)

    ``stations`` is the (hash, user, station_id) identity dimension for
    the formatter's topic/tag fields — broadcast per micro-batch.
    ``output``: 'text' -> (hash, win, idx, line); 'influx' -> (hash, win,
    point); 'summary' -> the raw summary stream. Any transport adapter
    (mqtt_foreach_batch / influx_foreach_batch) drains the result."""
    from .sinks import summary_influx_points, summary_text_lines
    from .station import stream_detector_summaries

    events = parse_events(lines)
    summaries = stream_detector_summaries(
        events.select("hash", "start", "end", "time_acc", "ublox_counter"),
        interval=interval_ns,
    )
    if output == "summary":
        return summaries
    enriched = summaries.join(
        F.broadcast(stations.select("hash", "user", "station_id")), "hash"
    ).withColumn("ts_us", F.expr(f"win * {interval_ns} div 1000"))
    if output == "influx":
        return summary_influx_points(enriched)
    return summary_text_lines(enriched)
