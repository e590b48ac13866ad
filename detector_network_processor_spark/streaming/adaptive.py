"""Streaming W1-W3 adaptive-timeout feedback loop (SURVEY.md §2.7).

The reference wires supervision::timebase + the per-station rate-dip
factor back into the coincidence filter's group timeout
(src/supervision/timebase.cpp:17-45, src/supervision/station.cpp:66-82,
src/messages/event.cpp:7-11): when station rates dip, groups stay open
longer. Round 1 shipped this as a batch calibration only; here the same
three computations run INSIDE the incremental micro-batch loop and feed
the next increment's horizon delay — a live feedback loop, Spark-first:

- W1 timebase: the observed event-time span of the increment's most
  recent 2 s sample bucket, clamped to [800 ms, 2 min] (the reference
  samples wall-clock 2 s windows and keeps the latest sample's span;
  event-time bucketing of the micro-batch is the deterministic analog).
- W2 factor: per-station event counts per 30 s interval are carried in a
  small parquet state (O(stations × history) rows — distributed, only
  scalars ever reach the driver), versioned by batch id like the
  incremental clusterer's open tail, so a foreachBatch replay of batch N
  re-reads the version batch N read and counts nothing twice; the dip test
  ``cur < mean - sigma  →  ((mean-cur)/sigma + 1) * 2`` runs over the
  trailing 10 intervals and the cluster-wide factor is the max.
- W3 timeout: ``clamp(timebase * factor, 2 s, 30 min)`` becomes the
  ``watermark_ns`` (horizon delay) of the NEXT increment: a rate dip
  widens the horizon, keeping open groups around longer — the same
  observable behavior as the reference's grow-only group timeout, applied
  per-increment instead of per-group (divergence documented in
  SURVEY.md §7.3).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.timebase import (
    NS,
    TIMEBASE_MAX_NS,
    TIMEBASE_MIN_NS,
    TIMEBASE_SAMPLE_NS,
    TIMEOUT_MAX_NS,
    TIMEOUT_MIN_NS,
)
from .incremental import _prune_versions, _state_versions, _version_dir, process_increment

RATE_INTERVAL_NS = 30 * NS
RATE_HISTORY = 10


class AdaptiveTimeoutController:
    """Per-micro-batch W1-W3 evaluation with carried rate state.

    ``update(batch, batch_id)`` ingests one increment's rows (needs
    ``hash`` and ``start`` in ns) and returns the group-timeout/horizon
    delay in ns for the next increment. All per-station work is
    distributed; exactly two scalars (span, max factor) are collected per
    call. The rate table is read from the newest version below
    ``batch_id`` and written as version ``batch_id``, so replaying a batch
    id gives the same factor. ``timeout_ns`` itself lives in driver memory
    and starts again from ``TIMEOUT_MIN_NS`` in a new controller.
    """

    def __init__(self, spark: SparkSession, state_path: str):
        self.spark = spark
        self.state_path = state_path
        self.timeout_ns: int = TIMEOUT_MIN_NS
        self.last_timebase_ns: int | None = None
        self.last_factor: float | None = None

    def update(self, batch: DataFrame, batch_id: int) -> int:
        spark = self.spark
        # W1: span of the most recent 2 s sample bucket in this increment
        # (timebase.cpp:17-45 keeps the latest sample's observed span)
        span_row = (
            batch.groupBy(F.expr(f"start div {TIMEBASE_SAMPLE_NS}").alias("b"))
            .agg((F.max("start") - F.min("start")).alias("span"))
            .orderBy(F.desc("b"))
            .limit(1)
            .collect()
        )
        if not span_row:
            return self.timeout_ns
        timebase_ns = min(TIMEBASE_MAX_NS, max(TIMEBASE_MIN_NS, int(span_row[0]["span"])))

        # W2: fold this increment's per-station interval counts into the
        # rate table version it follows, prune to the trailing history window
        counts = batch.groupBy(
            "hash", F.expr(f"start div {RATE_INTERVAL_NS}").alias("ivl")
        ).agg(F.count(F.lit(1)).alias("c"))
        prior = [v for v in _state_versions(self.state_path) if v < batch_id]
        if prior:
            counts = counts.unionByName(
                spark.read.parquet(_version_dir(self.state_path, prior[-1]))
            )
        merged = counts.groupBy("hash", "ivl").agg(F.sum("c").alias("c"))
        max_ivl = merged.agg(F.max("ivl")).collect()[0][0]
        merged = merged.filter(F.col("ivl") > max_ivl - RATE_HISTORY).persist()

        w = Window.partitionBy("hash").orderBy("ivl").rowsBetween(-RATE_HISTORY + 1, 0)
        mean = F.avg("c").over(w)
        sigma = F.sqrt(F.avg(F.col("c") * F.col("c")).over(w) - mean * mean)
        cur = F.col("c").cast("double")
        factor = F.when(
            (sigma > 0) & (cur < mean - sigma), ((mean - cur) / sigma + 1.0) * 2.0
        ).otherwise(F.lit(1.0))
        # cluster-wide factor = max over stations' CURRENT interval
        # (station.cpp:66-82 takes the max over its station map each tick)
        latest = merged.withColumn("factor", factor).withColumn(
            "rn", F.row_number().over(Window.partitionBy("hash").orderBy(F.desc("ivl")))
        )
        max_factor = (
            latest.filter(F.col("rn") == 1).agg(F.max("factor")).collect()[0][0] or 1.0
        )

        merged.write.mode("overwrite").parquet(_version_dir(self.state_path, batch_id))
        merged.unpersist()
        # keep the version this batch read, so a replay can re-read it
        _prune_versions(self.state_path, keep_from=prior[-1] if prior else batch_id)

        # W3
        self.last_timebase_ns, self.last_factor = timebase_ns, float(max_factor)
        self.timeout_ns = int(
            min(TIMEOUT_MAX_NS, max(TIMEOUT_MIN_NS, timebase_ns * float(max_factor)))
        )
        return self.timeout_ns


def adaptive_incremental_cluster_query(
    events: DataFrame,
    out_path: str,
    state_path: str,
    checkpoint_dir: str,
    criterion: str = "physics",
    gap_ns: int | None = None,
):
    """The incremental clusterer with the live W1-W3 loop: each increment's
    horizon delay is the timeout computed from the PREVIOUS increments'
    rates — the Spark analog of timebase_t flowing back into
    coincidence_filter::get (src/analysis/coincidencefilter.cpp:28-33).

    Returns (DataStreamWriter, controller); the controller exposes the
    evolving timeout for inspection/telemetry."""
    spark = events.sparkSession
    controller = AdaptiveTimeoutController(spark, state_path + "_rates")

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        horizon_ns = controller.timeout_ns  # decided by prior increments
        process_increment(
            spark,
            batch_df,
            state_path,
            out_path,
            batch_id=batch_id,
            criterion=criterion,
            gap_ns=gap_ns,
            watermark_ns=horizon_ns,
        )
        controller.update(batch_df.select("hash", "start"), batch_id)

    writer = events.writeStream.foreachBatch(fb).option("checkpointLocation", checkpoint_dir)
    return writer, controller
