"""Station analytics operators (SURVEY.md §2.6 A1-A5, §2.8).

- ``station_lifecycle``: distributed batch replay of the per-station state
  machine — ``applyInPandas`` keyed by station hash (each station's timeline
  is independent, so this partitions perfectly: the 100 TB story is "one
  shuffle by station key, then embarrassingly parallel replay").
- ``detector_summaries``: the A5 periodic per-station aggregate snapshot as
  a declarative window plan (tumbling interval + wrap-corrected counter
  deltas) — fully JVM-side, SQL-expressible, oracle-checked.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..config import python_stage_partitions
from ..constants import RATE_INTERVAL_NS
from .station_golden import replay_station

TRANSITION_SCHEMA = StructType(
    [
        StructField("hash", LongType()),
        StructField("ts", LongType()),
        StructField("status", StringType()),
        StructField("reason", StringType()),
    ]
)


def merge_station_records(logs: DataFrame, events: DataFrame | None = None) -> DataFrame:
    """Union logs + events into the canonical merged record shape consumed
    by both the batch replay and the streaming state operator."""
    log_part = logs.select(
        F.col("hash").cast("long"),
        F.col("ts").cast("long"),
        F.lit("log").alias("kind"),
        F.lit(0).cast("long").alias("end"),
        F.lit(0).cast("long").alias("time_acc"),
        F.lit(0).cast("long").alias("ublox_counter"),
        F.lit(0).cast("long").alias("fix"),
        F.col("dop").cast("double"),
        F.col("h_acc").cast("double"),
        F.col("v_acc").cast("double"),
    )
    merged = log_part
    if events is not None:
        ev_part = events.select(
            F.col("hash").cast("long"),
            F.col("start").cast("long").alias("ts"),
            F.lit("event").alias("kind"),
            F.col("end").cast("long"),
            F.col("time_acc").cast("long"),
            F.col("ublox_counter").cast("long"),
            F.col("fix").cast("long"),
            F.lit(0.0).alias("dop"),
            F.lit(0.0).alias("h_acc"),
            F.lit(0.0).alias("v_acc"),
        )
        merged = merged.unionByName(ev_part)
    return merged


def station_lifecycle(
    logs: DataFrame, events: DataFrame | None = None, end_of_data_ts: int | None = None
) -> DataFrame:
    """Replay the lifecycle state machine per station.

    logs:   (hash, ts, dop, h_acc, v_acc) detector_info stream (ns epoch)
    events: optional (hash, start, end, time_acc, ublox_counter, fix)
    Returns the status-transition stream (hash, ts, status, reason) — the
    trigger::detector analog (reference include/messages/trigger.h:13-19).
    """
    merged = merge_station_records(logs, events)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # canonical order: ts, then logs before events on ties
        pdf = pdf.sort_values(["ts", "kind"], kind="mergesort", ascending=[True, False])
        records = pdf.to_dict("records")
        out = replay_station(records, end_of_data_ts=end_of_data_ts)
        return pd.DataFrame(out, columns=["hash", "ts", "status", "reason"])

    # Pin the shuffle width: the replay is CPU-bound Python, but AQE
    # coalesces the groupBy exchange by BYTES (~tens of MB -> 1-2
    # partitions), serializing all stations onto one worker (measured 2x+
    # wall cost). An explicit user repartition on the same key is exempt
    # from AQE coalescing and satisfies the groupBy's distribution, so no
    # second exchange is added.
    n_part = python_stage_partitions(merged.sparkSession)
    return merged.repartition(n_part, "hash").groupBy("hash").applyInPandas(
        kernel, TRANSITION_SCHEMA
    )


def detector_summaries(
    events: DataFrame,
    interval: int | None = None,
    sub_interval: int = RATE_INTERVAL_NS,
    cfg=None,
) -> DataFrame:
    """A5 snapshot per station per tumbling interval (reference
    src/supervision/station.cpp:89-102, detectorstation.cpp:138-156).

    ``interval``/``sub_interval`` are in the unit of ``start`` (ns by
    default, matching the reference's 120 s summary / 30 s rate intervals).
    ``interval`` defaults to ``cfg.detectorsummary_interval_s`` seconds
    (an ``EngineConfig``; the reference's `detectorsummary_interval` file
    key, configuration.cpp:58) or the reference default of 120 s.

    Batch canonical divergences (documented, SURVEY.md §7.3): the K-sample
    ring statistics (pulselength/time_acc) become exact per-interval
    statistics; the 10x30s rate window becomes the interval's own
    sub-bucket population statistics.

    events: (hash, start, end, time_acc, ublox_counter)
    """
    if interval is None:
        interval = (cfg.detectorsummary_interval_s if cfg is not None else 120) * 10**9
    w = Window.partitionBy("hash").orderBy("start", "ublox_counter", "end")
    ev = events.select(
        "hash",
        F.col("start").cast("long"),
        F.col("end").cast("long"),
        F.col("time_acc").cast("long"),
        F.col("ublox_counter").cast("long"),
    ).withColumn("prev_ublox", F.lag("ublox_counter").over(w))
    delta = (
        F.when(F.col("prev_ublox").isNull(), F.lit(0))
        .when(
            F.col("ublox_counter") <= F.col("prev_ublox"),
            F.col("ublox_counter") + (65535 - F.col("prev_ublox")),
        )
        .otherwise(F.col("ublox_counter") - F.col("prev_ublox"))
    )
    pulse = F.col("end") - F.col("start")
    enriched = ev.select(
        "hash",
        F.expr(f"start div {interval}").alias("win"),
        delta.alias("delta"),
        pulse.alias("pulse"),
        F.col("time_acc"),
        F.expr(f"start div {sub_interval}").alias("sub"),
    )
    n_sub = interval // sub_interval
    # population stats over the interval's 30 s sub-buckets, zero-filled
    # implicitly: absent buckets contribute 0 to both sum and sum of squares.
    per_sub = enriched.groupBy("hash", "win", "sub").agg(F.count(F.lit(1)).alias("c"))
    rate = per_sub.groupBy("hash", "win").agg(
        (F.sum("c") / n_sub).alias("rate_mean_raw"),
        # (x*x, not pow(x,2) — Math.pow can differ by 1 ulp from plain
        # multiplication, which matters for oracle hash-matching)
        F.sqrt(
            F.sum(F.col("c") * F.col("c")) / n_sub - (F.sum("c") / n_sub) * (F.sum("c") / n_sub)
        ).alias("rate_std_raw"),
    )
    base = enriched.groupBy("hash", "win").agg(
        F.count(F.lit(1)).alias("incoming"),
        F.sum("delta").alias("ublox_counter_progress"),
        F.round(F.avg(F.when((F.col("pulse") > 0) & (F.col("pulse") < 1_000_000), F.col("pulse"))), 6).alias(
            "mean_pulselength"
        ),
        F.round(F.avg("time_acc"), 6).alias("mean_time_acc"),
    )
    return (
        base.join(rate, ["hash", "win"])
        .select(
            "hash",
            "win",
            "incoming",
            "ublox_counter_progress",
            F.when(F.col("ublox_counter_progress") == 0, F.lit(1.0))
            .otherwise(1.0 - F.col("incoming") / F.col("ublox_counter_progress"))
            .alias("deadtime_raw"),
            "mean_pulselength",
            "mean_time_acc",
            "rate_mean_raw",
            "rate_std_raw",
        )
        .withColumn("deadtime", F.round("deadtime_raw", 6))
        .withColumn("rate_mean", F.round("rate_mean_raw", 6))
        .withColumn("rate_std", F.round("rate_std_raw", 6))
        .drop("deadtime_raw", "rate_mean_raw", "rate_std_raw")
    )
