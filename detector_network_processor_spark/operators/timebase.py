"""Adaptive timebase / slowdown factor (SURVEY.md §2.7 W1-W3): the one
home of the three formulas, used by the batch calibration plans and by the
incremental clusterer's live horizon (streaming/incremental.py).

The reference's feedback loop (event-time span sampled every 2 s ->
timebase; per-station rate dip -> factor; product clamped to [2 s, 30 min]
group timeout) runs here as Spark expressions; the 2 s processing-time
sampling becomes tumbling 2 s event-time buckets.

- W1 (src/supervision/timebase.cpp:17-45): per 2 s bucket, observed span =
  max(start)-min(start), clamped to [800 ms, 2 min].
- W2 (src/analysis/detectorstation.cpp:127-135): per station per 30 s rate
  interval, factor = ((mean - cur)/sigma + 1)*2 when cur < mean - sigma
  over the trailing 10 intervals, else 1; cluster factor = max over
  reliable stations — here over all stations with enough history
  (reliability labeling composes upstream).
- W3 (src/messages/event.cpp:7-11): timeout = clamp(base*factor, 2 s, 30 min).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..constants import RATE_INTERVAL_NS

NS = 1_000_000_000
TIMEBASE_SAMPLE_NS = 2 * NS
TIMEBASE_MIN_NS = 800_000_000  # 800 ms
TIMEBASE_MAX_NS = 120 * NS  # 2 min
TIMEOUT_MIN_NS = 2 * NS
TIMEOUT_MAX_NS = 30 * 60 * NS
RATE_HISTORY = 10


def timebase_calibration(events: DataFrame) -> DataFrame:
    """W1: per 2 s sample bucket of ``start``, the clamped observed
    event-time span."""
    b = events.withColumn("bucket", F.expr(f"start div {TIMEBASE_SAMPLE_NS}"))
    return (
        b.groupBy("bucket")
        .agg((F.max("start") - F.min("start")).alias("span_ns"), F.count(F.lit(1)).alias("n_events"))
        .withColumn(
            "timebase_ns",
            F.greatest(F.lit(TIMEBASE_MIN_NS), F.least(F.lit(TIMEBASE_MAX_NS), F.col("span_ns"))),
        )
    )


def interval_counts(events: DataFrame) -> DataFrame:
    """W2 input: events per station (``hash``) per rate interval ``ivl``,
    as column ``c``."""
    b = events.withColumn("ivl", F.expr(f"start div {RATE_INTERVAL_NS}"))
    return b.groupBy("hash", "ivl").agg(F.count(F.lit(1)).alias("c"))


def dip_factor() -> tuple[F.Column, F.Column, F.Column]:
    """W2: (mean, sigma, factor) of the rate dip test cur < mean - sigma
    over each station's trailing ``RATE_HISTORY`` intervals of ``c``."""
    w = Window.partitionBy("hash").orderBy("ivl").rowsBetween(-RATE_HISTORY + 1, 0)
    mean = F.avg("c").over(w)
    # population stddev over the trailing window (matches the rate ring)
    sigma = F.sqrt(F.avg(F.col("c") * F.col("c")).over(w) - mean * mean)
    cur = F.col("c").cast("double")
    factor = F.when(
        (sigma > 0) & (cur < (mean - sigma)), ((mean - cur) / sigma + 1.0) * 2.0
    ).otherwise(F.lit(1.0))
    return mean, sigma, factor


def rate_factor(events: DataFrame) -> DataFrame:
    """W2: per station per interval, the slowdown factor (rounded)."""
    mean, sigma, factor = dip_factor()
    return interval_counts(events).select(
        "hash",
        "ivl",
        F.col("c").alias("n_events"),
        F.round(mean, 6).alias("mean_rate"),
        F.round(sigma, 6).alias("sigma_rate"),
        F.round(factor, 6).alias("factor"),
    )


def group_timeout(timebase_ns, factor) -> F.Column:
    """W3: clamp(timebase * factor, 2 s, 30 min) — grow-only per group is a
    property of the streaming state op, not of this pure function."""
    return F.greatest(
        F.lit(TIMEOUT_MIN_NS), F.least(F.lit(TIMEOUT_MAX_NS), (timebase_ns * factor).cast("long"))
    )
