"""MQTT line-protocol parsers (SURVEY.md §2.1 S2/S6/S7) as pure column
transforms — the same function parses a batch DataFrame of captured lines
and a streaming DataFrame from any line-delivering source (Kafka value
column, file stream, socket). The MQTT client itself is peripheral
(BASELINE.json north star); everything engine-side starts at (topic,
payload) strings.

Validation replicated from the reference:
- topic parts >= 4, payload fields >= 2; username (topic[2]) non-empty and
  not 'cluster' (include/source/mqtt.h:391-396)
- event payload (S2, include/source/mqtt.h:214-247): both timestamp fields
  >= 17 chars and not starting with '.', numeric casts, start <= end
- timestamps parsed as DECIMAL(30,9) seconds * 1e9 -> int64 ns: a double
  round-trip would lose nanosecond precision (the reference uses long
  double for the same reason)
- station key = xxhash64(username || '/' || station_id) — the engine's
  stable analog of std::hash over site_id (include/messages/userinfo.h:22)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def split_topic_payload(df: DataFrame) -> DataFrame:
    t = F.split(F.col("topic"), "/")
    c = F.split(F.col("payload"), " ")
    out = df.withColumn("_t", t).withColumn("_c", c)
    out = out.filter(
        (F.size("_t") >= 4)
        & (F.size("_c") >= 2)
        & (F.col("_t")[2] != "")
        & (F.col("_t")[2] != "cluster")
    )
    return out.withColumn("username", F.col("_t")[2]).withColumn(
        "station_id", F.concat_ws("/", F.slice("_t", 4, F.size("_t") - 3))
    ).withColumn("hash", F.xxhash64(F.concat_ws("/", "username", "station_id")))


def parse_events(df: DataFrame) -> DataFrame:
    """S2: raw single-hit payloads `start end time_acc ublox fix gnss utc`
    (seconds with 9 decimals). Malformed rows are dropped, exactly like the
    reference's Error path."""
    base = split_topic_payload(df).filter(F.size("_c") >= 7)
    f = lambda i: F.col("_c")[i]  # noqa: E731
    # try_cast: malformed numerics become NULL and are filtered — the
    # reference's catch -> Error path (ANSI mode would throw otherwise)
    ns = lambda col: (col.try_cast("decimal(30,9)") * 1_000_000_000).try_cast("long")  # noqa: E731
    parsed = (
        base.filter(
            (F.length(f(0)) >= 17)
            & (F.length(f(1)) >= 17)
            & (F.substring(f(0), 1, 1) != ".")
            & (F.substring(f(1), 1, 1) != ".")
        )
        .withColumn("start", ns(f(0)))
        .withColumn("end", ns(f(1)))
        .withColumn("time_acc", f(2).try_cast("int"))
        .withColumn("ublox_counter", f(3).try_cast("int"))
        .withColumn("fix", f(4).try_cast("int"))
        .withColumn("gnss_time_grid", f(5).try_cast("int"))
        .withColumn("utc", f(6).try_cast("int"))
    )
    return (
        parsed.filter(
            F.col("start").isNotNull()
            & F.col("end").isNotNull()
            & F.col("time_acc").isNotNull()
            & F.col("ublox_counter").isNotNull()
            & F.col("fix").isNotNull()
            & (F.col("start") <= F.col("end"))
        )
        .select(
            "hash",
            "username",
            "station_id",
            "start",
            "end",
            "time_acc",
            "ublox_counter",
            "fix",
            "gnss_time_grid",
            "utc",
        )
    )
