"""Sinks (SURVEY.md §2.9). The engine's canonical sink is the ``stream``
command's append-mode parquet file sink with a checkpoint (K4/K5 analog,
``__main__._cmd_stream``); the MQTT/InfluxDB network links are
peripheral per the north star (BASELINE.json) and are modeled as line/point
FORMATTERS (pure column expressions, oracle-testable) that any transport
callback can drain.

- K1 text line format (include/sink/mqtt.h:146-184): one line per
  constituent of each n>=2 coincidence, uuid from (hash, start), relative
  times.
- K2 InfluxDB line protocol (include/sink/database.h:134-165): measurement
  L1Event, one point per constituent, timestamped at the constituent start.
- K4 histogram files (src/analysis/stationcoincidence.cpp:111-212) ->
  partitioned parquet writer + the same content as csv lines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# the columns the formatters read, fixed by the reference's message fields
# (include/sink/mqtt.h:98-221, include/sink/database.h:56-190)
USER = "user"
STATION_ID = "station_id"
TS_US = "ts_us"  # event time, µs epoch
TS_NS = "ts"  # transition time, ns epoch
NAME = "name"
VALUE = "value"


def l1_text_lines(l1_flat: DataFrame) -> DataFrame:
    """K1: space-separated text lines from the flattened L1 table
    (operators/coincidence.l1_flatten output)."""
    return l1_flat.select(
        F.concat_ws(
            " ",
            F.col("uuid"),
            F.col("pos"),
            F.col("n"),
            (F.col("start") - F.col("group_start")).alias("rel_start"),
            (F.col("end") - F.col("group_start")),
            F.col("hash"),
            F.col("time_acc"),
            F.col("conflicting").cast("int"),
            F.col("true_e"),
        ).alias("line")
    )


def l1_influx_points(l1_flat: DataFrame) -> DataFrame:
    """K2: InfluxDB line-protocol points, one per constituent, timestamped
    at the constituent start (ns)."""
    return l1_flat.select(
        F.concat(
            F.lit("L1Event,hash="),
            F.col("hash"),
            F.lit(" uuid=\""),
            F.col("uuid"),
            F.lit("\",n="),
            F.col("n"),
            F.lit("i,true_e="),
            F.col("true_e"),
            F.lit("i,conflicting="),
            F.col("conflicting").cast("int"),
            F.lit("i,time_acc="),
            F.col("time_acc"),
            F.lit("i "),
            F.col("start"),
        ).alias("point")
    )


def save_histograms(hist: DataFrame, path: str) -> None:
    """A8: periodic histogram dump — partitioned by pair for selective
    reads; the offline merge job (operators/histogram.merge_histograms)
    reads these back."""
    hist.write.mode("overwrite").partitionBy("hash_lo").parquet(path)


# --------------------------------------------------------------------------
# Non-L1 message formatters (K1 text / K2 Influx line protocol)
#
# The reference formats four more message types besides the L1 event stream:
# detector_summary_t, cluster_log_t, trigger::detector and detector_log_t,
# for MQTT text (include/sink/mqtt.h:98-221) and InfluxDB
# (include/sink/database.h:56-133,167-190). All formatters below are pure
# column expressions (map-only, whole-stage-codegen, no shuffle): at any
# scale they pipeline into whatever transport drains them.
#
# Determinism note: the reference stamps these lines with wall-clock now();
# the formatters instead take an event-time column (the summary window /
# transition time), which is what makes them replayable and oracle-testable.
# --------------------------------------------------------------------------

_TS_FMT = "yyyy-MM-dd_HH-mm-ss"  # std::put_time "%F_%H-%M-%S" (UTC)


def _fmt_ts(ts_us):
    """µs epoch -> the reference's gmtime %F_%H-%M-%S string (UTC session)."""
    return F.date_format(F.timestamp_micros(ts_us.cast("long")), _TS_FMT)


# detector_summary publish order + K1 names (mqtt.h:137-145 — the reference
# misspells 'ublox_counter_progess' in the MQTT sink; preserved verbatim) vs
# K2 field names (database.h:99-109 — correctly spelled there).
SUMMARY_METRICS = [
    # (mqtt_name, influx_name, source_col, is_int)
    ("eventrate", "eventrate", "rate_mean", False),
    ("eventrate_stddev", "eventrate_stddev", "rate_std", False),
    ("time_acc", "time_acc", "mean_time_acc", False),
    ("pulselength", "pulselength", "mean_pulselength", False),
    ("incoming", "incoming", "incoming", True),
    ("ublox_counter_progess", "ublox_counter_progress", "ublox_counter_progress", True),
    ("deadtime_factor", "deadtime_factor", "deadtime", False),
]


def _num(col, is_int: bool):
    """Deterministic cross-engine numeric rendering: %d for integers,
    %.6f (C-printf, identical in Java Formatter and DuckDB printf for
    binary doubles — decimal ties are never exactly representable) for
    floats; NULL (e.g. pulselength with no valid pulses) prints 0."""
    if is_int:
        return F.format_string("%d", F.coalesce(col.cast("long"), F.lit(0)))
    return F.format_string("%.6f", F.coalesce(col.cast("double"), F.lit(0.0)))


def summary_text_lines(summary: DataFrame) -> DataFrame:
    """K1 detector_summary text lines (mqtt.h:128-146): one line per metric,
    '<time> <user> <station> <metric> <value>', in the reference's publish
    order. Returns (hash, win, idx, line); idx = publish position."""
    entries = F.array(*[
        F.struct(
            F.lit(i).alias("idx"),
            F.concat_ws(
                " ",
                _fmt_ts(F.col(TS_US)),
                F.col(USER),
                F.col(STATION_ID),
                F.lit(mq_name),
                _num(F.col(src), is_int),
            ).alias("line"),
        )
        for i, (mq_name, _ix_name, src, is_int) in enumerate(SUMMARY_METRICS)
    ])
    return summary.select(
        "hash", "win", F.explode(entries).alias("e")
    ).select("hash", "win", F.col("e.idx").alias("idx"), F.col("e.line").alias("line"))


def summary_influx_points(summary: DataFrame) -> DataFrame:
    """K2 detector_summary line-protocol points (database.h:95-113):
    measurement detector_summary, tags user/detector/site_id, the seven
    fields in reference order, ns timestamp. Returns (hash, win, point)."""
    fields = []
    for _mq, ix_name, src, is_int in SUMMARY_METRICS:
        val = F.concat(_num(F.col(src), is_int), F.lit("i")) if is_int \
            else _num(F.col(src), is_int)
        fields.append(F.concat(F.lit(ix_name + "="), val))
    return summary.select(
        "hash",
        "win",
        F.concat(
            F.lit("detector_summary,user="), F.col(USER),
            F.lit(",detector="), F.col(STATION_ID),
            F.lit(",site_id="), F.concat(F.col(USER), F.col(STATION_ID)),
            F.lit(" "),
            F.concat_ws(",", *fields),
            F.lit(" "),
            F.format_string("%d", (F.col(TS_US).cast("long") * 1000)),
        ).alias("point"),
    )


def trigger_text_lines(transitions: DataFrame) -> DataFrame:
    """K1 trigger::detector lines (mqtt.h:188-199): topic 'user/station',
    payload '<time %F_%H-%M-%S %Z> <status> <reason>' (gmtime %Z = 'GMT').
    Returns (hash, ts, topic, line)."""
    return transitions.select(
        "hash",
        F.col(TS_NS).alias("ts"),
        F.concat_ws("/", F.col(USER), F.col(STATION_ID)).alias("topic"),
        F.concat_ws(
            " ",
            # integer div: float /1000 on ~1e18 ns epochs loses sub-µs bits
            F.concat(_fmt_ts(F.expr(f"`{TS_NS}` div 1000")), F.lit(" GMT")),
            F.col("status"),
            F.col("reason"),
        ).alias("line"),
    )


def trigger_influx_points(transitions: DataFrame) -> DataFrame:
    """K2 trigger points (database.h:117-133): measurement trigger, string
    fields type/reason (quoted), ns timestamp."""
    return transitions.select(
        "hash",
        F.col(TS_NS).alias("ts"),
        F.concat(
            F.lit("trigger,user="), F.col(USER),
            F.lit(",detector="), F.col(STATION_ID),
            F.lit(",site_id="), F.concat(F.col(USER), F.col(STATION_ID)),
            F.lit(' type="'), F.col("status"),
            F.lit('",reason="'), F.col("reason"),
            F.lit('" '),
            F.format_string("%d", F.col(TS_NS).cast("long")),
        ).alias("point"),
    )


def detector_log_text_lines(eav: DataFrame) -> DataFrame:
    """K1 detector_log_t lines (mqtt.h:201-221): topic 'user/station',
    payload '<time> <name> <value>', one line per EAV item (the reference
    appends an item's unit; EAV rows carry none)."""
    return eav.select(
        F.concat_ws("/", F.col(USER), F.col(STATION_ID)).alias("topic"),
        F.concat_ws(" ", _fmt_ts(F.col(TS_US)), F.col(NAME), F.col(VALUE)).alias("line"),
    )


def _influx_typed_value():
    """detector_log items are typed Double/Int/String in the reference
    (detectorlog.h item::Type); EAV fixtures carry strings, so type is
    recovered syntactically: pure integer -> 'i' suffix, decimal -> plain
    float, anything else -> quoted string (line-protocol escaping of '"')."""
    v = F.col(VALUE)
    return (
        F.when(v.rlike(r"^-?\d+$"), F.concat(v, F.lit("i")))
        .when(v.rlike(r"^-?\d+\.\d+([eE][+-]?\d+)?$"), v)
        .otherwise(F.concat(F.lit('"'), F.regexp_replace(v, '"', '\\\\"'), F.lit('"')))
    )


def detector_log_influx_points(eav: DataFrame, key_cols: list[str]) -> DataFrame:
    """K2 detector_log points (database.h:167-190): ONE point per log
    assembly — all items of a (user, station, window) group become fields of
    a single measurement row (name=value, typed), sorted by name for
    deterministic field order. Aggregation is a plain hash groupBy on the
    log key: partial-aggregated map-side, scale-safe."""
    item = F.concat(F.col(NAME), F.lit("="), _influx_typed_value())
    return (
        eav.groupBy(*key_cols)
        .agg(
            F.first(F.col(USER)).alias("_u"),
            F.first(F.col(STATION_ID)).alias("_s"),
            F.min(F.col(TS_US)).alias("_ts"),
            F.concat_ws(",", F.sort_array(F.collect_list(item))).alias("_fields"),
        )
        .select(
            *key_cols,
            F.concat(
                F.lit("detector_log,user="), F.col("_u"),
                F.lit(",detector="), F.col("_s"),
                F.lit(",site_id="), F.concat(F.col("_u"), F.col("_s")),
                F.lit(" "), F.col("_fields"), F.lit(" "),
                F.format_string("%d", F.col("_ts").cast("long") * 1000),
            ).alias("point"),
        )
    )


# cluster_log_t publish order (mqtt.h:98-126); fields absent from the batch
# data plane (version/timeout/timebase/uptime/buffer_length/detector counts/
# cpu/mem) come from the monitor listener or config and enter as `statics`.
CLUSTER_LOG_METRICS = [
    # (mqtt_name, influx_name, source_col, is_int)
    ("frequency_in", "frequency_in", "in_rate_hz", False),
    ("frequency_l1_out", "frequency_l1_out", "out_rate_hz", False),
    ("max_coincidences", "max_multiplicity", "max_n", True),
    ("plausibility_level", "plausibility_level", "mean_plausibility", False),
    ("incoming", "incoming", "single_in", True),
]

_OUTGOING_SCHEMA = "array<struct<n:int,cnt:bigint>>"


def cluster_log_text_lines(clog: DataFrame, statics: dict | None = None) -> DataFrame:
    """K1 cluster_log_t lines (mqtt.h:98-126): '<time> <metric> <value>'
    per metric, plus 'outgoing_<level>' per coincidence level != 1 (the
    reference skips level 1). ``statics`` supplies the host-side fields
    (version, timeout, uptime, ...) as literal strings, published first in
    the order given. Returns (window, metric, line)."""
    stat_entries = [
        F.struct(F.lit(k).alias("metric"),
                 F.concat_ws(" ", _fmt_ts(F.col(TS_US)), F.lit(k), F.lit(str(v))).alias("line"))
        for k, v in (statics or {}).items()
    ]
    metric_entries = [
        F.struct(F.lit(mq).alias("metric"),
                 F.concat_ws(" ", _fmt_ts(F.col(TS_US)), F.lit(mq),
                             _num(F.col(src), is_int)).alias("line"))
        for mq, _ix, src, is_int in CLUSTER_LOG_METRICS
    ]
    base = clog.withColumn("_out", F.from_json("outgoing", _OUTGOING_SCHEMA))
    outgoing_entries = F.transform(
        F.filter(F.col("_out"), lambda o: o["n"] != 1),
        lambda o: F.struct(
            F.concat(F.lit("outgoing_"), o["n"].cast("string")).alias("metric"),
            F.concat_ws(
                " ", _fmt_ts(F.col(TS_US)),
                F.concat(F.lit("outgoing_"), o["n"].cast("string")),
                F.format_string("%d", o["cnt"]),
            ).alias("line"),
        ),
    )
    all_entries = F.concat(F.array(*stat_entries, *metric_entries), outgoing_entries) \
        if (stat_entries or metric_entries) else outgoing_entries
    return base.select("window", F.explode(all_entries).alias("e")).select(
        "window", F.col("e.metric").alias("metric"), F.col("e.line").alias("line")
    )


def cluster_log_influx_points(clog: DataFrame, cluster_id: str = "cluster",
                              statics: dict | None = None) -> DataFrame:
    """K2 cluster_summary points (database.h:56-92): measurement
    cluster_summary, tag cluster_id, dynamic fields + outgoing<level> per
    level != 1 + their total as 'outgoing' (level 1 excluded from the sum,
    database.h:79-87). Static host-side fields come first via ``statics``
    (strings are quoted, ints get the 'i' suffix)."""
    static_fields = []
    for k, v in (statics or {}).items():
        if isinstance(v, bool):
            static_fields.append(F.lit(f"{k}={'true' if v else 'false'}"))
        elif isinstance(v, int):
            static_fields.append(F.lit(f"{k}={v}i"))
        elif isinstance(v, float):
            static_fields.append(F.lit(f"{k}={v:.6f}"))
        else:
            static_fields.append(F.lit(f'{k}="{v}"'))
    dyn_fields = [
        F.concat(F.lit(ix + "="), _num(F.col(src), is_int), F.lit("i" if is_int else ""))
        for _mq, ix, src, is_int in CLUSTER_LOG_METRICS
    ]
    base = clog.withColumn("_out", F.from_json("outgoing", _OUTGOING_SCHEMA))
    lvl = F.filter(F.col("_out"), lambda o: o["n"] != 1)
    outgoing_fields = F.concat_ws(
        ",",
        F.transform(lvl, lambda o: F.concat(
            F.lit("outgoing"), o["n"].cast("string"), F.lit("="),
            F.format_string("%d", o["cnt"]), F.lit("i"))),
    )
    total = F.aggregate(lvl, F.lit(0).cast("bigint"), lambda acc, o: acc + o["cnt"])
    return base.select(
        "window",
        F.concat(
            F.lit(f"cluster_summary,cluster_id={cluster_id} "),
            F.concat_ws(",", *static_fields, *dyn_fields,
                        F.when(F.size(lvl) > 0, outgoing_fields),
                        F.concat(F.lit("outgoing="), F.format_string("%d", total), F.lit("i"))),
            F.lit(" "),
            F.format_string("%d", F.col(TS_US).cast("long") * 1000),
        ).alias("point"),
    )
