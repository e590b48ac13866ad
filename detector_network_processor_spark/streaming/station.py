"""Streaming station lifecycle state machine (SURVEY.md §2.8) via
``applyInPandasWithState`` keyed by station hash.

The per-record semantics are byte-identical to the batch replay — both call
``station_golden.replay_records``; the streaming wrapper only adds state
(de)serialization to the Spark state store. Records must arrive per-station
time-ordered across micro-batches (within a batch they are sorted); an
event-time watermark upstream is the caller's tool to bound disorder.

No processing-time timeout is registered: the reference's gap timers are
event-time here (they fire on the next record's timestamp — the batch
canonical semantics). A deployment that needs "goes offline with no traffic
at all" alerts can set ProcessingTimeTimeout and call state.step(now) in
the timeout branch; that reintroduces wall-clock nondeterminism, so it is
off by default.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..constants import RATE_INTERVAL_NS
from ..operators.station import TRANSITION_SCHEMA
from ..operators.station_golden import replay_records, state_from_row, state_to_row

STATE_SCHEMA = StructType(
    [
        StructField("hash", LongType()),
        StructField("status", IntegerType()),
        StructField("last_log", LongType()),
        StructField("dop", DoubleType()),
        StructField("h_acc", DoubleType()),
        StructField("v_acc", DoubleType()),
        StructField("initial", BooleanType()),
        StructField("last_ublox", IntegerType()),
        StructField("incoming", LongType()),
        StructField("ublox_progress", LongType()),
        StructField("cur_slots", ArrayType(DoubleType())),
        StructField("cur_counter", LongType()),
        StructField("cur_interval_start", LongType()),
        StructField("mean_slots", ArrayType(DoubleType())),
        StructField("mean_counter", LongType()),
        StructField("mean_interval_start", LongType()),
        StructField("pulse_buf", ArrayType(DoubleType())),
        StructField("time_acc_buf", ArrayType(DoubleType())),
        StructField("rel_time_acc_buf", ArrayType(DoubleType())),
        StructField("factor", DoubleType()),
        StructField("status_ts", LongType()),
    ]
)


def _update(key, pdfs, state: GroupState):
    prior = state_from_row(state.get) if state.exists else None
    frames = [pdf for pdf in pdfs if len(pdf)]
    transitions: list[dict] = []
    if frames:
        pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
        pdf = pdf.sort_values(["ts", "kind"], kind="mergesort", ascending=[True, False])
        transitions, new_state = replay_records(pdf.to_dict("records"), prior)
        row = state_to_row(new_state)
        if row is not None:
            state.update(row)
    yield pd.DataFrame(transitions, columns=["hash", "ts", "status", "reason"])


def stream_station_lifecycle(merged: DataFrame) -> DataFrame:
    """merged: streaming DataFrame with the batch operator's merged-record
    shape (hash, ts, kind, end, time_acc, ublox_counter, fix, dop, h_acc,
    v_acc). Returns the append-mode transition stream."""
    return merged.groupBy("hash").applyInPandasWithState(
        _update,
        outputStructType=TRANSITION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming detector summaries (A5, reference src/supervision/station.cpp
# :89-102 emits one summary per station per interval). Event-time windowed
# state per station; a window EMITS when the first record of a LATER
# window arrives for that station — the batch-canonical close (same rule
# the lifecycle stream uses for its timers). Tail windows flush when the
# caller sends an end-of-stream sentinel or stops the query.
# --------------------------------------------------------------------------

SUMMARY_OUT_SCHEMA = StructType(
    [
        StructField("hash", LongType()),
        StructField("win", LongType()),
        StructField("incoming", LongType()),
        StructField("ublox_counter_progress", LongType()),
        StructField("deadtime", DoubleType()),
        StructField("mean_pulselength", DoubleType()),
        StructField("mean_time_acc", DoubleType()),
        StructField("rate_mean", DoubleType()),
        StructField("rate_std", DoubleType()),
    ]
)

SUMMARY_STATE_SCHEMA = StructType(
    [
        StructField("last_ublox", LongType()),  # carries across windows (batch lag does too)
        StructField("win", LongType()),
        StructField("incoming", LongType()),
        StructField("progress", LongType()),
        StructField("pulse_sum", LongType()),
        StructField("pulse_n", LongType()),
        StructField("acc_sum", LongType()),
        StructField("sub_keys", ArrayType(LongType())),
        StructField("sub_counts", ArrayType(LongType())),
    ]
)


def _round6(x: float) -> float:
    """Spark F.round semantics for doubles: exact-binary-value HALF_UP at
    scale 6 (java BigDecimal(double).setScale(6, HALF_UP)); Python's
    built-in round() is half-even and would diverge on exact halves."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _summary_update_factory(interval: int):
    n_sub = interval // RATE_INTERVAL_NS

    def close(hash_, win, inc, prog, pulse_sum, pulse_n, acc_sum, subs):
        deadtime = 1.0 if prog == 0 else _round6(1.0 - inc / prog)
        mean_pulse = _round6(pulse_sum / pulse_n) if pulse_n else None
        mean_acc = _round6(acc_sum / inc)
        s1 = sum(subs.values())
        s2 = sum(c * c for c in subs.values())
        mean = s1 / n_sub
        rate_std = _round6((s2 / n_sub - mean * mean) ** 0.5)
        return (hash_, win, inc, prog, deadtime, mean_pulse, mean_acc, _round6(mean), rate_std)

    def update(key, pdfs, state: GroupState):
        import pandas as pd  # noqa: F811 (worker-side import)

        (hash_,) = key
        if state.exists:
            (last_ublox, win, inc, prog, pulse_sum, pulse_n, acc_sum, sk, sc) = state.get
            subs = dict(zip(sk, sc))
        else:
            last_ublox, win = None, None
            inc = prog = pulse_sum = pulse_n = acc_sum = 0
            subs = {}
        out = []
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
            # batch window order: orderBy(start, ublox_counter, end)
            pdf = pdf.sort_values(["start", "ublox_counter", "end"], kind="mergesort")
            for start, end, time_acc, ublox in zip(
                pdf["start"], pdf["end"], pdf["time_acc"], pdf["ublox_counter"]
            ):
                start, end, time_acc, ublox = int(start), int(end), int(time_acc), int(ublox)
                w = start // interval
                if win is not None and w != win:
                    out.append(close(hash_, win, inc, prog, pulse_sum, pulse_n, acc_sum, subs))
                    inc = prog = pulse_sum = pulse_n = acc_sum = 0
                    subs = {}
                win = w
                if last_ublox is None:
                    delta = 0
                elif ublox <= last_ublox:
                    delta = ublox + (65535 - last_ublox)
                else:
                    delta = ublox - last_ublox
                last_ublox = ublox
                inc += 1
                prog += delta
                pulse = end - start
                if 0 < pulse < 1_000_000:
                    pulse_sum += pulse
                    pulse_n += 1
                acc_sum += time_acc
                sub = start // RATE_INTERVAL_NS
                subs[sub] = subs.get(sub, 0) + 1
        state.update(
            (
                last_ublox,
                win,
                inc,
                prog,
                pulse_sum,
                pulse_n,
                acc_sum,
                list(subs.keys()),
                list(subs.values()),
            )
        )
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in SUMMARY_OUT_SCHEMA.fields])

    return update


def stream_detector_summaries(events: DataFrame, interval: int = 120 * 10**9) -> DataFrame:
    """Streaming A5: events (hash, start, end, time_acc, ublox_counter) ->
    append-mode summary stream with the batch operator's exact columns and
    arithmetic (integer accumulators; Spark-HALF_UP rounding). State per
    station is O(1) + the open window's sub-bucket map."""
    return events.select("hash", "start", "end", "time_acc", "ublox_counter").groupBy(
        "hash"
    ).applyInPandasWithState(
        _summary_update_factory(interval),
        outputStructType=SUMMARY_OUT_SCHEMA,
        stateStructType=SUMMARY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
