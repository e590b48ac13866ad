"""Pure-Python replay of the per-station detector lifecycle state machine
(SURVEY.md §2.8; reference src/analysis/detectorstation.cpp:31-156,
src/supervision/station.cpp:53-118).

Batch canonical semantics (documented divergences from the reference's
processing-time behavior, SURVEY.md §7.3):
- "now" is EVENT TIME: the replay clock advances to each record's timestamp;
  the reference's 100 ms wall-clock tick becomes "evaluate timers whenever
  the clock advances", and timer-driven transitions (unreliable at +90 s,
  offline at +270 s, deleted at +48 h after the last log) are emitted with
  their exact threshold timestamps, not the tick that noticed them.
- rate_measurement (libmuonpi, 10 intervals x 30 s) is modeled as a ring of
  10 interval rates (counts/30 s, zero-initialized), rolled on event-time
  interval boundaries; mean/stddev are population statistics over the 10
  slots. data_series(K) is a ring of the last K samples with population
  statistics over its current contents.

State transition rules replicated exactly:
- creation on first detector_info log -> status `created` (reference
  station.cpp:57-60, enable() at detectorstation.cpp:18-21)
- event with time_acc > 100 us -> unreliable(time_accuracy_extreme)
  (detectorstation.cpp:57-59)
- check_reliability() with +-15% hysteresis, checked in order
  location -> time -> rate (detectorstation.cpp:89-107)
- step(): gap > 90 s -> unreliable(missed_log_interval); > 270 s -> offline;
  > 48 h -> deleted (detectorstation.cpp:109-125)
- factor: ((mean - cur)/sigma + 1) * 2 when cur < mean - sigma else 1
  (detectorstation.cpp:127-135)
"""

from __future__ import annotations

import math
from collections import deque
from dataclasses import dataclass, field

from ..constants import (
    EXTREME_TIMING_ERROR_NS,
    HYSTERESIS,
    LOG_INTERVAL_S,
    MAX_LOCATION_ERROR_M,
    MAX_TIMING_ERROR_NS,
    OFFLINE_INTERVAL_S,
    QUIT_INTERVAL_S,
    RATE_INTERVAL_NS,
    STDDEV_FACTOR,
)

NS = 1_000_000_000
RATE_SLOTS = 10

# status / reason enums (reference include/messages/detectorstatus.h:9-25)
INVALID, DELETED, CREATED, OFFLINE, UNRELIABLE, RELIABLE = 0, 1, 2, 3, 4, 5
# Vocabulary follows detector_status::to_string (detectorstation.cpp:178-179),
# which publishes "online" for the `created` state.
STATUS_NAMES = {
    DELETED: "deleted",
    CREATED: "online",
    OFFLINE: "offline",
    UNRELIABLE: "unreliable",
    RELIABLE: "reliable",
}
R_MISC, R_TIME_ACC, R_TIME_ACC_EXTREME, R_LOC, R_RATE, R_MISSED_LOG = (
    "miscellaneous",
    "time_accuracy",
    "time_accuracy_extreme",
    "location_precision",
    "rate_unstable",
    "missed_log_interval",
)


class RateMeasurement:
    """10-slot ring of interval rates (Hz), event-time rolled."""

    def __init__(self):
        self.slots = deque([0.0] * RATE_SLOTS, maxlen=RATE_SLOTS)
        self.counter = 0
        self.interval_start: int | None = None

    def increase(self):
        self.counter += 1

    def step(self, now_ns: int) -> bool:
        if self.interval_start is None:
            self.interval_start = now_ns
            return False
        rolled = False
        while now_ns - self.interval_start >= RATE_INTERVAL_NS:
            self.slots.append(self.counter / 30.0)
            self.counter = 0
            self.interval_start += RATE_INTERVAL_NS
            rolled = True
        return rolled

    def mean(self) -> float:
        return sum(self.slots) / RATE_SLOTS

    def stddev(self) -> float:
        m = self.mean()
        return math.sqrt(sum((x - m) ** 2 for x in self.slots) / RATE_SLOTS)


class DataSeries:
    """Ring of the last K samples; population stats over current contents."""

    def __init__(self, k: int):
        self.buf = deque(maxlen=k)

    def add(self, v: float):
        self.buf.append(v)

    def mean(self) -> float:
        return sum(self.buf) / len(self.buf) if self.buf else 0.0

    def stddev(self) -> float:
        if not self.buf:
            return 0.0
        m = self.mean()
        return math.sqrt(sum((x - m) ** 2 for x in self.buf) / len(self.buf))


@dataclass
class StationState:
    hash: int
    status: int = UNRELIABLE  # pre-enable() default (detectorstation.h:113)
    last_log: int = 0
    dop: float = 0.0
    h_acc: float = 0.0
    v_acc: float = 0.0
    initial: bool = True
    last_ublox: int = 0
    incoming: int = 0
    ublox_progress: int = 0
    current_rate: RateMeasurement = field(default_factory=RateMeasurement)
    mean_rate: RateMeasurement = field(default_factory=RateMeasurement)
    pulselength: DataSeries = field(default_factory=lambda: DataSeries(100))
    time_acc: DataSeries = field(default_factory=lambda: DataSeries(100))
    reliability_time_acc: DataSeries = field(default_factory=lambda: DataSeries(5))
    factor: float = 1.0
    status_ts: int = 0  # event time of the last status CHANGE
    transitions: list = field(default_factory=list)

    def set_status(self, ts: int, status: int, reason: str = R_MISC):
        # Timer transitions are stamped with their exact threshold time —
        # but a RE-transition after a later wake-up (e.g. an extreme-
        # accuracy event flipping an offline station to unreliable, then
        # the still-expired missed-log timer flipping it back) must not be
        # stamped before the transition that preceded it. Clamping to the
        # last change time makes the emitted stream monotone by
        # construction (the reference's wall-clock tick stamps such
        # re-transitions at "now" for the same reason); found by
        # tests/test_golden_properties-style hypothesis sweep.
        ts = max(ts, self.status_ts)
        if self.status != status:
            self.transitions.append(
                {"hash": self.hash, "ts": ts, "status": STATUS_NAMES[status], "reason": reason}
            )
            self.status_ts = ts
        self.status = status

    # -- check_reliability (detectorstation.cpp:89-107)
    def check_reliability(self, ts: int):
        loc_precision = self.dop * math.sqrt(self.h_acc**2 + self.v_acc**2)
        f_location = loc_precision / MAX_LOCATION_ERROR_M
        f_time = self.reliability_time_acc.mean() / MAX_TIMING_ERROR_NS
        # stddev/(mean*0.75) UNGUARDED, like the reference
        # (detectorstation.cpp:96): a zero mean rate yields 0/0 = NaN, which
        # fails BOTH hysteresis branches — the reference never marks a
        # station reliable before its rate ring is nonzero. (IEEE semantics
        # replicated explicitly; Python raises on 0.0/0.0.)
        rm = self.mean_rate.mean()
        sd = self.mean_rate.stddev()
        denom = rm * STDDEV_FACTOR
        if denom == 0.0:
            f_rate = math.nan if sd == 0.0 else math.inf
        else:
            f_rate = sd / denom
        hi, lo = 1.0 + HYSTERESIS, 1.0 - HYSTERESIS
        if f_location > hi:
            self.set_status(ts, UNRELIABLE, R_LOC)
        elif f_time > hi:
            self.set_status(ts, UNRELIABLE, R_TIME_ACC)
        elif f_rate > hi:
            self.set_status(ts, UNRELIABLE, R_RATE)
        elif f_location < lo and f_time < lo and f_rate < lo:
            self.set_status(ts, RELIABLE, R_MISC)

    # -- step (detectorstation.cpp:109-135) with event-time "now"
    def step(self, now: int):
        diff = now - self.last_log
        if diff > LOG_INTERVAL_S * NS:
            if diff > OFFLINE_INTERVAL_S * NS:
                # The reference's 100 ms tick crosses each threshold in turn
                # (unreliable at +90 s, offline at +270 s, deleted at +48 h);
                # a batch replay jumping the whole gap emits the same chain,
                # each with its threshold timestamp. offline/deleted return
                # early — no rate stepping (detectorstation.cpp:112-119).
                if self.status not in (OFFLINE, DELETED):
                    self.set_status(self.last_log + LOG_INTERVAL_S * NS, UNRELIABLE, R_MISSED_LOG)
                    self.set_status(self.last_log + OFFLINE_INTERVAL_S * NS, OFFLINE, R_MISSED_LOG)
                if diff > QUIT_INTERVAL_S * NS:
                    self.set_status(self.last_log + QUIT_INTERVAL_S * NS, DELETED, R_MISSED_LOG)
                return
            self.set_status(self.last_log + LOG_INTERVAL_S * NS, UNRELIABLE, R_MISSED_LOG)
        else:
            self.check_reliability(now)

        if self.current_rate.step(now):
            self.mean_rate.step(now)
            cur, mean, sigma = self.current_rate.mean(), self.mean_rate.mean(), self.mean_rate.stddev()
            if cur < (mean - sigma):
                # sigma == 0 → (mean-cur)/0 = +inf in the reference
                # (detectorstation.cpp:127-135, IEEE division); the timeout
                # clamp downstream bounds it to 30 min, same as there.
                self.factor = ((mean - cur) / sigma + 1.0) * 2.0 if sigma > 0 else math.inf
            else:
                self.factor = 1.0

    # -- process(event) (detectorstation.cpp:31-62)
    def process_event(self, ts: int, end: int, time_acc: int, ublox_counter: int, fix: int) -> bool:
        self.current_rate.increase()
        self.mean_rate.increase()
        self.incoming += 1
        cur = ublox_counter & 0xFFFF
        if not self.initial:
            if cur <= self.last_ublox:
                diff = cur + (0xFFFF - self.last_ublox)
            else:
                diff = cur - self.last_ublox
            self.ublox_progress += diff
        else:
            self.initial = False
        self.last_ublox = cur
        pulselength = float(end - ts)
        if 0.0 < pulselength < 1e6:
            self.pulselength.add(pulselength)
        self.time_acc.add(float(time_acc))
        self.reliability_time_acc.add(float(time_acc))
        if time_acc > EXTREME_TIMING_ERROR_NS:
            self.set_status(ts, UNRELIABLE, R_TIME_ACC_EXTREME)
        return time_acc <= MAX_TIMING_ERROR_NS and fix == 1

    # -- process(info) (detectorstation.cpp:64-69)
    def process_log(self, ts: int, dop: float, h_acc: float, v_acc: float):
        self.last_log = ts
        self.dop, self.h_acc, self.v_acc = dop, h_acc, v_acc
        self.check_reliability(ts)


def replay_records(
    records: list[dict], state: StationState | None = None
) -> tuple[list[dict], StationState | None]:
    """Replay a chunk of one station's merged, time-sorted record stream,
    optionally continuing from a prior state (streaming micro-batches).

    records: dicts with ``kind`` ('log'|'event'), ``ts`` and kind-specific
    fields. Returns (new transitions, state to carry forward).
    """
    if state is not None:
        state.transitions = []
    for rec in records:
        ts = rec["ts"]
        if state is None or state.status == DELETED:
            # Unknown (or supervisor-erased) station: events are dropped
            # (station.cpp:30-33); the first log constructs the station and
            # enable() flips it to `created` WITHOUT a reliability check
            # (station.cpp:55-60, detectorstation.cpp:18-29).
            if rec["kind"] != "log":
                continue
            prev = state
            state = StationState(hash=rec["hash"])
            if prev is not None:
                state.transitions = prev.transitions
            state.last_log = ts
            state.dop, state.h_acc, state.v_acc = rec["dop"], rec["h_acc"], rec["v_acc"]
            state.set_status(ts, CREATED)
            continue
        state.step(ts)
        if state.status == DELETED:
            continue
        if rec["kind"] == "log":
            state.process_log(ts, rec["dop"], rec["h_acc"], rec["v_acc"])
        else:
            state.process_event(ts, rec["end"], rec["time_acc"], rec["ublox_counter"], rec["fix"])
    return (state.transitions if state is not None else []), state


def replay_station(records: list[dict], end_of_data_ts: int | None = None) -> list[dict]:
    """Batch replay of one station's full record stream (see replay_records)."""
    transitions, state = replay_records(records)
    if state is None:
        return transitions
    if end_of_data_ts is not None and state.status != DELETED:
        state.step(end_of_data_ts)  # appends to the same transitions list
    return state.transitions


def state_to_row(state: StationState | None) -> tuple | None:
    """Serialize for the Spark streaming state store (see
    streaming/station.py for the schema)."""
    if state is None:
        return None
    return (
        int(state.hash),
        int(state.status),
        int(state.last_log),
        float(state.dop),
        float(state.h_acc),
        float(state.v_acc),
        bool(state.initial),
        int(state.last_ublox),
        int(state.incoming),
        int(state.ublox_progress),
        list(state.current_rate.slots),
        int(state.current_rate.counter),
        state.current_rate.interval_start,
        list(state.mean_rate.slots),
        int(state.mean_rate.counter),
        state.mean_rate.interval_start,
        list(state.pulselength.buf),
        list(state.time_acc.buf),
        list(state.reliability_time_acc.buf),
        float(state.factor),
        int(state.status_ts),
    )


def state_from_row(row) -> StationState:
    s = StationState(hash=int(row[0]))
    s.status = int(row[1])
    s.last_log = int(row[2])
    s.dop, s.h_acc, s.v_acc = float(row[3]), float(row[4]), float(row[5])
    s.initial = bool(row[6])
    s.last_ublox = int(row[7])
    s.incoming = int(row[8])
    s.ublox_progress = int(row[9])
    s.current_rate.slots = deque(row[10], maxlen=RATE_SLOTS)
    s.current_rate.counter = int(row[11])
    s.current_rate.interval_start = None if row[12] is None else int(row[12])
    s.mean_rate.slots = deque(row[13], maxlen=RATE_SLOTS)
    s.mean_rate.counter = int(row[14])
    s.mean_rate.interval_start = None if row[15] is None else int(row[15])
    s.pulselength.buf = deque(row[16], maxlen=100)
    s.time_acc.buf = deque(row[17], maxlen=100)
    s.reliability_time_acc.buf = deque(row[18], maxlen=5)
    s.factor = float(row[19])
    s.status_ts = int(row[20]) if len(row) > 20 and row[20] is not None else 0
    return s
