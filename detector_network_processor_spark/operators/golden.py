"""Pure-Python golden model of the reference's coincidence semantics.

Re-implements the *observable behavior* (not the code) of:
- criterion scoring thresholds          (reference include/analysis/criterion.h:13-51)
- criterion::apply group x group verdict (reference src/analysis/criterion.cpp:7-56)
- coincidence::compare physics score     (reference src/analysis/coincidence.cpp:14-27)
- simple_coincidence::compare            (reference src/analysis/simplecoincidence.cpp:12-15)
- coincidence_filter probe/fold/merge    (reference src/analysis/coincidencefilter.cpp:60-143)
- event_t envelope bookkeeping           (reference src/messages/event.cpp:23-44)

Behavioral notes replicated exactly:
- A 1-on-1 comparison can only yield Valid (score>0, true_e=1) or Invalid —
  never Conflicting (criterion.cpp:7-14).
- On the FIRST fold of an event into a group the ``conflicting`` flag is NOT
  set even for a Conflicting verdict (the ``if (!score)`` branch in
  coincidencefilter.cpp:117-119 is unreachable: next_match only returns
  truthy scores). Only transitive merges set ``conflicting = true``
  (coincidencefilter.cpp:131).
- The merge loop probes the remaining buffer with the ORIGINAL incoming
  event, not the grown group (coincidencefilter.cpp:124-139).
- Envelope start/end extend over constituent *start* values only: on
  promotion to multi the envelope end is reset to start
  (coincidencefilter.cpp:113-116, event.cpp:35-44).
- Station-overlap exclusion (F6): a group is skipped when it already
  contains any constituent with the same station hash
  (coincidencefilter.cpp:69-85).

Canonical batch replay order: events sorted by (start, hash) — the engine's
documented determinization of the reference's arrival-order dependence
(SURVEY.md §7.3).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from ..constants import (
    MAX_TIME_NS,
    MEAN_FALSE_THRESHOLD,
    MEAN_TRUE_THRESHOLD,
    MIN_TOF_NS,
    SIMPLE_WINDOW_NS,
    C_M_PER_NS,
)
from ..functions.geodesy import ecef_scalar

INVALID, CONFLICTING, VALID = 0, 1, 2


@dataclass
class Hit:
    """One detector hit (event_t::data_t analog). ECEF coordinates are
    cached at construction — pair scoring is the kernel's hot loop."""

    hash: int
    start: int
    end: int
    lat: float = 0.0
    lon: float = 0.0
    h: float = 0.0
    time_acc: int = 0
    ublox_counter: int = 0
    fix: int = 1
    x: float = field(init=False, default=0.0)
    y: float = field(init=False, default=0.0)
    z: float = field(init=False, default=0.0)

    def __post_init__(self):
        self.x, self.y, self.z = _ecef_memo(self.lat, self.lon, self.h)


_ECEF_MEMO: dict = {}


def _ecef_memo(lat: float, lon: float, h: float) -> tuple[float, float, float]:
    """Station coordinates repeat across millions of hits — memoize the
    trig. Bounded: the station dimension is small; the clear() guard is a
    safety valve, not an LRU."""
    k = (lat, lon, h)
    v = _ECEF_MEMO.get(k)
    if v is None:
        if len(_ECEF_MEMO) > 1_000_000:
            _ECEF_MEMO.clear()
        v = _ECEF_MEMO[k] = ecef_scalar(lat, lon, h)
    return v


@dataclass
class Group:
    """An open coincidence group (event_constructor analog)."""

    first: Hit  # envelope carries the first event's fields
    start: int = 0  # envelope min constituent start
    end: int = 0  # envelope max constituent start (after promotion)
    conflicting: bool = False
    true_e: int = 0
    hits: list = field(default_factory=list)  # constituents (empty while single)

    def n(self) -> int:
        return max(len(self.hits), 1)

    def constituents(self) -> list:
        return self.hits if self.hits else [self.first]


def compare_physics(a: Hit, b: Hit) -> float:
    """Physics criterion score in [-1, 1]."""
    delta = float(abs(a.start - b.start))
    if delta > MAX_TIME_NS:
        return -1.0
    dist = math.sqrt((a.x - b.x) ** 2 + (a.y - b.y) ** 2 + (a.z - b.z) ** 2)
    tof = max(dist / C_M_PER_NS, MIN_TOF_NS)
    return max(1.0 - delta / tof, -1.0)


def compare_simple(a: Hit, b: Hit) -> float:
    """Pure time-window criterion score."""
    return 1.0 if abs(a.start - b.start) <= SIMPLE_WINDOW_NS else -1.0


# criterion name -> (compare function, session gap ns). The gap is the
# criterion's hard time cutoff, so a larger gap never splits a coincidence.
_CRITERIA = {
    "physics": (compare_physics, math.ceil(MAX_TIME_NS)),
    "simple": (compare_simple, SIMPLE_WINDOW_NS),
}


def resolve_criterion(name: str):
    """(compare function, session gap ns) of a criterion name; any other
    name raises ``ValueError``."""
    if name not in _CRITERIA:
        raise ValueError(f"unknown criterion {name!r}; expected one of {sorted(_CRITERIA)}")
    return _CRITERIA[name]


def apply_criterion(event_hits: list, group_hits: list, compare) -> tuple[int, int]:
    """criterion::apply — returns (verdict, true_e)."""
    if len(event_hits) < 2 and len(group_hits) < 2:
        if compare(event_hits[0], group_hits[0]) > 0.0:
            return VALID, 1
        return INVALID, 0
    total = 0.0
    n = 0
    valid = 0
    for a in event_hits:
        for b in group_hits:
            v = compare(a, b)
            total += v
            n += 1
            if v > 0.0:
                valid += 1
    mean = total / n
    if mean < MEAN_FALSE_THRESHOLD:
        return INVALID, 0
    if mean > MEAN_TRUE_THRESHOLD and valid == n:
        return VALID, valid
    return CONFLICTING, valid


def _overlaps(event_hits: list, group_hits: list) -> bool:
    group_hashes = {g.hash for g in group_hits}
    return any(e.hash in group_hashes for e in event_hits)


def _emplace(group: Group, hit: Hit) -> None:
    if hit.start < group.start:
        group.start = hit.start
    elif hit.start > group.end:
        group.end = hit.start
    group.hits.append(hit)


def _promote(group: Group) -> None:
    if not group.hits:
        group.end = group.start
        group.hits = [group.first]


def cluster_hits(hits: list, compare=compare_physics) -> list:
    """Replay the coincidence_filter buffer over hits in canonical order.

    Returns the list of Groups (singletons included, n()==1), in the order
    the buffer held them. No timeouts: the caller is expected to feed one
    gap-bounded candidate session at a time (every cross-session pair is
    Invalid by the MAX_TIME_NS cutoff, so feeding more is allowed, just
    slower).
    """
    buffer: list[Group] = []
    for hit in sorted(hits, key=lambda x: (x.start, x.hash)):
        incoming = [hit]
        # next_match scan from buffer head
        match_idx = None
        match_score = None
        for i, grp in enumerate(buffer):
            if _overlaps(incoming, grp.constituents()):
                continue
            verdict, true_e = apply_criterion(incoming, grp.constituents(), compare)
            if verdict != INVALID:
                match_idx, match_score = i, (verdict, true_e)
                break
        if match_idx is None:
            buffer.append(Group(first=hit, start=hit.start, end=hit.end))
            continue
        grp = buffer[match_idx]
        _promote(grp)
        grp.true_e += match_score[1]
        _emplace(grp, hit)
        # transitive merge: keep probing the rest of the buffer with the
        # ORIGINAL incoming event
        j = match_idx + 1
        while j < len(buffer):
            cand = buffer[j]
            if _overlaps(incoming, cand.constituents()):
                j += 1
                continue
            verdict, true_e = apply_criterion(incoming, cand.constituents(), compare)
            if verdict == INVALID:
                j += 1
                continue
            grp.conflicting = True
            grp.true_e += true_e
            for c in cand.constituents():
                _emplace(grp, c)
            del buffer[j]
    return buffer


def groups_to_rows(groups: list) -> list[dict]:
    """Flatten groups to the L1 output row shape (FIXTURES.md A5)."""
    rows = []
    for g in groups:
        cons = g.constituents()
        rows.append(
            {
                "start": g.start,
                "end": g.end if g.hits else g.first.end,
                "n": g.n(),
                "conflicting": g.conflicting,
                "true_e": g.true_e,
                "events": [
                    {
                        "hash": c.hash,
                        "start": c.start,
                        "end": c.end,
                        "time_acc": c.time_acc,
                        "ublox_counter": c.ublox_counter,
                        "fix": c.fix,
                    }
                    for c in cons
                ],
            }
        )
    return rows
