"""Seeded workload generator: every input the benchmark feeds the engine.

All randomness flows from one ``numpy.random.Generator`` per call, seeded
from the workload seed, and every file is written with pyarrow from plain
arrays, so the same seed gives byte-identical files. The engine only ever
sees the files written here.

Shapes
------
* Stations: a ~90 km square of sites around 49.5N 8.5E plus co-located
  neighbours 10-100 m apart, so station pair distances run from 10 m to
  beyond the 62.3 km coincidence limit.
* Hits: a Poisson background over all stations plus showers. A shower
  hits ``k`` distinct stations near one centre within a spread of at most
  a few microseconds; ``k`` is drawn from the workload's multiplicity
  range, which is what separates ``pairs`` (k in 2..4) from ``showers``
  (k in 5..12).
* MQTT lines: ``(topic, payload)`` rows in the ``sources.lines.
  parse_events`` format (``start end time_acc ublox fix gnss utc``, seconds
  with 9 decimals), with a small share of malformed rows.
* Documents: ``(doc_id, text)`` rows; a set share are near-duplicates of an
  earlier document (a few words replaced).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_NS = 1_700_000_000 * 10**9  # parse_events needs >= 17-char timestamps
GAP_NS = 207_872  # ceil(constants.MAX_TIME_NS): the physics criterion's hard cutoff
LAT0, LON0 = 49.5, 8.5
M_PER_DEG_LAT = 111_320.0

HIT_SCHEMA = pa.schema(
    [
        ("hash", pa.int64()),
        ("start", pa.int64()),
        ("end", pa.int64()),
        ("time_acc", pa.int32()),
        ("ublox_counter", pa.int32()),
        ("fix", pa.int32()),
    ]
)
LINE_SCHEMA = pa.schema([("topic", pa.string()), ("payload", pa.string())])
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def write_parquet(table: pa.Table, path: str) -> None:
    """One parquet file; pyarrow writes no timestamps into it, so its
    bytes depend on the data alone."""
    pq.write_table(table, path, compression="snappy", write_statistics=True)


# --------------------------------------------------------------- stations


def stations(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """``n`` stations: 3/4 spread over a 90 km square, 1/4 placed 10-100 m
    from an earlier one. Returns local metres too, for shower placement."""
    n_far = max(2, (3 * n) // 4)
    x = list(rng.uniform(-45_000, 45_000, n_far))
    y = list(rng.uniform(-45_000, 45_000, n_far))
    while len(x) < n:
        j = int(rng.integers(0, n_far))
        d, a = rng.uniform(10.0, 100.0), rng.uniform(0, 2 * math.pi)
        x.append(x[j] + d * math.cos(a))
        y.append(y[j] + d * math.sin(a))
    xa, ya = np.array(x), np.array(y)
    lat = LAT0 + ya / M_PER_DEG_LAT
    lon = LON0 + xa / (M_PER_DEG_LAT * math.cos(math.radians(LAT0)))
    return {
        "hash": np.arange(1, n + 1, dtype=np.int64) * 1_000_003,
        "lat": np.round(lat, 7),
        "lon": np.round(lon, 7),
        "h": np.round(rng.uniform(90.0, 600.0, n), 1),
        "x": xa,
        "y": ya,
    }


def pair_distances_m(st: dict[str, np.ndarray]) -> np.ndarray:
    dx = st["x"][:, None] - st["x"][None, :]
    dy = st["y"][:, None] - st["y"][None, :]
    d = np.sqrt(dx * dx + dy * dy)
    return d[np.triu_indices(len(d), 1)]


# ------------------------------------------------------------------- hits


def hit_times(
    rng: np.random.Generator,
    st: dict[str, np.ndarray],
    n_hits: int,
    shower_share: float,
    k_range: tuple[int, int],
    bg_rate_hz: float,
) -> tuple[np.ndarray, np.ndarray]:
    """(station index, start ns offset) of ``n_hits`` hits, unsorted.

    Background hits are a Poisson process of ``bg_rate_hz`` over all
    stations; showers are placed uniformly over the same span. A shower
    picks a centre station and its ``k`` nearest distinct stations
    (every one within reach of the centre, so most pairs score), and
    spreads its hits by a per-shower jitter scale of 20 ns to 20 us —
    tight showers fold cleanly, wide ones produce Invalid and Conflicting
    verdicts too."""
    n_st = len(st["hash"])
    n_shower_hits = int(n_hits * shower_share)
    draws = rng.integers(k_range[0], k_range[1] + 1, n_shower_hits // k_range[0] + 1)
    k = draws[: int(np.searchsorted(np.cumsum(draws), n_shower_hits)) + 1] if n_shower_hits else draws[:0]
    n_bg = max(0, n_hits - int(k.sum()))
    span_ns = int(n_bg / bg_rate_hz * 1e9) if n_bg else int(len(k) / 10.0 * 1e9)
    bg_st = rng.integers(0, n_st, n_bg)
    bg_t = np.sort(rng.integers(0, span_ns, n_bg))
    dx = st["x"][:, None] - st["x"][None, :]
    dy = st["y"][:, None] - st["y"][None, :]
    near = np.argsort(np.sqrt(dx * dx + dy * dy), axis=1, kind="stable")
    t0 = rng.integers(0, span_ns, len(k))
    centre = rng.integers(0, n_st, len(k))
    scale = 10 ** rng.uniform(np.log10(20), np.log10(20_000), len(k))
    first = np.repeat(np.cumsum(k) - k, k)
    rank = np.arange(int(k.sum())) - first  # 0..k-1 within each shower
    sh_st = near[np.repeat(centre, k), rank]
    sh_t = np.repeat(t0, k) + np.round(rng.uniform(0, 1, len(rank)) * np.repeat(scale, k)).astype(np.int64)
    st_idx = np.concatenate([bg_st, sh_st])
    t = np.concatenate([bg_t, sh_t])
    return st_idx.astype(np.int64), t.astype(np.int64)


def session_sizes(starts: np.ndarray, gap: int = GAP_NS) -> np.ndarray:
    """Per-hit size of its global gap session (starts need not be sorted)."""
    s = np.sort(starts)
    brk = np.zeros(len(s), dtype=np.int64)
    brk[1:] = np.diff(s) > gap
    sid = np.cumsum(brk)
    sizes = np.bincount(sid)[sid]
    out = np.empty_like(sizes)
    out[np.argsort(starts, kind="stable")] = sizes
    return out


def size_shares(sizes: np.ndarray) -> dict[str, float]:
    n = max(1, len(sizes))
    return {
        "hit_share_n1": float((sizes == 1).sum() / n),
        "hit_share_n2_4": float(((sizes >= 2) & (sizes <= 4)).sum() / n),
        "hit_share_n5p": float((sizes >= 5).sum() / n),
    }


# ------------------------------------------------------------ MQTT lines


def _ns_text(ns: np.ndarray) -> list[str]:
    return [f"{v // 10**9}.{v % 10**9:09d}" for v in ns.tolist()]


def station_names(n: int) -> list[tuple[str, str]]:
    return [(f"user{i:03d}", f"det{i % 3}") for i in range(n)]


def mqtt_lines(
    rng: np.random.Generator, names: list[tuple[str, str]], st_idx, t_abs_ns, malformed_share: float
) -> tuple[pa.Table, dict[str, np.ndarray]]:
    """One ``(topic, payload)`` row per hit at absolute ns ``t_abs_ns``;
    about ``malformed_share`` of rows are replaced by payloads the parser
    must drop, and about 2% carry a time_acc above the 1 us quality gate.
    Returns the table and, per row, what it encodes: ``end``,
    ``time_acc``, ``ublox_counter``, ``malformed`` and ``over_gate``."""
    n = len(t_abs_ns)
    ends = t_abs_ns + rng.integers(50, 5_000, n)
    acc = rng.integers(5, 900, n)
    over_gate = rng.random(n) < 0.02
    acc[over_gate] = 5_000
    ublox = rng.integers(0, 65_536, n)
    s_txt, e_txt = _ns_text(t_abs_ns), _ns_text(ends)
    topics, payloads = [], []
    bad = rng.random(n) < malformed_share
    kinds = rng.integers(0, 4, n)
    for i in range(n):
        user, det = names[st_idx[i]]
        topic = f"muonpi/data/{user}/{det}"
        payload = f"{s_txt[i]} {e_txt[i]} {acc[i]} {ublox[i]} 1 0 1"
        if bad[i]:
            k = kinds[i]
            if k == 0:
                payload = f"{s_txt[i]} {e_txt[i]} {acc[i]}"  # too few fields
            elif k == 1:
                payload = f"{e_txt[i]} {s_txt[i]} {acc[i]} {ublox[i]} 1 0 1"  # start > end
            elif k == 2:
                payload = f"12.5 {e_txt[i]} {acc[i]} {ublox[i]} 1 0 1"  # short timestamp
            else:
                topic = f"muonpi/data/cluster/{det}"  # reserved username
        topics.append(topic)
        payloads.append(payload)
    rows = {"end": ends, "time_acc": acc, "ublox_counter": ublox, "malformed": bad, "over_gate": over_gate}
    return pa.table({"topic": topics, "payload": payloads}, schema=LINE_SCHEMA), rows


# ------------------------------------------------------------- documents

_VOCAB_SIZE = 4_000


def documents(
    rng: np.random.Generator, first_id: int, n: int, pool: list[list[int]], dup_share: float
) -> tuple[pa.Table, int]:
    """``n`` documents; about ``dup_share`` of them copy a document from
    ``pool`` (every earlier document of the run) with 1-3 words replaced.
    Appends the new documents to ``pool``. Returns the table and the
    number of near-duplicates written."""
    ids, texts, n_dup = [], [], 0
    for i in range(n):
        if pool and rng.random() < dup_share:
            words = list(pool[int(rng.integers(0, len(pool)))])
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = int(rng.integers(0, _VOCAB_SIZE))
            n_dup += 1
        else:
            words = rng.integers(0, _VOCAB_SIZE, int(rng.integers(40, 80))).tolist()
        pool.append(words)
        ids.append(first_id + i)
        texts.append(" ".join(f"w{w}" for w in words))
    return pa.table({"doc_id": ids, "text": texts}, schema=DOC_SCHEMA), n_dup

