"""Correctness references for every workload.

* ``stream_main_path``: the streamed L1 rows against the golden model
  (``operators.golden.cluster_hits``, which batch ``cluster_coincidences``
  is pinned to) run session by session over the hits the generator wrote
  as well formed and gate-passing, flattened exactly as the K1 sink
  projection defines it, for every session closed before the final
  watermark, compared as exact multisets (a duplicate or a missing row
  both fail).
* ``neardup_ingest``: the union of every increment's pairs against batch
  ``minhash_lsh_pairs`` over all documents at the same threshold.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

# l1_flatten's columns minus the engine-internal session_id
L1_ROW_COLS = (
    "uuid", "group_start", "group_end", "n", "conflicting", "true_e",
    "pos", "hash", "start", "end", "time_acc",
)


def _hex16(v: int) -> str:
    return format(v & 0xFFFF_FFFF_FFFF_FFFF, "016X")


def golden_sessions(hits, stations):
    """Per multi-hit gap session of ``hits`` (pyarrow table: hash,start,
    end,time_acc,ublox_counter,fix) enriched with ``stations`` (hash,lat,
    lon,h): its last hit's start and the golden model's flattened L1 rows
    (``L1_ROW_COLS``, groups with n >= 2). Singleton sessions can only
    yield n=1 groups and are skipped."""
    from detector_network_processor_spark.operators.golden import (
        Hit, cluster_hits, compare_physics, groups_to_rows,
    )

    from gen import GAP_NS

    pos = {int(h): i for i, h in enumerate(stations["hash"].to_pylist())}
    lat, lon, hh = (stations[c].to_numpy() for c in ("lat", "lon", "h"))
    cols = {c: hits[c].to_numpy() for c in ("hash", "start", "end", "time_acc", "ublox_counter", "fix")}
    keep = np.array([int(h) in pos for h in cols["hash"]], dtype=bool)
    cols = {c: v[keep] for c, v in cols.items()}
    order = np.lexsort((cols["hash"], cols["start"]))
    cols = {c: v[order] for c, v in cols.items()}
    starts = cols["start"]
    brk = np.flatnonzero(np.diff(starts) > GAP_NS) + 1
    bounds = np.concatenate(([0], brk, [len(starts)]))
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        if hi - lo < 2:
            continue
        hits_s = []
        for i in range(int(lo), int(hi)):
            p = pos[int(cols["hash"][i])]
            hits_s.append(Hit(
                hash=int(cols["hash"][i]), start=int(cols["start"][i]), end=int(cols["end"][i]),
                lat=float(lat[p]), lon=float(lon[p]), h=float(hh[p]),
                time_acc=int(cols["time_acc"][i]), ublox_counter=int(cols["ublox_counter"][i]),
                fix=int(cols["fix"][i]),
            ))
        rows = []
        for g in groups_to_rows(cluster_hits(hits_s, compare_physics)):
            if g["n"] < 2:
                continue
            uuid = _hex16(g["events"][0]["hash"]) + _hex16(g["start"])
            for k, e in enumerate(g["events"]):
                rows.append((uuid, g["start"], g["end"], g["n"], g["conflicting"], g["true_e"],
                             k, e["hash"], e["start"], e["end"], e["time_acc"]))
        yield int(starts[hi - 1]), rows


def l1_hash(df) -> tuple[int, int]:
    """(xor of row hashes, row count) of a flattened L1 DataFrame over
    ``L1_ROW_COLS``, as one Spark aggregate."""
    import pyspark.sql.functions as F

    h = F.xxhash64(*[F.col(c) for c in L1_ROW_COLS])
    r = df.select(h.alias("_h")).agg(F.bit_xor("_h").alias("xor"), F.count(F.lit(1)).alias("rows")).collect()[0]
    return int(r["xor"] or 0), int(r["rows"])


def multiset_diff(got: list[tuple], want: list[tuple]) -> dict[str, int]:
    """Rows missing from ``got``, rows extra in it, and rows it holds more
    than once."""
    g, w = Counter(got), Counter(want)
    return {
        "missing": sum((w - g).values()),
        "extra": sum((g - w).values()),
        "duplicated": sum(c - 1 for c in g.values() if c > 1),
    }


def pair_set(rows) -> list[tuple]:
    """Unordered near-dup pairs as (low id, high id, est) tuples."""
    return [(min(a, b), max(a, b), float(e)) for a, b, e in rows]
