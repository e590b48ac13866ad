"""Streaming time-coincidence clustering (SURVEY.md §2.5, §2.7).

Spark-first shape: ``withWatermark`` + built-in ``session_window`` does the
candidate generation (the same gap decomposition as the batch operator —
provably exact because the criterion's hard time cutoff bounds every edge);
``collect_list`` gathers each session's hits; the exact per-session replay
core (``_session_rows_to_l1``, shared with the batch kernel and the golden
model) runs as an Arrow-batched ``mapInPandas`` stage over the collected
arrays — one Python invocation per Arrow batch, no row-at-a-time
``BatchEvalPython`` in the streaming plan.

Time-unit note: Spark timestamps are microsecond-precision, but the
criterion works in exact int64 nanoseconds. The stream relabels ns as "us"
(``timestamp_micros(start_ns)``) so session grouping happens on exact
integers; the gap interval is expressed in the same relabeled unit, with
+1 because session_window merges on strict interval overlap while the
criterion's cutoff is inclusive (|dt| <= gap).

Watermark semantics: late events beyond the watermark are dropped — a
STRONGER guarantee than the reference, which silently opens fresh groups
for late arrivals (SURVEY.md §2.7 W4, documented divergence).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

import warnings

from ..operators.coincidence import L1_SCHEMA, _session_rows_to_l1
from ..operators.golden import Hit, resolve_criterion

_L1_COLS = [f.name for f in L1_SCHEMA.fields]


def _resolve_collected(compare):
    """mapInPandas kernel over (hits array<struct>) session rows: the same
    exact replay core the batch operator and the golden model share
    (``_session_rows_to_l1``), invoked once per Arrow batch instead of once
    per row — replaces the former row-at-a-time ``F.udf`` resolver."""

    def kernel(iterator):
        import pandas as pd

        for pdf in iterator:
            out: list[tuple] = []
            for hits_rows in pdf["hits"]:
                hits = [
                    Hit(
                        hash=int(r["hash"]),
                        start=int(r["start"]),
                        end=int(r["end"]),
                        time_acc=int(r["time_acc"]),
                        ublox_counter=int(r["ublox_counter"]),
                        fix=int(r["fix"]),
                        lat=float(r["lat"]),
                        lon=float(r["lon"]),
                        h=float(r["h"]),
                    )
                    for r in hits_rows
                ]
                out.extend(_session_rows_to_l1(None, hits, compare))
            if out:
                yield pd.DataFrame(out, columns=_L1_COLS)

    return kernel


def stream_cluster_coincidences(
    events: DataFrame,
    criterion: str = "physics",
    watermark_ns: int = 10_000_000_000,
) -> DataFrame:
    """events: streaming DataFrame with hash,start,end,time_acc,
    ublox_counter,fix,lat,lon,h (start/end int64 ns).

    ``watermark_ns`` is the late-data tolerance in REAL event-time
    nanoseconds (default 10 s). Internally the stream relabels ns as µs for
    exact-integer session grouping, so the delay is converted to the
    relabeled domain here — callers never see the 1000× scaling.

    LOW-VOLUME convenience path: building this plan always emits a
    ``UserWarning`` pointing to
    ``streaming.incremental.incremental_cluster_query`` (the sharded
    exact-equivalent) — the constant session key funnels all state updates
    through one state partition.

    Only that one partition ever holds a row, yet a query started with
    ``spark.sql.shuffle.partitions=N`` loads and commits N state stores
    per trigger. The ``stream`` command therefore starts its query with
    the count set to 1 (``__main__._start_on_one_state_partition``);
    other callers should do the same for a new checkpoint.

    Returns a streaming L1 DataFrame (append mode; sessions emit once the
    watermark passes their gap horizon)."""
    compare, gap = resolve_criterion(criterion)
    warnings.warn(
        "stream_cluster_coincidences serializes session state onto one "
        "state partition (constant grouping key; the stream command starts "
        "it with spark.sql.shuffle.partitions=1 so no other state store is "
        "committed per trigger) — fine at station-network rates; for "
        "high-volume streams use streaming.incremental.incremental_cluster_query.",
        UserWarning,
        stacklevel=2,
    )

    ts = F.timestamp_micros(F.col("start"))  # ns relabeled as us — exact ints
    # 1 real ns == 1 relabeled us: express the ns delay as that many us.
    with_ts = events.withColumn("_ts", ts).withWatermark("_ts", f"{int(watermark_ns)} microseconds")
    # session_window needs a companion grouping key in streaming; for the
    # one cross-station coincidence buffer it is a constant, so this is the
    # LOW-VOLUME path (like the reference's single `muon::filter` thread;
    # the scale path is streaming/incremental.py). Exact sharding of THIS
    # plan is not expressible in Structured Streaming: bucket keys split
    # boundary sessions, and every stitch mechanism is rejected by Spark —
    # session_window merges anchor on window-END event times (a chained
    # constant-key pass misses merges whenever the later fragment's chain
    # extends past first_hit + gap; verified on 4.1), and
    # applyInPandasWithState/transformWithState are disallowed downstream
    # of a streaming aggregation. What IS available: map-side session
    # pre-merge (set by ``session.get_spark``), which collapses each
    # micro-batch's sessions locally before they reach the single state
    # partition, cutting state-update traffic from O(hits) to O(open
    # sessions) per trigger.
    return (
        with_ts.withColumn("_k", F.lit(0))
        .groupBy("_k", F.session_window("_ts", f"{gap + 1} microseconds"))
        .agg(
            F.collect_list(
                F.struct("hash", "start", "end", "time_acc", "ublox_counter", "fix", "lat", "lon", "h")
            ).alias("hits")
        )
        .select("hits")
        .mapInPandas(_resolve_collected(compare), L1_SCHEMA)
    )
