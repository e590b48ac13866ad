"""Incremental micro-batch coincidence clustering — the SCALE path for the
§2.5 operator in streaming mode.

Why not ``session_window``: its companion grouping key is a constant for
the one cross-station coincidence buffer, so every session-state update
serializes through ONE state-store partition; Spark offers no exact
sharded alternative (no second ``withWatermark`` feeding a stateful
operator, no global session aggregation, no backward-extending sessions).

Instead ``foreachBatch`` runs the distributed BATCH operator
(operators/coincidence.py) over ``new rows ∪ carried open tail``, emits
every group that can no longer grow, and carries only the rows of
sessions still within ``gap + horizon`` of the newest event. Heavy work
is the batch plan; the driver collects two one-row results (the open-tail
bookkeeping and the next horizon); state is parquet written by the range
shuffle's own partitioning.

The horizon is the reference's adaptive group timeout, fed back as
timebase_t flows into coincidence_filter::get
(src/supervision/timebase.cpp:17-45, src/analysis/coincidencefilter.cpp:
28-33), with W1-W3 from operators/timebase.py: W1 is the clamped span of
the increment's newest 2 s bucket; W2 the max dip factor over each
station's newest 30 s interval, from a carried per-station rate table;
W3 ``clamp(W1 x W2, 2 s, 30 min)`` is the horizon the NEXT increment
reads. Batch 0 uses 2 s; an increment with no rows leaves it unchanged.
A rate dip keeps open groups around longer — the grow-only group timeout
applied per increment instead of per group (SURVEY.md §7.3). An event
later than the horizon is not dropped: it opens a fresh group, as in
src/analysis/coincidencefilter.cpp:103-109 (SURVEY §2.7 W4).

Replay safety (exactly-once output without a transactional table format):
every write is keyed by the foreachBatch ``batch_id``, which Spark
redelivers UNCHANGED when a crashed batch re-runs —

- output goes to ``out_path/batch_id=N/`` with mode=overwrite
  (``spark.read.parquet(out_path)`` surfaces ``batch_id`` as a column);
- state is VERSIONED: batch N reads the newest ``state_path/vM`` with
  M < N — the open tail and, in its ``_horizon_ns`` file, the horizon —
  and overwrites ``state_path/vN`` with the next ones; the rate table is
  versioned the same way under ``state_path/rates/``. Versions older than
  the one read are pruned only after the new one lands. A replay of batch
  N, in the same query or after a restart, therefore re-reads exactly the
  pre-N tail, horizon and rates, and overwrites its output and versions.

The state is listed and written through the driver's local filesystem, so
a ``state_path`` with a URI scheme is refused before anything is written.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.coincidence import cluster_coincidences
from ..operators.golden import resolve_criterion
from ..operators.timebase import (
    RATE_HISTORY,
    TIMEOUT_MIN_NS,
    dip_factor,
    group_timeout,
    interval_counts,
    timebase_calibration,
)
from .overlap import run_overlapped

HIT_COLS = ["hash", "start", "end", "time_acc", "ublox_counter", "fix", "lat", "lon", "h"]
_HORIZON_FILE = "_horizon_ns"  # "_" prefix: parquet readers skip it


def _last_start(col: str = "events") -> F.Column:
    """Latest constituent start of a group — the growth horizon of its
    session (new events within ``gap`` of it could still join)."""
    return F.array_max(F.transform(col, lambda e: e["start"]))


def _require_local(state_path: str) -> None:
    if urlparse(state_path).scheme:
        raise ValueError(
            f"state_path {state_path!r} has a URI scheme; incremental state must be "
            "a local filesystem path"
        )


def _state_versions(state_path: str) -> list[int]:
    if not os.path.isdir(state_path):
        return []
    out = []
    for name in os.listdir(state_path):
        if name.startswith("v") and name[1:].isdigit():
            out.append(int(name[1:]))
    return sorted(out)


def _version_dir(state_path: str, version: int) -> str:
    return os.path.join(state_path, f"v{version:012d}")


def _read_version(state_path: str, batch_id: int) -> int | None:
    """The newest version below ``batch_id``: the one batch ``batch_id``
    reads, and a replay of it re-reads."""
    older = [v for v in _state_versions(state_path) if v < batch_id]
    return older[-1] if older else None


def _prune_versions(state_path: str, batch_id: int) -> None:
    """Drop the versions older than the one batch ``batch_id`` read (that
    one must survive so a replay of the batch can still read it)."""
    older = [v for v in _state_versions(state_path) if v < batch_id]
    for v in older[:-1]:
        shutil.rmtree(_version_dir(state_path, v), ignore_errors=True)


def _next_horizon(spark: SparkSession, batch: DataFrame, rates_path: str, batch_id: int):
    """W1-W3 over this increment's rows and the rate table version it
    follows. Returns (the horizon the next increment reads, the rate table
    to write as version ``batch_id``, persisted), or None when the
    increment has no rows."""
    counts = interval_counts(batch)
    read = _read_version(rates_path, batch_id)
    if read is not None:
        counts = counts.unionByName(spark.read.parquet(_version_dir(rates_path, read)))
    merged = counts.groupBy("hash", "ivl").agg(F.sum("c").alias("c"))
    # keep the trailing history window of the newest interval
    newest = merged.agg(F.max("ivl").alias("_newest"))
    rates = (
        merged.crossJoin(F.broadcast(newest))
        .filter(F.col("ivl") > F.col("_newest") - RATE_HISTORY)
        .drop("_newest")
        .persist()
    )
    # cluster-wide factor = max over the stations' newest interval
    # (src/supervision/station.cpp:66-82 takes the max over its station map)
    w2 = (
        rates.withColumn("factor", dip_factor()[2])
        .withColumn("rn", F.row_number().over(Window.partitionBy("hash").orderBy(F.desc("ivl"))))
        .filter(F.col("rn") == 1)
        .agg(F.max("factor").alias("factor"))
    )
    w1 = timebase_calibration(batch).orderBy(F.desc("bucket")).limit(1)
    row = w1.crossJoin(w2).select(group_timeout(F.col("timebase_ns"), F.col("factor"))).collect()
    if not row:
        rates.unpersist()
        return None
    return row[0][0], rates


def process_increment(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    out_path: str,
    batch_id: int,
    criterion: str = "physics",
    final: bool = False,
) -> None:
    """Cluster one increment: (batch rows ∪ newest state version older
    than ``batch_id``) → overwrite ``out_path/batch_id=N`` with the closed
    groups and ``state_path/vN`` with the open tail and the next horizon.
    Idempotent under foreachBatch replay (same ``batch_id`` → same input
    state → same overwrites). ``final=True`` flushes everything (end of
    stream) and drops the state."""
    _require_local(state_path)
    _, gap = resolve_criterion(criterion)

    read = _read_version(state_path, batch_id)
    hits = batch.select(*HIT_COLS)
    if read is None:
        horizon_ns = TIMEOUT_MIN_NS
    else:
        version = _version_dir(state_path, read)
        hits = hits.unionByName(spark.read.parquet(version).select(*HIT_COLS))
        with open(os.path.join(version, _HORIZON_FILE)) as f:
            horizon_ns = int(f.read())
    hits = hits.persist()
    l1 = cluster_coincidences(hits, stations=None, criterion=criterion).withColumn(
        "_last", _last_start()
    )
    l1 = l1.persist()

    if final:
        if hits.isEmpty():  # once per STREAM (final flush), not per batch
            l1.unpersist()
            hits.unpersist()
            return
        closed, open_rows = l1, None
    else:
        # Sessions are disjoint start-time intervals, so "still growable"
        # is a threshold on the latest constituent start. ONE driver action
        # gives the group count (no-op guard), the newest start and the
        # open-tail threshold; the 1-row max(_last) is broadcast back under
        # the conditional min, and that job also materializes l1's cache.
        mx = l1.agg(F.max("_last").alias("_mx"))
        stats = (
            l1.crossJoin(F.broadcast(mx))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.first("_mx").alias("mx"),
                F.min(
                    F.when(
                        F.col("_last") + F.lit(gap)
                        >= F.col("_mx") - F.lit(horizon_ns),
                        F.col("start"),
                    )
                ).alias("thr"),
            )
            .collect()[0]
        )
        if stats["cnt"] == 0:
            # nothing changed — no writes, so a replay of this id is a no-op too
            l1.unpersist()
            hits.unpersist()
            return
        closed = l1.filter(F.col("_last") + gap < stats["mx"] - horizon_ns)
        open_rows = (
            hits.filter(F.col("start") >= stats["thr"])
            if stats["thr"] is not None
            else hits.limit(0)
        )

    def _write_closed() -> None:
        closed.drop("_last").write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch_id={batch_id}")
        )

    if open_rows is not None:
        rates_path = os.path.join(state_path, "rates")
        step = _next_horizon(spark, batch.select("hash", "start"), rates_path, batch_id)
        next_horizon_ns = horizon_ns if step is None else step[0]
        # range-shard the carried state by time so the next increment's
        # scan parallelizes. Write the version even when empty, so a
        # replay of batch N+1 always finds vN and its horizon.
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

        def _write_state() -> None:
            version = _version_dir(state_path, batch_id)
            open_rows.repartitionByRange(n_parts, F.col("start")).write.mode(
                "overwrite"
            ).parquet(version)
            with open(os.path.join(version, _HORIZON_FILE), "w") as f:
                f.write(str(next_horizon_ns))

        jobs = {"closed": _write_closed, "state": _write_state}
        if step is not None:
            jobs["rates"] = lambda: step[1].write.mode("overwrite").parquet(
                _version_dir(rates_path, batch_id)
            )
        # The terminal writes read separate caches, so they run overlapped
        # (guide §2.6, as in the near-dup increment). run_overlapped fails
        # fast and re-raises, so a replay of this batch_id re-overwrites
        # every directory (replay, never skip: streaming/overlap.py).
        # Pruning runs strictly AFTER all writes landed.
        run_overlapped(spark, jobs)
        _prune_versions(state_path, batch_id)
        if step is not None:
            _prune_versions(rates_path, batch_id)
            step[1].unpersist()
    else:  # final flush — the stream is over, drop all state (rates too)
        _write_closed()
        shutil.rmtree(state_path, ignore_errors=True)
    l1.unpersist()
    hits.unpersist()


def incremental_cluster_query(
    events: DataFrame,
    out_path: str,
    state_path: str,
    checkpoint_dir: str,
    criterion: str = "physics",
):
    """Wire a streaming events DataFrame into the incremental clusterer.
    Returns the (unstarted) DataStreamWriter; call ``.start()``/
    ``.trigger(...)`` as needed, and ``flush_incremental_state`` once the
    stream is done to emit the final open tail."""
    _require_local(state_path)
    spark = events.sparkSession

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        process_increment(
            spark, batch_df, state_path, out_path, batch_id=batch_id, criterion=criterion
        )

    return events.writeStream.foreachBatch(fb).option("checkpointLocation", checkpoint_dir)


def flush_incremental_state(
    spark: SparkSession,
    state_path: str,
    out_path: str,
    criterion: str = "physics",
) -> None:
    """End-of-stream flush: cluster whatever the state still holds and
    write those groups as one final output batch directory."""
    _require_local(state_path)
    versions = _state_versions(state_path)
    if not versions:
        return
    empty = spark.read.parquet(_version_dir(state_path, versions[-1])).limit(0)
    process_increment(
        spark, empty, state_path, out_path, batch_id=versions[-1] + 1,
        criterion=criterion, final=True,
    )
