"""Streaming mode: batch-stream equivalence of the coincidence operator and
the line-protocol parser."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyspark.sql.functions as F

from detector_network_processor_spark.operators.coincidence import cluster_coincidences
from detector_network_processor_spark.streaming.coincidence import stream_cluster_coincidences
from detector_network_processor_spark.sources.lines import parse_events

from muon_fixtures import STATIONS, make_events, station_rows


def _canon_l1(rows):
    out = {}
    for r in rows:
        d = r.asDict(recursive=True)
        key = tuple(sorted((e["hash"], e["start"]) for e in d["events"]))
        out[key] = (d["start"], d["end"], d["n"], d["conflicting"], d["true_e"])
    return out


def test_stream_matches_batch_coincidence(spark):
    events = make_events(n_base=800, seed=23)
    stations = {s[0]: s for s in STATIONS}
    enriched = [
        {**e, "lat": stations[e["hash"]][1], "lon": stations[e["hash"]][2], "h": stations[e["hash"]][3]}
        for e in events
    ]
    ev_df = spark.createDataFrame(enriched)
    batch = cluster_coincidences(ev_df, stations=None, criterion="physics").collect()

    tmp = tempfile.mkdtemp(prefix="dnp_stream_")
    try:
        # several files => several micro-batches, so the advancing watermark
        # closes earlier sessions; a far-future sentinel closes the rest.
        # Files are time-ordered chunks (an out-of-order split would make the
        # watermark drop earlier chunks as late data — which IS the
        # documented streaming semantics, but not what this test checks).
        enriched.sort(key=lambda e: e["start"])
        n = len(enriched)
        third = n // 3
        schema = ev_df.schema
        for i, chunk in enumerate([enriched[:third], enriched[third : 2 * third], enriched[2 * third :]]):
            spark.createDataFrame(chunk, schema).coalesce(1).write.mode("overwrite").parquet(
                f"{tmp}/in/f{i}"
            )
        sentinel_start = max(e["start"] for e in enriched) + 10**12
        sentinel = [
            dict(
                hash=1001, start=sentinel_start, end=sentinel_start + 100, time_acc=1,
                ublox_counter=0, fix=1, lat=47.0, lon=8.0, h=450.0,
            )
        ]
        spark.createDataFrame(sentinel, schema).coalesce(1).write.mode("overwrite").parquet(
            f"{tmp}/in/f9_sentinel"
        )

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/f*")
        )
        l1 = stream_cluster_coincidences(stream, criterion="physics")
        q = (
            l1.writeStream.format("memory")
            .queryName("l1_stream_test")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.sql("select * from l1_stream_test").collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    got = [r for r in got if r.start < sentinel_start]
    cb, cs = _canon_l1(batch), _canon_l1(got)
    assert len(cs) == len(cb), f"group counts differ: batch={len(cb)} stream={len(cs)}"
    assert cs == cb

    # The resolver must run as the Arrow-batched mapInPandas stage shared
    # with the batch kernel — never a row-at-a-time Python UDF projection.
    plan = l1._jdf.queryExecution().analyzed().toString()
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan


def test_incremental_matches_batch_coincidence(spark):
    """The foreachBatch incremental clusterer (the streaming SCALE path —
    distributed batch operator per micro-batch + carried open tail) must
    reproduce the offline batch result exactly, including sessions that
    span micro-batch boundaries. Its adaptive horizon changes WHEN groups
    emit, never WHAT emits."""
    from detector_network_processor_spark.operators.timebase import (
        TIMEOUT_MAX_NS,
        TIMEOUT_MIN_NS,
    )
    from detector_network_processor_spark.streaming.incremental import (
        _state_versions,
        flush_incremental_state,
        incremental_cluster_query,
    )

    events = make_events(n_base=800, seed=29)
    stations = {s[0]: s for s in STATIONS}
    enriched = [
        {**e, "lat": stations[e["hash"]][1], "lon": stations[e["hash"]][2], "h": stations[e["hash"]][3]}
        for e in events
    ]
    ev_df = spark.createDataFrame(enriched)
    batch = cluster_coincidences(ev_df, stations=None, criterion="physics").collect()

    tmp = tempfile.mkdtemp(prefix="dnp_incr_")
    try:
        enriched.sort(key=lambda e: e["start"])
        n = len(enriched)
        schema = ev_df.schema
        # 4 time-ordered chunks -> 4 micro-batches; chunk edges fall inside
        # sessions, so the carried-tail stitching is exercised for real
        for i in range(4):
            spark.createDataFrame(
                enriched[i * n // 4 : (i + 1) * n // 4], schema
            ).coalesce(1).write.parquet(f"{tmp}/in/f{i}")
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/f*")
        )
        out_path, state_path = f"{tmp}/out", f"{tmp}/state"
        q = (
            incremental_cluster_query(stream, out_path, state_path, f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        # end-of-stream carried state exists (the last chunk's open tail),
        # with the horizon the next increment would read and the W2 rate
        # table of the last increment
        latest = _state_versions(state_path)[-1]
        assert latest == 3
        with open(f"{state_path}/v{latest:012d}/_horizon_ns") as f:
            assert TIMEOUT_MIN_NS <= int(f.read()) <= TIMEOUT_MAX_NS
        assert _state_versions(f"{state_path}/rates")[-1] == 3
        assert spark.read.parquet(f"{state_path}/rates/v{3:012d}").count() > 0
        # the scale contract: the per-increment processing plan distributes
        # over a >1-partition range shuffle — no single-partition state
        # serialization anywhere (what the session_window path cannot avoid)
        plan = (
            cluster_coincidences(ev_df, stations=None, criterion="physics")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "rangepartitioning(start" in plan, plan
        assert "rangepartitioning(start#" in plan and ", 1)" not in plan.split("rangepartitioning")[1][:80], plan
        flush_incremental_state(spark, state_path, out_path)
        assert not os.path.exists(state_path)  # the flush drops tail, horizon and rates
        got = spark.read.parquet(out_path).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    cb, cs = _canon_l1(batch), _canon_l1(got)
    assert len(cs) == len(cb), f"group counts differ: batch={len(cb)} stream={len(cs)}"
    assert cs == cb


def test_adaptive_timeout_responds_to_rate_dip(spark):
    """W1-W3 live loop: a rate dip must widen the horizon the next
    increment reads, like the reference's timebase_t feedback into the
    coincidence filter (src/supervision/station.cpp:66-82). The horizon is
    versioned with the open tail, so a foreachBatch replay — in the same
    query or after a restart — reads its first attempt's horizon, and a
    replayed dip batch is not counted twice."""
    from detector_network_processor_spark.operators.timebase import NS
    from detector_network_processor_spark.streaming.incremental import process_increment

    def hits(pairs):
        return spark.createDataFrame(
            [
                dict(hash=h, start=t, end=t + 1000, time_acc=1, ublox_counter=0, fix=1,
                     lat=47.0 + h * 0.01, lon=8.0, h=450.0)
                for h, t in pairs
            ],
            "hash long, start long, end long, time_acc long, ublox_counter long, "
            "fix long, lat double, lon double, h double",
        )

    # steady phase: 10 or 12 events / 30 s interval / station, 10
    # intervals (against a constant history the dip factor is the same
    # for any dip count, so a double-counted replay would not show)
    steady = hits(
        (h, (i * 30 + j * 2) * NS) for h in (1, 2) for i in range(10) for j in range(10 + 2 * (i % 2))
    )
    dip = hits((h, (10 * 30 + 1) * NS) for h in (1, 2))  # 1 event in the next interval
    after = hits((h, (11 * 30 + j * 2) * NS + h) for h in (1, 2) for j in range(10))

    tmp = tempfile.mkdtemp(prefix="dnp_adaptive_")
    state, out = f"{tmp}/state", f"{tmp}/out"

    def run(df, bid):
        process_increment(spark, df, state, out, batch_id=bid)

    def horizon(bid):
        """The horizon batch bid + 1 reads."""
        with open(f"{state}/v{bid:012d}/_horizon_ns") as f:
            return int(f.read())

    def snapshot(bid):
        def rows(path):
            return sorted(map(str, spark.read.parquet(path).collect()))

        return (
            rows(f"{out}/batch_id={bid}"),
            rows(f"{state}/v{bid:012d}"),
            rows(f"{state}/rates/v{bid:012d}"),
            horizon(bid),
        )

    try:
        run(steady, 0)
        assert horizon(0) == 2 * NS  # W1 800 ms x factor 1, clamped up to 2 s
        run(dip, 1)
        # the parent commit's in-memory controller gave the same sequence
        # (2 s, 2 s, 6183695844 ns) on this input
        assert horizon(1) == 6_183_695_844
        run(dip, 1)  # replay in the same query: the dip is not counted twice
        assert horizon(1) == 6_183_695_844

        run(after, 2)
        first = snapshot(2)
        # batch 2 clustered with the 6.18 s horizon: its sessions from
        # 342 s on (2 hits each) stay open behind its newest event at 348 s;
        # a 2 s horizon would keep only the last two
        assert len(first[1]) == 8
        assert horizon(2) == 2 * NS  # the rate recovered
        # a restart replays batch 2: nothing but the state on disk carries
        # over, and the replay reads batch 2's first-attempt horizon
        run(after, 2)
        assert snapshot(2) == first

        # an increment with no rows leaves the horizon unchanged
        run(after.limit(0), 3)
        assert horizon(3) == horizon(2)
        assert not os.path.exists(f"{state}/rates/v{3:012d}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_adaptive_incremental_matches_batch(spark):
    """Adaptivity changes WHEN groups emit, never WHAT emits: the single
    incremental entry point, reading its horizon from the versioned state,
    still equals the offline batch result on a 3-micro-batch input."""
    from detector_network_processor_spark.streaming.incremental import (
        _state_versions,
        flush_incremental_state,
        incremental_cluster_query,
    )

    events = make_events(n_base=500, seed=31)
    stations = {s[0]: s for s in STATIONS}
    enriched = [
        {**e, "lat": stations[e["hash"]][1], "lon": stations[e["hash"]][2], "h": stations[e["hash"]][3]}
        for e in events
    ]
    ev_df = spark.createDataFrame(enriched)
    batch = cluster_coincidences(ev_df, stations=None, criterion="physics").collect()

    tmp = tempfile.mkdtemp(prefix="dnp_adincr_")
    try:
        enriched.sort(key=lambda e: e["start"])
        n = len(enriched)
        schema = ev_df.schema
        for i in range(3):
            spark.createDataFrame(
                enriched[i * n // 3 : (i + 1) * n // 3], schema
            ).coalesce(1).write.parquet(f"{tmp}/in/f{i}")
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/f*")
        )
        out_path, state_path = f"{tmp}/out", f"{tmp}/state"
        writer = incremental_cluster_query(stream, out_path, state_path, f"{tmp}/ckpt")
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(300)
        # the loop actually ran: the last increment wrote the horizon the
        # next one would read
        latest = _state_versions(state_path)[-1]
        assert latest == 2
        assert os.path.isfile(f"{state_path}/v{latest:012d}/_horizon_ns")
        flush_incremental_state(spark, state_path, out_path)
        got = spark.read.parquet(out_path).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    assert _canon_l1(got) == _canon_l1(batch)


def test_cluster_log_listener_emits_health_rows(spark):
    """A6 control-plane analog: the StreamingQueryListener turns micro-batch
    progress into cluster-health rows with cpu/mem (state.cpp:57-92)."""
    import time

    from detector_network_processor_spark.streaming.monitor import (
        MONITOR_FIELDS,
        ClusterLogListener,
    )

    listener = ClusterLogListener()
    spark.streams.addListener(listener)
    tmp = tempfile.mkdtemp(prefix="dnp_mon_")
    try:
        df = spark.createDataFrame([(i,) for i in range(100)], "x long")
        df.coalesce(1).write.parquet(f"{tmp}/in/f0")
        stream = spark.readStream.schema(df.schema).parquet(f"{tmp}/in/f*")
        q = (
            stream.groupBy().count()
            .writeStream.format("memory").queryName("mon_test")
            .outputMode("complete").option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        for _ in range(40):  # listener events are delivered asynchronously
            if listener.rows:
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
        shutil.rmtree(tmp, ignore_errors=True)

    assert listener.rows, "no progress rows captured"
    row = listener.rows[0]
    assert set(MONITOR_FIELDS) <= set(row)
    assert row["input_rows"] >= 0 and row["mem_rss_kb"] > 0 and row["cpu_user_s"] > 0


def test_parse_events_lines(spark):
    rows = [
        # valid
        ("muonpi/data/user1/station1", "1704067798.778549829 1704067798.778550129 120 417 1 0 1"),
        # start > end -> dropped
        ("muonpi/data/user1/station1", "1704067798.778550129 1704067798.778549829 120 417 1 0 1"),
        # short timestamp field -> dropped
        ("muonpi/data/user1/station1", "1704067798.77 1704067798.778550129 120 417 1 0 1"),
        # leading dot -> dropped
        ("muonpi/data/user1/station1", ".704067798.778549829 1704067798.778550129 120 417 1 0 1"),
        # cluster user -> dropped
        ("muonpi/data/cluster/station1", "1704067798.778549829 1704067798.778550129 120 417 1 0 1"),
        # short topic -> dropped
        ("muonpi/data", "1704067798.778549829 1704067798.778550129 120 417 1 0 1"),
        # non-numeric -> dropped
        ("muonpi/data/user1/station1", "oops17chars.oooooo 1704067798.778550129 120 417 1 0 1"),
        # multi-part station id
        ("muonpi/data/user2/site/det0", "1704067798.778549829 1704067798.778550129 55 1 1 0 1"),
    ]
    df = spark.createDataFrame(rows, "topic string, payload string")
    out = parse_events(df).collect()
    assert len(out) == 2
    first = [r for r in out if r.username == "user1"][0]
    assert first.start == 1704067798778549829  # exact ns (no double round-trip)
    assert first.end == 1704067798778550129
    assert first.time_acc == 120 and first.ublox_counter == 417 and first.fix == 1
    second = [r for r in out if r.username == "user2"][0]
    assert second.station_id == "site/det0"


def test_stream_station_lifecycle_matches_batch(spark):
    import numpy as np

    from detector_network_processor_spark.operators.station import (
        merge_station_records,
        station_lifecycle,
    )
    from detector_network_processor_spark.streaming.station import stream_station_lifecycle

    NS = 10**9
    rng = np.random.default_rng(17)
    GOOD = dict(dop=1.0, h_acc=10.0, v_acc=10.0)
    BAD = dict(dop=4.0, h_acc=80.0, v_acc=60.0)
    logs, events = [], []
    for h in [1, 2, 3]:
        t = 0.0
        while t < 3000:
            logs.append(dict(hash=h, ts=int(t * NS), **(GOOD if rng.random() < 0.7 else BAD)))
            for _ in range(int(rng.integers(0, 5))):
                te = t + float(rng.uniform(0, 40))
                events.append(
                    dict(hash=h, start=int(te * NS), end=int(te * NS) + 300,
                         time_acc=int(rng.choice([100, 5000, 200_000])),
                         ublox_counter=int(rng.integers(0, 65536)), fix=1)
                )
            t += float(rng.choice([60.0, 100.0, 350.0]))

    merged = merge_station_records(spark.createDataFrame(logs), spark.createDataFrame(events))
    batch = station_lifecycle(spark.createDataFrame(logs), spark.createDataFrame(events)).collect()

    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="dnp_station_stream_")
    try:
        rows = sorted(merged.collect(), key=lambda r: r["ts"])
        schema = merged.schema
        n = len(rows)
        for i in range(3):
            chunk = [r.asDict() for r in rows[i * n // 3 : (i + 1) * n // 3]]
            spark.createDataFrame(chunk, schema).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/f{i}")
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/f*")
        q = (
            stream_station_lifecycle(stream)
            .writeStream.format("memory").queryName("station_stream_test")
            .outputMode("append").option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        got = spark.sql("select * from station_stream_test").collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    def canon(rows):
        return sorted((r["hash"], r["ts"], r["status"], r["reason"]) for r in rows)

    assert canon([r.asDict() for r in got]) == canon([r.asDict() for r in batch])


def test_stream_kv_assembly_completion(spark):
    import shutil
    import tempfile

    from detector_network_processor_spark.streaming.assembly import stream_kv_assembly

    names = ["lat", "lon", "dop"]
    rows = [
        # station 1: complete across two batches
        (1, "lat", "47.0"), (1, "lon", "8.0"),
        # station 2: complete in one batch; duplicate lat ignored (first wins)
        (2, "lat", "40.0"), (2, "lat", "41.0"), (2, "lon", "-74.0"), (2, "dop", "1.5"),
        # station 3: never completes
        (3, "lat", "0.0"),
    ]
    rows2 = [(1, "dop", "2.0"), (1, "lat", "99.0")]  # completes 1; extra lat starts a new partial
    tmp = tempfile.mkdtemp(prefix="dnp_kv_stream_")
    try:
        schema = "hash long, name string, value string"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{tmp}/in/f0")
        spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(f"{tmp}/in/f1")
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/f*")
        q = (
            stream_kv_assembly(stream, names)
            .writeStream.format("memory").queryName("kv_stream_test")
            .outputMode("append").option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        got = {r.hash: list(r.values) for r in spark.sql("select * from kv_stream_test").collect()}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got[2] == ["40.0", "-74.0", "1.5"]  # first lat wins
    assert got[1] == ["47.0", "8.0", "2.0"]  # assembled across batches
    assert 3 not in got


def test_stream_eav_windows(spark):
    import datetime
    import shutil
    import tempfile

    from detector_network_processor_spark.streaming.assembly import stream_eav_windows

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        (1, ts(0), "temp", "20"), (1, ts(1), "vbias", "33"), (1, ts(2), "temp", "21"),
        (2, ts(3), "temp", "19"),
        (1, ts(30), "temp", "22"),  # next window
    ]
    sentinel = [(9, ts(300), "x", "y")]
    tmp = tempfile.mkdtemp(prefix="dnp_eav_stream_")
    try:
        schema = "hash long, ts timestamp, name string, value string"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{tmp}/in/f0")
        spark.createDataFrame(sentinel, schema).coalesce(1).write.parquet(f"{tmp}/in/f1")
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/f*")
        q = (
            stream_eav_windows(stream)
            .writeStream.format("memory").queryName("eav_stream_test")
            .outputMode("append").option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        got = {(r.hash, r.window_start.second): (r.n_items, r.items)
               for r in spark.sql("select * from eav_stream_test").collect() if r.hash != 9}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got[(1, 0)] == (3, "temp=20,temp=21,vbias=33")
    assert got[(2, 0)] == (1, "temp=19")
    assert got[(1, 30)] == (1, "temp=22")


def test_stream_main_path_end_to_end(spark):
    """§3.1 in streaming mode: text lines -> parse -> gate -> enrich ->
    cluster -> L1, equal to the batch composition of the same stages."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from detector_network_processor_spark.constants import MAX_TIMING_ERROR_NS
    from detector_network_processor_spark.sources.lines import parse_events
    from detector_network_processor_spark.streaming.pipeline import stream_main_path

    events = make_events(n_base=400, seed=41)
    events.sort(key=lambda e: e["start"])

    EPOCH_NS = 1_700_000_000 * 10**9  # parser requires >=17-char timestamps

    def line(e):
        s, en = (e["start"] + EPOCH_NS) / 1e9, (e["end"] + EPOCH_NS) / 1e9
        return (f"muonpi/data/user{e['hash']}/det", f"{s:.9f} {en:.9f} {e['time_acc']} {e['ublox_counter']} {e['fix']} 0 1")

    lines = [line(e) for e in events]
    # malformed + poor-quality traffic the pipeline must drop
    lines.insert(5, ("muonpi/data/user1001/det", "garbage not_a_number 1 2 3 0 1"))
    lines.insert(10, ("muonpi/data/cluster/det", lines[0][1]))
    bad_quality = dict(events[0]); bad_quality["time_acc"] = 50_000
    lines.insert(15, line(bad_quality))

    st_rows = [
        dict(username=f"user{h}", station_id="det", lat=lat, lon=lon, h=hh)
        for (h, lat, lon, hh) in STATIONS
    ]
    stations = spark.createDataFrame(st_rows).select(
        F.xxhash64(F.concat_ws("/", "username", "station_id")).alias("hash"), "lat", "lon", "h"
    )

    schema = "topic string, payload string"
    lines_df = spark.createDataFrame(lines, schema)

    # batch composition of the same stages
    from detector_network_processor_spark.operators.coincidence import cluster_coincidences

    parsed = parse_events(lines_df).filter(
        (F.col("time_acc") <= int(MAX_TIMING_ERROR_NS)) & (F.col("fix") == 1)
    )
    batch_l1 = cluster_coincidences(parsed, stations=stations, criterion="physics").collect()

    tmp = tempfile.mkdtemp(prefix="dnp_mainpath_")
    try:
        n = len(lines)
        for i in range(3):
            spark.createDataFrame(lines[i * n // 3 : (i + 1) * n // 3], schema).coalesce(1).write.parquet(f"{tmp}/in/f{i}")
        sent_s = (max(e["start"] for e in events) + EPOCH_NS + 10**12) / 1e9
        spark.createDataFrame(
            [("muonpi/data/user1001/det", f"{sent_s:.9f} {sent_s + 1e-6:.9f} 1 0 1 0 1")], schema
        ).coalesce(1).write.parquet(f"{tmp}/in/f9_sentinel")
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/f*")
        q = (
            stream_main_path(stream, stations)
            .writeStream.format("memory").queryName("mainpath_test")
            .outputMode("append").option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        got = [r for r in spark.sql("select * from mainpath_test").collect() if r.start < sent_s * 1e9]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    cb, cs = _canon_l1(batch_l1), _canon_l1(got)
    assert cb == cs
    assert len(cb) > 100


def test_incremental_replay_is_idempotent(spark):
    """Crash-replay contract: re-running a foreachBatch increment with the
    SAME batch_id must leave output and state byte-equal (versioned state +
    per-batch overwrite output — streaming/incremental.py docstring)."""
    import tempfile

    from detector_network_processor_spark.streaming.incremental import (
        flush_incremental_state,
        process_increment,
    )

    events = make_events(n_base=600, seed=31)
    stations = {s[0]: s for s in STATIONS}
    enriched = [
        {**e, "lat": stations[e["hash"]][1], "lon": stations[e["hash"]][2], "h": stations[e["hash"]][3]}
        for e in events
    ]
    ev_df = spark.createDataFrame(enriched)
    batch_expect = cluster_coincidences(ev_df, stations=None, criterion="physics").collect()

    enriched.sort(key=lambda e: e["start"])
    n = len(enriched)
    chunks = [enriched[: n // 2], enriched[n // 2 :]]
    schema = ev_df.schema

    tmp = tempfile.mkdtemp(prefix="dnp_replay_")
    try:
        out_path, state_path = f"{tmp}/out", f"{tmp}/state"
        for bid, chunk in enumerate(chunks):
            process_increment(
                spark, spark.createDataFrame(chunk, schema), state_path, out_path, batch_id=bid
            )
        snapshot = sorted(map(tuple, _canon_l1(spark.read.parquet(out_path).collect())))
        # simulated crash: batch 1 re-delivered with the same id
        process_increment(
            spark, spark.createDataFrame(chunks[1], schema), state_path, out_path, batch_id=1
        )
        replayed = sorted(map(tuple, _canon_l1(spark.read.parquet(out_path).collect())))
        assert replayed == snapshot, "replaying batch 1 changed the output"

        flush_incremental_state(spark, state_path, out_path)
        got = spark.read.parquet(out_path).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    cb, cs = _canon_l1(batch_expect), _canon_l1(got)
    assert len(cs) == len(cb)
    assert cs == cb


def test_increment_overlapped_write_failure_propagates(spark, monkeypatch):
    """r13: the coincidence increment's two terminal writes (closed output,
    carried-state version) run overlapped (guide §2.6, same pattern as the
    near-dup increment). A failure of EITHER write must raise out of
    process_increment — fail-fast with the sibling's job group cancelled —
    and must not have pruned the state version the batch read, so a replay
    of the same batch_id still finds its input state."""
    import os
    import tempfile

    import pytest

    from pyspark.sql.readwriter import DataFrameWriter

    from detector_network_processor_spark.streaming.incremental import process_increment

    events = make_events(n_base=400, seed=53)
    stations = {s[0]: s for s in STATIONS}
    enriched = sorted(
        (
            {**e, "lat": stations[e["hash"]][1], "lon": stations[e["hash"]][2], "h": stations[e["hash"]][3]}
            for e in events
        ),
        key=lambda e: e["start"],
    )
    n = len(enriched)
    chunks = [enriched[: n // 2], enriched[n // 2 :]]
    schema = spark.createDataFrame(enriched[:1]).schema
    real_parquet = DataFrameWriter.parquet

    # the open-tail version, not the rate table version under state/rates/
    open_tail = f"state{os.sep}v000000000001"
    for fail_marker, fail_name in ((open_tail, "state"), ("batch_id=1", "closed")):
        tmp = tempfile.mkdtemp(prefix="dnp_incfail_")
        try:
            out_path, state_path = f"{tmp}/out", f"{tmp}/state"
            process_increment(
                spark, spark.createDataFrame(chunks[0], schema), state_path, out_path, batch_id=0
            )
            assert os.path.isdir(f"{state_path}/v000000000000")

            def failing_parquet(self, path, *a, **kw):
                if fail_marker in path:
                    raise RuntimeError(f"injected {fail_name}-write failure")
                return real_parquet(self, path, *a, **kw)

            monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
            with pytest.raises(Exception, match=f"injected {fail_name}-write failure"):
                process_increment(
                    spark, spark.createDataFrame(chunks[1], schema), state_path, out_path, batch_id=1
                )
            monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
            # the version batch 1 read must survive the failed increment
            # (pruning runs only after BOTH writes land), so the replay of
            # batch 1 works and is byte-equal to a never-failed run
            assert os.path.isdir(f"{state_path}/v000000000000")
            process_increment(
                spark, spark.createDataFrame(chunks[1], schema), state_path, out_path, batch_id=1
            )
            assert os.path.isdir(f"{state_path}/v000000000001")
            assert spark.read.parquet(out_path).count() > 0
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


def test_incremental_state_path_must_be_local(spark):
    """The incremental state is listed and its horizon written through the
    driver's local filesystem, so a state_path with a URI scheme is refused
    before anything is written: with one, no increment would find its
    tail, and the first horizon write would fail after the output landed."""
    import os
    import tempfile

    import pytest

    from detector_network_processor_spark.streaming.incremental import (
        flush_incremental_state,
        incremental_cluster_query,
        process_increment,
    )

    events = make_events(n_base=50, seed=61)
    stations = {s[0]: s for s in STATIONS}
    batch = spark.createDataFrame([
        {**e, "lat": stations[e["hash"]][1], "lon": stations[e["hash"]][2], "h": stations[e["hash"]][3]}
        for e in events
    ])
    tmp = tempfile.mkdtemp(prefix="dnp_incuri_")
    try:
        out_path, state_uri = f"{tmp}/out", f"file://{tmp}/state"
        with pytest.raises(ValueError, match="URI scheme"):
            process_increment(spark, batch, state_uri, out_path, batch_id=0)
        assert not os.path.exists(out_path) and not os.path.exists(f"{tmp}/state")
        with pytest.raises(ValueError, match="URI scheme"):
            incremental_cluster_query(batch, out_path, "hdfs://nn/state", f"{tmp}/ckpt")
        with pytest.raises(ValueError, match="URI scheme"):
            flush_incremental_state(spark, state_uri, out_path)
        assert os.listdir(tmp) == []
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_coincidence_rocksdb_state_store(spark):
    """The session-window clustering path must produce identical results
    under the RocksDB state store (the production backend for large
    state — streaming/pipeline.py::use_rocksdb_state)."""
    import tempfile

    from detector_network_processor_spark.streaming.pipeline import use_rocksdb_state

    events = make_events(n_base=300, seed=41)
    stations = {s[0]: s for s in STATIONS}
    enriched = [
        {**e, "lat": stations[e["hash"]][1], "lon": stations[e["hash"]][2], "h": stations[e["hash"]][3]}
        for e in events
    ]
    ev_df = spark.createDataFrame(enriched)
    batch = cluster_coincidences(ev_df, stations=None, criterion="physics").collect()

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    tmp = tempfile.mkdtemp(prefix="dnp_rocks_")
    try:
        use_rocksdb_state(spark)
        enriched.sort(key=lambda e: e["start"])
        n = len(enriched)
        schema = ev_df.schema
        for i in range(3):
            spark.createDataFrame(
                enriched[i * n // 3 : (i + 1) * n // 3], schema
            ).coalesce(1).write.parquet(f"{tmp}/in/f{i}")
        sentinel_start = max(e["start"] for e in enriched) + 10**12
        sentinel = [dict(hash=1001, start=sentinel_start, end=sentinel_start + 100,
                         time_acc=1, ublox_counter=0, fix=1, lat=47.0, lon=8.0, h=450.0)]
        spark.createDataFrame(sentinel, schema).coalesce(1).write.parquet(f"{tmp}/in/f9_sentinel")

        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/f*")
        l1 = stream_cluster_coincidences(stream, criterion="physics")
        q = (
            l1.writeStream.format("memory").queryName("l1_rocks_test")
            .outputMode("append").option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        got = [r for r in spark.sql("select * from l1_rocks_test").collect()
               if r.start < sentinel_start]
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        shutil.rmtree(tmp, ignore_errors=True)

    cb, cs = _canon_l1(batch), _canon_l1(got)
    assert len(cs) == len(cb), f"group counts differ: batch={len(cb)} rocksdb-stream={len(cs)}"
    assert cs == cb


def test_stream_detector_summaries_matches_batch(spark):
    """Streaming A5 == batch detector_summaries for every window the
    stream has CLOSED (a station's final open window emits only on the
    next window's first record — the batch-canonical close, so the batch
    frame is filtered to closed windows for the comparison)."""
    import shutil
    import tempfile

    import numpy as np

    from detector_network_processor_spark.operators.station import detector_summaries
    from detector_network_processor_spark.streaming.station import stream_detector_summaries

    NS = 10**9
    rng = np.random.default_rng(23)
    rows = []
    for h in [1, 2, 3]:
        t = float(rng.uniform(0, 30))
        ublox = int(rng.integers(0, 65536))
        while t < 1500:
            ublox = (ublox + int(rng.integers(1, 9))) % 65536
            rows.append(
                dict(hash=h, start=int(t * NS), end=int(t * NS) + int(rng.integers(100, 900)),
                     time_acc=int(rng.integers(0, 2000)), ublox_counter=ublox)
            )
            t += float(rng.uniform(0.5, 40.0))
    ev = spark.createDataFrame(rows)
    batch = detector_summaries(ev).collect()
    last_win = {}  # per station: the never-closed tail window
    for r in batch:
        last_win[r["hash"]] = max(last_win.get(r["hash"], -1), r["win"])
    expected = [r for r in batch if r["win"] != last_win[r["hash"]]]

    tmp = tempfile.mkdtemp(prefix="dnp_summary_stream_")
    try:
        ordered = sorted(ev.collect(), key=lambda r: r["start"])
        n = len(ordered)
        for i in range(3):
            chunk = [r.asDict() for r in ordered[i * n // 3 : (i + 1) * n // 3]]
            spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode("overwrite").parquet(
                f"{tmp}/in/f{i}"
            )
        stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(
            f"{tmp}/in/f*"
        )
        q = (
            stream_detector_summaries(stream)
            .writeStream.format("memory").queryName("summary_stream_test")
            .outputMode("append").option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        got = spark.sql("select * from summary_stream_test").collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    def canon(rs):  # name-keyed: batch and stream column ORDER differ
        return sorted(tuple(d[k] for k in sorted(d)) for d in (r.asDict() for r in rs))

    assert len(got) == len(expected) > 0
    assert canon(got) == canon(expected)


def test_stream_monitoring_path_end_to_end(spark):
    """Monitoring wiring (application.cpp:141-176 analog): text lines ->
    parse -> streaming per-station summaries -> K1 summary text lines,
    byte-equal to the batch formatter over batch detector_summaries for
    every closed window."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from detector_network_processor_spark.operators.station import detector_summaries
    from detector_network_processor_spark.sources.lines import parse_events
    from detector_network_processor_spark.streaming.pipeline import stream_monitoring_path
    from detector_network_processor_spark.streaming.sinks import summary_text_lines

    NS = 10**9
    EPOCH_NS = 1_700_000_000 * NS
    lines = []
    for h in (1, 2):
        t, ub = 3 * h, 10
        while t < 700:
            s = (t * NS + EPOCH_NS) / 1e9
            lines.append(
                (f"muonpi/data/user{h}/det", f"{s:.9f} {s + 3e-7:.9f} {t % 1500} {ub % 65536} 1 0 1")
            )
            ub += 3
            t += 7 + h
    schema = "topic string, payload string"
    lines_df = spark.createDataFrame(lines, schema)
    stations = parse_events(lines_df).select("hash").distinct().select(
        "hash",
        F.concat(F.lit("u"), F.col("hash")).alias("user"),
        F.lit("det").alias("station_id"),
    )

    batch_sum = detector_summaries(
        parse_events(lines_df).select("hash", "start", "end", "time_acc", "ublox_counter")
    )
    last_win = {r["hash"]: r["mw"] for r in batch_sum.groupBy("hash").agg(F.max("win").alias("mw")).collect()}
    enriched = batch_sum.join(F.broadcast(stations), "hash").withColumn(
        "ts_us", F.expr(f"win * {120 * NS} div 1000")
    )
    expected = {
        (r["hash"], r["win"], r["idx"], r["line"])
        for r in summary_text_lines(enriched).collect()
        if r["win"] != last_win[r["hash"]]
    }

    tmp = tempfile.mkdtemp(prefix="dnp_monpath_")
    try:
        n = len(lines)
        for i in range(2):
            spark.createDataFrame(lines[i * n // 2 : (i + 1) * n // 2], schema).coalesce(
                1
            ).write.parquet(f"{tmp}/in/f{i}")
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
            f"{tmp}/in/f*"
        )
        q = (
            stream_monitoring_path(stream, stations)
            .writeStream.format("memory").queryName("monpath_test")
            .outputMode("append").option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        got = {
            (r["hash"], r["win"], r["idx"], r["line"])
            for r in spark.sql("select * from monpath_test").collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    assert got == expected and len(got) > 0


def test_session_path_guardrail_warns(spark):
    """VERDICT r4 #3: the constant-key convenience path must announce its
    single-state-partition shape (UserWarning on every build) and name the
    sharded path."""
    import warnings as _w

    from detector_network_processor_spark.streaming.coincidence import (
        stream_cluster_coincidences,
    )

    schema = (
        "hash long, start long, end long, time_acc long, ublox_counter long, "
        "fix long, lat double, lon double, h double"
    )
    stream = spark.readStream.format("rate").load().selectExpr(
        "value as hash", "value as start", "value+1 as end", "1L as time_acc",
        "0L as ublox_counter", "1L as fix", "47.0 as lat", "8.0 as lon", "450.0 as h",
    )
    _ = schema  # schema string kept for readability of the contract
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        stream_cluster_coincidences(stream, criterion="physics")
    assert any(
        issubclass(c.category, UserWarning)
        and "state partition" in str(c.message)
        and "incremental_cluster_query" in str(c.message)
        for c in caught
    )


def test_unknown_criterion_is_refused(spark):
    """A misspelt criterion must fail when the plan is built, not silently
    run the 100 µs simple criterion; both names still build."""
    import pytest

    batch = spark.createDataFrame(
        [dict(hash=1, start=0, end=1, time_acc=1, ublox_counter=0, fix=1, lat=47.0, lon=8.0, h=450.0)]
    )
    stream = spark.readStream.format("rate").load().selectExpr(
        "value as hash", "value as start", "value+1 as end", "1L as time_acc",
        "0L as ublox_counter", "1L as fix", "47.0 as lat", "8.0 as lon", "450.0 as h",
    )
    for criterion in ("physics", "simple"):
        cluster_coincidences(batch, criterion=criterion)
        stream_cluster_coincidences(stream, criterion=criterion)
    with pytest.raises(ValueError, match="phsyics"):
        cluster_coincidences(batch, criterion="phsyics")
    with pytest.raises(ValueError, match="phsyics"):
        stream_cluster_coincidences(stream, criterion="phsyics")
