"""``stream_main_path`` / ``neardup_ingest``: open loop, one generator.

All spool files are generated before the engine starts. One generator
thread then renames them into the spool directory on a fixed schedule
(``FILES_PER_S``), regardless of how far the engine has got. The engine
runs in process on a second thread and is stopped at the end. The stream
command runs as ``__main__.main(["stream", ...])``; the
near-dup query is built as the ``ingest`` command builds it, with a
processing-time trigger the command does not expose (``ingest_query``).

A file's latency is the commit time of the micro-batch that consumed it
(the checkpoint's ``commits/<batch>`` file) minus the time the file was
*due*, so queue wait counts and a late generator cannot hide a stall. The
first file is sent alone and takes the engine's cold first micro-batch; the
schedule starts once it has committed. The next ``WARMUP_TRIGGERS``
trigger intervals of files warm the engine up and are not measured (their
trigger times are in the traced run's notes); the window is the
``--seconds`` of files after them. A measured file not committed within ``LATENCY_LIMIT_S`` of its
due time counts as failed.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import numpy as np

import gen
from probe import Usage, median, nearest_rank, progress_listener

FILES_PER_S = 12
LATENCY_LIMIT_S = 20.0
WATERMARK_MARGIN_NS = 1_000_000  # sessions ending this close to it may go either way
N_STATIONS = 60
# Offered rates sit far below saturation: a micro-batch has a fixed cost of
# about 2 s on a slow 4-core host, so at these rates a trigger's batch ends
# inside its interval even when the host slows down. Near saturation
# (100 lines/s, 30 docs/s) a slow spell overran the trigger, the backlog
# stacked and latency medians of two sets of runs drifted by 46%.
LINES_PER_S = 60  # stream_main_path offered rate (MQTT lines/s)
DOCS_PER_S = 6  # neardup_ingest offered rate (documents/s)
DUP_SHARE = 0.3
THRESHOLD = 0.5
WATERMARK_NS = 2_000_000_000
# Both queries run on a fixed processing-time trigger, the analog of the
# reference daemon's fixed flush tick: each micro-batch starts on the
# clock, so a slow trigger does not grow the next batch. With as-soon-as-
# possible triggers it does, and latency then swings with host speed
# (measured: p50 spread 0.2-0.26 across ten seeds on 4 cores).
# The near-dup micro-batch runs about six Spark jobs, and in slow spells of
# a shared 4-core host its cost grew past 3 s even at 6 docs/s (p50 7-11 s
# against 3.3 s), so its interval is 5 s; a 10 s window holds two whole
# intervals.
TRIGGER_S = {"stream_main_path": 3, "neardup_ingest": 5}
# the engine settles after about four micro-batches past the cold first one
WARMUP_TRIGGERS = 4
PREP_REPEATS = 3


# ------------------------------------------------------------ input files


def warmup_files(workload: str) -> int:
    return WARMUP_TRIGGERS * TRIGGER_S[workload] * FILES_PER_S


def n_files(seconds: float, workload: str) -> int:
    """Spool files of a run measuring ``seconds``: the priming file, the
    warm-up files and the measured ones."""
    return 1 + warmup_files(workload) + int(seconds * FILES_PER_S)


def prepare_lines(seed: int, n_files: int, stage: str) -> dict:
    """MQTT-line spool files ``f00000.parquet``...: event times track each
    file's due time (file i covers [i, i+1) / FILES_PER_S seconds after
    EPOCH_NS). ``hits`` holds what every line encodes, by station index,
    and ``kept`` marks the lines that are well formed and pass the
    quality gate — the stream's input as the generator wrote it."""
    rng = np.random.default_rng([seed, 29])
    st = gen.stations(rng, N_STATIONS)
    names = gen.station_names(N_STATIONS)
    span_s = n_files / FILES_PER_S
    n = int(LINES_PER_S * span_s)
    st_idx, t = gen.hit_times(rng, st, n, 0.4, (2, 6), LINES_PER_S * 0.6)
    t = np.minimum(t, int(span_s * 1e9) - 1)
    file_of = (t * FILES_PER_S // 10**9).astype(np.int64)
    os.makedirs(stage, exist_ok=True)
    counts, parts = [], []
    for i in range(n_files):
        m = file_of == i
        start = gen.EPOCH_NS + t[m]
        tab, rows = gen.mqtt_lines(rng, names, st_idx[m], start, 0.005)
        gen.write_parquet(tab, os.path.join(stage, f"f{i:05d}.parquet"))
        counts.append(tab.num_rows)
        parts.append({"station": st_idx[m], "start": start, **rows})
    hits = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
    hits["kept"] = ~hits.pop("malformed") & ~hits.pop("over_gate")
    return {"inputs_per_file": counts, "stations": st, "names": names, "hits": hits}


def expected_hits(hits: dict, station_hash: np.ndarray):
    """The hits the stream command should cluster (pyarrow table of
    ``gen.HIT_SCHEMA``), built from the generator's own arrays."""
    import pyarrow as pa

    k = hits["kept"]
    return pa.table({
        "hash": station_hash[hits["station"][k]],
        "start": hits["start"][k],
        "end": hits["end"][k],
        "time_acc": hits["time_acc"][k].astype(np.int32),
        "ublox_counter": hits["ublox_counter"][k].astype(np.int32),
        "fix": np.ones(int(k.sum()), dtype=np.int32),
    }, schema=gen.HIT_SCHEMA)


def prepare_docs(seed: int, n_files: int, stage: str) -> dict:
    """Document spool files, DOCS_PER_S / FILES_PER_S documents each, with
    about DUP_SHARE of them near-duplicates of an earlier document."""
    rng = np.random.default_rng([seed, 31])
    per_file = DOCS_PER_S / FILES_PER_S
    pool: list[list[int]] = []
    os.makedirs(stage, exist_ok=True)
    counts, n_dup, next_id = [], 0, 1
    for i in range(n_files):
        k = int((i + 1) * per_file) - int(i * per_file)
        tab, d = gen.documents(rng, next_id, k, pool, DUP_SHARE)
        next_id += k
        n_dup += d
        gen.write_parquet(tab, os.path.join(stage, f"f{i:05d}.parquet"))
        counts.append(k)
    return {"inputs_per_file": counts, "near_dup_share": n_dup / max(1, sum(counts))}


def station_dim(spark, names, st, path: str) -> np.ndarray:
    """Write the stream command's station dimension: hash = Spark's
    xxhash64 of ``username/station_id``, the key the topic names. Returns
    the hashes in ``names`` order."""
    import pandas as pd
    import pyspark.sql.functions as F

    pdf = pd.DataFrame({"u": [u for u, _ in names], "s": [s for _, s in names],
                        "lat": st["lat"], "lon": st["lon"], "h": st["h"]})
    dim = spark.createDataFrame(pdf).select(
        "u", "s", F.xxhash64(F.concat_ws("/", "u", "s")).alias("hash"), "lat", "lon", "h")
    dim.drop("u", "s").coalesce(1).write.parquet(path)
    by_name = {(r["u"], r["s"]): r["hash"] for r in dim.select("u", "s", "hash").collect()}
    return np.array([by_name[n] for n in names], dtype=np.int64)


def ingest_query(spark, spool: str, index: str, out: str, ckpt: str) -> None:
    """The ``ingest`` command's query (``__main__._cmd_ingest``: the same
    source schema and ``incremental_neardup_query`` call) on its TRIGGER_S —
    the command itself has no trigger option."""
    from detector_network_processor_spark.streaming.dedup import incremental_neardup_query

    docs = spark.readStream.schema("doc_id long, text string").parquet(spool)
    writer = incremental_neardup_query(docs, index, out, ckpt, threshold=THRESHOLD)
    writer.trigger(processingTime=f"{TRIGGER_S['neardup_ingest']} seconds").start().awaitTermination()


# ------------------------------------------------------------ checkpoint


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it. The file source's
    own log (``sources/0``, compacted entries included) numbers files by
    source offset; the query's offset log (``offsets/<batch>``) gives the
    source offset each micro-batch read up to. No-data batches advance
    the batch id without the source offset, so the two differ."""
    by_offset: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if not os.path.basename(p).split(".")[0].isdigit():
            continue
        for e in _json_lines(p):
            by_offset[os.path.basename(e["path"])] = int(e["batchId"])
    ends = []  # (source offset read up to, batch id), in batch order
    for p in glob.glob(os.path.join(ckpt, "offsets", "*")):
        b = os.path.basename(p)
        if b.isdigit():
            rows = _json_lines(p)
            if rows and "logOffset" in rows[-1]:
                ends.append((int(b), int(rows[-1]["logOffset"])))
    ends.sort()
    out = {}
    for name, off in by_offset.items():
        batch = next((b for b, end in ends if end >= off), None)
        if batch is not None:
            out[name] = batch
    return out


def _json_lines(path: str) -> list[dict]:
    """The JSON lines of a checkpoint log file after its version line;
    a line still being written is skipped."""
    try:
        with open(path) as f:
            lines = f.read().splitlines()[1:]
    except OSError:
        return []
    rows = []
    for line in lines:
        try:
            rows.append(json.loads(line))
        except ValueError:
            pass
    return rows


def committed_files(ckpt: str) -> dict[str, float]:
    """File name -> commit time (the commit log file's mtime) of the
    micro-batch that read it, for files whose batch has committed."""
    out, times = {}, {}
    for name, b in file_batches(ckpt).items():
        if b not in times:
            times[b] = _commit_time(ckpt, b)
        if times[b] is not None:
            out[name] = times[b]
    return out


def last_commit(ckpt: str) -> int:
    ids = [int(os.path.basename(p)) for p in glob.glob(os.path.join(ckpt, "commits", "*"))
           if os.path.basename(p).isdigit()]
    return max(ids, default=-1)


# ------------------------------------------------------------ the loop


class Generator(threading.Thread):
    """Renames ``names`` from ``stage`` into ``spool`` at ``t0 + i/rate``
    (wall clock) and records how late each rename ran."""

    def __init__(self, stage: str, spool: str, names: list[str], t0: float, tracer):
        super().__init__(name="perfbench-generator", daemon=True)
        self.stage, self.spool, self.names = stage, spool, names
        self.tracer = tracer
        self.due = {n: t0 + i / FILES_PER_S for i, n in enumerate(names)}
        self.late_s: list[float] = []
        self.sent: list[str] = []

    def run(self) -> None:
        for n in self.names:
            wait = self.due[n] - time.time()
            if wait > 0:
                time.sleep(wait)
            with self.tracer.span("generator.rename"):
                os.rename(os.path.join(self.stage, n), os.path.join(self.spool, n))
            self.late_s.append(time.time() - self.due[n])
            self.sent.append(n)


def _commit_time(ckpt: str, batch: int) -> float | None:
    try:
        return os.stat(os.path.join(ckpt, "commits", str(batch))).st_mtime
    except OSError:
        return None


def run(ctx) -> dict:
    from detector_network_processor_spark.__main__ import main as engine_main

    tr, w = ctx.tracer, ctx.work
    stream = ctx.workload == "stream_main_path"
    n_warm = warmup_files(ctx.workload)
    names = [f"f{i:05d}.parquet" for i in range(n_files(ctx.seconds, ctx.workload))]
    # named <table>.parquet so io.load_table(work, table) scans the spool
    spool = os.path.join(w, "lines.parquet" if stream else "docs.parquet")
    out, ckpt, index = (os.path.join(w, d) for d in ("out", "ckpt", "index"))
    stations = os.path.join(w, "stations.parquet")

    with tr.span("session"):
        t = time.perf_counter()
        spark = ctx.session()
        get_spark_s = time.perf_counter() - t
    prep_walls = []
    with tr.span("prepare"):
        for i in range(PREP_REPEATS):
            t = time.perf_counter()
            stage = os.path.join(w, f"stage{i}")
            info = (prepare_lines if stream else prepare_docs)(ctx.seed, len(names), stage)
            prep_walls.append(time.perf_counter() - t)
        if stream:
            want_hits = expected_hits(info["hits"], station_dim(spark, info["names"], info["stations"], stations))
    os.makedirs(spool)
    argv = ["stream", "--lines-dir", spool, "--stations-parquet", stations, "--out", out,
            "--checkpoint", ckpt, "--cpus", str(ctx.cores), "--watermark-ns", str(WATERMARK_NS),
            "--trigger-seconds", str(TRIGGER_S[ctx.workload])]
    listener = progress_listener() if ctx.trace else None
    if listener is not None:
        spark.streams.addListener(listener)
    engine_err: list[BaseException] = []

    def engine() -> None:
        try:
            if stream:
                engine_main(argv)
            else:
                ingest_query(spark, spool, index, out, ckpt)
        except BaseException as e:  # noqa: BLE001 — reported as a failed run
            engine_err.append(e)

    eng = threading.Thread(target=engine, name="perfbench-engine", daemon=True)
    t_warm = time.perf_counter()
    eng.start()
    deadline = time.time() + 120
    while not spark.streams.active and eng.is_alive() and time.time() < deadline:
        time.sleep(0.05)
    if not spark.streams.active:
        raise RuntimeError(f"engine query did not start: {engine_err}")

    # prime: the first file alone takes the engine's cold first batch, so
    # no backlog piles up behind it; the schedule starts once it commits
    os.rename(os.path.join(stage, names[0]), os.path.join(spool, names[0]))
    while names[0] not in committed_files(ckpt) and eng.is_alive() and time.time() < deadline:
        time.sleep(0.05)
    per_file = dict(zip(names, info["inputs_per_file"]))
    names = names[1:]
    genr = Generator(stage, spool, names, time.time() + 0.1, tr)
    genr.start()
    measured = names[n_warm:]
    t_window = genr.due[measured[0]]
    time.sleep(max(0.0, t_window - time.time()))  # set-up ends where measuring starts
    warmup_s = time.perf_counter() - t_warm
    setup_s = ctx.since_start() - sum(prep_walls) + median(prep_walls)
    marks = {"setup": time.perf_counter()}
    job0 = ctx.jobs.mark()
    batch0 = last_commit(ckpt) + 1
    usage = Usage()
    usage.start()
    backlog_max = 0
    with tr.span("window"):
        limit = genr.due[measured[-1]] + LATENCY_LIMIT_S
        while time.time() < limit and eng.is_alive():
            done = committed_files(ckpt)
            backlog_max = max(backlog_max, sum(1 for n in list(genr.sent) if n not in done))
            if len(genr.sent) == len(names) and all(n in done for n in measured):
                break
            time.sleep(0.1)
    usage.stop()
    marks["window"] = time.perf_counter()
    genr.join()
    done = committed_files(ckpt)
    last_batch = last_commit(ckpt)
    job1 = ctx.jobs.mark()

    for q in spark.streams.active:
        q.stop()
    eng.join(60)
    if eng.is_alive():
        raise RuntimeError("engine thread did not stop")
    marks["stop"] = time.perf_counter()

    lat = [done[n] - genr.due[n] for n in measured if n in done]
    late_files = [n for n in measured if n not in done or done[n] - genr.due[n] > LATENCY_LIMIT_S]
    inputs = sum(per_file[n] for n in measured)
    with tr.span("check"):
        check = check_stream(spark, w, want_hits) if stream else check_ingest(spark, w)
    marks["check"] = time.perf_counter()
    ok = not engine_err and check["ok"]
    failed = failed_files(len(measured), len(late_files), ok)
    metrics = {
        "setup_s": setup_s,
        "latency_p50_ms": 1000 * median(lat),
        "latency_p90_ms": 1000 * nearest_rank(lat, 0.9),
        "process.rss_peak_mb": usage.rss_peak_mb,
        "process.cpu_ms_per_1k_inputs": 1000 * usage.cpu_s / (inputs / 1000),
        "session.get_spark_s": get_spark_s,
        "session.warmup_s": warmup_s,
        "generator.late_ms_max": 1000 * max(genr.late_s),
        "streaming.backlog_files_max": backlog_max,
        "process.cpu_util": usage.util(ctx.cores),
    }
    notes = {"check": check, "engine_error": repr(engine_err[0]) if engine_err else None,
             "files_measured": len(measured), "files_late": len(late_files),
             "offered_per_s": LINES_PER_S if stream else DOCS_PER_S,
             "latency_limit_s": LATENCY_LIMIT_S,
             # median latency of each second's warm-up files
             "warmup_curve_s": [round(median([done[n] - genr.due[n] for n in names[i:i + FILES_PER_S] if n in done]), 3)
                                for i in range(0, n_warm, FILES_PER_S)],
             "phase_end_s": {k: round(v - t_warm, 2) for k, v in marks.items()}}
    if stream:
        notes["input_shares"] = gen.size_shares(gen.session_sizes(want_hits["start"].to_numpy()))
    else:
        notes["near_dup_share"] = info["near_dup_share"]
    if ctx.trace:
        events = wait_for_progress(listener, last_batch)
        metrics.update(progress_metrics(events, batch0, last_batch))
        cnt = ctx.jobs.count(job0, job1)
        for k in ("jobs", "stages", "tasks", "tasks_failed"):
            metrics[f"spark.{k}"] = cnt[k] / max(1, last_batch - batch0 + 1)
        # what a traced run adds to the window is the listener's callbacks
        # (on Spark's listener bus, off the micro-batch path) and the span
        # records; their busy share of the window bounds the overhead
        hooks_s = listener.busy_s + tr.bookkeeping_s
        metrics["trace.overhead_frac"] = hooks_s / (usage.t1 - usage.t0)
        notes["trigger_ms_by_batch"] = [(e["batchId"], e["numInputRows"], e["durationMs"].get("triggerExecution"))
                                        for e in events]
        notes["window_first_batch"] = batch0
        with tr.span("layers"):
            metrics.update(stream_layers(ctx, w, want_hits) if stream else ingest_layers(ctx, w, check))
    return {"metrics": metrics, "attempted": len(measured), "failed": failed, "notes": notes}


def failed_files(measured: int, late: int, ok: bool) -> int:
    """Measured files that count as failed: the late ones, or all of them
    when the output check failed or the engine raised — such a failure
    cannot be pinned on one file."""
    return late if ok else measured


# ------------------------------------------------------------ progress


def wait_for_progress(listener, last_batch: int, timeout_s: float = 10.0) -> list[dict]:
    """Progress events are delivered asynchronously; wait until the
    listener has seen ``last_batch``."""
    t_end = time.time() + timeout_s
    while time.time() < t_end:
        events = listener.snapshot()
        if any(e["batchId"] >= last_batch for e in events):
            return events
        time.sleep(0.1)
    return listener.snapshot()


def progress_metrics(events: list[dict], first: int, last: int) -> dict:
    ev = [e for e in events if first <= e["batchId"] <= last]
    m = {"streaming.batches": len(ev)}
    for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
        key = "trigger" if k == "triggerExecution" else k
        m[f"streaming.{key}_ms_p50"] = median([e["durationMs"].get(k, 0) for e in ev])
    m["streaming.rows_per_batch_p50"] = median([e["numInputRows"] for e in ev])
    ops = [e["stateOperators"][0] for e in ev if e.get("stateOperators")]
    if ops:
        m["streaming.state_rows"] = ops[-1]["numRowsTotal"]
        m["streaming.state_bytes"] = ops[-1]["memoryUsedBytes"]
        m["streaming.state_commit_ms_p50"] = median([o.get("commitTimeMs", 0) for o in ops])
        m["streaming.rows_dropped_by_watermark"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    return m


# ------------------------------------------------------------ checks


def final_watermark_ns(w: str) -> int | None:
    """Event-time watermark (ns) of the last micro-batch whose output the
    sink committed: its sessions are exactly those closed by then."""
    ids = [int(os.path.basename(p).split(".")[0])
           for p in glob.glob(os.path.join(w, "out", "_spark_metadata", "*"))
           if os.path.basename(p).split(".")[0].isdigit()]
    if not ids:
        return None
    meta = _json_lines(os.path.join(w, "ckpt", "offsets", str(max(ids))))
    # the stream relabels ns as us, so the millisecond watermark is us of ns
    return int(meta[0]["batchWatermarkMs"]) * 1000 if meta else None


def closed_rows(sessions, wm: int) -> tuple[list[tuple], set]:
    """Split golden ``(last start, rows)`` sessions at the watermark ``wm``:
    the rows of every session whose window closed by then, and the
    ``(hash, start)`` keys of sessions too close to it to call."""
    want_rows, undecided = [], set()
    for last, rows in sessions:
        end = last + gen.GAP_NS + 1  # the session window's end
        if end + WATERMARK_MARGIN_NS <= wm:
            want_rows.extend(rows)
        elif end - WATERMARK_MARGIN_NS < wm:
            undecided.update((r[7], r[8]) for r in rows)
    return want_rows, undecided


def check_stream(spark, w: str, hits) -> dict:
    """Streamed L1 rows == the golden model (``checks.golden_sessions``,
    which batch ``cluster_coincidences`` is pinned to) over the generator's
    well-formed, gate-passing hits, for every session closed before the
    final watermark, as exact multisets; no row of a session still open
    may have been emitted."""
    import pyarrow.parquet as pq

    from checks import L1_ROW_COLS, golden_sessions, multiset_diff

    wm = final_watermark_ns(w)
    if wm is None:
        return {"ok": False, "error": "the sink committed no batch"}
    want_rows, undecided = closed_rows(
        golden_sessions(hits, pq.read_table(os.path.join(w, "stations.parquet"))), wm)
    got_rows = [tuple(r) for r in spark.read.parquet(os.path.join(w, "out")).select(*L1_ROW_COLS).collect()]
    got_rows = [r for r in got_rows if (r[7], r[8]) not in undecided]
    diff = multiset_diff(got_rows, want_rows)
    return {"ok": not any(diff.values()) and bool(want_rows), "rows": len(got_rows),
            "want_rows": len(want_rows), "watermark_s": (wm - gen.EPOCH_NS) / 1e9, **diff}


def check_ingest(spark, w: str) -> dict:
    """Union of every increment's pairs == batch ``minhash_lsh_pairs`` over
    all documents at the same threshold (each pair once, either order)."""
    from detector_network_processor_spark import io
    from detector_network_processor_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    from checks import multiset_diff, pair_set

    docs = io.load_table(spark, w, "docs")
    want = pair_set(minhash_lsh_pairs(minhash_signatures(docs), min_est=THRESHOLD).collect())
    try:
        got = pair_set(spark.read.parquet(os.path.join(w, "out"))
                       .select("doc_a", "doc_b", "est_jaccard").collect())
    except Exception as e:  # noqa: BLE001 — an unreadable sink is a failed check
        return {"ok": False, "error": repr(e)[:300], "want_pairs": len(want)}
    diff = multiset_diff(got, want)
    return {"ok": not any(diff.values()) and bool(want), "pairs": len(got),
            "want_pairs": len(want), **diff}


# ------------------------------------------------------------ layers

LAYER_REPEATS = 3  # timed calls per layer, after one discarded warm-up call


def _timed(ctx, name: str, fn):
    """(median seconds, result) of ``fn`` over LAYER_REPEATS calls after a
    discarded first one, each inside a span of that name. Everything
    cached is released afterwards (sessionize persists its range-sorted
    input per plan build)."""
    from detector_network_processor_spark.session import release_cached

    walls = []
    for i in range(1 + LAYER_REPEATS):
        with ctx.tracer.span(name if i else f"{name}.warmup"):
            t = time.perf_counter()
            out = fn()
            walls.append(time.perf_counter() - t)
    release_cached(ctx.spark)
    return median(walls[1:]), out


def _scan(df):
    """Force a full read of every column: (xor of row hashes, rows)."""
    import pyspark.sql.functions as F

    return tuple(df.agg(F.bit_xor(F.xxhash64("*")), F.count(F.lit(1))).collect()[0])


def stream_layers(ctx, w: str, hits) -> dict:
    """Parse layer over the whole spool, then the batch coincidence layers
    over this run's expected hits, each called through its module's
    public functions. The tier subsets are whole gap sessions, so each is
    clustered exactly."""
    import shutil

    import pyspark.sql.functions as F

    from detector_network_processor_spark import io
    from detector_network_processor_spark.operators.coincidence import cluster_coincidences, l1_flatten
    from detector_network_processor_spark.operators.sessionize import SESSION_N_COL, sessionize_global_gap
    from detector_network_processor_spark.sources.lines import parse_events

    from checks import l1_hash

    spark = ctx.spark
    m = {"sources.lines.rows_in": io.load_table(spark, w, "lines").count()}
    s, (_, n_out) = _timed(ctx, "sources.lines.parse_events",
                           lambda: _scan(parse_events(io.load_table(spark, w, "lines"))))
    m["sources.lines.parse_events_s"], m["sources.lines.rows_out"] = s, n_out

    gdir = os.path.join(w, "gated")
    os.makedirs(gdir)
    gen.write_parquet(hits, os.path.join(gdir, "hits.parquet"))
    shutil.copytree(os.path.join(w, "stations.parquet"), os.path.join(gdir, "stations.parquet"))
    s, (_, m["io.scan_rows"]) = _timed(ctx, "io.scan", lambda: _scan(io.load_table(spark, gdir, "hits")))
    m["io.scan_s"] = s

    def sessionize():
        sess = sessionize_global_gap(io.load_table(spark, gdir, "hits"), "start", gen.GAP_NS)
        return sess.groupBy(SESSION_N_COL).count().collect()

    s, by_n = _timed(ctx, "operators.sessionize", sessionize)
    total = sum(r["count"] for r in by_n) or 1
    share = lambda keep: sum(r["count"] for r in by_n if keep(r[SESSION_N_COL])) / total  # noqa: E731
    m["operators.sessionize.sessionize_global_gap_s"] = s
    m["operators.sessionize.sessions"] = sum(r["count"] / r[SESSION_N_COL] for r in by_n)
    m["operators.sessionize.hit_share_n1"] = share(lambda n: n == 1)
    m["operators.sessionize.hit_share_n2_4"] = share(lambda n: 2 <= n <= 4)
    m["operators.sessionize.hit_share_n5p"] = share(lambda n: n >= 5)

    sizes = gen.session_sizes(hits["start"].to_numpy())
    for name, mask in (("jvm_tier", (sizes >= 2) & (sizes <= 4)), ("arrow_tier", sizes >= 5)):
        sub_dir = os.path.join(gdir, name)
        os.makedirs(sub_dir)
        gen.write_parquet(hits.filter(mask), os.path.join(sub_dir, "hits.parquet"))

        def tier(d=sub_dir):
            l1 = cluster_coincidences(io.load_table(spark, d, "hits"), io.load_table(spark, gdir, "stations"))
            return l1.agg(F.count(F.lit(1))).collect()[0][0]

        m[f"operators.coincidence.{name}_s"], _ = _timed(ctx, f"operators.coincidence.{name}", tier)
    l1 = cluster_coincidences(io.load_table(spark, gdir, "hits"), io.load_table(spark, gdir, "stations"))
    l1 = l1.localCheckpoint(eager=True)  # released by the timed flatten below
    m["operators.coincidence.l1_groups"] = l1.filter(F.col("n") >= 2).count()
    s, _ = _timed(ctx, "operators.coincidence.l1_flatten", lambda: l1_hash(l1_flatten(l1)))
    m["operators.coincidence.l1_flatten_s"] = s
    return m


def ingest_layers(ctx, w: str, check: dict) -> dict:
    from detector_network_processor_spark import io
    from detector_network_processor_spark.operators.dedup import minhash_signatures
    from detector_network_processor_spark.streaming.dedup import read_band_index

    spark = ctx.spark
    index = os.path.join(w, "index")
    m = {}
    s, (_, n_docs) = _timed(ctx, "io.scan", lambda: _scan(io.load_table(spark, w, "docs")))
    m["io.scan_s"], m["io.scan_rows"] = s, n_docs
    s, _ = _timed(ctx, "operators.dedup.minhash_signatures",
                  lambda: _scan(minhash_signatures(io.load_table(spark, w, "docs"))))
    m["operators.dedup.minhash_signatures_s"] = s / (n_docs / 1000)
    s, _ = _timed(ctx, "streaming.dedup.read_band_index",
                  lambda: _scan(read_band_index(spark, index, before_batch=2**31 - 1)))
    m["streaming.dedup.read_band_index_s"] = s
    m["streaming.dedup.index_rows"] = spark.read.parquet(index).count()
    m["streaming.dedup.index_files"] = len(glob.glob(os.path.join(index, "*", "*.parquet")))
    m["streaming.dedup.pairs_out"] = check.get("pairs", 0)
    return m
