"""CLI entry point (python -m detector_network_processor_spark): list/run/
oracle in-process, and the stream daemon mode end-to-end over a spool dir."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

from detector_network_processor_spark.__main__ import main
from detector_network_processor_spark.session import get_spark

ROOT = str(Path(__file__).resolve().parents[1])


def test_list_names_every_registered_query(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    from detector_network_processor_spark.plans import all_queries

    for name in all_queries():
        assert name in out


def test_oracle_prints_sql(capsys):
    assert main(["oracle", "q1_pricing_summary"]) == 0
    assert "SELECT" in capsys.readouterr().out.upper()


def test_oracle_unknown_query(capsys):
    assert main(["oracle", "no_such_query"]) == 2


def test_run_unknown_query():
    assert main(["run", "no_such_query"]) == 2


def test_run_shows_rows(spark, capsys):
    # get_spark inside the CLI returns the active test session (getOrCreate)
    assert main(["run", "top_orders", "--sf-dir", "/root/testdata/sf0.001", "--limit", "5"]) == 0
    assert "o_orderkey" in capsys.readouterr().out


def test_run_explain(spark, capsys):
    assert main(["run", "q1_pricing_summary", "--sf-dir", "/root/testdata/sf0.001", "--explain"]) == 0
    assert "AdaptiveSparkPlan" in capsys.readouterr().out


EPOCH_NS = 1_700_000_000 * 10**9  # the parser requires >=17-char timestamps
LINES_SCHEMA = "topic string, payload string"
# every column of the flattened L1 row but session_id, which the batch
# operator numbers and the streaming resolver leaves null
L1_ROW_COLS = (
    "uuid", "group_start", "group_end", "n", "conflicting", "true_e",
    "pos", "hash", "start", "end", "time_acc",
)
STREAM_ARGS = ["stream", "--lines-dir", "{tmp}/spool/b*", "--stations-parquet", "{tmp}/stations",
               "--out", "{tmp}/l1", "--checkpoint", "{tmp}/ckpt"]


def _line(e):
    s, en = (e["start"] + EPOCH_NS) / 1e9, (e["end"] + EPOCH_NS) / 1e9
    return (
        f"muonpi/data/user{e['hash']}/det",
        f"{s:.9f} {en:.9f} {e['time_acc']} {e['ublox_counter']} {e['fix']} 0 1",
    )


def _spool_fixture(spark, tmp):
    """Time-ordered MQTT lines of a small station network, a far-future
    close-out sentinel that lets the watermark pass every real session,
    and the station dimension written to ``tmp/stations``."""
    import pyspark.sql.functions as F

    from muon_fixtures import STATIONS, make_events

    events = sorted(make_events(n_base=200, seed=7), key=lambda e: e["start"])
    lines = [_line(e) for e in events]
    sent_s = (events[-1]["start"] + EPOCH_NS + 10**12) / 1e9
    sentinel = ("muonpi/data/user1001/det", f"{sent_s:.9f} {sent_s + 1e-6:.9f} 1 0 1 0 1")
    st_rows = [
        dict(username=f"user{h}", station_id="det", lat=lat, lon=lon, h=hh)
        for (h, lat, lon, hh) in STATIONS
    ]
    stations = spark.createDataFrame(st_rows).select(
        F.xxhash64(F.concat_ws("/", "username", "station_id")).alias("hash"), "lat", "lon", "h"
    )
    stations.write.parquet(f"{tmp}/stations")
    return lines, sentinel, stations


def _write_spool(spark, path, lines):
    spark.createDataFrame(lines, LINES_SCHEMA).coalesce(1).write.parquet(path)


def _l1_rows(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.select(*L1_ROW_COLS).collect())


def _batch_l1_rows(spark, lines, stations):
    """Batch parse -> quality gate -> cluster_coincidences -> l1_flatten
    over the same lines: what the stream command must land."""
    import pyspark.sql.functions as F

    from detector_network_processor_spark.constants import MAX_TIMING_ERROR_NS
    from detector_network_processor_spark.operators.coincidence import (
        cluster_coincidences,
        l1_flatten,
    )
    from detector_network_processor_spark.sources.lines import parse_events

    gated = parse_events(spark.createDataFrame(lines, LINES_SCHEMA)).filter(
        (F.col("time_acc") <= int(MAX_TIMING_ERROR_NS)) & (F.col("fix") == 1)
    )
    return _l1_rows(l1_flatten(cluster_coincidences(gated, stations=stations, criterion="physics")))


def _last_batch(log_dir):
    return max(int(name) for name in os.listdir(log_dir) if name.isdigit())


def _offset_conf(ckpt, batch_id):
    """The session conf a query recorded in its offset log for a batch."""
    import json

    with open(f"{ckpt}/offsets/{batch_id}") as f:
        return json.loads(f.read().splitlines()[1])["conf"]


def test_stream_trigger_seconds_accepts_fractions():
    """--trigger-seconds takes the reference's 100 ms flush tick; whole
    seconds parse as before; an interval under 1 ms, an infinite one, or
    one past Spark's interval limit is refused."""
    import pytest

    from detector_network_processor_spark.__main__ import _build_parser

    p = _build_parser()
    argv = [a.format(tmp="t") for a in STREAM_ARGS]
    assert p.parse_args(argv + ["--trigger-seconds", "0.1"]).trigger_seconds == 0.1
    assert p.parse_args(argv + ["--trigger-seconds", "3"]).trigger_seconds == 3
    assert p.parse_args(argv).trigger_seconds is None
    # Spark's ceiling: the interval in microseconds fits a signed 64-bit long
    top = p.parse_args(argv + ["--trigger-seconds", "9223372036854"])
    assert top.trigger_seconds == 9223372036854
    for bad in ("0", "-1", "0.0001", "inf", "1e20", "9223372036855"):
        with pytest.raises(SystemExit):
            p.parse_args(argv + ["--trigger-seconds", bad])


def test_ingest_trigger_seconds_matches_stream():
    """ingest takes the same --trigger-seconds as stream, passed to Spark in
    milliseconds; --available-now still wins, and no flag means no trigger."""
    import pytest

    from detector_network_processor_spark.__main__ import _build_parser, _with_trigger

    class Writer:
        kw = None

        def trigger(self, **kw):
            self.kw = kw
            return self

    p = _build_parser()
    argv = ["ingest", "--docs-dir", "d", "--index", "i", "--out", "o", "--checkpoint", "c"]
    tick = p.parse_args(argv + ["--trigger-seconds", "0.1"])
    assert tick.trigger_seconds == 0.1
    assert _with_trigger(Writer(), tick).kw == {"processingTime": "100 milliseconds"}
    five = p.parse_args(argv + ["--trigger-seconds", "5"])
    assert _with_trigger(Writer(), five).kw == {"processingTime": "5000 milliseconds"}
    drain = p.parse_args(argv + ["--trigger-seconds", "5", "--available-now"])
    assert _with_trigger(Writer(), drain).kw == {"availableNow": True}
    assert _with_trigger(Writer(), p.parse_args(argv)).kw is None
    top = p.parse_args(argv + ["--trigger-seconds", "9223372036854"])
    assert _with_trigger(Writer(), top).kw == {"processingTime": "9223372036854000 milliseconds"}
    for bad in ("0", "-1", "0.0001", "inf", "1e20", "9223372036855"):
        with pytest.raises(SystemExit):
            p.parse_args(argv + ["--trigger-seconds", bad])


def test_stream_watermark_ns_is_checked_when_parsed():
    """stream --watermark-ns takes 0 up to Spark's interval limit; Spark
    itself refuses a negative delay and one past a signed 64-bit
    microsecond count, but only after the session has started."""
    import pytest

    from detector_network_processor_spark.__main__ import _build_parser

    p = _build_parser()
    argv = [a.format(tmp="t") for a in STREAM_ARGS]
    assert p.parse_args(argv).watermark_ns == 10_000_000_000
    assert p.parse_args(argv + ["--watermark-ns", "0"]).watermark_ns == 0
    top = p.parse_args(argv + ["--watermark-ns", "9223372036854775807"])
    assert top.watermark_ns == 2**63 - 1
    for bad in ("-1", "9223372036854775808", "1.5", "ten"):
        with pytest.raises(SystemExit):
            p.parse_args(argv + ["--watermark-ns", bad])


def test_monitor_interval_ns_is_checked_when_parsed():
    """monitor --interval-ns must hold at least one 30 s rate sub-interval:
    below it the summary worker divides by zero sub-intervals when the
    first window closes (and by a zero interval on the first row)."""
    import pytest

    from detector_network_processor_spark.__main__ import _build_parser

    p = _build_parser()
    argv = ["monitor", "--lines-dir", "l", "--stations-parquet", "s", "--out", "o",
            "--checkpoint", "c"]
    assert p.parse_args(argv).interval_ns == 120 * 10**9
    assert p.parse_args(argv + ["--interval-ns", "30000000000"]).interval_ns == 30 * 10**9
    for bad in ("0", "-1", "10000000000", "29999999999", "3e10"):
        with pytest.raises(SystemExit):
            p.parse_args(argv + ["--interval-ns", bad])


# the required arguments of each command that takes --cpus
_CPUS_COMMANDS = {
    "run": ["run", "q"],
    "stream": [a.format(tmp="t") for a in STREAM_ARGS],
    "monitor": ["monitor", "--lines-dir", "l", "--stations-parquet", "s", "--out", "o",
                "--checkpoint", "c"],
    "ingest": ["ingest", "--docs-dir", "d", "--index", "i", "--out", "o", "--checkpoint", "c"],
    "materialize": ["materialize", "--out", "o"],
    "compact": ["compact", "--in", "i", "--out", "o"],
    "verify": ["verify"],
}


def test_jaccard_thresholds_are_checked_when_parsed():
    """ingest --threshold and compact --jaccard take a number from 0 to 1:
    Spark orders NaN above every number, so `est_jaccard >= NaN` keeps no
    pair, and any threshold past 1 keeps none either."""
    import pytest

    from detector_network_processor_spark.__main__ import _build_parser

    p = _build_parser()
    for cmd, opt, dest in (("ingest", "--threshold", "threshold"),
                           ("compact", "--jaccard", "jaccard")):
        argv = _CPUS_COMMANDS[cmd]
        assert getattr(p.parse_args(argv), dest) == 0.5
        assert getattr(p.parse_args(argv + [opt, "0"]), dest) == 0.0
        assert getattr(p.parse_args(argv + [opt, "1"]), dest) == 1.0
        for bad in ("nan", "inf", "-inf", "-0.1", "1.01", "half"):
            with pytest.raises(SystemExit):
                p.parse_args(argv + [opt, bad])


def test_cpus_is_checked_when_parsed():
    """--cpus is a positive whole number on every command that takes it:
    `local[abc]` and `local[0]` fail only once SparkContext creation
    starts."""
    import pytest

    from detector_network_processor_spark.__main__ import _build_parser

    p = _build_parser()
    for argv in _CPUS_COMMANDS.values():
        assert p.parse_args(argv).cpus is None
        assert p.parse_args(argv + ["--cpus", "3"]).cpus == 3
        for bad in ("abc", "0", "-2", "1.5"):
            with pytest.raises(SystemExit):
                p.parse_args(argv + ["--cpus", bad])


def test_materialize_buckets_is_checked_when_parsed():
    import pytest

    from detector_network_processor_spark.__main__ import _build_parser

    p = _build_parser()
    argv = _CPUS_COMMANDS["materialize"]
    assert p.parse_args(argv).buckets is None
    assert p.parse_args(argv + ["--buckets", "8"]).buckets == 8
    for bad in ("0", "-8", "eight"):
        with pytest.raises(SystemExit):
            p.parse_args(argv + ["--buckets", bad])


def test_stream_daemon_drains_spool(spark):
    """stream --available-now lands exactly the batch L1 rows of the same
    parsed and gated lines, on a query started with one state partition,
    and leaves the session's own partition count as it found it."""
    tmp = tempfile.mkdtemp(prefix="dnp_cli_stream_")
    try:
        lines, sentinel, stations = _spool_fixture(spark, tmp)
        _write_spool(spark, f"{tmp}/spool/b0", lines)
        _write_spool(spark, f"{tmp}/spool/b1", [sentinel])
        want = _batch_l1_rows(spark, lines + [sentinel], stations)
        # the command's get_spark call re-applies the session's partition
        # count for its --cpus; make that same call first
        cpus = str(spark.sparkContext.defaultParallelism)
        before = get_spark(cpus=cpus).conf.get("spark.sql.shuffle.partitions")
        rc = main([a.format(tmp=tmp) for a in STREAM_ARGS] + ["--available-now", "--cpus", cpus])
        assert rc == 0
        assert _offset_conf(f"{tmp}/ckpt", 0)["spark.sql.shuffle.partitions"] == "1"
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
        got = _l1_rows(spark.read.parquet(f"{tmp}/l1"))
        assert sum(want.values()) > 50
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_resumes_checkpoint_with_its_partition_count(spark):
    """A checkpoint written on the session's default partition count (how
    the command started its query before it pinned one state partition)
    resumes under the command: the two runs' output together equals the
    single-pass batch result, and the offset log keeps the old count."""
    from detector_network_processor_spark.operators.coincidence import l1_flatten
    from detector_network_processor_spark.streaming.pipeline import (
        stream_main_path,
        use_rocksdb_state,
    )

    tmp = tempfile.mkdtemp(prefix="dnp_cli_resume_")
    try:
        lines, sentinel, stations = _spool_fixture(spark, tmp)
        half = len(lines) // 2
        _write_spool(spark, f"{tmp}/spool/b0", lines[:half])
        old_count = spark.conf.get("spark.sql.shuffle.partitions")
        assert old_count != "1"
        use_rocksdb_state(spark)
        src = spark.readStream.schema(LINES_SCHEMA).parquet(f"{tmp}/spool/b*")
        q = (
            l1_flatten(stream_main_path(src, spark.read.parquet(f"{tmp}/stations")), min_n=2)
            .writeStream.format("parquet")
            .option("path", f"{tmp}/l1")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        first_run_last = _last_batch(f"{tmp}/ckpt/commits")
        _write_spool(spark, f"{tmp}/spool/b1", lines[half:])
        _write_spool(spark, f"{tmp}/spool/b2", [sentinel])
        cpus = str(spark.sparkContext.defaultParallelism)
        rc = main([a.format(tmp=tmp) for a in STREAM_ARGS] + ["--available-now", "--cpus", cpus])
        assert rc == 0
        last = _last_batch(f"{tmp}/ckpt/offsets")
        assert last > first_run_last
        assert _offset_conf(f"{tmp}/ckpt", last)["spark.sql.shuffle.partitions"] == old_count
        want = _batch_l1_rows(spark, lines + [sentinel], stations)
        assert sum(want.values()) > 50
        assert _l1_rows(spark.read.parquet(f"{tmp}/l1")) == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_module_invocation_smoke():
    """python -m ... list works as a real subprocess (no Spark needed)."""
    r = subprocess.run(
        [sys.executable, "-m", "detector_network_processor_spark", "list"],
        capture_output=True, text=True, cwd=ROOT, timeout=120,
    )
    assert r.returncode == 0
    assert "l1_coincidence" in r.stdout


def test_materialize_day_partitions_events(spark, tmp_path):
    rc = main(
        [
            "materialize",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "lake"),
            "--tables", "events",
        ]
    )
    assert rc == 0
    import pyspark.sql.functions as F

    out = spark.read.parquet(str(tmp_path / "lake" / "events"))
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    assert out.count() == src.count()
    # hive-style day directories exist and a day filter prunes to one of them
    days = [r["day"] for r in out.select("day").distinct().collect()]
    assert len(days) > 1
    one = out.filter(F.col("day") == days[0])
    files = {r[0] for r in one.select(F.input_file_name()).distinct().collect()}
    assert all(f"day={days[0]}" in f for f in files)


def test_materialize_unknown_table(tmp_path):
    assert main(["materialize", "--out", str(tmp_path), "--tables", "nope"]) == 2


def test_verify_subcommand(spark, capsys):
    rc = main(["verify", "top_orders", "q1_pricing_summary", "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "top_orders: OK" in out and "2/2 OK" in out


def test_verify_unknown_query():
    assert main(["verify", "nope"]) == 2


def test_compact_removes_exact_and_near_duplicates(spark, tmp_path):
    """compact: exact copies collapse to min doc_id; near-identical texts
    (one token changed) collapse to their cluster's canonical; distinct
    docs survive."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (1, base, "en", "web"),
        (2, base, "en", "web"),                      # exact dup of 1
        (3, base.replace("pi", "PI"), "en", "web"),  # near-dup of 1
        (4, "completely different text about other things entirely with many unique words", "en", "web"),
    ]
    src = str(tmp_path / "lake")
    out = str(tmp_path / "clean")
    spark.createDataFrame(rows, "doc_id long, text string, lang string, source string").write.parquet(src)
    rc = main(["compact", "--in", src, "--out", out, "--jaccard", "0.5"])
    assert rc == 0
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 4]


def test_compact_clone_safe_mode(spark, tmp_path):
    """compact --clone-safe: K clones of a doc collapse via spanning-star
    LSH bucket edges (the clone-regime path; no pair listing), and a
    distinct doc still survives untouched."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    K = 8
    rows = [(i, base + f" trailer{i}", "en", "web") for i in range(1, K + 1)]
    rows.append((99, "completely different text about other things entirely with many unique words", "en", "web"))
    src = str(tmp_path / "lake")
    out = str(tmp_path / "clean")
    spark.createDataFrame(rows, "doc_id long, text string, lang string, source string").write.parquet(src)
    rc = main(["compact", "--in", src, "--out", out, "--clone-safe"])
    assert rc == 0
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 99]


def test_cli_monitor_drains_spool(spark, tmp_path):
    """`monitor --available-now`: (topic, payload) spool -> streaming
    detector summaries -> K1 text lines parquet."""
    import subprocess
    import sys

    import pyspark.sql.functions as F

    NS = 10**9
    EPOCH_NS = 1_700_000_000 * NS
    lines = []
    for h in (1, 2):
        t, ub = 3 * h, 10
        while t < 600:
            s = (t * NS + EPOCH_NS) / 1e9
            lines.append((f"muonpi/data/user{h}/det", f"{s:.9f} {s + 3e-7:.9f} 100 {ub % 65536} 1 0 1"))
            ub, t = ub + 3, t + 9
    spark.createDataFrame(lines, "topic string, payload string").coalesce(1).write.parquet(
        str(tmp_path / "spool" / "b0")
    )
    from detector_network_processor_spark.sources.lines import parse_events

    parse_events(
        spark.createDataFrame(lines, "topic string, payload string")
    ).select("hash").distinct().select(
        "hash",
        F.concat(F.lit("u"), F.col("hash")).alias("user"),
        F.lit("det").alias("station_id"),
    ).write.parquet(str(tmp_path / "stations"))

    r = subprocess.run(
        [sys.executable, "-m", "detector_network_processor_spark", "monitor",
         "--lines-dir", str(tmp_path / "spool" / "*"),
         "--stations-parquet", str(tmp_path / "stations"),
         "--out", str(tmp_path / "out"), "--checkpoint", str(tmp_path / "ckpt"),
         "--available-now", "--cpus", "4"],
        capture_output=True, text=True, timeout=600, cwd=ROOT,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = spark.read.parquet(str(tmp_path / "out"))
    rows = out.collect()
    assert len(rows) > 0
    assert all(" eventrate " in r_["line"] or " " in r_["line"] for r_ in rows)
    assert {f.name for f in out.schema.fields} == {"hash", "win", "idx", "line"}


def test_cli_ingest_builds_index_and_finds_pairs(spark, tmp_path):
    """`ingest --available-now`: document spool -> incremental near-dup
    checker; pairs land partitioned by batch, the band index persists."""
    import subprocess
    import sys

    base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    docs = [(i, base if i % 2 == 0 else " ".join(f"w{i}_{j}" for j in range(14))) for i in range(12)]
    spark.createDataFrame(docs[:6], "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "spool" / "b0")
    )
    spark.createDataFrame(docs[6:], "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "spool" / "b1")
    )
    r = subprocess.run(
        [sys.executable, "-m", "detector_network_processor_spark", "ingest",
         "--docs-dir", str(tmp_path / "spool" / "*"),
         "--index", str(tmp_path / "index"), "--out", str(tmp_path / "out"),
         "--checkpoint", str(tmp_path / "ckpt"), "--available-now", "--cpus", "4"],
        capture_output=True, text=True, timeout=600, cwd=ROOT,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    pairs = spark.read.parquet(str(tmp_path / "out")).collect()
    # the 6 identical docs form C(6,2)=15 pairs, split across increments
    keys = {(min(p.doc_a, p.doc_b), max(p.doc_a, p.doc_b)) for p in pairs}
    assert keys == {(a, b) for a in range(0, 12, 2) for b in range(a + 2, 12, 2)}
    assert spark.read.parquet(str(tmp_path / "index")).count() > 0
