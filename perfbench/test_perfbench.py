"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench -q

The manifest, determinism and tracing tests need no Spark. The mutation
tests run the real workloads in process on small inputs, with one
engine output corrupted, and take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import openloop  # noqa: E402
import run  # noqa: E402
from probe import Tracer, nearest_rank  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_is_the_manifest():
    assert _benchmark_json() == run.manifest()


def test_benchmark_json_within_contract_limits():
    b = _benchmark_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(b["workloads"]) <= 8 and 1 <= int(b["run_seconds"]) <= 60
    names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in b["workloads"])
    assert all(w["name"] in run.WORKLOADS for w in b["workloads"])
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert len(json.dumps(b)) <= 64 * 1024


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_names_and_units_match_benchmark_json(trace):
    b = _benchmark_json()
    want = {m["name"]: m["unit"] for m in (b["per_layer"] if trace else b["end_to_end"])}
    line = json.loads(run.result_line({"setup_s": 1.5}, trace, True, 3, 0))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want


def _digests(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("kind", ["lines", "docs"])
def test_same_seed_gives_byte_identical_inputs(tmp_path, kind):
    def make(seed: int, d: str) -> dict[str, str]:
        (openloop.prepare_lines if kind == "lines" else openloop.prepare_docs)(seed, 24, d)
        return _digests(d)

    a, b, c = (make(s, str(tmp_path / n)) for s, n in ((7, "a"), (7, "b"), (8, "c")))
    assert a == b
    assert a != c


def test_generated_inputs_have_the_stated_properties():
    import numpy as np

    rng = np.random.default_rng(1)
    st = gen.stations(rng, 60)
    d = gen.pair_distances_m(st)
    assert d.min() < 100 and d.max() > 62_318  # 10 m .. beyond the coincidence limit
    # the shower multiplicity range sets where the multi-hit mass sits
    for k_range, check in (
        ((2, 4), lambda s: s["hit_share_n5p"] < 0.05 and s["hit_share_n2_4"] > 0.3),
        ((5, 12), lambda s: s["hit_share_n5p"] > 0.5),
    ):
        st_idx, t = gen.hit_times(rng, st, 20_000, 0.6, k_range, 100.0)
        assert check(gen.size_shares(gen.session_sizes(t))), k_range
    pool: list = []
    _, n_dup = gen.documents(rng, 1, 2_000, pool, 0.3)
    assert 0.25 < n_dup / 2_000 < 0.35


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("outer") as outer:
        with tr.span("child") as c1:
            pass
        with tr.span("child") as c2:
            pass
    st = tr.self_times()
    kids = (c1["end"] - c1["start"]) + (c2["end"] - c2["start"])
    assert st["outer"] == pytest.approx(outer["end"] - outer["start"] - kids)
    assert nearest_rank([1, 2, 3, 4, 5, 6, 7, 8, 9, 10], 0.9) == 9
    assert nearest_rank([4.0, 1.0, 3.0], 0.5) == 3.0


# ---------------------------------------------------------------- mutation


def _run(argv: list[str], capsys) -> dict:
    """Run the benchmark in process; its result line plus its notes."""
    os.chdir(ROOT)
    assert run.main(argv) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    res = json.loads(lines[-1])
    res["notes"] = {k: json.loads(v) for k, v in (ln.split(": ", 1) for ln in lines[:-1] if ": " in ln)}
    return res


def test_expected_hits_are_the_lines_the_parser_keeps_and_the_gate_passes(tmp_path):
    import pyspark.sql.functions as F

    from detector_network_processor_spark.constants import MAX_TIMING_ERROR_NS
    from detector_network_processor_spark.session import get_spark
    from detector_network_processor_spark.sources.lines import parse_events

    info = openloop.prepare_lines(4, 24, str(tmp_path / "lines.parquet"))
    spark = get_spark(app_name="perfbench-tests", cpus=2)
    st_hash = openloop.station_dim(spark, info["names"], info["stations"], str(tmp_path / "stations.parquet"))
    want = openloop.expected_hits(info["hits"], st_hash)
    ev = parse_events(spark.read.parquet(str(tmp_path / "lines.parquet")))
    got = ev.filter((F.col("time_acc") <= int(MAX_TIMING_ERROR_NS)) & (F.col("fix") == 1))
    cols = list(gen.HIT_SCHEMA.names)
    assert sorted(tuple(r) for r in got.select(*cols).collect()) == sorted(zip(*(want[c].to_pylist() for c in cols)))
    kept = info["hits"]["kept"]
    assert 0 < (~kept).sum() < 0.05 * len(kept)


def test_closed_rows_keeps_sessions_closed_before_the_watermark():
    gap, margin = gen.GAP_NS, openloop.WATERMARK_MARGIN_NS
    wm = 10**12

    def session(last: int):
        return last, [("u", 0, 0, 2, False, 2, 0, 7, last, last, 1)]

    closed = session(wm - gap - 1 - margin)  # window ends exactly margin before wm
    near = session(wm - gap - 1)  # window ends at wm
    open_ = session(wm + 5 * margin)
    rows, undecided = openloop.closed_rows([closed, near, open_], wm)
    assert rows == closed[1]
    assert undecided == {(7, near[0])}


def test_corrupt_l1_row_in_the_engine_output_fails_the_stream_run(monkeypatch, capsys, tmp_path):
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from checks import golden_sessions
    from detector_network_processor_spark.operators import coincidence
    from detector_network_processor_spark.session import get_spark

    seed, seconds = 3, 2
    spark = get_spark(app_name="perfbench-tests", cpus=2)
    info = openloop.prepare_lines(seed, openloop.n_files(seconds, "stream_main_path"), str(tmp_path / "stage"))
    st_path = str(tmp_path / "stations.parquet")
    hits = openloop.expected_hits(info["hits"], openloop.station_dim(spark, info["names"], info["stations"], st_path))
    # one row of the first multi-hit session, sent during warm-up
    rows = next(r for _, r in golden_sessions(hits, pq.read_table(st_path)) if r)
    h, start = rows[0][7], rows[0][8]
    clean = coincidence.l1_flatten

    def corrupt_one(*args, **kwargs):
        df = clean(*args, **kwargs)
        one = (F.col("hash") == h) & (F.col("start") == start)
        return df.withColumn("time_acc", F.when(one, F.col("time_acc") + 1).otherwise(F.col("time_acc")))

    monkeypatch.setattr(coincidence, "l1_flatten", corrupt_one)
    res = _run(["--workload", "stream_main_path", "--seed", str(seed), "--seconds", str(seconds)], capsys)
    assert not res["correct"]
    assert res["failed"] == res["attempted"] > 0
    assert (res["notes"]["check"]["missing"], res["notes"]["check"]["extra"]) == (1, 1)


def test_dropped_pair_fails_the_ingest_check(tmp_path):
    from detector_network_processor_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures
    from detector_network_processor_spark.session import get_spark

    openloop.prepare_docs(5, 24, str(tmp_path / "docs.parquet"))
    spark = get_spark(app_name="perfbench-tests", cpus=2)
    docs = spark.read.parquet(str(tmp_path / "docs.parquet"))
    pairs = minhash_lsh_pairs(minhash_signatures(docs), min_est=openloop.THRESHOLD)
    pairs.write.parquet(str(tmp_path / "out" / "batch_id=0"))
    assert openloop.check_ingest(spark, str(tmp_path))["ok"]
    first = pairs.orderBy("doc_a", "doc_b").first()
    dropped = pairs.filter((pairs.doc_a != first.doc_a) | (pairs.doc_b != first.doc_b))
    dropped.write.mode("overwrite").parquet(str(tmp_path / "out" / "batch_id=0"))
    res = openloop.check_ingest(spark, str(tmp_path))
    assert not res["ok"] and res["missing"] == 1


def test_dropped_pair_in_the_engine_output_fails_the_ingest_run(monkeypatch, capsys, tmp_path):
    import pyspark.sql.functions as F

    from detector_network_processor_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures
    from detector_network_processor_spark.session import get_spark
    from detector_network_processor_spark.streaming import dedup

    seed = 5
    spark = get_spark(app_name="perfbench-tests", cpus=2)
    openloop.prepare_docs(seed, openloop.warmup_files("neardup_ingest"), str(tmp_path))  # sent during warm-up
    early = minhash_lsh_pairs(minhash_signatures(spark.read.parquet(str(tmp_path))), min_est=openloop.THRESHOLD)
    a, b = early.orderBy("doc_b", "doc_a").first()[:2]
    clean = dedup.collision_pairs

    def drop_one(*args, **kwargs):
        pairs = clean(*args, **kwargs)
        one = ((F.col("doc_a") == a) & (F.col("doc_b") == b)) | ((F.col("doc_a") == b) & (F.col("doc_b") == a))
        return pairs.filter(~one)

    monkeypatch.setattr(dedup, "collision_pairs", drop_one)
    res = _run(["--workload", "neardup_ingest", "--seed", str(seed), "--seconds", "2"], capsys)
    assert not res["correct"]
    assert res["failed"] == res["attempted"] > 0
    assert (res["notes"]["check"]["missing"], res["notes"]["check"]["extra"]) == (1, 0)


def test_failed_check_marks_every_measured_file_failed():
    assert openloop.failed_files(120, late=0, ok=True) == 0
    assert openloop.failed_files(120, late=3, ok=True) == 3
    assert openloop.failed_files(120, late=0, ok=False) == 120


def test_stop_processes_ends_the_jvm_and_every_process_under_it():
    """A run must leave no process behind: the JVM, its Python workers
    and any child that ignores the wait are gone when stop_processes
    returns. Run in a fresh interpreter so this session's JVM is kept."""
    import subprocess

    code = (
        "import json, os, subprocess, sys\n"
        f"sys.path[:0] = [{ROOT!r}, {HERE!r}]\n"
        "import run\n"
        "from probe import descendants\n"
        "from detector_network_processor_spark.session import get_spark\n"
        "get_spark(app_name='perfbench-stop', cpus=1).range(10).count()\n"
        "subprocess.Popen(['sleep', '60'])\n"
        "kids = descendants(os.getpid())\n"
        "run.stop_processes(timeout_s=2.0)\n"
        "print(json.dumps(kids))\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=120)
    assert p.returncode == 0, p.stderr[-2000:]
    kids = json.loads(p.stdout.strip().splitlines()[-1])
    assert len(kids) >= 2  # the JVM and the sleeper at least
    assert not [pid for pid in kids if run._alive(pid)]
