"""Repository benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload stream_main_path --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's inputs from
``--seed``, drives the engine through its public entry points only
(``__main__.main`` for the stream command, the function the ingest
command calls, operator functions for the per-layer probes), measures
for ``--seconds`` seconds, checks every output and prints one JSON
object as the last line of standard output: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A layer the
workload does not exercise reads 0. Lines before it are notes (warm-up
curve, check details, input shares).
Everything it writes goes under ``.perfbench_work/`` in the current
directory; the spans of a traced run stay there as
``trace-<workload>-<seed>.json``. The engine runs on ``local[nproc]``.
Before it exits, on every path out, it stops the Spark JVM and every
process under it and waits for each to end.

``attempted`` counts the measured spool files. ``failed`` counts those
that missed the latency limit or whose output check failed, so
``failed / attempted`` is the failed fraction.

``python3 perfbench/run.py --write-manifest`` rewrites ``BENCHMARK.json``
from the tables below; ``perfbench/receipt.py`` records repeated runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE_PKG = "detector_network_processor_spark"

# name -> why; both run in openloop.py
WORKLOADS = {
    "stream_main_path": (
        "open loop of MQTT-line spool files through the stream command on a 3 s trigger: parse, "
        "gate, enrichment, stateful streaming coincidence, parquet sink; per-trigger cost shows"
    ),
    "neardup_ingest": (
        "open loop of document spool files through the ingest query on a 5 s trigger: MinHash "
        "kernel, band-index history read and the overlapped two-leg write, index growing"
    ),
}

# name, unit, better, bound
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("latency_p50_ms", "ms", "lower", 0.2),
    ("latency_p90_ms", "ms", "lower", 0.2),
]

# name, unit, better
PER_LAYER = [
    ("session.get_spark_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("io.scan_s", "s", "lower"),
    ("io.scan_rows", "count", "higher"),
    ("sources.lines.parse_events_s", "s", "lower"),
    ("sources.lines.rows_in", "count", "higher"),
    ("sources.lines.rows_out", "count", "higher"),
    ("operators.sessionize.sessionize_global_gap_s", "s", "lower"),
    ("operators.sessionize.sessions", "count", "higher"),
    ("operators.sessionize.hit_share_n1", "fraction", "higher"),
    ("operators.sessionize.hit_share_n2_4", "fraction", "higher"),
    ("operators.sessionize.hit_share_n5p", "fraction", "higher"),
    ("operators.coincidence.jvm_tier_s", "s", "lower"),
    ("operators.coincidence.arrow_tier_s", "s", "lower"),
    ("operators.coincidence.l1_flatten_s", "s", "lower"),
    ("operators.coincidence.l1_groups", "count", "higher"),
    ("spark.jobs", "count/op", "lower"),
    ("spark.stages", "count/op", "lower"),
    ("spark.tasks", "count/op", "lower"),
    ("spark.tasks_failed", "count/op", "lower"),
    ("streaming.batches", "count", "higher"),
    ("streaming.trigger_ms_p50", "ms", "lower"),
    ("streaming.addBatch_ms_p50", "ms", "lower"),
    ("streaming.queryPlanning_ms_p50", "ms", "lower"),
    ("streaming.walCommit_ms_p50", "ms", "lower"),
    ("streaming.commitOffsets_ms_p50", "ms", "lower"),
    ("streaming.latestOffset_ms_p50", "ms", "lower"),
    ("streaming.rows_per_batch_p50", "count", "higher"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_bytes", "bytes", "lower"),
    ("streaming.state_commit_ms_p50", "ms", "lower"),
    ("streaming.rows_dropped_by_watermark", "count", "lower"),
    ("operators.dedup.minhash_signatures_s", "s/1k-docs", "lower"),
    ("streaming.dedup.read_band_index_s", "s", "lower"),
    ("streaming.dedup.index_rows", "count", "higher"),
    ("streaming.dedup.index_files", "count", "lower"),
    ("streaming.dedup.pairs_out", "count", "higher"),
    ("generator.late_ms_max", "ms", "lower"),
    ("streaming.backlog_files_max", "count", "lower"),
    ("process.cpu_util", "fraction", "higher"),
    ("process.rss_peak_mb", "MB", "lower"),
    ("process.cpu_ms_per_1k_inputs", "ms", "lower"),
    ("trace.overhead_frac", "fraction", "lower"),
]

RUN_SECONDS = 10


def manifest() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


def result_line(metrics: dict[str, float], trace: bool, correct: bool, attempted: int, failed: int) -> str:
    """The final stdout line: exactly the metric set of the chosen mode,
    each with its unit."""
    table = PER_LAYER if trace else END_TO_END
    out = {}
    for row in table:
        name, unit = row[0], row[1]
        out[name] = {"value": float(metrics.get(name, 0.0)), "unit": unit}
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": out}
    )


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


class Ctx:
    """Everything a workload needs from the command line and the host."""

    def __init__(self, args, root: str):
        from probe import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.root = root
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tracer = Tracer(self.trace)
        self.t_process = process_start_epoch()
        self.spark = None
        self.jobs = None

    def session(self):
        """The engine's own session factory, pinned to this host's cores."""
        from detector_network_processor_spark.session import get_spark

        from probe import JobCounter

        self.spark = get_spark(app_name=f"perfbench-{self.workload}", cpus=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jobs = JobCounter(self.spark.sparkContext)
        return self.spark

    def since_start(self) -> float:
        return time.time() - self.t_process


def prepare_env(root: str) -> None:
    """Pin the engine to the checkout before the JVM starts: the Python
    workers import the engine from the repository root, and Spark's
    local dirs and the JVM's temp dir live under ``.perfbench_work``
    (shared by the runs of one process, which share one JVM)."""
    base = os.path.join(root, ".perfbench_work")
    local, tmp = os.path.join(base, "spark-local"), os.path.join(base, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    prev = os.environ.get("PYTHONPATH")
    if root not in (prev or "").split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + prev if prev else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false --conf spark.local.dir={local} "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    if root not in sys.path:
        sys.path.insert(0, root)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--write-manifest", action="store_true", help="rewrite BENCHMARK.json and exit")
    args = p.parse_args(argv)
    root = os.getcwd()
    if args.write_manifest:
        with open(os.path.join(root, "BENCHMARK.json"), "w") as f:
            json.dump(manifest(), f, indent=2)
            f.write("\n")
        return 0
    if args.workload is None:
        p.error("--workload is required")
    if not os.path.isfile(os.path.join(root, ENGINE_PKG, "__init__.py")):
        print(f"perfbench: no {ENGINE_PKG}/ under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    ctx = Ctx(args, root)
    prepare_env(root)
    import openloop

    try:
        res = openloop.run(ctx)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        if ctx.trace:
            ctx.tracer.dump(os.path.join(root, ".perfbench_work", f"trace-{args.workload}-{args.seed}.json"))
        shutil.rmtree(ctx.work, ignore_errors=True)
    for k, v in sorted(res.get("notes", {}).items()):
        print(f"{k}: {json.dumps(v)}")
    print(result_line(res["metrics"], ctx.trace, res["failed"] == 0, res["attempted"], res["failed"]))
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    t_end = time.time() + timeout_s
    while True:
        pids = [p for p in pids if _alive(p)]
        if not pids or time.time() >= t_end:
            return pids
        time.sleep(0.05)


def stop_processes(timeout_s: float = 30.0) -> None:
    """Stop the Spark JVM this process launched and every process under
    it (the Python worker daemon and its workers), and wait until each
    has ended. Left alone, the JVM exits only some time after this
    process does, when it sees its stdin close."""
    from probe import descendants

    procs = descendants(os.getpid())
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            try:
                SparkContext._active_spark_context.stop()
            except Exception:  # noqa: BLE001 — the JVM is stopped below either way
                pass
        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001
                pass
            jvm = getattr(gateway, "proc", None)
            if jvm is not None:
                try:
                    jvm.stdin.close()  # the gateway server exits on EOF
                except OSError:
                    pass
                try:
                    jvm.wait(timeout_s)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait()
            SparkContext._gateway = SparkContext._jvm = None
    left = _wait_gone(procs, timeout_s)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        left = _wait_gone(left, 10.0)


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _on_sigterm)
    try:
        rc = main()
    finally:
        sys.stdout.flush()
        stop_processes()
    raise SystemExit(rc)
