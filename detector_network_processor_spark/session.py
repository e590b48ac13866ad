"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the configs below are the ones that matter at
cluster scale too (AQE, adaptive shuffle partition coalescing, skew-join
handling, Arrow for the Pandas-UDF operators).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _persistent_rdds(sc) -> dict:
    """Every RDD the JVM holds persisted, as {rdd id: JavaRDD handle}.

    The engine's one read of private JVM surface (``JavaSparkContext.
    getPersistentRDDs``, reached through ``sc._jsc``); a Spark upgrade that
    moves it breaks here and in tests/test_ckpt_release.py."""
    return dict(sc._jsc.getPersistentRDDs())


def release_cached(
    spark: SparkSession, jvm_gc: bool = False, settle_sec: float = 0.0, blocking: bool = False
) -> None:
    """Release everything cached in the session: catalog cache + every
    persisted RDD (operators persist intermediates per plan-build, so any
    loop over many queries accumulates cached copies and late queries run
    under executor memory pressure — measured in bench.py's protocol notes).

    ``jvm_gc=True`` additionally hints a JVM GC and sleeps ``settle_sec``:
    ContextCleaner reclaims dead broadcast/shuffle blocks only when a GC
    notices they are unreachable, and a busy short-lived session may never
    GC on its own; the settle lets the block-manager removals land OUTSIDE
    a subsequent measurement window (quiet-host protocol, BASELINE.md).
    ``blocking=True`` waits for each unpersist to complete."""
    import time

    spark.catalog.clearCache()
    for rdd in _persistent_rdds(spark.sparkContext).values():
        rdd.unpersist(blocking)
    if jvm_gc:
        spark.sparkContext._jvm.System.gc()
    if settle_sec:
        time.sleep(settle_sec)


def eager_ckpt_tracked(df):
    """``localCheckpoint(eager=True)`` plus the JVM handles of the RDDs it
    persisted, so an iterative loop can release the previous iteration's
    state deterministically (``release_ckpts``).

    Why the handles: ``DataFrame.unpersist`` does NOT cover localCheckpoint
    storage (probed on 4.1 — the persisted-RDD set is unchanged after it),
    and waiting for the ContextCleaner's GC-driven release would keep up to
    ``max_iters`` O(data) states live at once. The handle diff is taken
    around the checkpoint call; the loops using this are single-threaded
    (as is plan fingerprinting), so no concurrent checkpoint can leak into
    the diff."""
    sc = df.sparkSession.sparkContext
    before = _persistent_rdds(sc)
    ck = df.localCheckpoint(eager=True)
    handles = [jrdd for rid, jrdd in _persistent_rdds(sc).items() if rid not in before]
    return ck, handles


def release_ckpts(handles: list) -> None:
    """Free the storage of checkpoints a loop no longer references (after
    this their DataFrames are unreadable — callers release only state whose
    last read has happened)."""
    for h in handles:
        try:
            h.unpersist(False)
        except Exception:  # pragma: no cover — release is best-effort
            pass


def get_spark(
    app_name: str = "detector-network-processor-spark",
    cpus: int | str | None = None,
    warehouse_dir: str | None = None,
) -> SparkSession:
    """``local[cpus]`` session with one shuffle partition per core; ``cpus``
    defaults to ``$SPARK_GRAFT_CPUS``, else the host's CPU count."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    builder = SparkSession.builder.master(f"local[{cpus}]")
    if warehouse_dir is not None:
        # Bucketed catalog tables land under the warehouse dir; callers that
        # promise users a destination (materialize --bucket-by-station --out)
        # must pin it BEFORE session creation — it is fixed afterwards.
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    return (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect the advisory partition size rather than max parallelism
        # when coalescing — the documented recommendation; at cluster scale
        # it keeps post-shuffle partitions near 64 MB instead of exploding
        # task counts, and on tiny inputs it collapses empty tasks.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # single-host local mode has no data locality to wait for
        .config("spark.locality.wait", "0s")
        # list files on the driver, always: on local[N] a "parallel"
        # listing is one extra job with one task per path, which a file
        # stream paid in every micro-batch with more than 32 new files
        # (~250 ms of getBatch per trigger on 4 cores) and a band-index
        # read paid once it held more than 32 batch directories
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # map-side session pre-merge for streaming session windows (a
        # streaming-only conf; batch plans do not read it)
        .config("spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition", "true")
        # every Python task skips re-reading pyspark.zip and the other
        # archives on its sys.path (worker_daemon.py); the package's parent
        # directory lets the daemon start whatever the JVM's working dir
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
