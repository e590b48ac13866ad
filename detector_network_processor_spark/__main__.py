"""Command-line entry point — the engine's analog of the reference daemon's
single binary (reference src/main.cpp starts `application::priv_run`; here
each run mode is a Spark job):

    python -m detector_network_processor_spark list
    python -m detector_network_processor_spark run l1_coincidence \
        --sf-dir /root/testdata/sf0.01 --limit 20
    python -m detector_network_processor_spark run q1_pricing_summary --explain
    python -m detector_network_processor_spark oracle q1_pricing_summary
    python -m detector_network_processor_spark stream --lines-dir SPOOL \
        --stations-parquet STATIONS --out /tmp/l1 --checkpoint /tmp/ckpt \
        --available-now

`stream` runs the §3.1 main path (parse -> quality gate -> broadcast station
enrichment -> coincidence clustering -> n>=2 flatten) over a spool directory
of (topic, payload) parquet batches — the layout `streaming.transports.
spool_messages` writes from a live MQTT subscription — and lands L1 groups
as parquet. `--available-now` drains what's there and exits (batch replay);
without it the query keeps running on a processing-time trigger like the
reference daemon.
"""

from __future__ import annotations
from .config import python_stage_partitions
from .constants import RATE_INTERVAL_NS

import argparse
import math
import os
import sys


_CPUS_HELP = "local[N] threads (default $SPARK_GRAFT_CPUS or os.cpu_count())"


# Spark holds an interval in microseconds, in a signed 64-bit long
_MAX_INTERVAL_US = 2**63 - 1
_MAX_TRIGGER_MS = _MAX_INTERVAL_US // 1000


def _trigger_ms(seconds: float) -> int:
    """The interval in the whole milliseconds Spark is given."""
    return round(seconds * 1000)


def _trigger_seconds(text: str) -> float:
    seconds = float(text)
    if not (
        math.isfinite(seconds) and seconds >= 0.001 and _trigger_ms(seconds) <= _MAX_TRIGGER_MS
    ):
        raise argparse.ArgumentTypeError(
            f"{text!r}: the trigger interval is a finite number of at least 0.001 s "
            f"and at most {_MAX_TRIGGER_MS} ms (Spark's interval limit)"
        )
    return seconds


def _whole_ns(what: str, least: int):
    """argparse type: whole ns from ``least`` up to Spark's interval limit
    (the stream relabels ns as us, so the limit caps a watermark delay)."""

    def ns(text: str) -> int:
        value = int(text)
        if not least <= value <= _MAX_INTERVAL_US:
            raise argparse.ArgumentTypeError(
                f"{text!r}: {what} is a whole number of ns from {least} to {_MAX_INTERVAL_US}"
            )
        return value

    return ns


def _fraction(text: str) -> float:
    value = float(text)
    if not 0.0 <= value <= 1.0:  # also refuses nan, which no est_jaccard reaches
        raise argparse.ArgumentTypeError(f"{text!r}: a Jaccard threshold is a number from 0 to 1")
    return value


def _positive_int(text: str) -> int:
    value = int(text)
    if value < 1:
        raise argparse.ArgumentTypeError(f"{text!r}: a whole number of at least 1")
    return value


def _add_trigger_seconds(parser: argparse.ArgumentParser) -> None:
    parser.add_argument(
        "--trigger-seconds",
        type=_trigger_seconds,
        default=None,
        help="processing-time trigger interval, fractional allowed (0.1 = the reference's "
        "100 ms flush tick); default: next batch as soon as the last one ends",
    )


def _with_trigger(writer, args):
    """``--available-now`` or ``--trigger-seconds`` (passed to Spark in
    milliseconds); with neither, each batch starts as soon as the last ends."""
    if args.available_now:
        return writer.trigger(availableNow=True)
    if args.trigger_seconds:
        return writer.trigger(processingTime=f"{_trigger_ms(args.trigger_seconds)} milliseconds")
    return writer


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="detector_network_processor_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    runp = sub.add_parser("run", help="run a registered query")
    runp.add_argument("name")
    runp.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    runp.add_argument("--limit", type=int, default=20)
    runp.add_argument("--explain", action="store_true", help="print the physical plan instead of rows")
    runp.add_argument("--cpus", type=_positive_int, default=None, help=_CPUS_HELP)

    op = sub.add_parser("oracle", help="print a query's DuckDB oracle SQL")
    op.add_argument("name")

    sp = sub.add_parser("stream", help="run the streaming main path over a line spool")
    sp.add_argument("--lines-dir", required=True, help="spool dir of (topic, payload) parquet batches")
    sp.add_argument(
        "--stations-parquet",
        required=True,
        help="parquet station dimension: hash (xxhash64 of username/station_id), lat, lon, h",
    )
    sp.add_argument("--out", required=True, help="output parquet dir for flattened L1 groups")
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--criterion", choices=("physics", "simple"), default="physics")
    sp.add_argument(
        "--watermark-ns", type=_whole_ns("the watermark delay", 0), default=10_000_000_000
    )
    _add_trigger_seconds(sp)
    sp.add_argument("--available-now", action="store_true", help="drain the spool and exit")
    sp.add_argument("--cpus", type=_positive_int, default=None, help=_CPUS_HELP)

    mon = sub.add_parser(
        "monitor", help="run the streaming monitoring path (detector summaries -> K1/K2 lines)"
    )
    mon.add_argument("--lines-dir", required=True, help="spool dir of (topic, payload) parquet batches")
    mon.add_argument(
        "--stations-parquet",
        required=True,
        help="parquet identity dimension: hash, user, station_id",
    )
    mon.add_argument("--out", required=True, help="output parquet dir for formatted lines/points")
    mon.add_argument("--checkpoint", required=True)
    mon.add_argument("--output", choices=("text", "influx", "summary"), default="text")
    mon.add_argument(
        "--interval-ns",
        type=_whole_ns("the summary interval (at least the 30 s sub-interval)", RATE_INTERVAL_NS),
        default=120 * 10**9,
    )
    mon.add_argument("--available-now", action="store_true", help="drain the spool and exit")
    mon.add_argument("--cpus", type=_positive_int, default=None, help=_CPUS_HELP)

    ing = sub.add_parser(
        "ingest", help="stream documents against the persistent near-dup index"
    )
    ing.add_argument("--docs-dir", required=True, help="spool dir of (doc_id, text) parquet batches")
    ing.add_argument("--index", required=True, help="persistent MinHash band-index dir")
    ing.add_argument("--out", required=True, help="near-dup pair output dir (batch_id partitions)")
    ing.add_argument("--checkpoint", required=True)
    ing.add_argument("--threshold", type=_fraction, default=0.5)
    _add_trigger_seconds(ing)
    ing.add_argument("--available-now", action="store_true", help="drain the spool and exit")
    ing.add_argument("--cpus", type=_positive_int, default=None, help=_CPUS_HELP)

    mat = sub.add_parser(
        "materialize",
        help="rewrite fixture tables into the scale storage layout "
        "(events day-partitioned for pruning; others plain parquet)",
    )
    mat.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    mat.add_argument("--out", required=True)
    mat.add_argument("--tables", default="events", help="comma-separated table names")
    mat.add_argument(
        "--bucket-by-station",
        action="store_true",
        help="events: write the station-bucketed + day-partitioned catalog "
        "table (zero-Exchange station aggs/joins) instead of the plain "
        "day-partitioned directory layout",
    )
    mat.add_argument("--buckets", type=_positive_int, default=None, help="bucket count (default 64)")
    mat.add_argument(
        "--table-name",
        default="events_bucketed",
        help="catalog table name for --bucket-by-station",
    )
    mat.add_argument("--cpus", type=_positive_int, default=None, help=_CPUS_HELP)

    cp = sub.add_parser(
        "compact",
        help="batch curation compaction over a document lake: exact dedup "
        "-> MinHash-LSH near-dup -> connected components -> canonical-only output",
    )
    cp.add_argument("--in", dest="in_dir", required=True, help="parquet docs (doc_id, text, ...)")
    cp.add_argument("--out", required=True)
    cp.add_argument("--jaccard", type=_fraction, default=0.5, help="near-dup signature-agreement threshold")
    cp.add_argument(
        "--clone-safe",
        action="store_true",
        help="cluster via spanning-star LSH bucket edges (O(docs x bands) "
        "edges; survives K-fold clone corpora where any pair-listing path "
        "is quadratic in its own output) instead of verified MinHash pairs; "
        "recall-leaning: bucket agreement is the only membership evidence, "
        "so --jaccard is ignored in this mode",
    )
    cp.add_argument("--cpus", type=_positive_int, default=None, help=_CPUS_HELP)

    ver = sub.add_parser(
        "verify", help="hash-compare registered queries against their DuckDB oracles"
    )
    ver.add_argument("names", nargs="*", help="query names (default: all with oracles)")
    ver.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ver.add_argument("--cpus", type=_positive_int, default=None, help=_CPUS_HELP)
    return p


def _cmd_list() -> int:
    from .plans import all_queries

    qs = all_queries()
    width = max(len(n) for n in qs)
    for name in sorted(qs):
        spec = qs[name]
        tag = "oracle" if spec.oracle else "rows-only"
        doc = (spec.doc or "").split(". ")[0][:100]
        print(f"{name:<{width}}  [{tag}]  {doc}")
    print(f"\n{len(qs)} queries registered")
    return 0


def _cmd_run(args) -> int:
    from .plans import all_queries
    from .session import get_spark

    qs = all_queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; `list` shows all", file=sys.stderr)
        return 2
    spark = get_spark(app_name=f"dnp-run-{args.name}", cpus=args.cpus)
    df = qs[args.name].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    else:
        df.show(args.limit, truncate=False)
    return 0


def _cmd_oracle(args) -> int:
    from .plans import all_queries

    qs = all_queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}", file=sys.stderr)
        return 2
    if qs[args.name].oracle is None:
        print(f"-- {args.name} is non-SQL-expressible (rows-only check)", file=sys.stderr)
        return 1
    print(qs[args.name].oracle)
    return 0


def _cmd_stream(args) -> int:
    from .operators.coincidence import l1_flatten
    from .session import get_spark
    from .streaming.pipeline import stream_main_path, use_rocksdb_state

    spark = get_spark(app_name="dnp-stream-main", cpus=args.cpus)
    use_rocksdb_state(spark)
    lines = (
        spark.readStream.schema("topic string, payload string").parquet(args.lines_dir)
    )
    stations = spark.read.parquet(args.stations_parquet)
    l1 = stream_main_path(
        lines, stations, criterion=args.criterion, watermark_ns=args.watermark_ns
    )
    writer = (
        l1_flatten(l1, min_n=2)
        .writeStream.format("parquet")
        .option("path", args.out)
        .option("checkpointLocation", args.checkpoint)
        .outputMode("append")
    )
    _start_on_one_state_partition(spark, _with_trigger(writer, args)).awaitTermination()
    return 0


def _start_on_one_state_partition(spark, writer):
    """Start ``writer`` with ``spark.sql.shuffle.partitions=1`` and restore
    the session's value right after: the main path's session key is a
    constant (streaming/coincidence.py), so only one state partition ever
    holds a row, while each of the others still loads and commits its own
    state store every trigger. The query clones the session conf when it
    starts, and the count is recorded in its offset log, so a restart from
    an existing checkpoint keeps the count that checkpoint was created
    with. The conf is the session's, so a query another thread starts
    during this call would also get one partition."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        return writer.start()
    finally:
        spark.conf.set(key, prev)


def _cmd_ingest(args) -> int:
    from .session import get_spark
    from .streaming.dedup import incremental_neardup_query

    spark = get_spark(app_name="dnp-ingest", cpus=args.cpus)
    docs = spark.readStream.schema("doc_id long, text string").parquet(args.docs_dir)
    writer = incremental_neardup_query(
        docs, args.index, args.out, args.checkpoint, threshold=args.threshold
    )
    _with_trigger(writer, args).start().awaitTermination()
    return 0


def _cmd_monitor(args) -> int:
    from .session import get_spark
    from .streaming.pipeline import stream_monitoring_path, use_rocksdb_state

    spark = get_spark(app_name="dnp-stream-monitor", cpus=args.cpus)
    use_rocksdb_state(spark)
    lines = spark.readStream.schema("topic string, payload string").parquet(args.lines_dir)
    stations = spark.read.parquet(args.stations_parquet)
    out = stream_monitoring_path(
        lines, stations, interval_ns=args.interval_ns, output=args.output
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", args.out)
        .option("checkpointLocation", args.checkpoint)
        .outputMode("append")
    )
    q = writer.trigger(availableNow=True).start() if args.available_now else writer.start()
    q.awaitTermination()
    return 0


def _cmd_materialize(args) -> int:
    import pyspark.sql.functions as F

    from .io import TABLES, load_table, ts_to_us, write_partitioned
    from .session import get_spark

    # Bucketed tables are CATALOG tables: their data lands under
    # spark.sql.warehouse.dir, not a bare directory. Keep the CLI contract
    # truthful by pointing the warehouse under --out for that mode, so the
    # user finds the data where they asked for it.
    warehouse = (
        os.path.join(os.path.abspath(args.out), "warehouse")
        if args.bucket_by_station
        else None
    )
    spark = get_spark(app_name="dnp-materialize", cpus=args.cpus, warehouse_dir=warehouse)

    def _as_local_path(uri: str) -> str:
        # the conf may come back as a bare path, 'file:/p', or 'file:///p';
        # urlparse normalizes all three to the filesystem path
        from urllib.parse import urlparse

        parsed = urlparse(uri)
        path = parsed.path if parsed.scheme else uri
        return os.path.normpath(path)

    if warehouse is not None and _as_local_path(
        spark.conf.get("spark.sql.warehouse.dir")
    ) != os.path.normpath(warehouse):
        # getOrCreate() reused a pre-existing session whose warehouse is
        # already pinned elsewhere — refusing beats silently writing there.
        print(
            "--bucket-by-station with --out requires a fresh Spark session; "
            f"active session warehouse is {spark.conf.get('spark.sql.warehouse.dir')}",
            file=sys.stderr,
        )
        return 2
    day_us = 86_400_000_000
    for name in [t.strip() for t in args.tables.split(",") if t.strip()]:
        if name not in TABLES:
            print(f"unknown table {name!r} (expected one of {', '.join(TABLES)})", file=sys.stderr)
            return 2
        df = load_table(spark, args.sf_dir, name)
        dest = os.path.join(args.out, name)
        if name == "events" and args.bucket_by_station:
            from .io import EVENTS_BUCKETS, materialize_events_bucketed

            # Bucketed tables are catalog tables (bucket metadata lives in
            # the metastore); the session's warehouse dir was pinned under
            # --out above, so the data files land where the user asked.
            materialize_events_bucketed(
                spark, args.sf_dir, table=args.table_name,
                n_buckets=args.buckets or EVENTS_BUCKETS,
            )
            print(
                f"materialized events -> catalog table {args.table_name} "
                f"(bucketed; data under {warehouse})"
            )
            continue
        if name == "events":
            # Day-partitioned event stream: equality/range predicates on
            # `day` prune whole directories before a file is opened — the
            # canonical 100 TB time-series layout (io.write_partitioned;
            # pruning is plan-asserted in tests/test_scale_io.py).
            df = df.withColumn("day", F.floor(ts_to_us(df) / day_us).cast("long"))
            write_partitioned(df, dest, ["day"])
        else:
            df.write.mode("overwrite").parquet(dest)
        print(f"materialized {name} -> {dest}")
    return 0


def _cmd_compact(args) -> int:
    """The batch half of the stream-filter/batch-compact curation split
    (streaming/curation.py docstring): streaming ingest already gated
    quality and exact-deduped by digest FIRST-arrival; compaction
    re-canonicalizes exactly (min doc_id per digest), then collapses
    NEAR-duplicate clusters (MinHash-LSH pairs -> connected components)
    to their canonical member. One pass over the lake, output is the
    training-ready canonical corpus."""
    import pyspark.sql.functions as F

    from .operators.components import connected_components
    from .operators.dedup import lsh_star_edges, minhash_lsh_pairs, minhash_signatures
    from .session import get_spark
    from .streaming.dedup import with_content_key

    spark = get_spark(app_name="dnp-compact", cpus=args.cpus)
    docs = spark.read.parquet(args.in_dir)
    n_in = docs.count()
    # exact: canonical = min doc_id per content digest
    keyed = with_content_key(docs)
    canon = keyed.groupBy("content_key").agg(F.min("doc_id").alias("doc_id"))
    exact = keyed.join(canon, ["content_key", "doc_id"])
    n_exact = exact.count()
    # near-dup clustering over the exact-deduped survivors only
    sigs = minhash_signatures(exact.repartition(python_stage_partitions(spark)))
    if args.clone_safe:
        # star edges per LSH bucket: the clone-regime path — the verified
        # pair listing below emits ~K^2/2 edges per K-clone set and dies at
        # K>=30 (SCALING.md clone sweep); the spanning star emits K-1 with
        # identical connectivity, so re-crawl corpora compact linearly
        edges = lsh_star_edges(sigs)
    else:
        edges = minhash_lsh_pairs(sigs, min_est=args.jaccard)
    cc = connected_components(edges, "doc_a", "doc_b").withColumnRenamed("node", "doc_id")
    survivors = (
        exact.join(cc, "doc_id", "left")
        .filter(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
        .drop("component", "content_key")
    )
    survivors.write.mode("overwrite").parquet(args.out)
    n_out = spark.read.parquet(args.out).count()
    print(
        f"compacted {n_in} -> {n_exact} exact-unique -> {n_out} canonical "
        f"({n_in - n_out} removed) -> {args.out}"
    )
    return 0


def _cmd_verify(args) -> int:
    from .plans import all_queries
    from .session import get_spark, release_cached
    from .testing import compare_spark_vs_oracle, duckdb_connect

    qs = all_queries()
    names = args.names or sorted(n for n, s in qs.items() if s.oracle)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="dnp-verify", cpus=args.cpus)
    con = duckdb_connect(args.sf_dir)
    failures = 0
    for i, name in enumerate(names):
        spec = qs[name]
        if spec.oracle is None:
            print(f"{name}: SKIP (no oracle)")
            continue
        ok, msg = compare_spark_vs_oracle(spec.fn(spark, args.sf_dir), con, spec.oracle)
        print(f"{name}: {'OK' if ok else 'FAIL — ' + msg}")
        failures += 0 if ok else 1
        if (i + 1) % 20 == 0:
            # operators persist intermediates per plan-build; a 155-query
            # session accumulates them and late queries run under memory
            # pressure (same leak bench.py's per-query release fixes)
            release_cached(spark)
    print(f"\n{len(names) - failures}/{len(names)} OK at {args.sf_dir}")
    return 1 if failures else 0


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    if args.cmd == "list":
        return _cmd_list()
    if args.cmd == "run":
        return _cmd_run(args)
    if args.cmd == "oracle":
        return _cmd_oracle(args)
    if args.cmd == "ingest":
        return _cmd_ingest(args)
    if args.cmd == "monitor":
        return _cmd_monitor(args)
    if args.cmd == "stream":
        return _cmd_stream(args)
    if args.cmd == "materialize":
        return _cmd_materialize(args)
    if args.cmd == "verify":
        return _cmd_verify(args)
    if args.cmd == "compact":
        return _cmd_compact(args)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
