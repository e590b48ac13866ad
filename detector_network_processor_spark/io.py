"""Table loading for the driver's parquet fixtures (TESTDATA.md).

Plain ``spark.read.parquet`` scans: Catalyst handles predicate pushdown,
column pruning and partition pruning on these; nothing custom needed
(SURVEY.md §2.1 S8, §4.2).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The events fixture has carried two encodings of `ts` across driver
    # regenerations: parquet TIMESTAMP(NANOS) (which Spark 4 rejects unless
    # nanosAsLong maps it to int64 ns) and plain timestamp[us] (arrives as
    # TIMESTAMP_NTZ). Keep the legacy flag on so the NANOS encoding still
    # loads; `ts_to_us` below normalizes either encoding at the boundary.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def ts_to_us(df: DataFrame) -> Column:
    """Exact int64 epoch-microseconds from either fixture encoding of the
    ``ts`` column — the engine's boundary normalization (the reference
    ingests typed ns structs, src/messages/event.h; a Spark engine must
    adapt to whatever the scan delivers).

    * int64 nanoseconds (TIMESTAMP(NANOS) read under nanosAsLong) →
      integer `div 1000`. Exact: double division would misround near
      microsecond boundaries at 1e18 ns magnitudes.
    * timestamp / timestamp_ntz (timestamp[us] parquet) → `unix_micros`
      after a cast to session-local timestamp. The session is pinned to
      UTC (session.py), so this reproduces DuckDB `epoch_us(ts)` exactly.

    Purely a column expression — stays inside whole-stage codegen, no UDF.
    """
    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":
        return F.expr("ts div 1000")
    if dtype.startswith("timestamp"):
        return F.unix_micros(F.col("ts").cast("timestamp"))
    raise TypeError(f"unsupported dtype for 'ts': {dtype}")


_ROWCOUNT_CACHE: dict[str, int] = {}


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from the parquet footer metadata — no Spark job.
    Cached per (sf_dir, table); used by plans that derive deterministic
    constants from the fixture size (e.g. the muonized time span)."""
    key = os.path.join(sf_dir, f"{name}.parquet")
    if key not in _ROWCOUNT_CACHE:
        import pyarrow.parquet as pq

        if os.path.isdir(key):
            ds = pq.ParquetDataset(key)
            _ROWCOUNT_CACHE[key] = sum(
                frag.metadata.num_rows for frag in (pq.ParquetFile(f) for f in ds.files)
            )
        else:
            _ROWCOUNT_CACHE[key] = pq.ParquetFile(key).metadata.num_rows
    return _ROWCOUNT_CACHE[key]


# --------------------------------------------------------------------------
# Scale-out storage layout (100 TB posture)
# --------------------------------------------------------------------------


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Hive-style partitioned parquet layout: one directory level per
    partition column. Readers with equality/range predicates on these
    columns get PARTITION PRUNING — whole directories skipped before any
    file is opened, the difference between scanning 100 TB and scanning
    one day of it. Time-derived columns (e.g. ``day = ts div 86400e9``)
    are the canonical choice for the event stream; keep cardinality
    per level ≤ ~10^4 so the file listing stays metadata-cheap."""
    df.write.partitionBy(*partition_cols).mode("overwrite").parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Bucketed (hash-clustered) table: rows are pre-shuffled into
    ``n_buckets`` files by ``hash(bucket_col)`` at WRITE time, so every
    subsequent join or aggregation on that key runs with ZERO exchange —
    the shuffle is paid once instead of per query. Two tables bucketed
    the same way co-locate their keys (bucket i joins bucket i). This is
    the storage analog of the reference keeping per-station state sharded
    by station hash. Requires a catalog table (`saveAsTable`)."""
    w = df.write.bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.mode("overwrite").format("parquet").saveAsTable(table)


DAY_US = 86_400_000_000
EVENTS_BUCKETS = 64


def materialize_events_bucketed(
    spark: SparkSession,
    sf_dir: str,
    table: str = "events_bucketed",
    n_buckets: int = EVENTS_BUCKETS,
) -> None:
    """The 100 TB at-rest layout for the event stream, combining BOTH
    storage optimizations (SCALING.md open item; reference analog: the
    daemon shards per-station state by station hash,
    src/supervision/station.cpp:30-34):

    - ``partitionBy(day)`` — time predicates prune whole day directories
      before a file is opened;
    - ``bucketBy(n_buckets, user_id)`` + ``sortBy(user_id, ts)`` — every
      per-station aggregation/window and every join against a station
      dimension bucketed the same way runs with ZERO Exchange; the
      station shuffle is paid once at ingest, not per query.

    The write itself repartitions by (day, user_id-bucket) so each task
    writes one file per (partition, bucket) instead of n_buckets files
    per task (small-files discipline)."""
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("_us", ts_to_us(ev)).withColumn(
        "day", F.expr(f"_us div {DAY_US}")
    ).drop("_us")
    (
        ev.repartition(F.col("day"), F.expr(f"pmod(hash(user_id), {n_buckets})"))
        .write.partitionBy("day")
        .bucketBy(n_buckets, "user_id")
        .sortBy("user_id", "ts")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def materialize_station_dim_bucketed(
    stations: DataFrame,
    table: str = "stations_bucketed",
    key_col: str = "hash",
    n_buckets: int = EVENTS_BUCKETS,
) -> None:
    """Station dimension bucketed IDENTICALLY to the event stream (same
    bucket count, same hash function — Spark's Murmur3 on the key), so the
    enrichment join co-locates bucket-for-bucket with zero Exchange on
    either side. At fixture scale the dimension broadcasts anyway; at
    10^6+ stations with fat metadata columns this is the join layout."""
    stations.write.bucketBy(n_buckets, key_col).sortBy(key_col).mode("overwrite").format(
        "parquet"
    ).saveAsTable(table)
