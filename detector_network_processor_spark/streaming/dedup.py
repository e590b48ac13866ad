"""Streaming exact deduplication (SURVEY.md §2.11 dedup family, online
mode): drop repeated documents/events as they arrive, with bounded state.

Two state disciplines, both built on Spark's native dedup operators so the
state lives in the (RocksDB-capable) state store, not user code:

- ``stream_dedup_exact``: ``dropDuplicates`` on the key columns — state
  grows with #distinct keys and never expires. Right for bounded key
  domains (station ids, config keys).
- ``stream_dedup_within_watermark``: ``dropDuplicatesWithinWatermark`` —
  duplicates are only suppressed while their event time is above the
  watermark, so state is bounded by the watermark horizon regardless of
  key cardinality. Right for unbounded domains (document/content hashes
  at crawl scale) where re-ingesting a months-old duplicate is acceptable
  or handled by a downstream batch dedup pass; this is the
  stream-then-compact posture every 100 TB ingest pipeline lands on.

The content key for document streams should be a digest column
(``xxhash64(text)`` / ``md5``) computed BEFORE the dedup operator so state
stores 8-16 bytes per key, never the payload.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..operators.dedup import (
    DOC_ID,
    MINHASH_K,
    TEXT,
    band_hash_array,
    explode_band_hashes,
    minhash_signatures,
)
from .overlap import run_overlapped

CONTENT_KEY = "content_key"


def _index_exists(spark, path: str) -> bool:
    """Probe the band-index path through the Hadoop FileSystem API so
    non-local stores (HDFS/S3A — the stated 100 TB ingest posture) are
    detected too. A driver-local ``os.path.isdir`` would always be false there
    and the new-vs-history join would be silently skipped, dropping every
    historical duplicate pair."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def with_content_key(df: DataFrame) -> DataFrame:
    """Attach the 8-byte content digest used as the dedup state key."""
    return df.withColumn(CONTENT_KEY, F.xxhash64(F.col(TEXT)))


def stream_dedup_exact(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Unbounded-state exact dedup on ``key_cols`` (first arrival wins)."""
    return df.dropDuplicates(key_cols)


def stream_dedup_within_watermark(
    df: DataFrame,
    key_cols: list[str],
    event_time_col: str,
    delay: str = "10 minutes",
) -> DataFrame:
    """Watermark-bounded exact dedup: suppresses duplicates arriving within
    the watermark horizon of the first occurrence; state for keys older
    than the watermark is evicted by the engine. ``event_time_col`` must be
    a timestamp column; ``delay`` is the lateness bound (also the duplicate
    horizon)."""
    return df.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(key_cols)


# --------------------------------------------------------------------------
# Incremental NEAR-dup against a persistent MinHash index — the crawl-
# ingest posture at 100 TB: each new batch of documents is checked against
# everything already ingested WITHOUT reprocessing the historical corpus.
# The index is an append-only parquet dataset of LSH band rows partitioned
# by ingest batch; per increment the work is O(batch + colliding buckets),
# never O(corpus). Same replay-idempotent versioned-directory discipline
# as streaming/incremental.py (both writes keyed by the foreachBatch id).
# --------------------------------------------------------------------------


def _compact_signatures(docs: DataFrame, portable: bool = False) -> DataFrame:
    """(id, signature, bhashes): one row per document with its MinHash
    signature and LSH_BANDS band hashes, the index's compact layout. A pure
    projection over the documents, so a streaming query analyses it once
    and every trigger only re-optimises it; the ``bhashes`` projection
    reuses the signature column (one ArrowEvalPython, test-pinned)."""
    sigs = minhash_signatures(docs.select(DOC_ID, TEXT), portable=portable)
    return sigs.select(DOC_ID, "signature", band_hash_array(portable).alias("bhashes"))


def read_band_index(spark, index_path: str, before_batch: int) -> DataFrame:
    """Band rows (id, signature, band, bhash) of every index batch OLDER
    than ``before_batch`` (replay-safe: a re-run of batch N sees the same
    history). Handles BOTH index layouts: the compact r12 form (one row
    per doc, ``bhashes`` array — reconstructed by one posexplode) and the
    pre-r12 exploded form (16 signature-carrying rows per doc) — the
    layout is told apart by the index's schema (``_index_layout``), so an
    index written by the previous layout keeps working instead of failing
    its next increment."""
    return _history(spark, index_path, before_batch, _index_layout(spark, index_path))


def _index_layout(spark, index_path: str) -> tuple[StructType, bool]:
    """The index's schema and whether it is in the pre-r12 exploded
    layout. The schema comes from one file's footer (one Spark job), so an
    index must hold one layout only: an increment appends in the layout
    found here (a mixed index reads one layout's rows as nulls)."""
    schema = spark.read.parquet(index_path).schema
    if "bhashes" in schema.names:
        return schema, False
    if "bhash" in schema.names:  # pre-r12 exploded layout
        return schema, True
    raise ValueError(
        f"band index at {index_path!r} has neither a compact 'bhashes' column "
        f"nor exploded 'band'/'bhash' columns (found {schema.names}) — not a "
        "near-dup band index"
    )


def _history(
    spark, index_path: str, before_batch: int, layout: tuple[StructType, bool]
) -> DataFrame:
    """``read_band_index`` for a known ``_index_layout``: the schema is
    given to the reader, so no footer is read to infer it."""
    schema, exploded = layout
    idx = spark.read.schema(schema).parquet(index_path).filter(
        F.col("ingest_batch") < before_batch
    )
    if exploded:
        return idx.select(DOC_ID, "signature", "band", "bhash")
    return explode_band_hashes(idx)


def collision_pairs(
    new_bands: DataFrame, hist_bands: DataFrame | None, threshold: float
) -> DataFrame:
    """ONE collision join per increment (r12; r10 stretch #9 — the pair
    stage was 54% of the replay wall): the left side is the historical
    band rows UNIONED with the new batch's, the right side the new
    batch's, so new-vs-new and new-vs-history pairs come out of the same
    (band, bhash) exchange — the previous shape ran two join pipelines
    (an intra self-join AND a history join), paying four wide exchanges
    of signature-carrying rows per batch where this pays two. An
    ``is_hist`` flag keeps the two legs' pair semantics: history pairs
    keep every orientation but exclude self-pairs (``doc_a != doc_b`` —
    a doc re-ingested in a later batch collides with its own history
    rows), intra pairs orient ``doc_a < doc_b``. The jaccard score is
    computed and thresholded BEFORE the pair-dedup groupBy, so that
    exchange moves 8-byte scores for surviving pairs only, never 64-slot
    signature arrays (same narrowing as minhash_lsh_pairs).

    ``new_bands`` / ``hist_bands``: (doc_id, signature, band, bhash) rows
    (``hist_bands`` None when no history exists yet). Returns
    (doc_a, doc_b, est_jaccard) with est >= threshold, one row per pair."""
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    est = F.round(agree / float(MINHASH_K), 6)

    lhs = new_bands.select(
        F.col(DOC_ID).alias("doc_a"),
        F.col("signature").alias("sig_a"),
        "band",
        "bhash",
        F.lit(False).alias("is_hist"),
    )
    if hist_bands is not None:
        lhs = hist_bands.select(
            F.col(DOC_ID).alias("doc_a"),
            F.col("signature").alias("sig_a"),
            "band",
            "bhash",
            F.lit(True).alias("is_hist"),
        ).unionByName(lhs)
    nb = new_bands.select(
        F.col(DOC_ID).alias("doc_b"), F.col("signature").alias("sig_b"), "band", "bhash"
    )
    keep = F.when(F.col("is_hist"), F.col("doc_a") != F.col("doc_b")).otherwise(
        F.col("doc_a") < F.col("doc_b")
    )
    return (
        lhs.join(nb, ["band", "bhash"])
        .filter(keep)
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
        .groupBy("doc_a", "doc_b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


def _increment(
    spark,
    compact: DataFrame,
    index_path: str,
    out_path: str,
    batch_id: int,
    threshold: float,
    layout: tuple[StructType, bool] | None,
) -> tuple[StructType, bool] | None:
    """The increment core shared by ``process_neardup_increment`` and the
    streaming callback. ``compact`` holds the batch's checkpointed
    (id, signature, bhashes) rows; ``layout`` is the index's
    ``_index_layout`` from an earlier increment of the same caller, or
    None to probe the index here. Returns the layout for the next
    increment (None while no index exists).

    Reusing the layout is safe because every increment appends in the
    layout the index already holds, so the schema cannot change under a
    caller once an index exists."""
    import os

    if layout is None and _index_exists(spark, index_path):
        layout = _index_layout(spark, index_path)
    new_bands = explode_band_hashes(compact)
    hist = _history(spark, index_path, batch_id, layout) if layout else None
    pairs = collision_pairs(new_bands, hist, threshold)

    # The two terminal writes are INDEPENDENT jobs (pairs needs the new rows
    # and the history, the index write only the checkpointed rows), so they
    # run overlapped: the short index write back-fills executor slots freed
    # by the pair join's straggler tail instead of paying its whole wall
    # serially after it (guide §2.6 overlap of independent jobs; measured
    # A/B in OPTIMIZATION_r12.md, -12.5%). run_overlapped (r13) joins both
    # futures FAIL-FAST — the first failure cancels the sibling's job group
    # and is re-raised — so batch N+1 still only ever sees a COMPLETE
    # ingest_batch=N. Replay caveat (r12 advice, made explicit): one
    # directory can commit while the other fails — e.g. ingest_batch=N
    # lands but batch_id=N pairs never do — which is safe ONLY because the
    # foreachBatch contract REPLAYS a failed batch_id, overwriting both
    # directories; an operator that skips the failed batch instead would
    # treat N's docs as history whose pairs were never emitted.
    def _write_pairs() -> None:
        pairs.write.mode("overwrite").parquet(os.path.join(out_path, f"batch_id={batch_id}"))

    def _write_index() -> None:
        # the ingest_batch column comes from the partition DIRECTORY name at
        # read time — writing it into the files too would collide on discovery
        exploded = layout is not None and layout[1]
        (new_bands if exploded else compact).write.mode("overwrite").parquet(
            os.path.join(index_path, f"ingest_batch={batch_id}")
        )

    run_overlapped(spark, {"pairs": _write_pairs, "index": _write_index})
    return layout


def process_neardup_increment(
    spark,
    batch_docs: DataFrame,
    index_path: str,
    out_path: str,
    batch_id: int,
    threshold: float = 0.5,
    portable: bool = False,
) -> None:
    """One increment: signatures for ``batch_docs`` collide against the
    historical band index AND against each other; pairs with estimated
    Jaccard >= ``threshold`` land in ``out_path/batch_id=N`` and the new
    band rows are appended as ``index_path/ingest_batch=N``, in the layout
    the index already holds. Replays of a batch_id overwrite (not
    duplicate) both directories. Each call probes the index afresh; the
    streaming query (``incremental_neardup_query``) runs the same core
    with the signatures planned once per query.

    The collision work is ONE join per increment (``collision_pairs`` —
    plan rationale there), over a COMPACT band index: one row per doc
    carrying the signature plus its LSH_BANDS band hashes (r12). The
    exploded 16-rows-per-doc form stored every 64-slot signature 16x
    over; measured honestly, parquet's dictionary/RLE encoding already
    collapses most of that repetition ON DISK (1.22x bytes at sf0.1 —
    SCALING.md r12), so the compact layout's win is the 16x fewer index
    rows to write, scan, and decode per history read, not raw bytes; the
    explode to join-key rows is a codegen-cheap posexplode of the
    checkpointed (or stored) ``bhashes`` column at use time. Replay wall
    A/B (old two-join + exploded index vs this), interleaved min-of-4 at
    sf0.1: 5.75 -> 5.20 s, new side faster in every pair."""
    # eager: the checkpoint feeds both writes, and a lazy one can be raced
    # into duplicate computation by the two concurrent jobs
    compact = _compact_signatures(batch_docs, portable).localCheckpoint(eager=True)
    _increment(spark, compact, index_path, out_path, batch_id, threshold, None)


def incremental_neardup_query(
    docs: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
):
    """Wire a streaming document DataFrame into the incremental near-dup
    checker. Returns the unstarted DataStreamWriter.

    The signatures and band hashes are part of the streaming plan, so the
    query analyses them once and each trigger hands the callback compact
    (id, signature, bhashes) rows. The callback checkpoints them and runs
    the increment core; the index layout resolved by the first trigger
    that finds an index is reused by every later one, so their history
    reads infer no schema."""
    spark = docs.sparkSession
    layout = None

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal layout
        layout = _increment(
            spark, batch_df.localCheckpoint(eager=True), index_path, out_path, batch_id,
            threshold, layout,
        )

    return (
        _compact_signatures(docs)
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", checkpoint_dir)
    )
