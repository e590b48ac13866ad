"""Streaming dedup operators: batch-stream equivalence and bounded-state
watermark semantics."""

from __future__ import annotations

import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from detector_network_processor_spark.streaming.dedup import (
    stream_dedup_exact,
    stream_dedup_within_watermark,
    with_content_key,
)


def _run_stream(spark, tmp, build, name):
    q = (
        build.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}")


def test_stream_dedup_exact_matches_batch(spark):
    rows = [(i % 40, f"doc text {i % 40}", i) for i in range(400)]
    tmp = tempfile.mkdtemp(prefix="dnp_sdedup_")
    try:
        schema = "doc_id long, text string, seq long"
        df = spark.createDataFrame(rows, schema)
        for part in range(4):
            df.filter(F.col("seq") % 4 == part).coalesce(1).write.parquet(f"{tmp}/in/p{part}")
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/p*")
        got = _run_stream(
            spark, tmp, stream_dedup_exact(with_content_key(stream), ["content_key"]), "sdedup_exact"
        )
        # 40 distinct texts regardless of arrival order/batching
        assert got.count() == 40
        assert got.select("content_key").distinct().count() == 40
        batch_keys = {
            r["content_key"]
            for r in with_content_key(df).select("content_key").distinct().collect()
        }
        assert {r["content_key"] for r in got.collect()} == batch_keys
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_dedup_within_watermark_suppresses_near_dups_only(spark):
    """Duplicates inside the horizon are dropped; a re-arrival far past the
    watermark is admitted again (bounded state, documented semantics)."""
    base_s = 1_700_000_000
    rows = (
        # burst of duplicate content at t0..t0+60s -> one survivor
        [(1, "same text", base_s + i) for i in range(0, 61, 20)]
        # unrelated doc inside the burst
        + [(2, "other text", base_s + 30)]
        # filler 1h later advances the watermark past the burst's horizon
        # BEFORE the re-arrival (the watermark trails by one batch, so the
        # eviction must happen in an earlier batch than the re-arrival's)
        + [(5, "gap filler", base_s + 3600)]
        # second spacer: state eviction runs at END of a batch (after that
        # batch's dedup), so the re-arrival must come >= 2 batches after
        # the watermark-advancing event
        + [(6, "spacer", base_s + 3660)]
        # same content AGAIN, 2h later (far beyond the 10-minute horizon)
        # -> admitted again
        + [(3, "same text", base_s + 7200)]
        + [(4, "closer", base_s + 7260)]
    )
    tmp = tempfile.mkdtemp(prefix="dnp_sdedupw_")
    try:
        schema = "doc_id long, text string, ts_s long"
        # one file per row, in time order, so watermark advances between rows
        for i, r in enumerate(rows):
            spark.createDataFrame([r], schema).coalesce(1).write.parquet(f"{tmp}/in/f{i:02d}")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/f*")
            .withColumn("ts", F.timestamp_seconds("ts_s"))
        )
        got = _run_stream(
            spark,
            tmp,
            stream_dedup_within_watermark(
                with_content_key(stream), ["content_key"], "ts", "10 minutes"
            ),
            "sdedup_wm",
        )
        out = sorted(r["doc_id"] for r in got.collect())
        # burst collapses to doc 1; doc 3 re-admitted after horizon
        assert 1 in out and 2 in out and 4 in out and 5 in out and 6 in out
        assert 3 in out, "re-arrival beyond the watermark horizon must be admitted"
        assert len(out) == 6
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_curation_pipeline_matches_batch(spark):
    """The ingest-time curation composition (gate -> digest dedup ->
    stratified sample) over a chunked stream equals the same stages in
    batch, when files arrive in doc_id order (first arrival == min id)."""
    from detector_network_processor_spark.io import load_table
    from detector_network_processor_spark.streaming.curation import (
        quality_gate,
        stratified_sample_filter,
        stream_curation_pipeline,
        with_content_key,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text", "lang", "source")

    # batch expectation with the identical stages (dedup = min doc_id per key)
    gb = with_content_key(quality_gate(docs))
    canon = gb.groupBy("content_key").agg(F.min("doc_id").alias("doc_id"))
    batch = stratified_sample_filter(gb.join(canon, ["content_key", "doc_id"]))
    expected = {
        (r["doc_id"], round(r["weight"], 6)) for r in batch.select("doc_id", "weight").collect()
    }

    tmp = tempfile.mkdtemp(prefix="dnp_scur_")
    try:
        n = docs.count()
        # three chunks in ascending doc_id order
        for i in range(3):
            docs.filter(
                (F.col("doc_id") >= i * n / 3) & (F.col("doc_id") < (i + 1) * n / 3)
            ).coalesce(1).write.parquet(f"{tmp}/in/c{i}")
        stream = (
            spark.readStream.schema("doc_id long, text string, lang string, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/c*")
        )
        got_df = _run_stream(spark, tmp, stream_curation_pipeline(stream), "scur")
        got = {(r["doc_id"], round(r["weight"], 6)) for r in got_df.collect()}
        assert got == expected
        assert len(got) > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _neardup_corpus() -> list[tuple[int, str]]:
    """30 documents: a base sentence, near-dups of it (one token swapped)
    and unrelated token runs, interleaved by doc_id."""
    base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    docs = []
    for i in range(30):
        words = base.split()
        if i % 3 == 1:
            words[i % len(words)] = f"tok{i}"  # near-dup of base
        if i % 3 == 2:
            words = [f"w{i}_{j}" for j in range(14)]  # unrelated
        docs.append((i, " ".join(words)))
    return docs


def test_incremental_neardup_index_matches_batch(spark):
    """Streaming dedup-against-index == batch minhash_lsh_pairs over the
    union of all ingested batches (>= threshold), including pairs whose
    members arrived in DIFFERENT increments — and a replayed batch_id
    overwrites instead of duplicating."""
    import shutil
    import tempfile

    from detector_network_processor_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from detector_network_processor_spark.streaming.dedup import process_neardup_increment

    docs = _neardup_corpus()
    df = spark.createDataFrame(docs, "doc_id long, text string")

    THRESH = 0.5
    batch_pairs = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in minhash_lsh_pairs(minhash_signatures(df)).collect()
        if r.est_jaccard >= THRESH
    }
    assert batch_pairs, "fixture produced no near-dup pairs"

    tmp = tempfile.mkdtemp(prefix="dnp_neardup_idx_")
    try:
        index, out = f"{tmp}/index", f"{tmp}/out"
        chunks = [docs[:10], docs[10:20], docs[20:]]
        for bid, chunk in enumerate(chunks):
            process_neardup_increment(
                spark, spark.createDataFrame(chunk, df.schema), index, out, bid,
                threshold=THRESH,
            )
        # replay of batch 1 must be a no-op net effect
        process_neardup_increment(
            spark, spark.createDataFrame(chunks[1], df.schema), index, out, 1,
            threshold=THRESH,
        )
        got = {
            (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b), r.est_jaccard)
            for r in spark.read.parquet(out).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    assert got == {(min(a, b), max(a, b), e) for a, b, e in batch_pairs}


def test_reingested_doc_emits_no_self_pair(spark):
    """The r12 merged collision join lets history rows join the new batch
    in every orientation — a doc re-ingested in a later batch collides
    with its OWN history band rows, so the history leg must keep the
    doc_a != doc_b guard the old two-pipeline shape had (r12 review
    finding): no (x, x) self-pair may ever be emitted."""
    import shutil
    import tempfile

    from detector_network_processor_spark.streaming.dedup import process_neardup_increment

    base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    df0 = spark.createDataFrame([(i, base + f" v{i % 2}") for i in range(6)],
                                "doc_id long, text string")
    # batch 1 re-ingests doc 3 verbatim (plus a fresh doc)
    df1 = spark.createDataFrame([(3, base + " v1"), (99, base + " v1 extra")],
                                "doc_id long, text string")
    tmp = tempfile.mkdtemp(prefix="dnp_selfpair_")
    try:
        for bid, df in enumerate((df0, df1)):
            process_neardup_increment(spark, df, f"{tmp}/index", f"{tmp}/out", bid,
                                      threshold=0.3)
        rows = spark.read.parquet(f"{tmp}/out").collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert rows, "fixture produced no pairs at all"
    self_pairs = [(r.doc_a, r.doc_b) for r in rows if r.doc_a == r.doc_b]
    assert not self_pairs, f"self-pairs emitted: {self_pairs}"
    # the re-ingested doc still matches its historical near-dups
    assert any(3 in (r.doc_a, r.doc_b) for r in rows)


def test_increment_reads_pre_r12_exploded_index_layout(spark):
    """The index layout changed in r12 (exploded signature-per-band rows
    -> one compact bhashes-array row per doc). An index persisted by the
    previous layout must keep working: read_band_index detects the old
    schema and uses its band rows directly instead of failing every
    future increment until a manual rebuild (r12 review finding)."""
    import shutil
    import tempfile

    import pytest

    from detector_network_processor_spark.operators.dedup import (
        band_rows,
        minhash_signatures,
    )
    from detector_network_processor_spark.streaming.dedup import (
        process_neardup_increment,
        read_band_index,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    hist_docs = spark.createDataFrame([(i, base) for i in range(4)],
                                      "doc_id long, text string")
    new_docs = spark.createDataFrame([(10, base)], "doc_id long, text string")
    tmp = tempfile.mkdtemp(prefix="dnp_oldidx_")
    try:
        # persist batch 0's index in the PRE-r12 exploded layout
        band_rows(minhash_signatures(hist_docs)).write.parquet(
            f"{tmp}/index/ingest_batch=0"
        )
        process_neardup_increment(spark, new_docs, f"{tmp}/index", f"{tmp}/out", 1,
                                  threshold=0.9)
        got = {(r.doc_a, r.doc_b) for r in spark.read.parquet(f"{tmp}/out").collect()}
        assert got == {(i, 10) for i in range(4)}, got
        # a directory that is neither layout fails with an actionable error
        spark.createDataFrame([(1, 2)], "a long, ingest_batch long").write.mode(
            "overwrite"
        ).parquet(f"{tmp}/bogus/ingest_batch=0")
        with pytest.raises(ValueError, match="not a near-dup band index"):
            read_band_index(spark, f"{tmp}/bogus", before_batch=9).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_pre_r12_exploded_index_keeps_one_layout_across_increments(spark):
    """Increments appended to a pre-r12 exploded index stay in that layout.
    The index schema comes from one footer, so a mixed index read one
    layout's rows as nulls: from the second increment on, history written
    by the first increment (doc 20) never collided."""
    import shutil
    import tempfile

    from detector_network_processor_spark.operators.dedup import (
        band_rows,
        minhash_signatures,
    )
    from detector_network_processor_spark.streaming.dedup import (
        process_neardup_increment,
    )

    text_a = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    text_b = "muon detectors on rooftops record coincident hits from cosmic air showers"
    schema = "doc_id long, text string"
    tmp = tempfile.mkdtemp(prefix="dnp_mixidx_")
    try:
        band_rows(minhash_signatures(spark.createDataFrame(
            [(i, text_a) for i in range(4)], schema
        ))).write.parquet(f"{tmp}/index/ingest_batch=0")
        for batch_id, docs in ((1, [(20, text_b)]), (2, [(30, text_a), (31, text_b)])):
            process_neardup_increment(spark, spark.createDataFrame(docs, schema),
                                      f"{tmp}/index", f"{tmp}/out", batch_id, threshold=0.9)
        got = {(r.doc_a, r.doc_b)
               for r in spark.read.parquet(f"{tmp}/out/batch_id=2").collect()}
        assert got == {(0, 30), (1, 30), (2, 30), (3, 30), (20, 31)}, got
        for batch_id in (1, 2):
            cols = spark.read.parquet(f"{tmp}/index/ingest_batch={batch_id}").columns
            assert sorted(cols) == ["band", "bhash", "doc_id", "signature"], cols
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run_ingest_query(spark, tmp, chunks, index):
    """Write each chunk of (doc_id, text) rows as one spool file and run
    the ingest query over them, one file per trigger; returns the
    normalised (doc_a, doc_b, est_jaccard) pairs of every batch and the
    last micro-batch's physical plan."""
    from detector_network_processor_spark.streaming.dedup import incremental_neardup_query

    schema = "doc_id long, text string"
    for i, chunk in enumerate(chunks):
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(f"{tmp}/in/f{i}")
    docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/f*")
    q = (
        incremental_neardup_query(docs, index, f"{tmp}/out", f"{tmp}/ckpt", threshold=0.5)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.exception() is None, q.exception()
    assert q.lastProgress["batchId"] == len(chunks) - 1
    pairs = {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b), r.est_jaccard)
        for r in spark.read.parquet(f"{tmp}/out").collect()
    }
    # the physical plan of the last micro-batch: the one the callback
    # checkpoints (a foreachBatch DataFrame scans that plan's RDD)
    return pairs, q._jsq.explainInternal(False)


def test_ingest_query_plans_the_increment_once_per_query(spark, monkeypatch):
    """The ingest query over three triggers finds the one-shot
    minhash_lsh_pairs at the threshold, scores included. Its signatures
    are planned once per query, not once per trigger; the index schema is
    inferred at most once, by the first trigger that finds an index; and
    the checkpointed micro-batch plan evaluates the signature UDF once, so
    the bhashes projection does not duplicate it."""
    from detector_network_processor_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from detector_network_processor_spark.streaming import dedup

    calls = {"minhash_signatures": 0, "_index_layout": 0}

    def counted(name):
        real = getattr(dedup, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return real(*args, **kwargs)

        monkeypatch.setattr(dedup, name, wrapper)

    counted("minhash_signatures")
    counted("_index_layout")

    docs = _neardup_corpus()
    want = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in minhash_lsh_pairs(
            minhash_signatures(spark.createDataFrame(docs, "doc_id long, text string")),
            min_est=0.5,
        ).collect()
    }
    assert want, "fixture produced no near-dup pairs"
    tmp = tempfile.mkdtemp(prefix="dnp_ingestq_")
    try:
        got, plan = _run_ingest_query(
            spark, tmp, [docs[:10], docs[10:20], docs[20:]], f"{tmp}/index"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    assert got == want
    assert calls == {"minhash_signatures": 1, "_index_layout": 1}, calls
    assert plan.count("ArrowEvalPython") == 1, plan


def test_ingest_query_keeps_a_pre_r12_exploded_index_layout(spark):
    """The streaming counterpart of
    test_pre_r12_exploded_index_keeps_one_layout_across_increments: over a
    pre-existing exploded index the ingest query finds the history pairs,
    appends its own batches in the exploded layout (so the second
    trigger's history includes the first's), and a directory in neither
    layout fails the first trigger that reads it."""
    from pyspark.errors import StreamingQueryException

    from detector_network_processor_spark.operators.dedup import (
        band_rows,
        minhash_signatures,
    )

    text_a = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    text_b = "muon detectors on rooftops record coincident hits from cosmic air showers"
    schema = "doc_id long, text string"
    chunks = [[(20, text_b)], [(30, text_a), (31, text_b)]]
    tmp = tempfile.mkdtemp(prefix="dnp_ingestq_old_")
    try:
        # history that predates the query's batch ids (0, 1, ...)
        band_rows(minhash_signatures(spark.createDataFrame(
            [(i, text_a) for i in range(4)], schema
        ))).write.parquet(f"{tmp}/index/ingest_batch=-1")
        got, _ = _run_ingest_query(spark, f"{tmp}/q", chunks, f"{tmp}/index")
        assert {(a, b) for a, b, _ in got} == {(0, 30), (1, 30), (2, 30), (3, 30), (20, 31)}, got
        for batch_id in (0, 1):
            cols = spark.read.parquet(f"{tmp}/index/ingest_batch={batch_id}").columns
            assert sorted(cols) == ["band", "bhash", "doc_id", "signature"], cols

        spark.createDataFrame([(1,)], "a long").write.parquet(f"{tmp}/bogus/ingest_batch=-1")
        with pytest.raises(StreamingQueryException, match="not a near-dup band index"):
            _run_ingest_query(spark, f"{tmp}/q_bogus", chunks, f"{tmp}/bogus")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_dedup_on_rocksdb_state_store(spark):
    """The production state backend (RocksDB provider + changelog
    checkpointing, streaming/pipeline.py::use_rocksdb_state) must actually
    run stateful queries in this Spark build — exercised with
    dropDuplicatesWithinWatermark, then the provider is restored."""
    import shutil
    import tempfile

    from detector_network_processor_spark.streaming.dedup import (
        stream_dedup_within_watermark,
        with_content_key,
    )
    from detector_network_processor_spark.streaming.pipeline import (
        ROCKSDB_PROVIDER,
        use_rocksdb_state,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    tmp = tempfile.mkdtemp(prefix="dnp_rocksdb_")
    try:
        use_rocksdb_state(spark)
        assert spark.conf.get("spark.sql.streaming.stateStore.providerClass") == ROCKSDB_PROVIDER
        rows = [(i, f"doc body {i % 7}", i * 1000) for i in range(50)]
        spark.createDataFrame(rows, "doc_id long, text string, ts_ms long").coalesce(
            1
        ).write.parquet(f"{tmp}/in/f0")
        stream = (
            spark.readStream.schema("doc_id long, text string, ts_ms long")
            .parquet(f"{tmp}/in/f*")
            .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        )
        deduped = stream_dedup_within_watermark(
            with_content_key(stream), ["content_key"], "ts", delay="10 seconds"
        )
        q = (
            deduped.writeStream.format("memory").queryName("rocksdb_dedup_test")
            .outputMode("append").option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = spark.sql("select * from rocksdb_dedup_test").collect()
        assert len(got) == 7  # one per distinct content key
        # the checkpoint really used RocksDB (its state dir layout exists)
        import glob

        assert glob.glob(f"{tmp}/ckpt/state/**", recursive=True)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        spark.conf.unset("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
        shutil.rmtree(tmp, ignore_errors=True)


def test_increment_write_failure_propagates(spark, monkeypatch):
    """r12: the increment's two terminal writes run as concurrent jobs
    (guide §2.6 overlap); the futures must be JOINED with exceptions
    re-raised, so a failed pairs write or a failed index write can never
    let the increment return 'success' with half its directories missing
    (the next batch would silently read an incomplete history). Once the
    fault is gone, re-running the failed batch id (what foreachBatch does
    on restart) and one more batch must leave exactly the one-shot pairs
    and each of the failed batch's documents once in the index — the
    replay the "callers must replay, never skip" caveat in
    streaming/overlap.py relies on."""
    import shutil
    import tempfile

    import pytest

    from detector_network_processor_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from detector_network_processor_spark.streaming.dedup import process_neardup_increment

    import os

    THRESH = 0.3
    schema = "doc_id long, text string"

    def docs(lo, hi):
        return spark.createDataFrame(
            [
                (i, f"alpha beta gamma delta epsilon zeta eta theta doc{i}"
                 if i % 3 else " ".join(f"w{i}_{j}" for j in range(9)))
                for i in range(lo, hi)
            ],
            schema,
        )

    def assert_replayed(tmp, n_docs, failed_batch, failed_ids):
        want = {
            (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b), r.est_jaccard)
            for r in minhash_lsh_pairs(minhash_signatures(docs(0, n_docs))).collect()
            if r.est_jaccard >= THRESH
        }
        got = {
            (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b), r.est_jaccard)
            for r in spark.read.parquet(f"{tmp}/out").collect()
        }
        assert want and got == want
        ids = [
            r.doc_id
            for r in spark.read.parquet(f"{tmp}/index/ingest_batch={failed_batch}").collect()
        ]
        assert sorted(ids) == list(failed_ids)

    # failed PAIRS write: the out root is a FILE, so creating
    # out/batch_id=0 under it fails while the index write succeeds
    tmp = tempfile.mkdtemp(prefix="dnp_wfail_")
    try:
        with open(f"{tmp}/out", "w") as fh:
            fh.write("not a directory")
        with pytest.raises(Exception):
            process_neardup_increment(spark, docs(0, 8), f"{tmp}/index", f"{tmp}/out", 0, threshold=THRESH)
        os.remove(f"{tmp}/out")
        process_neardup_increment(spark, docs(0, 8), f"{tmp}/index", f"{tmp}/out", 0, threshold=THRESH)
        process_neardup_increment(spark, docs(8, 16), f"{tmp}/index", f"{tmp}/out", 1, threshold=THRESH)
        assert_replayed(tmp, 16, 0, range(0, 8))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # failed INDEX write: batch 0 lands normally, then the writer is
    # patched so only batch 1's ingest_batch=1 write raises (a stray file
    # in the index root would instead fail the history READ, before any
    # write) — this pins that the future of the OTHER concurrent write is
    # joined and its exception re-raised even when the pairs write
    # succeeds first
    from pyspark.sql.readwriter import DataFrameWriter

    tmp = tempfile.mkdtemp(prefix="dnp_wfail_")
    real_parquet = DataFrameWriter.parquet
    try:
        process_neardup_increment(spark, docs(0, 8), f"{tmp}/index", f"{tmp}/out", 0, threshold=THRESH)

        def failing_parquet(self, path, *a, **kw):
            if "ingest_batch=1" in path:
                raise RuntimeError("injected index-write failure")
            return real_parquet(self, path, *a, **kw)

        # monkeypatch (not bare class-attr assignment): exception-safe,
        # bookkept restoration even if the assertion below throws (r12
        # advice)
        monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
        with pytest.raises(Exception, match="injected index-write failure"):
            process_neardup_increment(spark, docs(8, 16), f"{tmp}/index", f"{tmp}/out", 1, threshold=THRESH)
        # the failed increment must not have destroyed batch 0's history
        assert os.path.isdir(f"{tmp}/index/ingest_batch=0")
        monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
        process_neardup_increment(spark, docs(8, 16), f"{tmp}/index", f"{tmp}/out", 1, threshold=THRESH)
        process_neardup_increment(spark, docs(16, 24), f"{tmp}/index", f"{tmp}/out", 2, threshold=THRESH)
        assert_replayed(tmp, 24, 1, range(8, 16))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
