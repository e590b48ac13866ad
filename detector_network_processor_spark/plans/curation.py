"""Training-corpus curation operators, second batch (SURVEY.md §2.11):
PII redaction, semantic dedup (SemDeDup), sequence packing, duplicate
n-gram span accounting, deterministic training-shard planning, and k-means
centroid refinement.

Design-for-100TB notes:
- pii_redaction: pure regexp column expressions — pushed into whole-stage
  codegen, zero shuffle; the shape of every PII scrubber that matters at
  crawl scale.
- semantic_dedup: all-pairs comparison happens ONLY within a coarse
  cluster (broadcast centroids → hash shuffle on cluster id → per-cluster
  self-join). Cluster size bounds the quadratic term; corpus-wide pairs
  are never formed.
- sequence_packing: the one genuinely sequential op here — greedy packing
  is order-dependent, so it parallelizes across (source) groups, not
  within; each group streams through one Arrow batch.
- duplicate_ngram_spans: inverted index on shingle hash (8-byte keys);
  the global-frequency side collapses to (hash, count) before the join
  back, so the heavy join carries counts, not text.
- training_shard_plan: a deterministic Lehmer mix replaces an RNG so the
  shuffle order is reproducible across engines and re-runs; the real
  write is `repartition(NSHARDS, shard_id)` + `sortWithinPartitions` —
  one shuffle, then sorted parquet shards.
- kmeans_refine: Lloyd iterations as repeated (broadcast-join → narrow
  agg) passes; per-dimension means via posexplode keep the shuffle rows
  (cluster, dim, partial-sum) — map-side combined, never vectors.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..io import load_table
from . import register
from ..config import python_stage_partitions

# --------------------------------------------------------------------------
# PII detection / redaction
# --------------------------------------------------------------------------

# Patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repetition, \b and \d only.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@register(
    "pii_redaction",
    oracle=f"""
WITH seeded AS (
  SELECT doc_id, lang,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or call 555-867-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
              || CAST(doc_id % 100 AS VARCHAR) AS text
  FROM documents
)
SELECT doc_id, lang,
       len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones,
       len(regexp_extract_all(text, '{_PII_IP}')) AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IP}', '<IP>', 'g')) AS redacted_fp
FROM seeded
ORDER BY doc_id
""",
    doc=(
        "PII detection + redaction: email / phone / IPv4 patterns counted and "
        "replaced with typed placeholders. Deterministic PII is concatenated "
        "into each document first (the fixture corpus contains none), so the "
        "hash match certifies the actual redaction output, not just zeros. "
        "Pure regexp_count/regexp_replace column expressions — whole-stage "
        "codegen, no shuffle: the scan-speed scrubbing pass of a crawl "
        "pipeline. Patterns restricted to the Java-regex ∩ RE2 dialect."
    ),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-867-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") % 100).cast("string"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(seeded, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
        ),
        _PII_IP,
        "<IP>",
    )
    return docs.select(
        "doc_id",
        "lang",
        F.regexp_count(seeded, F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(seeded, F.lit(_PII_PHONE)).alias("n_phones"),
        F.regexp_count(seeded, F.lit(_PII_IP)).alias("n_ips"),
        F.md5(redacted).alias("redacted_fp"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup): coarse cluster, then near-dup only in-cluster
# --------------------------------------------------------------------------

_SEM_N_CENT = 8
_SEM_THRESHOLD = 0.35


@register(
    "semantic_dedup",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {_SEM_N_CENT}),
a AS (
  SELECT e.vec_id, e.v, cent.centroid_id,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_sum(list_transform(list_zip(e.v, cent.cv), x -> (x[1]-x[2])*(x[1]-x[2]))),
           cent.centroid_id) AS rn
  FROM e CROSS JOIN cent
),
m AS (SELECT vec_id, v, centroid_id FROM a WHERE rn = 1),
pairs AS (
  SELECT x.centroid_id AS cluster_id, x.vec_id AS keep_id, y.vec_id AS drop_id,
         list_dot_product(x.v, y.v)
           / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS sim
  FROM m x JOIN m y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
)
SELECT cluster_id, keep_id, drop_id, round(sim, 6) AS sim
FROM pairs WHERE sim > {_SEM_THRESHOLD}
ORDER BY cluster_id, keep_id, drop_id
""",
    doc=(
        "Semantic dedup (SemDeDup, Abbas et al. 2023): embeddings are "
        "coarse-clustered to their nearest seed centroid, then cosine "
        "near-duplicates are detected ONLY within a cluster (keep = lower "
        "vec_id). At 100 TB the quadratic pair term is bounded by cluster "
        "size — corpus-wide all-pairs are never formed; centroids are "
        "broadcast and the pair join is a hash shuffle on cluster id."
    ),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dot, ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _SEM_N_CENT).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    assigned = ivf_assign(emb, centroids, dim=64).select(
        "vec_id", "centroid_id", F.col("embedding").alias("v")
    )
    norm = F.sqrt(dot(F.col("v"), F.col("v")))
    x = assigned.select(
        F.col("centroid_id").alias("cluster_id"),
        F.col("vec_id").alias("keep_id"),
        F.col("v").alias("vx"),
        norm.alias("nx"),
    )
    y = assigned.select(
        F.col("centroid_id").alias("cluster_id"),
        F.col("vec_id").alias("drop_id"),
        F.col("v").alias("vy"),
        norm.alias("ny"),
    )
    sim = dot(F.col("vx"), F.col("vy")) / (F.col("nx") * F.col("ny"))
    return (
        x.join(y, "cluster_id")
        .filter(F.col("keep_id") < F.col("drop_id"))
        .withColumn("sim_raw", sim)
        .filter(F.col("sim_raw") > _SEM_THRESHOLD)
        .select("cluster_id", "keep_id", "drop_id", F.round("sim_raw", 6).alias("sim"))
        .orderBy("cluster_id", "keep_id", "drop_id")
    )


# --------------------------------------------------------------------------
# Sequence packing: greedy fixed-capacity context assembly
# --------------------------------------------------------------------------

_PACK_CAPACITY = 256


@register(
    "sequence_packing",
    oracle=f"""
WITH RECURSIVE d AS MATERIALIZED (
  -- MATERIALIZED: the recursive pack() term joins d every iteration, and
  -- DuckDB inlines non-recursive CTEs referenced from a recursive term
  -- (the converged-graph oracle-cost pin, applied here in r9)
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
pack AS (
  SELECT doc_id, source, n_tokens, rn,
         0 AS seq_id, 0 AS tok_offset
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.doc_id, d.source, d.n_tokens, d.rn,
         CASE WHEN p.tok_offset + p.n_tokens + d.n_tokens <= {_PACK_CAPACITY}
              THEN p.seq_id ELSE p.seq_id + 1 END,
         CASE WHEN p.tok_offset + p.n_tokens + d.n_tokens <= {_PACK_CAPACITY}
              THEN p.tok_offset + p.n_tokens ELSE 0 END
  FROM d JOIN pack p ON d.source = p.source AND d.rn = p.rn + 1
)
SELECT doc_id, source, n_tokens, seq_id, tok_offset
FROM pack ORDER BY doc_id
""",
    doc=(
        f"Sequence packing for training batches: documents are greedily "
        f"packed, in doc_id order, into fixed {_PACK_CAPACITY}-token context "
        "windows per source (a doc that would overflow starts the next "
        "window). Packing is inherently sequential, so it parallelizes "
        "ACROSS sources (applyInPandas per source group — at 100 TB, per "
        "shard), never within; the oracle replays the same greedy recursion "
        "as a recursive CTE."
    ),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seq_ids, offsets = [], []
        seq, off = 0, 0
        for n in pdf["n_tokens"]:
            if offsets and off + n > _PACK_CAPACITY:
                seq += 1
                off = 0
            seq_ids.append(seq)
            offsets.append(off)
            off += int(n)
        pdf["seq_id"] = seq_ids
        pdf["tok_offset"] = offsets
        return pdf

    out_schema = "doc_id long, source string, n_tokens int, seq_id int, tok_offset int"
    return (
        docs.groupBy("source")
        .applyInPandas(pack, schema=out_schema)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Duplicate n-gram span accounting (train-vs-train substring dedup signal)
# --------------------------------------------------------------------------

_SPAN_W = 5


@register(
    "duplicate_ngram_spans",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - {_SPAN_W - 1}),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS g
  FROM toks WHERE len(t) >= {_SPAN_W}
),
freq AS (SELECT g, count(*) AS c, count(DISTINCT doc_id) AS nd FROM pos GROUP BY g),
per_doc AS (
  SELECT p.doc_id,
         count(*) AS n_positions,
         CAST(sum(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_positions,
         CAST(sum(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_doc_positions
  FROM pos p JOIN freq f ON p.g = f.g
  GROUP BY p.doc_id
)
SELECT doc_id, n_positions, n_dup_positions, n_cross_doc_positions,
       round(n_dup_positions * 1.0 / n_positions, 6) AS dup_span_frac
FROM per_doc
WHERE n_dup_positions > 0
ORDER BY doc_id
""",
    doc=(
        f"Duplicate-substring accounting (Lee et al. 2022 'Deduplicating "
        f"Training Data...'): every {_SPAN_W}-token window position whose "
        "shingle occurs more than once corpus-wide is a duplicated span; "
        "reports per-document duplicated-position counts, cross-document "
        "counts, and the duplicated fraction. Inverted index on xxhash64 "
        "shingle keys; the frequency side collapses to (hash, count) before "
        "joining back, so the join carries 16-byte rows — at 100 TB this is "
        "the suffix-array substitute that actually distributes."
    ),
)
def duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").repartition(
        python_stage_partitions(spark)
    )
    t = F.split(F.col("text"), " ")
    th = F.transform(t, lambda w: F.xxhash64(w))
    staged = docs.filter(F.size(t) >= _SPAN_W).select("doc_id", th.alias("th"))
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(F.col("th")) - (_SPAN_W - 1)),
        lambda i: F.xxhash64(*[F.element_at(F.col("th"), i + j) for j in range(_SPAN_W)]),
    )
    pos = (
        staged.select("doc_id", shingles.alias("s"))
        .localCheckpoint(eager=True)
        .select("doc_id", F.explode("s").alias("g"))
    )
    freq = pos.groupBy("g").agg(
        F.count(F.lit(1)).alias("c"), F.countDistinct("doc_id").alias("nd")
    )
    per_doc = (
        pos.join(freq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_positions"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup_positions"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_cross_doc_positions"),
        )
    )
    return (
        per_doc.filter(F.col("n_dup_positions") > 0)
        .select(
            "doc_id",
            "n_positions",
            "n_dup_positions",
            "n_cross_doc_positions",
            F.round(F.col("n_dup_positions") * 1.0 / F.col("n_positions"), 6).alias(
                "dup_span_frac"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Deterministic training-shard planning (the global shuffle)
# --------------------------------------------------------------------------

_N_SHARDS = 16
_SHUFFLE_MOD = 2147483647


@register(
    "training_shard_plan",
    oracle=f"""
WITH mixed AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
         ((doc_id + 1) * 16807) % {_SHUFFLE_MOD} AS mix
  FROM documents
)
SELECT doc_id, n_tokens,
       mix % {_N_SHARDS} AS shard_id,
       CAST(row_number() OVER (PARTITION BY mix % {_N_SHARDS}
                               ORDER BY mix, doc_id) AS BIGINT) AS pos
FROM mixed
ORDER BY shard_id, pos
""",
    doc=(
        f"Training-shard planning: the deterministic global shuffle that "
        f"turns a curated corpus into {_N_SHARDS} training shards — shard = "
        "Lehmer mix of doc_id mod N, within-shard order = mix value. A "
        "reproducible integer mix replaces an RNG so the epoch order is "
        "identical across engines and re-runs. At 100 TB this plan IS the "
        "write: repartition(N, shard_id) + sortWithinPartitions(mix) — one "
        "shuffle, then streaming sorted parquet writers (io.py::"
        "write_partitioned); the window here exposes the same order for "
        "adjudication."
    ),
)
def training_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mix = ((F.col("doc_id") + 1) * 16807) % _SHUFFLE_MOD
    mixed = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        mix.alias("mix"),
        (mix % _N_SHARDS).alias("shard_id"),
    )
    w = Window.partitionBy("shard_id").orderBy("mix", "doc_id")
    return (
        mixed.withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "n_tokens", "shard_id", "pos")
        .orderBy("shard_id", "pos")
    )


# --------------------------------------------------------------------------
# K-means refinement (Lloyd iterations) over the embedding corpus
# --------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 2


def _km_assign_sql(cent_expr: str) -> str:
    return f"""
  SELECT e.vec_id, e.v, c.centroid_id,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_sum(list_transform(list_zip(e.v, c.cv), x -> (x[1]-x[2])*(x[1]-x[2]))),
           c.centroid_id) AS rn
  FROM e CROSS JOIN ({cent_expr}) c
"""


@register(
    "kmeans_refine",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {_KM_K}),
a1 AS ({_km_assign_sql('SELECT * FROM c0')}),
m1 AS (SELECT vec_id, v, centroid_id FROM a1 WHERE rn = 1),
c1 AS (
  SELECT centroid_id, list(mu ORDER BY i) AS cv
  FROM (
    SELECT centroid_id, i, round(avg(v[i]), 6) AS mu
    FROM m1, generate_series(1, 64) AS gs(i)
    GROUP BY centroid_id, i
  ) GROUP BY centroid_id
),
a2 AS ({_km_assign_sql('SELECT * FROM c1')}),
m2 AS (SELECT vec_id, v, centroid_id FROM a2 WHERE rn = 1)
SELECT m2.centroid_id AS cluster_id,
       count(*) AS n_members,
       round(sqrt(list_dot_product(any_value(c1.cv), any_value(c1.cv))), 4) AS centroid_norm
FROM m2 JOIN c1 ON m2.centroid_id = c1.centroid_id
GROUP BY m2.centroid_id
ORDER BY cluster_id
""",
    doc=(
        f"K-means refinement: {_KM_ITERS} Lloyd iterations over the "
        f"embedding corpus from {_KM_K} deterministic seed centroids — the "
        "clustering pass SemDeDup/IVF layouts train on. Each iteration is a "
        "broadcast-centroid assignment plus a per-(cluster, dimension) mean "
        "via posexplode, so the shuffle carries map-side-combined "
        "(cluster, dim, sum, count) partials, never whole vectors. Means "
        "are rounded to 6 decimals on both sides to pin the FP summation "
        "order; the returned membership counts are exact integers."
    ),
)
def kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _nearest_centroids, dot

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    for _ in range(_KM_ITERS - 1):
        assigned = _nearest_centroids(emb, centroids, 1)
        centroids = (
            assigned.select("centroid_id", F.posexplode("e").alias("i", "x"))
            .groupBy("centroid_id", "i")
            .agg(F.round(F.avg("x"), 6).alias("mu"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "mu"))), lambda s: s["mu"]
                ).alias("centroid")
            )
        )
    final = _nearest_centroids(emb, centroids, 1)
    norm = F.sqrt(dot(F.col("centroid"), F.col("centroid")))
    return (
        final.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(centroids.select("centroid_id", norm.alias("cn")), "centroid_id")
        .select(
            F.col("centroid_id").alias("cluster_id"),
            "n_members",
            F.round("cn", 4).alias("centroid_norm"),
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# Context-window chunking (training-example assembly, SURVEY §2.11)
# --------------------------------------------------------------------------

_CHUNK_W = 64  # tokens per chunk
_CHUNK_S = 48  # stride (16-token overlap carries context across boundaries)


@register(
    "chunk_documents",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, n,
         unnest(generate_series(0, CAST((greatest(n - {_CHUNK_W}, 0) + {_CHUNK_S} - 1) // {_CHUNK_S} AS BIGINT))) AS chunk_id,
         toks
  FROM t
)
SELECT doc_id, chunk_id,
       chunk_id * {_CHUNK_S} + 1 AS token_start,
       len(list_slice(toks, chunk_id * {_CHUNK_S} + 1, chunk_id * {_CHUNK_S} + {_CHUNK_W})) AS n_tokens,
       list_reduce(list_slice(toks, chunk_id * {_CHUNK_S} + 1, chunk_id * {_CHUNK_S} + {_CHUNK_W}),
                   (a, b) -> a || ' ' || b) AS chunk_text
FROM c
ORDER BY doc_id, chunk_id
""",
    doc=(
        "Sliding-window context chunking: W=64-token windows at stride 48 "
        "(16-token overlap), tail window kept short. Pure explode over a "
        "sequence expression — fully JVM-side, no UDF, no shuffle beyond the "
        "final presentation sort; at 100 TB this is a map-only pass whose "
        "output feeds sequence_packing. Chunk count derives from exact "
        "integer ceil arithmetic so both engines agree on boundaries."
    ),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    last_chunk = F.expr(f"(greatest(size(split(text, ' ')) - {_CHUNK_W}, 0) + {_CHUNK_S - 1}) div {_CHUNK_S}")
    staged = docs.select("doc_id", toks.alias("toks"), n.alias("n"), last_chunk.alias("last_chunk"))
    c = staged.select(
        "doc_id",
        "n",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("last_chunk").cast("long"))).alias("chunk_id"),
    )
    start = F.col("chunk_id") * _CHUNK_S + 1
    window = F.slice(F.col("toks"), start.cast("int"), _CHUNK_W)
    return (
        c.select(
            "doc_id",
            "chunk_id",
            start.alias("token_start"),
            F.size(window).cast("long").alias("n_tokens"),
            F.array_join(window, " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# --------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every raw document by
# the log importance weight log(p_target(x) / p_raw(x)) under hashed
# bag-of-ngram models, then select the top fraction. The target domain
# here is a deterministic source slice of the corpus (src0/src1), standing
# in for "quality" reference data (e.g. Wikipedia) as in the paper.
# --------------------------------------------------------------------------

_DSIR_K = 4096  # hashed feature buckets
_DSIR_MOD = 1000003  # polynomial-hash modulus (exact int64 both engines)
_DSIR_SCALE = 1_000_000  # log fixed-point scale
_DSIR_TARGET = ("src0", "src1")
_DSIR_KEEP_PCT = 30  # select the top 30% by weight

# polynomial rolling hash over the word's characters — identical integer
# arithmetic in Spark (aggregate/transform) and DuckDB (list_reduce);
# Spark's explicit 0 init and DuckDB's first-element init coincide because
# (0 * 31 + c1) = c1.
_DSIR_HASH_SPARK = (
    "aggregate(transform(sequence(1, length(w)), i -> ascii(substring(w, i, 1))), 0L, "
    f"(acc, x) -> (acc * 31 + x) % {_DSIR_MOD}) % {_DSIR_K}"
)
_DSIR_HASH_DUCK = (
    "list_reduce(list_transform(generate_series(1, len(w)), i -> ascii(w[i:i])), "
    f"(acc, x) -> (acc * 31 + x) % {_DSIR_MOD}) % {_DSIR_K}"
)


# the shared model-build + scoring CTE chain (through `scored`), used by
# both the exact-rank oracle and the approx-threshold oracle
_DSIR_SCORED_CTES = f"""words AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents
),
feats AS (
  SELECT doc_id, source, {_DSIR_HASH_DUCK} AS b, count(*) AS dc
  FROM words WHERE len(w) > 0 GROUP BY doc_id, source, w
),
docfeat AS (
  SELECT doc_id, source, b, CAST(sum(dc) AS BIGINT) AS dc
  FROM feats GROUP BY doc_id, source, b
),
raw_counts AS (SELECT b, CAST(sum(dc) AS BIGINT) AS cr FROM docfeat GROUP BY b),
tgt_counts AS (
  SELECT b, CAST(sum(dc) AS BIGINT) AS ct FROM docfeat
  WHERE source IN {_DSIR_TARGET} GROUP BY b
),
tots AS (
  SELECT (SELECT sum(cr) FROM raw_counts) AS tr,
         (SELECT coalesce(sum(ct), 0) FROM tgt_counts) AS tt
),
lr AS (
  SELECT r.b,
         CAST(floor((ln((coalesce(t.ct, 0) + 1.0) / (tots.tt + {_DSIR_K}))
                     - ln((r.cr + 1.0) / (tots.tr + {_DSIR_K}))) * {_DSIR_SCALE}) AS BIGINT)
           AS lr6
  FROM raw_counts r LEFT JOIN tgt_counts t ON r.b = t.b CROSS JOIN tots
),
scored AS (
  SELECT d.doc_id, CAST(sum(d.dc) AS BIGINT) AS n_words,
         CAST(sum(d.dc * lr.lr6) AS BIGINT) AS w6
  FROM docfeat d JOIN lr ON d.b = lr.b
  GROUP BY d.doc_id
)"""


@register(
    "dsir_importance",
    oracle=f"""
WITH {_DSIR_SCORED_CTES},
ranked AS (
  SELECT doc_id, n_words,
         round(w6 * 1.0 / {_DSIR_SCALE}, 6) AS log_weight,
         row_number() OVER (ORDER BY w6 DESC, doc_id) AS rank,
         count(*) OVER () AS n_docs
  FROM scored
)
SELECT doc_id, n_words, log_weight, rank,
       CAST(rank <= (n_docs * {_DSIR_KEEP_PCT}) // 100 AS BOOLEAN) AS selected
FROM ranked
ORDER BY doc_id
""",
    doc=f"DSIR importance resampling (Xie et al. 2023): per-doc log importance weight log(p_target/p_raw) under add-1-smoothed hashed bag-of-word models ({_DSIR_K} buckets, polynomial char hash identical in both engines), target domain = sources {_DSIR_TARGET}, top {_DSIR_KEEP_PCT}% selected. Scale shape: ONE token shuffle to per-doc bucket counts (map-side combined), two tiny bucket-count aggs broadcast back, integer-scaled order-free weight sum. The model tables stay O({_DSIR_K}) rows at any corpus size; the exact global rank column exists for oracle adjudication — the 100 TB path is IMPLEMENTED as dsir_importance_plan(exact_rank=False): threshold from one approx_percentile(w6) scalar, `selected` a plain filter, zero global Windows (plan-shape asserted in tests).",
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_importance_plan(spark, sf_dir, exact_rank=True)


def dsir_importance_plan(
    spark: SparkSession, sf_dir: str, exact_rank: bool = True
) -> DataFrame:
    """DSIR with a flag-gated selection strategy.

    ``exact_rank=True`` (oracle mode, the registered query): global
    ``row_number`` over w6 — deterministic, hash-adjudicable, but a
    single-partition sort over the doc dimension.

    ``exact_rank=False`` (the 100 TB path): the selection threshold comes
    from one ``approx_percentile(w6, 1 - keep_pct/100)`` scalar and
    ``selected`` is a plain filterable comparison — no global Window
    anywhere in the plan (asserted in tests/test_plan_shapes.py). The
    ``rank`` column is omitted in this mode: an exact global rank is
    precisely the construct being removed.
    """
    # no repartition: the plan is pure JVM (no Python stage to widen), and
    # the explode below multiplies rows anyway — an upfront shuffle of the
    # raw documents would be pure cost
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.length("w") > 0)
    # distinct-word counts first: the char-level hash runs once per distinct
    # (doc, word), not once per occurrence
    feats = words.groupBy("doc_id", "source", "w").agg(F.count(F.lit(1)).alias("dc"))
    docfeat = (
        feats.select(
            "doc_id", "source", F.expr(_DSIR_HASH_SPARK).alias("b"), "dc"
        )
        .groupBy("doc_id", "source", "b")
        .agg(F.sum("dc").alias("dc"))
        .localCheckpoint(eager=True)  # feeds three consumers below
    )
    raw_counts = docfeat.groupBy("b").agg(F.sum("dc").alias("cr"))
    tgt_counts = (
        docfeat.filter(F.col("source").isin(*_DSIR_TARGET))
        .groupBy("b")
        .agg(F.sum("dc").alias("ct"))
    )
    # corpus totals: two scalars, collected (O(1) driver bytes) so the
    # bucket-model build below is a single broadcastable table
    tr = raw_counts.agg(F.sum("cr")).collect()[0][0]
    tt = tgt_counts.agg(F.sum("ct")).collect()[0][0] or 0
    lr = raw_counts.join(tgt_counts, "b", "left").select(
        "b",
        F.floor(
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (tt + _DSIR_K))
                - F.log((F.col("cr") + 1.0) / (tr + _DSIR_K))
            )
            * _DSIR_SCALE
        ).cast("long").alias("lr6"),
    )
    scored = (
        docfeat.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(F.sum("dc").alias("n_words"), F.sum(F.col("dc") * F.col("lr6")).alias("w6"))
    )
    # scored feeds both the scalar below (count / percentile) and the final
    # select; it recomputes from the CHECKPOINTED docfeat (broadcast join +
    # doc-dimension agg), so no second checkpoint — keeping the lineage
    # also keeps the broadcast model join visible in the final plan.
    weight = F.round(F.col("w6") / float(_DSIR_SCALE), 6).alias("log_weight")
    if not exact_rank:
        # Scale path: one approx_percentile scalar (t-digest, fully
        # map-side-combinable) replaces the global rank; `selected` becomes
        # a broadcastable comparison against a literal.
        q = 1.0 - _DSIR_KEEP_PCT / 100.0
        thr = scored.agg(
            F.expr(f"approx_percentile(w6, {q}, 10000)").alias("t")
        ).collect()[0][0]
        return scored.select(
            "doc_id", "n_words", weight, (F.col("w6") >= F.lit(thr)).alias("selected")
        ).orderBy("doc_id")
    # n_docs over the SCORED population (docs that produced >=1 non-empty
    # token), matching the oracle's count(*) OVER () in the ranked CTE — a
    # token-less document never reaches `scored` and must not inflate the
    # selection budget.
    n_docs = scored.count()
    w_rank = Window.orderBy(F.col("w6").desc(), F.col("doc_id"))
    return (
        scored.select(
            "doc_id",
            "n_words",
            weight,
            F.row_number().over(w_rank).alias("rank"),
        )
        .withColumn("selected", F.col("rank") <= (n_docs * _DSIR_KEEP_PCT) // 100)
        .orderBy("doc_id")
    )


@register(
    "dsir_importance_approx",
    oracle=f"""
WITH {_DSIR_SCORED_CTES},
thr AS (
  SELECT max(CASE WHEN rn = CAST(ceil({1.0 - _DSIR_KEEP_PCT / 100.0} * n) AS BIGINT)
             THEN w6 END) AS t
  FROM (SELECT w6, row_number() OVER (ORDER BY w6) AS rn, count(*) OVER () AS n
        FROM scored)
)
SELECT doc_id, n_words, round(w6 * 1.0 / {_DSIR_SCALE}, 6) AS log_weight,
       CAST(w6 >= (SELECT t FROM thr) AS BOOLEAN) AS selected
FROM scored
ORDER BY doc_id
""",
    doc=f"The 100 TB DSIR selection path, driver-adjudicated on its own: the selection threshold is ONE approx_percentile(w6, {1.0 - _DSIR_KEEP_PCT / 100.0}, 10000) scalar (map-side-combinable sketch) and `selected` is a plain filterable comparison — no global rank Window anywhere (the exact-rank mode stays registered as dsir_importance for the rank column). Oracle: in the sketch's exact regime (n_docs below the 10000 accuracy at every fixture SF) Spark's approx_percentile returns the w6 value at 1-based rank ceil(q*n) — replayed in DuckDB as an exact rank pick with identical IEEE ceil(q*n) arithmetic, exact-by-construction at adjudication scale.",
)
def dsir_importance_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_importance_plan(spark, sf_dir, exact_rank=False)


# --------------------------------------------------------------------------
# PQ codebook training as a driver-visible query (the production half of
# IVF-PQ; operators/similarity.py::pq_train is the numpy-returning API —
# this registers the same distributed-Lloyd shape with an unrolled oracle,
# closing the one operator that previously had no driver adjudication).
# --------------------------------------------------------------------------

_PQT_M = 4
_PQT_K = 16
_PQT_SUB = 16  # dim 64 / M


def _pqt_assign_sql(cent: str) -> str:
    return f"""
  SELECT sv.m, sv.vec_id, sv.s, c.c,
         row_number() OVER (PARTITION BY sv.m, sv.vec_id ORDER BY
           list_sum(list_transform(list_zip(sv.s, c.cs), x -> (x[1]-x[2])*(x[1]-x[2]))),
           c.c) AS rn
  FROM sv JOIN ({cent}) c ON sv.m = c.m"""


@register(
    "pq_train_codebook",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ms AS (SELECT unnest(generate_series(0, {_PQT_M - 1})) AS m),
sv AS (SELECT m, vec_id, v[m * {_PQT_SUB} + 1 : m * {_PQT_SUB} + {_PQT_SUB}] AS s
       FROM e CROSS JOIN ms),
c0 AS (SELECT m, vec_id AS c, s AS cs FROM sv WHERE vec_id < {_PQT_K}),
a1 AS ({_pqt_assign_sql('SELECT * FROM c0')}),
m1 AS (SELECT m, vec_id, s, c FROM a1 WHERE rn = 1),
c1 AS (
  SELECT m, c, list(mu ORDER BY i) AS cs FROM (
    SELECT m, c, i, round(avg(s[i]), 6) AS mu
    FROM m1, generate_series(1, {_PQT_SUB}) AS g(i)
    GROUP BY m, c, i
  ) GROUP BY m, c
),
a2 AS ({_pqt_assign_sql('SELECT * FROM c1')}),
m2 AS (SELECT m, vec_id, c FROM a2 WHERE rn = 1)
SELECT m2.m AS m, m2.c AS code, count(*) AS n_members,
       round(sqrt(list_dot_product(any_value(c1.cs), any_value(c1.cs))), 4) AS centroid_norm
FROM m2 JOIN c1 ON m2.m = c1.m AND m2.c = c1.c
GROUP BY m2.m, m2.c
ORDER BY m, code
""",
    doc=(
        f"Distributed PQ codebook training (Jégou et al. 2011), driver-"
        f"adjudicated: 2 Lloyd iterations per subspace ({_PQT_M} subspaces x "
        f"{_PQT_K} codes over {_PQT_SUB}-dim subvectors, deterministic seed "
        "codes). Shuffle carries per-(m, code, dim) mean partials — "
        "map-side combined, never raw vectors; centroid means round to 6 dp "
        "on both sides to pin FP summation order (same discipline as "
        "kmeans_refine). Output: per-code membership + centroid norm."
    ),
)
def pq_train_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _as_double, dot

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"), F.slice("v", m * _PQT_SUB + 1, _PQT_SUB).alias("s")
            )
            for m in range(_PQT_M)
        ]
    )
    sv = emb.select("vec_id", F.explode(subs).alias("e")).select(
        "vec_id", F.col("e.m").alias("m"), F.col("e.s").alias("s")
    ).localCheckpoint(eager=True)
    cents = sv.filter(F.col("vec_id") < _PQT_K).select(
        "m", F.col("vec_id").alias("c"), F.col("s").alias("cs")
    )

    def assign(centroids: DataFrame) -> DataFrame:
        d2 = F.aggregate(
            F.zip_with("s", "cs", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        w = Window.partitionBy("m", "vec_id").orderBy("d2", "c")
        return (
            sv.join(F.broadcast(centroids), "m")
            .withColumn("d2", d2)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )

    a1 = assign(cents)
    c1 = (
        a1.select("m", "c", F.posexplode("s").alias("i", "x"))
        .groupBy("m", "c", "i")
        .agg(F.round(F.avg("x"), 6).alias("mu"))
        .groupBy("m", "c")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mu"))), lambda s: s["mu"]
            ).alias("cs")
        )
        .localCheckpoint(eager=True)
    )
    a2 = assign(c1)
    norm = F.round(F.sqrt(dot(F.col("cs"), F.col("cs"))), 4)
    return (
        a2.groupBy("m", "c")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(c1, ["m", "c"])
        .select("m", F.col("c").alias("code"), "n_members", norm.alias("centroid_norm"))
        .orderBy("m", "code")
    )


@register(
    "duplicate_span_ranges",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (
  SELECT doc_id, i,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - {_SPAN_W - 1})) AS i)
  WHERE len(t) >= {_SPAN_W}
),
freq AS (SELECT g FROM pos GROUP BY g HAVING count(*) > 1),
dup AS (SELECT p.doc_id, p.i FROM pos p JOIN freq f ON p.g = f.g),
marked AS (
  SELECT doc_id, i,
         CASE WHEN i > coalesce(max(i + {_SPAN_W}) OVER (
                PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS brk
  FROM dup
),
islands AS (
  SELECT doc_id, i,
         CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS isl
  FROM marked
)
SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
       CAST(max(i) + {_SPAN_W} AS BIGINT) AS span_end,
       CAST(max(i) + {_SPAN_W} - min(i) AS BIGINT) AS span_tokens,
       count(*) AS n_windows
FROM islands
GROUP BY doc_id, isl
ORDER BY doc_id, span_start
""",
    doc=(
        f"Duplicate-substring EXCISION ranges (Lee et al. 2022): the merged "
        f"maximal token spans covered by corpus-duplicated {_SPAN_W}-token "
        "windows, per document — the actionable output for dedup-aware loss "
        "masking or text excision (duplicate_ngram_spans reports the "
        "counts; this emits the [start, end) ranges). Island detection via "
        "running-max window over duplicated positions: two windows merge "
        "when the later one starts at or before the earlier one's end. "
        "Integer-only arithmetic; the inverted-index join carries hashed "
        "shingle keys only."
    ),
)
def duplicate_span_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").repartition(
        python_stage_partitions(spark)
    )
    t = F.split(F.col("text"), " ")
    th = F.transform(t, lambda w: F.xxhash64(w))
    staged = docs.filter(F.size(t) >= _SPAN_W).select("doc_id", th.alias("th"))
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(F.col("th")) - (_SPAN_W - 1)),
        lambda i: F.xxhash64(*[F.element_at(F.col("th"), i + j) for j in range(_SPAN_W)]),
    )
    pos = (
        staged.select("doc_id", shingles.alias("s"))
        .localCheckpoint(eager=True)
        .select("doc_id", F.posexplode("s").alias("i0", "sh"))
        .select("doc_id", (F.col("i0") + 1).alias("i"), "sh")  # 1-based like the oracle
    )
    freq = pos.groupBy("sh").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
    dup = pos.join(freq.select("sh"), "sh").select("doc_id", "i")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.select(
        "doc_id",
        "i",
        F.when(
            F.col("i") > F.coalesce(F.max(F.col("i") + _SPAN_W).over(w_prev), F.lit(-1)),
            1,
        ).otherwise(0).alias("brk"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = marked.select("doc_id", "i", F.sum("brk").over(w_run).alias("isl"))
    return (
        islands.groupBy("doc_id", "isl")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") + _SPAN_W).alias("span_end"),
            (F.max("i") + _SPAN_W - F.min("i")).alias("span_tokens"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("isl")
        .orderBy("doc_id", "span_start")
    )


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random sign projection (Achlioptas 2003): reduce the
# 64-d embedding column to _RP_DIM dims with a DETERMINISTIC {-1,+1} matrix
# derived from a Lehmer mix of (input-dim, output-dim) — no RNG state to
# ship, both engines regenerate the identical matrix inline.
# --------------------------------------------------------------------------

_RP_DIM = 16
_RP_SCALE = 1_000_000  # per-element fixed-point; sums of ints are order-free


@register(
    "embedding_random_projection",
    oracle=f"""
SELECT vec_id, label,
       array_to_string(
         list_transform(generate_series(0, {_RP_DIM - 1}), j ->
           list_reduce(
             list_transform(generate_series(1, len(embedding)), i ->
               CASE WHEN ((i - 1) * 2654435761 + j * 40503) % 2147483647 % 2 = 0
                    THEN CAST(round(embedding[i]::DOUBLE * {_RP_SCALE}) AS BIGINT)
                    ELSE -CAST(round(embedding[i]::DOUBLE * {_RP_SCALE}) AS BIGINT) END),
             (acc, x) -> acc + x)),
         ',') AS proj6
FROM embeddings
ORDER BY vec_id
""",
    doc=f"JL sign projection 64d -> {_RP_DIM}d: the cheap pre-pass that makes downstream ANN/clustering O(d') instead of O(d). Map-only — zero shuffles, zero Python; the ±1 matrix regenerates per row from integer arithmetic (nothing broadcast, nothing collected), components are exact fixed-point sums so the output hashes identically across engines and partitionings. At 100 TB this is a pure scan-transform-write pass.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # joined to a CSV string, not an array: the cross-engine comparator
    # canonicalizes arrays via str(), and numpy's spacing differs from
    # Python's — a string column hashes identically by construction
    proj = F.expr(
        f"""array_join(transform(sequence(0, {_RP_DIM - 1}), j ->
              aggregate(sequence(0, size(embedding) - 1), 0L, (acc, i) ->
                acc + CASE WHEN (i * 2654435761 + j * 40503) % 2147483647 % 2 = 0
                           THEN CAST(round(CAST(embedding[i] AS DOUBLE) * {_RP_SCALE}) AS BIGINT)
                           ELSE -CAST(round(CAST(embedding[i] AS DOUBLE) * {_RP_SCALE}) AS BIGINT) END)), ',')"""
    )
    return emb.select("vec_id", "label", proj.alias("proj6")).orderBy("vec_id")
