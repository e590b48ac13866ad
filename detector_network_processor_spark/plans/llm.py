"""LLM-data-pipeline operators over the documents/embeddings fixtures
(SURVEY.md §2.11): dedup, text analysis, fingerprinting, similarity search.

Design-for-100TB notes:
- exact dedup / fingerprint dedup: single hash shuffle on the dedup key;
  map-side partial agg keeps the shuffle narrow.
- n-gram Jaccard near-dup: shingle inverted index (explode → groupBy shingle
  → pair join) — the standard scalable near-dup plan; candidate pairs are
  generated only for docs sharing ≥1 shingle, never all-pairs.
- cosine top-k: brute force is a broadcast of the (small) query set against
  the full corpus — embarrassingly parallel, no shuffle on the corpus side;
  LSH/IVF-pruned variants come from operators/similarity.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..io import load_table
from . import register
from ..config import python_stage_partitions

_STOPWORDS = ("the", "a", "of", "and")

# --------------------------------------------------------------------------
# Exact dedup + fingerprinting
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
SELECT min(doc_id) AS canonical_doc_id, count(*) AS n_dups,
       min(n_chars) AS n_chars
FROM documents
GROUP BY text
ORDER BY canonical_doc_id
""",
    doc="Exact dedup: hash-groupBy on the full text; canonical = min doc_id. One shuffle, map-side combine.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("text")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
            F.min("n_chars").alias("n_chars"),
        )
        .select("canonical_doc_id", "n_dups", "n_chars")
        .orderBy("canonical_doc_id")
    )


@register(
    "fingerprint_dedup",
    oracle="""
SELECT md5(text) AS fingerprint, min(doc_id) AS canonical_doc_id, count(*) AS n_dups
FROM documents
GROUP BY md5(text)
ORDER BY canonical_doc_id
""",
    doc="Document fingerprinting + dedup by fingerprint. At 100 TB you dedup on the 16-byte digest, not the full text — the shuffle carries hashes, not documents.",
)
def fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("fingerprint"))
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_dups"))
        .orderBy("canonical_doc_id")
    )


# --------------------------------------------------------------------------
# Text analysis: token stats, quality scoring, per-language totals
# --------------------------------------------------------------------------


@register(
    "text_quality",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS tokens FROM documents
)
SELECT doc_id, lang, n_chars,
       len(tokens) AS n_tokens,
       len(list_distinct(tokens)) AS n_uniq_tokens,
       round(list_sum(list_transform(tokens, t -> len(t))) * 1.0 / len(tokens), 6) AS avg_token_len,
       round(len(list_filter(tokens, t -> t IN {_STOPWORDS})) * 1.0 / len(tokens), 6) AS stopword_ratio,
       round(len(list_distinct(tokens)) * 1.0 / len(tokens), 6) AS ttr
FROM toks
ORDER BY doc_id
""",
    doc="Per-document quality scoring: token count, type-token ratio, stopword ratio, mean token length — all JVM-side array expressions, no Python UDF.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    sum_len = F.aggregate(F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        n_tokens.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        F.round(sum_len * 1.0 / n_tokens, 6).alias("avg_token_len"),
        F.round(n_stop * 1.0 / n_tokens, 6).alias("stopword_ratio"),
        F.round(n_uniq * 1.0 / n_tokens, 6).alias("ttr"),
    ).orderBy("doc_id")


@register(
    "token_totals_by_lang",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(n_chars), 6) AS mean_chars
FROM documents
GROUP BY lang
ORDER BY lang
""",
    doc="Corpus token accounting per language — the map-side-combined agg a token-budget pipeline runs at 100 TB.",
)
def token_totals_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 6).alias("mean_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Near-duplicate detection: n-gram Jaccard via shingle inverted index
# --------------------------------------------------------------------------

_SHINGLE_W = 3  # words per shingle
_JACCARD_NUM = 1  # threshold num/den: jaccard > 1/3
_JACCARD_DEN = 3


# Shared by near_dup_jaccard (exact) and near_dup_jaccard_capped (stop-shingle
# scale path): the capped path re-scores candidates EXACTLY, so both register
# against the identical DuckDB oracle.
_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
shingles AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - {_SHINGLE_W - 1}),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
  FROM toks WHERE len(t) >= {_SHINGLE_W}
),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM shingles),
posting AS (SELECT doc_id, unnest(sh) AS shingle FROM shingles),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_common,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common * {_JACCARD_DEN} > (sa.n_sh + sb.n_sh - n_common) * {_JACCARD_NUM}
ORDER BY doc_a, doc_b
"""

# Stop-shingle document-frequency cap for the registered capped variant,
# RELATIVE to corpus size: "a shingle present in more than 0.3% of documents
# carries no discriminative signal". An absolute cap cannot transfer across
# scales — the fixtures duplicate template text proportionally to corpus
# size (measured required caps: 4 at 500 docs, 10 at 5000 docs), and so do
# real crawls. Pruning only affects CANDIDATE GENERATION (exact rescoring
# follows), and a true near-dup pair is missed only if EVERY shared shingle
# is corpus-hot; tests/test_dedup.py asserts capped==exact at this cap on
# the sf0.001/sf0.01 fixtures and the sf0.1 sweep covers the rest.
_JACCARD_CAP_FRAC = 0.003
_JACCARD_CAP_MIN = 4


def _jaccard_cap(n_docs: int) -> int:
    import math

    return max(_JACCARD_CAP_MIN, math.ceil(_JACCARD_CAP_FRAC * n_docs))


# Oracle for the CAPPED variant: same exact rescoring, but candidate pairs
# must share >=1 NON-HOT shingle (df <= max(CAP_MIN, ceil(CAP_FRAC*n_docs))),
# replicating the Spark plan's stop-shingle candidate generation. Registering
# the capped path against this oracle (instead of the exact one) makes the
# driver contract describe what the plan computes BY CONSTRUCTION — a true
# pair all of whose shared shingles are corpus-hot is excluded on both sides
# — while capped==exact on the fixtures stays asserted in tests/test_dedup.py.
_JACCARD_CAPPED_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
shingles AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - {_SHINGLE_W - 1}),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
  FROM toks WHERE len(t) >= {_SHINGLE_W}
),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM shingles),
posting AS (SELECT doc_id, unnest(sh) AS shingle FROM shingles),
hot AS (
  SELECT shingle FROM posting GROUP BY shingle
  HAVING count(*) > greatest({_JACCARD_CAP_MIN}, CAST(ceil({_JACCARD_CAP_FRAC} * (SELECT count(*) FROM documents)) AS BIGINT))
),
kept AS (
  SELECT doc_id, shingle FROM posting
  WHERE shingle NOT IN (SELECT shingle FROM hot)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_common,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common * {_JACCARD_DEN} > (sa.n_sh + sb.n_sh - n_common) * {_JACCARD_NUM}
ORDER BY doc_a, doc_b
"""

@register(
    "near_dup_jaccard",
    oracle=_JACCARD_ORACLE,
    doc="Near-dup via word-shingle inverted index + integer-exact Jaccard threshold. Scales: pairs generated per-shingle (hash shuffle on shingle), never all-pairs; candidate volume is sum_s C(df_s, 2). Measured at 100x corpus growth (SCALING.md): 12.8x wall. The sum blows up in exactly two regimes, each with its shipped scale path: TEMPLATE-hot shingles (web boilerplate, df ~ n_docs) -> near_dup_jaccard_capped prunes them from candidate generation and rescores exactly; K-fold CLONE duplication -> pair OUTPUT is itself ~K^2 per clone set, so no pair listing scales and the answer is cluster-then-survivor via dedup_components_lsh star edges.",
)
def near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return near_dup_jaccard_plan(spark, sf_dir, max_df=None)


@register(
    "near_dup_jaccard_capped",
    oracle=_JACCARD_CAPPED_ORACLE,
    doc=f"The template-regime near-dup scale path, driver-adjudicated on its own: stop-shingle candidate counting (shingles with df > max({_JACCARD_CAP_MIN}, {_JACCARD_CAP_FRAC} * n_docs) excluded from the inverted-index self-join ONLY), an n_common UPPER-BOUND prefilter (kept_common + min(hot_a, hot_b) — drops every pair that cannot reach the threshold before any array is shipped), then exact array_intersect rescoring of the survivors. Registered against an oracle that applies the SAME df cap to candidate generation (so the driver contract is exact-by-construction even on corpora where a true pair's shared shingles are all hot); capped==exact on the fixtures is separately asserted in tests/test_dedup.py. The capped sum_{{df<=cap}} C(df, 2) removes the C(n_docs, 2)-per-template-shingle term that makes the exact path non-viable on boilerplate-heavy corpora (measured head-to-head in SCALING.md's boilerplate table); on template-free corpora its overhead over exact is ~15% at 100x. The n_docs count is a one-row scalar job, the standard pattern for corpus-relative thresholds here (cf. dsir/ccnet scale paths).",
)
def near_dup_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_docs = load_table(spark, sf_dir, "documents").count()
    return near_dup_jaccard_plan(spark, sf_dir, max_df=_jaccard_cap(n_docs))


def near_dup_jaccard_plan(
    spark: SparkSession, sf_dir: str, max_df: int | None = None
) -> DataFrame:
    """``max_df=None`` is the registered exact path (oracle-adjudicated).

    ``max_df=N`` is the stop-shingle scale path: shingles occurring in more
    than N documents are dropped from CANDIDATE GENERATION only (they carry
    ~zero discriminative information but dominate sum_s C(df_s, 2) cost),
    and surviving candidate pairs are re-scored EXACTLY from the two full
    shingle arrays (array_intersect), so reported n_common/jaccard are
    identical to the exact path. The only semantic difference: a pair ALL
    of whose shared shingles exceed the cap is missed — for an actual
    near-dup pair (which shares most of both documents' shingles, rare
    ones included) this requires every shared shingle to be corpus-hot;
    tests/test_dedup.py asserts capped==exact on the fixtures at caps far
    below the observed df tail."""
    # Small parquet inputs arrive as one split; fan out before the
    # CPU-heavy shingling so it parallelizes (at real scale the scan itself
    # provides the splits and this repartition coalesces into the same shape).
    docs = load_table(spark, sf_dir, "documents").repartition(
        python_stage_partitions(spark)
    )
    t = F.split(F.col("text"), " ")
    # Two-stage hash shingling, all JVM-side: hash every token ONCE, then a
    # shingle id is xxhash64 over the W consecutive token hashes. Building
    # shingle *strings* (concat_ws per window position) costs ~4x more in
    # the interpreted higher-order-function path and re-copies every word
    # W times; combining fixed-width longs avoids both. Shuffle keys are
    # 8-byte longs either way (collision odds ~2^-64 — negligible, and
    # equivalent to the string-key plan in distribution).
    token_hashes = F.transform(t, lambda w: F.xxhash64(w))
    staged = docs.filter(F.size(t) >= _SHINGLE_W).select(
        "doc_id", token_hashes.alias("th")
    )
    shingle = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("th")) - (_SHINGLE_W - 1)),
            lambda i: F.xxhash64(
                F.element_at(F.col("th"), i),
                F.element_at(F.col("th"), i + 1),
                F.element_at(F.col("th"), i + 2),
            ),
        )
    )
    # The shingle computation feeds three consumers (posting + both size
    # sides of the self-join); checkpoint it once instead of recomputing
    # the lineage per consumer. Eager: a lazy checkpoint is racily
    # materialized by the two concurrent broadcast-collection jobs below,
    # which each recompute the full lineage (measured 2x wall cost). At
    # cluster scale this is a persist()-class materialization of an
    # O(corpus tokens) intermediate — bounded and local to executors.
    shingles = staged.select("doc_id", shingle.alias("sh")).localCheckpoint(eager=True)
    sizes = shingles.select("doc_id", F.size("sh").alias("n_sh"))
    posting = shingles.select("doc_id", F.explode("sh").alias("shash"))
    if max_df is None:
        pa = posting.select(F.col("doc_id").alias("doc_a"), "shash")
        pb = posting.select(F.col("doc_id").alias("doc_b"), "shash")
        common = (
            pa.join(pb, "shash")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
        union_size = F.col("n_a") + F.col("n_b") - F.col("n_common")
        # sizes is O(n_docs) rows of two ints — small at any tested SF, but
        # an EXPLICIT broadcast hint would hard-fail past Spark's 8 GB
        # broadcast limit (~300 M docs); no hint means AQE broadcasts it
        # while it is small and falls back to a shuffle join beyond that.
        return (
            common.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(F.col("n_common") * _JACCARD_DEN > union_size * _JACCARD_NUM)
            .select(
                "doc_a",
                "doc_b",
                "n_common",
                "n_a",
                "n_b",
                F.round(F.col("n_common") * 1.0 / union_size, 6).alias("jaccard"),
            )
            .orderBy("doc_a", "doc_b")
        )
    # Stop-shingle scale path, three stages, every one sized by data that
    # can actually produce output:
    #
    # 1. CANDIDATE COUNTING on kept (non-hot) shingles only — the same
    #    per-shingle pair aggregation as the exact path, so cost is
    #    sum_{df<=cap} C(df, 2) (the term the cap bounds), producing
    #    (doc_a, doc_b, kept_common) WITHOUT materializing arrays.
    # 2. UPPER-BOUND PREFILTER: true n_common <= kept_common +
    #    min(n_hot_a, n_hot_b) (a shared shingle is either kept-shared or
    #    hot in both docs). Pairs whose BOUND cannot reach the threshold
    #    are dropped here — this eliminates the mass of pairs sharing one
    #    incidental shingle, which an earlier revision array-rescored at
    #    ~10x the uncapped wall (measured at 100x: 304 s -> see below).
    # 3. EXACT ARRAY RESCORE of the survivors only (arrays semi-filtered
    #    to surviving docs): reported n_common/jaccard are identical to
    #    the exact path for every emitted pair.
    hot = (
        posting.groupBy("shash")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("shash")
    )
    # hot-set broadcast is SAFE to force: |hot| <= total_postings / cap
    # = (n_docs * shingles_per_doc) / (CAP_FRAC * n_docs), i.e. bounded by
    # shingles_per_doc / CAP_FRAC rows INDEPENDENT of corpus size — unlike
    # the O(n_docs) per-doc tables below, which carry no hint.
    kept = posting.join(F.broadcast(hot), "shash", "left_anti").localCheckpoint(eager=True)
    ka = kept.select(F.col("doc_id").alias("doc_a"), "shash")
    kb = kept.select(F.col("doc_id").alias("doc_b"), "shash")
    kc = (
        ka.join(kb, "shash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("kept_common"))
    )
    # per-doc totals and hot-shingle counts (n_hot = n_sh - n_kept);
    # O(docs) rows of ints. No broadcast hint: AQE broadcasts it while it
    # fits and picks a shuffle join past the 8 GB broadcast limit — a
    # forced F.broadcast would ERROR there, not degrade.
    n_kept = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_kept"))
    meta = (
        sizes.join(n_kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            (F.col("n_sh") - F.coalesce("n_kept", F.lit(0))).alias("n_hot"),
        )
    )
    ma = meta.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("n_a"),
        F.col("n_hot").alias("hot_a"),
    )
    mb = meta.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("n_b"),
        F.col("n_hot").alias("hot_b"),
    )
    ub = F.col("kept_common") + F.least("hot_a", "hot_b")
    ub_union = F.col("n_a") + F.col("n_b") - ub
    cand = (
        kc.join(ma, "doc_a")
        .join(mb, "doc_b")
        .filter(ub * _JACCARD_DEN > ub_union * _JACCARD_NUM)
        .select("doc_a", "doc_b")
        # feeds the surviving-doc semi-filter AND the rescore join
        .localCheckpoint(eager=True)
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = shingles.join(cand_docs, "doc_id", "left_semi")
    sh_a = sh_cand.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sh_cand.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    scored = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
    )
    union_size = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return (
        scored.filter(F.col("n_common") * _JACCARD_DEN > union_size * _JACCARD_NUM)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(F.col("n_common") * 1.0 / union_size, 6).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# BPE-ish tokenization: GPT-2-style pre-tokenizer regex classes (word
# pieces / digit runs / punctuation runs), counted JVM-side. An actual BPE
# vocab merge is a lookup table away; the regex split is the expensive
# distributed part.
_BPE_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"


@register(
    "bpe_token_counts",
    oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_BPE_REGEX}')) AS n_bpe_tokens,
       len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs,
       len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]+')) AS n_punct_runs,
       CAST(ceil(len(regexp_extract_all(text, '{_BPE_REGEX}')) * 1.3) AS BIGINT) AS est_bpe_upper
FROM documents ORDER BY doc_id
""",
    doc="BPE-ish token counting (SURVEY §2.11 text analysis): pre-tokenizer regex classes counted JVM-side; the 1.3x factor is the standard subword-inflation upper-bound estimate.",
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_REGEX), F.lit(0)))
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), F.lit(0))).alias("n_digit_runs"),
        F.size(F.regexp_extract_all("text", F.lit("[^a-zA-Z0-9\\s]+"), F.lit(0))).alias("n_punct_runs"),
        F.ceil(n_bpe * 1.3).cast("bigint").alias("est_bpe_upper"),
    ).orderBy("doc_id")


_RH_BASE = 257
_RH_MOD = 1_000_000_007


@register(
    "rolling_hash_fingerprint",
    oracle=f"""
WITH codes AS (
  SELECT doc_id, list_transform(string_split_regex(text, ''), c -> ord(c)) AS cs
  FROM documents
)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(cs, x -> CAST(x AS BIGINT))),
                   (acc, c) -> (acc * {_RH_BASE} + c) % {_RH_MOD}) AS fingerprint,
       len(cs) AS n_chars
FROM codes ORDER BY doc_id
""",
    doc="Document fingerprinting via Karp-Rabin rolling hash over codepoints (SURVEY §2.11) — pure modular column arithmetic, identical in both engines (no engine-native hash).",
)
def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cs = F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c).cast("long"))
    fp = F.aggregate(cs, F.lit(0).cast("long"), lambda acc, c: (acc * _RH_BASE + c) % _RH_MOD)
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.size(cs).alias("n_chars")
    ).orderBy("doc_id")


# KR token hash as DuckDB SQL over a token column `w` (greatest() guard:
# ord('') is -1 in DuckDB but ascii('') is 0 in Spark) — shared by the
# winnowing oracle below and the MinHash/SimHash oracles further down.
def _kr_sql(base: int, p: int, var: str = "w") -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split_regex({var}, ''), c -> CAST(greatest(ord(c), 0) AS BIGINT))), "
        f"(acc, c) -> (acc * {base} + c) % {p})"
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split + tokenizer fertility — the two
# bookkeeping operators every training-data pipeline runs on every corpus
# version.
# --------------------------------------------------------------------------

_SPLIT_P = 2_147_483_647
_SPLIT_TRAIN_PCT, _SPLIT_VAL_PCT = 98, 1  # test = remainder


@register(
    "train_val_split",
    oracle=f"""
WITH h AS (
  SELECT doc_id, source,
         {{kr}} % 100 AS bucket
  FROM documents
)
SELECT doc_id, source, CAST(bucket AS BIGINT) AS bucket,
       CASE WHEN bucket < {_SPLIT_TRAIN_PCT} THEN 'train'
            WHEN bucket < {_SPLIT_TRAIN_PCT + _SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM h
ORDER BY doc_id
""".format(kr="list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split_regex(CAST(doc_id AS VARCHAR), ''), c -> CAST(greatest(ord(c), 0) AS BIGINT))), (acc, c) -> (acc * 257 + c) % " + str(_SPLIT_P) + ")"),
    doc=f"Deterministic {_SPLIT_TRAIN_PCT}/{_SPLIT_VAL_PCT}/{100 - _SPLIT_TRAIN_PCT - _SPLIT_VAL_PCT} train/val/test assignment by content-independent Karp-Rabin hash of the document id — stable across corpus versions (a doc never flips split when other docs are added/removed), cross-engine exact, map-only: the split of 100 TB costs one scan and zero shuffles (the presentation sort is fixture-only).",
)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import kr_token_hash

    docs = load_table(spark, sf_dir, "documents")
    bucket = (kr_token_hash(F.col("doc_id").cast("string")) % 100).cast("long")
    return (
        docs.select("doc_id", "source", bucket.alias("bucket"))
        .withColumn(
            "split",
            F.when(F.col("bucket") < _SPLIT_TRAIN_PCT, "train")
            .when(F.col("bucket") < _SPLIT_TRAIN_PCT + _SPLIT_VAL_PCT, "val")
            .otherwise("test"),
        )
        .orderBy("doc_id")
    )


@register(
    "tokenizer_fertility",
    oracle=f"""
WITH per_doc AS (
  SELECT lang,
         CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(text, '{_BPE_REGEX}')) AS BIGINT) AS n_tok,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(floor(sum(n_tok) * 1000000.0 / sum(n_words)) AS BIGINT) AS fertility6,
       CAST(floor(sum(n_chars) * 1000000.0 / sum(n_tok)) AS BIGINT) AS chars_per_token6
FROM per_doc
GROUP BY lang
ORDER BY lang
""",
    doc="Tokenizer fertility per language: subword tokens per word and chars per token (integer-scaled floor at 1e6) — THE multilingual tokenizer-efficiency diagnostic (a language with fertility 2x pays 2x the sequence length for the same text). Counts are exact integers summed associatively; one tiny per-lang agg after a map-only scan.",
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("long").alias("n_chars"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_REGEX), F.lit(0))).cast("long").alias("n_tok"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_words"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.floor(F.sum("n_tok") * 1_000_000.0 / F.sum("n_words")).cast("long").alias("fertility6"),
            F.floor(F.sum("n_chars") * 1_000_000.0 / F.sum("n_tok")).cast("long").alias("chars_per_token6"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
# algorithm): guaranteed-coverage document fingerprints for substring-level
# duplicate detection. Any shared run of >= _WNW_W + _WNW_K - 1 tokens
# between two documents is guaranteed to share at least one selected
# fingerprint — the property plain rolling-hash sampling lacks.
# --------------------------------------------------------------------------

_WNW_K = 3  # words per k-gram
_WNW_W = 4  # k-gram hashes per winnowing window
_WNW_P = 2_147_483_647
_WNW_B = 131
_WNW_B2 = _WNW_B * _WNW_B


def _winnowing_ctes() -> str:
    """DuckDB CTE chain ending in ``fps(doc_id, pos, fp)`` — the DISTINCT
    winnowing fingerprints — shared by the ``winnowing_fingerprints`` oracle
    and the composed ``substring_dedup_spans`` oracle."""
    return f"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
wh AS (
  SELECT doc_id, list_transform(t, w -> {_kr_sql(257, _WNW_P)}) AS h
  FROM toks WHERE len(t) >= {_WNW_K + _WNW_W - 1}
),
kh AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(h) - {_WNW_K - 1}),
           i -> ((h[i] * {_WNW_B2}) % {_WNW_P} + (h[i + 1] * {_WNW_B}) % {_WNW_P} + h[i + 2]) % {_WNW_P}) AS kh
  FROM wh
),
wins AS (
  SELECT doc_id, unnest(generate_series(1, len(kh) - {_WNW_W - 1})) AS j, kh FROM kh
),
sel AS (
  SELECT doc_id,
         CAST(j + {_WNW_W} - list_position(list_reverse(kh[j:j + {_WNW_W - 1}]),
                                           list_min(kh[j:j + {_WNW_W - 1}])) AS BIGINT) AS pos,
         CAST(list_min(kh[j:j + {_WNW_W - 1}]) AS BIGINT) AS fp
  FROM wins
),
fps AS (SELECT DISTINCT doc_id, pos, fp FROM sel)"""


@register(
    "winnowing_fingerprints",
    oracle=f"""
WITH {_winnowing_ctes()}
SELECT doc_id, pos, fp FROM fps
ORDER BY doc_id, pos, fp
""",
    doc=f"Winnowing document fingerprints (MOSS, Schleimer et al. 2003): word {_WNW_K}-gram Karp-Rabin hashes, rightmost-minimum selection over every window of {_WNW_W} consecutive hashes — guarantees any shared token run of length >= {_WNW_W + _WNW_K - 1} between documents shares a fingerprint (coverage bound plain hash sampling lacks). Map-only pure JVM array kernel per document (no shuffle at all until the final DISTINCT on the fingerprint dimension); the portable hash family makes the oracle recompute the identical selection in SQL. At 100 TB this is the fingerprint-extraction stage of substring-level dedup: output is O(tokens / {_WNW_W}) rows, joinable on fp for cross-doc matches.",
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _winnowing_fps(spark, sf_dir).orderBy("doc_id", "pos", "fp")


def _winnowing_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered DISTINCT winnowing fingerprints ``(doc_id, pos, fp)`` —
    the shared extraction stage of ``winnowing_fingerprints`` and
    ``substring_dedup_spans``. Map-only JVM array kernel per document; the
    only shuffle is the final DISTINCT on the fingerprint dimension."""
    from ..operators.dedup import kr_token_hash

    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    # single-arg lambda: F.transform would otherwise pass the element INDEX
    # into kr_token_hash's second (base) parameter
    base = docs.select(
        "doc_id", F.transform(t, lambda w: kr_token_hash(w)).alias("wh")
    ).filter(
        F.size("wh") >= _WNW_K + _WNW_W - 1
    )
    kh = F.expr(
        f"transform(sequence(1, size(wh) - {_WNW_K - 1}), i -> "
        f"((element_at(wh, i) * {_WNW_B2}) % {_WNW_P} "
        f"+ (element_at(wh, i + 1) * {_WNW_B}) % {_WNW_P} "
        f"+ element_at(wh, i + 2)) % {_WNW_P})"
    )
    fps = F.expr(
        f"transform(sequence(1, size(kh) - {_WNW_W - 1}), j -> named_struct("
        f"'pos', CAST(j + {_WNW_W} - array_position(reverse(slice(kh, j, {_WNW_W})), "
        f"array_min(slice(kh, j, {_WNW_W}))) AS BIGINT), "
        f"'fp', CAST(array_min(slice(kh, j, {_WNW_W})) AS BIGINT)))"
    )
    return (
        base.withColumn("kh", kh)
        .select("doc_id", F.explode(fps).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
        .distinct()
    )


def _span_ctes() -> str:
    """DuckDB CTE chain (appended after ``_winnowing_ctes``) ending in
    ``spans(doc_id, span_start, span_end, span_tokens, n_fps)`` — the merged
    cross-document duplicate excision ranges — shared by the
    ``substring_dedup_spans`` oracle and the composed
    ``substring_dedup_rewrite`` oracle."""
    return f"""shared AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) > 1
),
hits AS (
  SELECT DISTINCT f.doc_id, f.pos FROM fps f JOIN shared s ON f.fp = s.fp
),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + {_WNW_K}) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS brk
  FROM hits
),
islands AS (
  SELECT doc_id, pos,
         CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS isl
  FROM marked
),
spans AS (
  SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(pos) + {_WNW_K} AS BIGINT) AS span_end,
         CAST(max(pos) + {_WNW_K} - min(pos) AS BIGINT) AS span_tokens,
         count(*) AS n_fps
  FROM islands
  GROUP BY doc_id, isl
)"""


@register(
    "substring_dedup_spans",
    oracle=f"""
WITH {_winnowing_ctes()},
{_span_ctes()}
SELECT doc_id, span_start, span_end, span_tokens, n_fps
FROM spans
ORDER BY doc_id, span_start
""",
    doc=(
        f"THE training-data substring-dedup pipeline, end to end: winnowing "
        f"fingerprint extraction (MOSS; guaranteed coverage of any shared "
        f"run >= {_WNW_W + _WNW_K - 1} tokens) -> cross-document fingerprint "
        f"match (a fingerprint seen in >1 distinct document marks duplicated "
        f"text) -> merged [start, end) token excision ranges per document "
        f"(island detection over marked positions, same running-max merge as "
        f"duplicate_span_ranges). Spans are the actionable output for "
        f"excision or loss masking of cross-document boilerplate/duplicated "
        f"passages (Lee et al. 2022 semantics at fingerprint resolution). "
        f"Scale shape: everything joins on the fingerprint dimension "
        f"(O(tokens/{_WNW_W}) rows) — per-fp distinct-doc count, one "
        f"semi-join back, per-doc windows — never doc-pair all-pairs; "
        f"reference parity: this composes the reference's histogram-style "
        f"multi-stage offline analysis pattern (src/analysis) applied to "
        f"corpus curation."
    ),
)
def substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _substring_spans(spark, sf_dir).orderBy("doc_id", "span_start")


def _substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered merged excision ranges ``(doc_id, span_start, span_end,
    span_tokens, n_fps)`` — the shared span stage of
    ``substring_dedup_spans`` and ``substring_dedup_rewrite``."""
    fps = _winnowing_fps(spark, sf_dir).localCheckpoint(eager=True)
    shared = (
        fps.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("fp")
    )
    hits = fps.join(shared, "fp", "left_semi").select("doc_id", "pos").distinct()
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = hits.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos")
            > F.coalesce(F.max(F.col("pos") + _WNW_K).over(w_prev), F.lit(-1)),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = marked.select("doc_id", "pos", F.sum("brk").over(w_run).alias("isl"))
    return (
        islands.groupBy("doc_id", "isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + _WNW_K).alias("span_end"),
            (F.max("pos") + _WNW_K - F.min("pos")).alias("span_tokens"),
            F.count(F.lit(1)).alias("n_fps"),
        )
        .drop("isl")
    )


@register(
    "substring_dedup_rewrite",
    oracle=f"""
WITH {_winnowing_ctes()},
{_span_ctes()},
tok_rows AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS i
  FROM documents
),
kept AS (
  SELECT tr.doc_id, tr.tok, tr.i
  FROM tok_rows tr
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tr.doc_id AND tr.i >= s.span_start AND tr.i < s.span_end)
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       CAST(coalesce((SELECT count(*) FROM kept k WHERE k.doc_id = d.doc_id), 0) AS BIGINT) AS n_kept,
       coalesce((SELECT string_agg(k.tok, ' ' ORDER BY k.i)
                 FROM kept k WHERE k.doc_id = d.doc_id), '') AS dedup_text
FROM documents d
ORDER BY doc_id
""",
    doc=(
        "The APPLY stage of substring-level dedup (Lee et al. 2022): excise "
        "the merged cross-document duplicate ranges from substring_dedup_spans "
        "and reassemble each document from its surviving tokens — the "
        "rewritten corpus a training pipeline actually feeds downstream, "
        "plus per-doc before/after token accounting. Scale shape: the span "
        "ranges collect per document (bounded by that document's own span "
        "count), join the corpus on doc_id (one hash shuffle, span side is "
        "output-sized), and the token filter is a pure JVM higher-order "
        "array expression inside the map stage — no explode of the corpus "
        "into token rows, no Python. Documents with no duplicated spans "
        "pass through untouched via the left join's null arm."
    ),
)
def substring_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = _substring_spans(spark, sf_dir).select(
        "doc_id", "span_start", "span_end"
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    # 1-based token index (i is 0-based in the lambda); a token is kept when
    # no excision span covers it
    kept = F.when(F.col("spans").isNull(), toks).otherwise(
        F.filter(
            toks,
            lambda x, i: ~F.exists(
                F.col("spans"),
                lambda s: (i + 1 >= s["span_start"]) & (i + 1 < s["span_end"]),
            ),
        )
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(kept).cast("long").alias("n_kept"),
            F.array_join(kept, " ").alias("dedup_text"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Language-ID heuristic (marker-token voting; deterministic tie-break)
# --------------------------------------------------------------------------

_LANG_MARKERS = {
    "de": ("merge", "sort"),
    "en": ("the", "a"),
    "es": ("data", "join"),
    "fr": ("filter", "group"),
    "zh": ("vector", "hash"),
}


@register(
    "langid_heuristic",
    oracle=f"""
WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
scores AS (
  SELECT doc_id, lang,
         {", ".join(f"len(list_filter(t, x -> x IN {m})) AS s_{l}" for l, m in _LANG_MARKERS.items())}
  FROM toks
)
SELECT doc_id, lang,
       CASE {" ".join(f"WHEN s_{l} = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN '{l}'" for l in _LANG_MARKERS)} END AS predicted_lang,
       greatest(s_de, s_en, s_es, s_fr, s_zh) AS score
FROM scores
ORDER BY doc_id
""",
    doc="n-gram/marker-token language-ID heuristic: per-language marker counts, argmax with fixed priority tie-break — pure column expressions, no UDF.",
)
def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    scores = {l: F.size(F.filter(t, lambda x: x.isin(*m))) for l, m in _LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    expr = None
    for l in _LANG_MARKERS:
        cond = scores[l] == best
        expr = F.when(cond, F.lit(l)) if expr is None else expr.when(cond, F.lit(l))
    return docs.select(
        "doc_id",
        "lang",
        expr.alias("predicted_lang"),
        best.alias("score"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# MinHash-LSH and SimHash near-dup. The driver-visible queries run the
# PORTABLE (Karp-Rabin) hash family so the DuckDB oracle can recompute the
# identical signatures end-to-end; the xxhash64 production family shares
# every line of LSH/banding/pair logic and is pinned by the recall tests in
# tests/test_dedup.py.
# --------------------------------------------------------------------------

def _minhash_pairs_ctes() -> str:
    """CTE chain computing the portable MinHash-LSH candidate pairs in SQL,
    ending in ``scored(doc_a, doc_b, est_jaccard)`` — shared by the
    minhash_near_dup oracle and the dedup_components oracle."""
    from ..operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_K,
        PORTABLE_BAND_BASE,
        PORTABLE_P,
        PORTABLE_SHINGLE_BASE,
        PORTABLE_TOKEN_BASE,
        _SHINGLE_W,
        _permutation_params,
    )

    P = PORTABLE_P
    B, B2 = PORTABLE_SHINGLE_BASE, PORTABLE_SHINGLE_BASE**2
    params = _permutation_params()
    sig_cols = ", ".join(
        f"CAST(list_min(list_transform(s, x -> (x * {a} + {b}) % {P})) AS BIGINT) AS s{k}"
        for k, (a, b) in enumerate(params)
    )

    def bhash(j: int) -> str:
        expr = "CAST(0 AS BIGINT)"
        for r in range(LSH_ROWS):
            expr = f"(({expr}) * {PORTABLE_BAND_BASE} + s{j * LSH_ROWS + r}) % {P}"
        return expr

    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, sig, {j} AS band, {bhash(j)} AS bhash FROM sigs"
        for j in range(LSH_BANDS)
    )
    return f"""toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
th AS (
  SELECT doc_id, list_transform(t, w -> {_kr_sql(PORTABLE_TOKEN_BASE, P)}) AS h
  FROM toks WHERE len(t) >= {_SHINGLE_W}
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(h) - {_SHINGLE_W - 1}),
           i -> ((h[i] * {B2}) % {P} + (h[i + 1] * {B}) % {P} + h[i + 2]) % {P})) AS s
  FROM th
),
sigc AS (SELECT doc_id, {sig_cols} FROM sh),
sigs AS (SELECT doc_id, [{", ".join(f"s{k}" for k in range(MINHASH_K))}] AS sig, * FROM sigc),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
),
scored AS (
  SELECT doc_a, doc_b,
         round(len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2])) / {MINHASH_K}.0, 6)
           AS est_jaccard
  FROM cand
)"""


def _minhash_oracle() -> str:
    return f"""
WITH {_minhash_pairs_ctes()}
SELECT doc_a, doc_b, est_jaccard FROM scored
WHERE est_jaccard >= 0.34
ORDER BY doc_a, doc_b
"""


@register(
    "minhash_near_dup",
    oracle=_minhash_oracle(),
    doc="MinHash(K=64) + LSH banding (16x4) near-dup candidates with signature-agreement jaccard estimate (SURVEY §2.11). Portable Karp-Rabin hash family so the oracle recomputes the full signature->band->pair pipeline in SQL; the xxhash64 fast path shares all LSH logic (operators/dedup.py) and is recall-tested in tests/test_dedup.py.",
)
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs, minhash_signatures

    docs = load_table(spark, sf_dir, "documents").repartition(
        python_stage_partitions(spark)
    )
    sigs = minhash_signatures(docs, portable=True)
    return minhash_lsh_pairs(sigs, portable=True, min_est=0.34).orderBy("doc_a", "doc_b")


@register(
    "neardup_incremental_replay",
    oracle=_minhash_oracle(),
    doc="Crawl-ingest near-dup posture (streaming/dedup.py::process_neardup_increment), driver-adjudicated in batch: the corpus is replayed as 4 ingest increments against a persistent LSH band index; each increment's work is O(batch + colliding buckets), never O(corpus). The union of intra-batch and new-vs-history pairs must equal the one-shot MinHash-LSH pair set — same oracle SQL as minhash_near_dup. Pair orientation is normalized (least/greatest) because new-vs-history pairs are emitted history-side-first.",
)
def neardup_incremental_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..streaming.dedup import process_neardup_increment

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="dnp_ndincr_")
    try:
        for b in range(4):
            process_neardup_increment(
                spark,
                docs.filter(F.col("doc_id") % 4 == b),
                f"{root}/index",
                f"{root}/pairs",
                b,
                threshold=0.34,
                portable=True,
            )
        return (
            spark.read.parquet(f"{root}/pairs")
            .select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
                "est_jaccard",
            )
            .dropDuplicates(["doc_a", "doc_b"])
            .orderBy("doc_a", "doc_b")
            # materialize before the temp index/pairs dirs are removed
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _components_oracle() -> str:
    # Transitive closure by recursive CTE (UNION dedup bounds it); canonical
    # id = min of the reachable set. Fine at oracle scale — components are
    # tiny; the Spark side uses the O(log^2 n) star-contraction instead.
    return f"""
WITH RECURSIVE {_minhash_pairs_ctes()},
pairs AS (SELECT doc_a, doc_b FROM scored WHERE est_jaccard >= 0.34),
edges AS MATERIALIZED (
  -- MATERIALIZED: the recursive reach() term joins edges every iteration,
  -- and DuckDB inlines non-recursive CTEs referenced from a recursive term
  -- (the converged-graph oracle-cost pin, applied here in r9)
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
),
comp AS (SELECT u AS doc_id, least(u, min(v)) AS canonical_id FROM reach GROUP BY u),
lab AS (
  SELECT d.doc_id, coalesce(c.canonical_id, d.doc_id) AS canonical_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, canonical_id,
       count(*) OVER (PARTITION BY canonical_id) AS cluster_size
FROM lab
ORDER BY doc_id
"""


@register(
    "dedup_components",
    oracle=_components_oracle(),
    doc="Near-dup clustering: MinHash-LSH pairs -> distributed connected components (alternating large-star/small-star contraction, operators/components.py) -> canonical doc = component-min id, cluster sizes. The SURVEY §2.11 'connected components to pick canonical docs' step; oracle recomputes components via recursive-CTE transitive closure over the identical portable-hash pair set.",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components
    from ..operators.dedup import minhash_lsh_pairs, minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        docs.repartition(python_stage_partitions(spark)), portable=True
    )
    # threshold pushed INTO the operator (min_est): a filter placed after
    # it sits above a first()-aggregate Catalyst cannot push through
    pairs = minhash_lsh_pairs(sigs, portable=True, min_est=0.34)
    cc = connected_components(pairs, "doc_a", "doc_b").withColumnRenamed("node", "doc_id")
    lab = (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select("doc_id", F.coalesce("component", F.col("doc_id")).alias("canonical_id"))
    )
    w = Window.partitionBy("canonical_id")
    return lab.select(
        "doc_id", "canonical_id", F.count(F.lit(1)).over(w).alias("cluster_size")
    ).orderBy("doc_id")


def _lsh_star_components_oracle() -> str:
    # Star edges per (band, bhash) bucket from the shared portable band CTE
    # chain (DuckDB only evaluates referenced CTEs, so cand/scored in the
    # chain cost nothing here), then recursive-CTE transitive closure.
    return f"""
WITH RECURSIVE {_minhash_pairs_ctes()},
broot AS (
  SELECT band, bhash, min(doc_id) AS root FROM bands GROUP BY band, bhash
),
star AS (
  SELECT DISTINCT r.root AS doc_a, b.doc_id AS doc_b
  FROM bands b JOIN broot r ON b.band = r.band AND b.bhash = r.bhash
  WHERE r.root < b.doc_id
),
edges AS MATERIALIZED (
  -- MATERIALIZED: the recursive reach() term joins edges every iteration,
  -- and DuckDB inlines non-recursive CTEs referenced from a recursive term
  -- (the converged-graph oracle-cost pin, applied here in r9)
  SELECT doc_a AS u, doc_b AS v FROM star
  UNION
  SELECT doc_b AS u, doc_a AS v FROM star
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
),
comp AS (SELECT u AS doc_id, least(u, min(v)) AS canonical_id FROM reach GROUP BY u),
lab AS (
  SELECT d.doc_id, coalesce(c.canonical_id, d.doc_id) AS canonical_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, canonical_id,
       count(*) OVER (PARTITION BY canonical_id) AS cluster_size
FROM lab
ORDER BY doc_id
"""


@register(
    "dedup_components_lsh",
    oracle=_lsh_star_components_oracle(),
    doc="The clone-regime dedup clustering scale path: MinHash-LSH bucket connectivity via spanning-STAR edges (operators/dedup.py::lsh_star_edges — one edge per bucket member to the bucket-min id, O(docs x bands) edges) -> star-contraction components -> canonical id + cluster size. Components equal those over the full unverified candidate-pair graph (each bucket clique is spanned by its star; asserted in tests), but edge volume stays LINEAR under K-fold corpus duplication where full within-bucket pairing (and any pair-listing dedup, whose true-pair OUTPUT is itself ~K^2 per clone set) explodes quadratically — measured head-to-head in SCALING.md's 100x clone sweep. No per-pair verification: the membership evidence is full-band minhash agreement (recall-leaning; dedup_components remains the verified-pair variant).",
)
def dedup_components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components
    from ..operators.dedup import lsh_star_edges, minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        docs.repartition(python_stage_partitions(spark)), portable=True
    )
    edges = lsh_star_edges(sigs, portable=True)
    cc = connected_components(edges, "doc_a", "doc_b").withColumnRenamed("node", "doc_id")
    lab = (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select("doc_id", F.coalesce("component", F.col("doc_id")).alias("canonical_id"))
    )
    w = Window.partitionBy("canonical_id")
    return lab.select(
        "doc_id", "canonical_id", F.count(F.lit(1)).over(w).alias("cluster_size")
    ).orderBy("doc_id")


_TTR_SCALE = 1_000_000


def _ttr6_sql(tbl: str = "documents") -> str:
    return (
        f"SELECT doc_id, CAST(floor({_TTR_SCALE} * len(list_distinct(string_split(text, ' ')))"
        f" / len(string_split(text, ' '))) AS BIGINT) AS ttr6 FROM {tbl}"
    )


@register(
    "dedup_survivorship",
    oracle=f"""
WITH comp AS (SELECT doc_id, canonical_id, cluster_size FROM ({_components_oracle()})),
     qual AS ({_ttr6_sql()}),
     r AS (
       SELECT comp.doc_id, canonical_id, CAST(cluster_size AS BIGINT) AS cluster_size, ttr6,
              row_number() OVER (PARTITION BY canonical_id ORDER BY ttr6 DESC, comp.doc_id) AS rn
       FROM comp JOIN qual USING (doc_id)
     ),
     s AS (SELECT canonical_id, doc_id AS survivor_id FROM r WHERE rn = 1)
SELECT r.doc_id, r.canonical_id, r.cluster_size, r.ttr6, s.survivor_id,
       r.doc_id = s.survivor_id AS keep
FROM r JOIN s USING (canonical_id)
ORDER BY doc_id
""",
    doc="Survivorship election on top of near-dup clustering: within each connected component the highest-quality document (type-token ratio, min doc_id tie-break) is kept and every other member maps to it — the 'which copy do we train on' step that turns dedup clusters into a keep/drop decision. Scale shape: components via star-contraction, quality map-only, election is a per-component window + one join back on canonical_id (components are bounded; no global sort).",
)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    qual = docs.select(
        "doc_id",
        F.floor(F.lit(_TTR_SCALE) * F.size(F.array_distinct(t)) / F.size(t))
        .cast("long")
        .alias("ttr6"),
    )
    r = comp.join(qual, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("canonical_id").orderBy(F.col("ttr6").desc(), "doc_id")
        ),
    )
    surv = r.filter(F.col("rn") == 1).select(
        "canonical_id", F.col("doc_id").alias("survivor_id")
    )
    return (
        r.join(surv, "canonical_id")
        .select(
            "doc_id",
            "canonical_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "ttr6",
            "survivor_id",
            (F.col("doc_id") == F.col("survivor_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Cross-document boilerplate detection: token n-grams shared by many
# documents are template/boilerplate text (headers, footers, nav chrome in
# real crawls) — flag them by document frequency and report how much of
# each document is boilerplate.
# --------------------------------------------------------------------------

_BOILER_MIN_DF = 3  # a 3-gram present in >= this many docs is boilerplate


def _boilerplate_oracle() -> str:
    from ..operators.dedup import (
        PORTABLE_P,
        PORTABLE_SHINGLE_BASE,
        PORTABLE_TOKEN_BASE,
        _SHINGLE_W,
    )

    P, B, B2 = PORTABLE_P, PORTABLE_SHINGLE_BASE, PORTABLE_SHINGLE_BASE**2
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
th AS (
  SELECT doc_id, list_transform(t, w -> {_kr_sql(PORTABLE_TOKEN_BASE, P)}) AS h
  FROM toks WHERE len(t) >= {_SHINGLE_W}
),
gs AS (
  SELECT doc_id, list_transform(generate_series(1, len(h) - {_SHINGLE_W - 1}),
           i -> ((h[i] * {B2}) % {P} + (h[i + 1] * {B}) % {P} + h[i + 2]) % {P}) AS g
  FROM th
),
pc AS (
  SELECT doc_id, gram, count(*) AS c
  FROM (SELECT doc_id, unnest(g) AS gram FROM gs) GROUP BY doc_id, gram
),
boiler AS (
  SELECT gram FROM (SELECT gram, count(*) AS nd FROM pc GROUP BY gram) WHERE nd >= {_BOILER_MIN_DF}
),
nb AS (SELECT pc.doc_id, sum(pc.c) AS n_boiler FROM pc JOIN boiler USING (gram) GROUP BY pc.doc_id)
SELECT gs.doc_id, CAST(len(g) AS BIGINT) AS n_grams,
       CAST(coalesce(nb.n_boiler, 0) AS BIGINT) AS n_boiler,
       CAST(floor(1000000.0 * coalesce(nb.n_boiler, 0) / len(g)) AS BIGINT) AS boiler_frac6
FROM gs LEFT JOIN nb USING (doc_id)
ORDER BY doc_id
"""


@register(
    "boilerplate_ngrams",
    oracle=_boilerplate_oracle(),
    doc=f"Cross-document boilerplate detection: a token 3-gram occurring in >= {_BOILER_MIN_DF} distinct documents is template text (headers/footers/nav chrome in real crawls); per document, report total grams, boilerplate-gram occurrences, and the boilerplate fraction — the removal planner of CCNet-style corpus cleaning. Scale shape: per-(doc, gram) counts map-side combine before the gram-DF aggregation; the flagged set is the high-DF tail (small by construction) and broadcasts back — the full gram stream is shuffled once, never joined against itself.",
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        PORTABLE_SHINGLE_BASE,
        _SHINGLE_W,
        kr_token_hash,
        portable_combine,
    )

    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    th = F.transform(t, lambda w: kr_token_hash(w))
    staged = docs.filter(F.size(t) >= _SHINGLE_W).select("doc_id", th.alias("_th"))
    # positional (non-distinct) 3-gram hashes: boilerplate fraction counts
    # every occurrence, not just distinct gram kinds
    gs = F.transform(
        F.sequence(F.lit(1), F.size("_th") - (_SHINGLE_W - 1)),
        lambda i: portable_combine(
            [F.element_at("_th", i), F.element_at("_th", i + 1), F.element_at("_th", i + 2)],
            PORTABLE_SHINGLE_BASE,
        ),
    )
    # localCheckpoint (not persist): blocks are reclaimed by the
    # ContextCleaner once the plan is dropped, so repeated invocations in a
    # long parity/bench session don't accumulate cached partitions.
    per_doc = staged.select("doc_id", gs.alias("gs")).localCheckpoint(eager=True)
    # per-(doc, gram) occurrence counts — map-side combined; also the
    # distinct-per-doc gram set the DF count needs
    pc = (
        per_doc.select("doc_id", F.explode("gs").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    ).localCheckpoint(eager=True)
    boiler = (
        pc.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= _BOILER_MIN_DF)
        .select("gram")
    )
    # the boilerplate gram set is small by construction (high-DF tail) —
    # broadcast it back over the per-doc counts
    nb = (
        pc.join(F.broadcast(boiler), "gram")
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_boiler"))
    )
    return (
        per_doc.select("doc_id", F.size("gs").cast("long").alias("n_grams"))
        .join(nb, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_boiler", F.lit(0)).cast("long").alias("n_boiler"),
            F.floor(
                F.lit(1_000_000.0) * F.coalesce("n_boiler", F.lit(0)) / F.col("n_grams")
            ).cast("long").alias("boiler_frac6"),
        )
        .orderBy("doc_id")
    )


def _simhash_oracle() -> str:
    from ..operators.dedup import (
        PORTABLE_P,
        PORTABLE_TOKEN_BASE,
        PORTABLE_TOKEN_BASE2,
        SIMHASH_PORTABLE_BITS,
    )

    votes = ", ".join(
        f"sum(CASE WHEN ({'h1' if i < 31 else 'h2'} >> {i % 31}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_PORTABLE_BITS)
    )
    sim = " | ".join(
        f"(CAST(CASE WHEN v{i} > 0 THEN 1 ELSE 0 END AS BIGINT) << {i})"
        for i in range(SIMHASH_PORTABLE_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents
),
h AS (
  SELECT doc_id,
         {_kr_sql(PORTABLE_TOKEN_BASE, PORTABLE_P)} AS h1,
         {_kr_sql(PORTABLE_TOKEN_BASE2, PORTABLE_P)} AS h2
  FROM toks
),
votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
sim AS (SELECT doc_id, {sim} AS simhash FROM votes),
chunks AS (
  SELECT doc_id, simhash, j, (simhash >> (j * 16)) & 65535 AS chash
  FROM sim, range(4) r(j)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM chunks a JOIN chunks b ON a.j = b.j AND a.chash = b.chash AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_a, doc_b
"""


@register(
    "simhash_near_dup",
    oracle=_simhash_oracle(),
    doc="SimHash fingerprints with 16-bit chunk banding and exact hamming scoring (SURVEY §2.11). Driver query runs the 62-bit portable Karp-Rabin family (two independent bases) so the oracle rebuilds fingerprints in SQL; the 64-bit xxhash64 fast path shares the banding/pair logic.",
)
def simhash_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_near_dups

    docs = load_table(spark, sf_dir, "documents").repartition(
        python_stage_partitions(spark)
    )
    return (
        simhash_near_dups(docs, portable=True)
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


_N_QUERY_VECS = 8
_TOP_K = 5


def _lsh_topk_oracle(dim: int = 64) -> str:
    """SQL replication of operators/similarity.py::cosine_topk_lsh — the
    LCG plane matrix (lcg_planes), per-table sign-bit buckets, single-bit
    multiprobe, candidate dedup, exact cosine scoring, per-query top-k."""
    from ..operators.similarity import LSH_PLANES as n_planes
    from ..operators.similarity import LSH_SEED
    from ..operators.similarity import LSH_TABLES as n_tables

    n_rows = n_tables * n_planes
    probe = ", ".join(f"xor(bucket, {1 << p})" for p in range(n_planes))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_N_QUERY_VECS}),
c AS (SELECT vec_id AS neighbor_id, v AS cv FROM e WHERE vec_id >= {_N_QUERY_VECS}),
planes AS (
  SELECT pid // {n_planes} AS tbl, pid % {n_planes} AS bit,
         list_transform(generate_series(0, {dim - 1}), d ->
           (CAST((((pid * {dim} + d + 1 + {LSH_SEED}) * 48271) % 2147483647) * 16807 % 2147483647 AS DOUBLE)
            / 2147483647.0) * 2.0 - 1.0) AS pv
  FROM generate_series(0, {n_rows - 1}) g(pid)
),
cbits AS (
  SELECT neighbor_id, tbl,
         CAST(sum(CASE WHEN list_dot_product(cv, pv) > 0.0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS bucket
  FROM c CROSS JOIN planes GROUP BY neighbor_id, tbl
),
qbits AS (
  SELECT query_id, tbl,
         CAST(sum(CASE WHEN list_dot_product(qv, pv) > 0.0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS bucket
  FROM q CROSS JOIN planes GROUP BY query_id, tbl
),
qprobe AS (
  SELECT query_id, tbl, unnest([bucket, {probe}]) AS bucket FROM qbits
),
cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM qprobe JOIN cbits USING (tbl, bucket)
),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
  FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id)
)
SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored)
WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


@register(
    "cosine_topk_lsh",
    oracle=_lsh_topk_oracle(),
    doc="Hyperplane-LSH bucketed approximate cosine top-k with single-bit multiprobe — the ANN scale path next to the brute-force oracle query (SURVEY §2.11). Recall vs brute force asserted in tests/test_similarity.py; buckets, candidates and scores driver-adjudicated via the LCG-plane SQL replication.",
)
def cosine_topk_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERY_VECS)
    corpus = emb.filter(F.col("vec_id") >= _N_QUERY_VECS)
    return cosine_topk_lsh(corpus, queries, dim=64, k=_TOP_K)


def _multimodal_oracle() -> str:
    from ..operators.multimodal import _CK_BASE, _CK_MOD

    def fsum(j: int) -> str:
        return (
            f"coalesce(CAST(list_sum(list_transform(generate_series(0, nchunks - 1), "
            f"k -> coalesce(cs[k * 16 + {j + 1}], 0))) AS BIGINT), 0) AS fsum{j}"
        )

    return f"""
WITH m AS (
  SELECT doc_id AS media_id, 'image' AS media_type,
         list_transform(string_split_regex(text, ''), c -> CAST(ord(c) AS BIGINT)) AS cs
  FROM documents
), base AS (
  SELECT media_id, media_type, cs, CAST(len(cs) AS BIGINT) AS n_bytes,
         list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                     (acc, c) -> (acc * {_CK_BASE} + c) % {_CK_MOD}) AS checksum,
         CAST(ceil(len(cs) / 16.0) AS BIGINT) AS nchunks
  FROM m
)
SELECT media_id, media_type,
       64 + (checksum & 1023) AS width,
       64 + ((checksum >> 10) & 1023) AS height,
       n_bytes, checksum,
       {fsum(0)}, {fsum(7)}, {fsum(15)}
FROM base ORDER BY media_id
"""


@register(
    "multimodal_features",
    oracle=_multimodal_oracle(),
    doc="Multimodal column plumbing (SURVEY §2.11): opaque binary media + typed metadata through the Arrow-batched decode/feature-extract stage. The fake decoder is deterministic modular math (real decoders stubbed, see operators/multimodal.py), so the oracle recomputes dimensions/checksum/per-slot byte sums from the document bytes in SQL — the Arrow batch plumbing itself is what the hash match certifies.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_media, documents_as_media

    docs = load_table(spark, sf_dir, "documents").repartition(
        python_stage_partitions(spark)
    )
    decoded = decode_media(documents_as_media(docs), fake=True)
    return decoded.select(
        "media_id",
        "media_type",
        "width",
        "height",
        "n_bytes",
        "checksum",
        F.element_at("feature_sums", 1).alias("fsum0"),
        F.element_at("feature_sums", 8).alias("fsum7"),
        F.element_at("feature_sums", 16).alias("fsum15"),
    ).orderBy("media_id")


_EMB_DUP_THRESHOLD = 0.4


@register(
    "embedding_near_dup",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) > {_EMB_DUP_THRESHOLD}
ORDER BY vec_a, vec_b
""",
    doc="Embedding-cosine near-dup (SURVEY §2.11): all-pairs above a cosine threshold, via EXACT metric pivot pruning (operators/similarity.py::cosine_threshold_join) — pivot-pair grid pruned by the angular triangle inequality, candidates as a shuffled equi-join on pivot id, bit-identical rescore. No full-table broadcast, no nested-loop join (asserted in test_plan_shapes.py); completeness is unconditional, so the exact brute-force oracle still hash-matches.",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_threshold_join

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_threshold_join(emb, _EMB_DUP_THRESHOLD, n_pivots=16).orderBy(
        "vec_a", "vec_b"
    )


@register(
    "ivf_assignment",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 4),
d AS (
  SELECT e.vec_id, cent.centroid_id,
         list_sum(list_transform(list_zip(e.v, cent.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d2
  FROM e CROSS JOIN cent
),
r AS (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rn
  FROM d
)
SELECT vec_id, centroid_id FROM r WHERE rn = 1
ORDER BY vec_id
""",
    doc="IVF coarse quantization (SURVEY §2.11 similarity scale path): nearest-centroid assignment via broadcast centroid table — at 100 TB vectors are co-partitioned by centroid id and probes prune to matching partitions.",
)
def ivf_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    return (
        ivf_assign(emb, centroids, dim=64)
        .select("vec_id", "centroid_id")
        .orderBy("vec_id")
    )


_IVF_N_CENT = 16
_IVF_NPROBE = 4


@register(
    "ivf_topk",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {_IVF_N_CENT}),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
c AS (SELECT vec_id, v FROM e WHERE vec_id >= 8),
cd AS (
  SELECT c.vec_id, cent.centroid_id,
         row_number() OVER (PARTITION BY c.vec_id ORDER BY
           list_sum(list_transform(list_zip(c.v, cent.cv), x -> (x[1]-x[2])*(x[1]-x[2]))),
           cent.centroid_id) AS rn
  FROM c CROSS JOIN cent
),
lists AS (SELECT vec_id AS neighbor_id, centroid_id FROM cd WHERE rn = 1),
qd AS (
  SELECT q.vec_id, cent.centroid_id,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY
           list_sum(list_transform(list_zip(q.v, cent.cv), x -> (x[1]-x[2])*(x[1]-x[2]))),
           cent.centroid_id) AS rn
  FROM q CROSS JOIN cent
),
probes AS (SELECT vec_id AS query_id, centroid_id FROM qd WHERE rn <= {_IVF_NPROBE}),
scored AS (
  SELECT p.query_id, l.neighbor_id,
         list_dot_product(qv.v, cv.v)
           / (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(cv.v, cv.v))) AS sim
  FROM probes p
  JOIN lists l USING (centroid_id)
  JOIN e qv ON qv.vec_id = p.query_id
  JOIN e cv ON cv.vec_id = l.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
""",
    doc=(
        "IVF-flat ANN top-k (SURVEY §2.11 similarity scale path): corpus in "
        "inverted lists by nearest centroid, queries probe nprobe lists, "
        "exact cosine rescoring of candidates only. At 100 TB the corpus is "
        "partitioned by centroid_id at ingest so the probe prunes the SCAN, "
        "not just the compare count. Deterministic seed centroids (first "
        f"{_IVF_N_CENT} vectors) make the whole pipeline oracle-checkable."
    ),
)
def ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _IVF_N_CENT).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    queries = emb.filter(F.col("vec_id") < 8)
    corpus = emb.filter(F.col("vec_id") >= 8)
    return ivf_topk(
        corpus, queries, centroids, dim=64, k=_TOP_K, nprobe=_IVF_NPROBE
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# Corpus curation: repetition quality (Gopher-style), deterministic
# stratified sampling, mixture token budgeting, benchmark decontamination.
# These are the remaining ops a training-data pipeline runs between "raw
# crawl" and "tokenizer input"; all pure column expressions + narrow
# hash-shuffle aggs, no UDFs.
# --------------------------------------------------------------------------


@register(
    "repetition_quality",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
b AS (
  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_uniq_tokens,
         list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]) AS bg
  FROM toks WHERE len(t) >= 2
),
cnt AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest(bg) AS g FROM b) GROUP BY doc_id, g
),
top AS (SELECT doc_id, max(c) AS top_c FROM cnt GROUP BY doc_id)
SELECT b.doc_id, n_tokens,
       round(1.0 - n_uniq_tokens * 1.0 / n_tokens, 6) AS dup_word_frac,
       round(1.0 - len(list_distinct(bg)) * 1.0 / len(bg), 6) AS dup_bigram_frac,
       round(top_c * 1.0 / len(bg), 6) AS top_bigram_frac
FROM b JOIN top ON b.doc_id = top.doc_id
ORDER BY b.doc_id
""",
    doc="Gopher-style repetition quality signals per document: duplicate-word fraction, duplicate-bigram fraction, top-bigram fraction (Rae et al. 2021 repetition filters). Bigrams are xxhash64-combined token hashes (8-byte shuffle keys); the mode count is a doc-local groupBy with map-side combine — no all-pairs, no UDF.",
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").repartition(
        python_stage_partitions(spark)
    )
    t = F.split(F.col("text"), " ")
    base = docs.filter(F.size(t) >= 2).select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_uniq_tokens"),
        F.transform(t, lambda w: F.xxhash64(w)).alias("th"),
    )
    bg = F.transform(
        F.sequence(F.lit(1), F.size(F.col("th")) - 1),
        lambda i: F.xxhash64(F.element_at(F.col("th"), i), F.element_at(F.col("th"), i + 1)),
    )
    # `staged` feeds two consumers (mode count + distinct stats); without a
    # materialization barrier the tokenizer/hash/bigram tree is inlined into
    # both and computes twice (measured 4.3 s -> 1.6 s at sf0.1). The rows
    # carry 8-byte hashes, not text — small per doc. localCheckpoint, not
    # persist: blocks auto-reclaim when the plan is dropped.
    staged = base.select(
        "doc_id", "n_tokens", "n_uniq_tokens", bg.alias("bg")
    ).localCheckpoint(eager=True)
    top = (
        staged.select("doc_id", F.explode("bg").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    stats = staged.select(
        "doc_id",
        "n_tokens",
        "n_uniq_tokens",
        F.size("bg").alias("n_bg"),
        F.size(F.array_distinct("bg")).alias("n_uniq_bg"),
    )
    return (
        stats.join(top, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round(1.0 - F.col("n_uniq_tokens") * 1.0 / F.col("n_tokens"), 6).alias(
                "dup_word_frac"
            ),
            F.round(1.0 - F.col("n_uniq_bg") * 1.0 / F.col("n_bg"), 6).alias("dup_bigram_frac"),
            F.round(F.col("top_c") * 1.0 / F.col("n_bg"), 6).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


_SAMPLE_MOD = 10_000  # sampling keys in basis points
_SAMPLE_RATES_BP = {"en": 2500, "de": 5000, "es": 7500, "fr": 7500, "zh": 10000}


@register(
    "stratified_sample",
    oracle=f"""
SELECT doc_id, lang,
       ((doc_id + 1) * 48271) % 2147483647 % {_SAMPLE_MOD} AS sample_key,
       round({_SAMPLE_MOD}.0 / (CASE lang {" ".join(f"WHEN '{l}' THEN {r}" for l, r in sorted(_SAMPLE_RATES_BP.items()))} ELSE {_SAMPLE_MOD} END), 6) AS weight
FROM documents
WHERE ((doc_id + 1) * 48271) % 2147483647 % {_SAMPLE_MOD}
      < CASE lang {" ".join(f"WHEN '{l}' THEN {r}" for l, r in sorted(_SAMPLE_RATES_BP.items()))} ELSE {_SAMPLE_MOD} END
ORDER BY doc_id
""",
    doc="Deterministic stratified sampling by language: per-stratum keep-rates in basis points, decided by a Lehmer mix of doc_id (reproducible across engines/runs — no RNG state); emitted weight = 1/rate for loss reweighting. At 100 TB this is the shuffle-free downsampling pass of a mixture builder: a pure filter, pushed to the scan.",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    key = ((F.col("doc_id") + 1) * 48271) % 2147483647 % _SAMPLE_MOD
    rate = None
    for l, r in sorted(_SAMPLE_RATES_BP.items()):
        rate = (F.when(F.col("lang") == l, r) if rate is None else rate.when(F.col("lang") == l, r))
    rate = rate.otherwise(_SAMPLE_MOD)
    return (
        docs.select(
            "doc_id",
            "lang",
            key.alias("sample_key"),
            F.round(F.lit(float(_SAMPLE_MOD)) / rate, 6).alias("weight"),
        )
        .filter(F.col("sample_key") < rate)
        .orderBy("doc_id")
    )


@register(
    "mixture_token_budget",
    oracle="""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
         (CAST(substr(source, 4) AS INTEGER) % 4) + 1 AS target_w
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens, CAST(sum(target_w) AS BIGINT) AS total_w FROM per_src)
SELECT source, n_docs, tokens,
       round(tokens * 1.0 / total_tokens, 6) AS corpus_share,
       round(target_w * 1.0 / total_w, 6) AS target_share,
       round(target_w * 1.0 / total_w * total_tokens / tokens, 6) AS upsample_epochs,
       round(least(1.0, target_w * 1.0 / total_w * total_tokens / tokens), 6) AS sample_rate
FROM per_src, tot
ORDER BY source
""",
    doc="Data-mixture token budgeting: per-source token totals vs a target mixture (deterministic per-source weights), yielding the upsample-epochs / downsample-rate each source needs to hit the target share — the planning agg a mixture builder runs before writing the training shuffle. One map-side-combined agg + a broadcast 1-row totals join.",
)
def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("tokens"),
        ((F.min(F.substring("source", 4, 10).cast("int")) % 4) + 1).alias("target_w"),
    )
    tot = per_src.agg(
        F.sum("tokens").alias("total_tokens"), F.sum("target_w").alias("total_w")
    )
    epochs = (
        F.col("target_w") * 1.0 / F.col("total_w") * F.col("total_tokens") / F.col("tokens")
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "tokens",
            F.round(F.col("tokens") * 1.0 / F.col("total_tokens"), 6).alias("corpus_share"),
            F.round(F.col("target_w") * 1.0 / F.col("total_w"), 6).alias("target_share"),
            F.round(epochs, 6).alias("upsample_epochs"),
            F.round(F.least(F.lit(1.0), epochs), 6).alias("sample_rate"),
        )
        .orderBy("source")
    )


_DECON_W = 5  # shingle width for decontamination overlap
_DECON_MOD = 29  # doc_id % _DECON_MOD == 0 -> held-out benchmark set


@register(
    "decontamination_overlap",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - {_DECON_W - 1}),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS s
  FROM toks WHERE len(t) >= {_DECON_W}
),
posting AS (SELECT doc_id, unnest(s) AS g FROM sh),
bench AS (SELECT doc_id AS bench_id, g FROM posting WHERE doc_id % {_DECON_MOD} = 0),
train AS (SELECT doc_id, g FROM posting WHERE doc_id % {_DECON_MOD} != 0),
hits AS (
  SELECT t.doc_id, count(DISTINCT t.g) AS n_shared_shingles,
         count(DISTINCT b.bench_id) AS n_benchmark_docs
  FROM train t JOIN bench b ON t.g = b.g
  GROUP BY t.doc_id
)
SELECT h.doc_id, n_shared_shingles, n_benchmark_docs,
       round(n_shared_shingles * 1.0 / len(s), 6) AS contamination_frac
FROM hits h JOIN sh ON h.doc_id = sh.doc_id
ORDER BY h.doc_id
""",
    doc=f"Benchmark decontamination: flag training documents sharing any {_DECON_W}-gram with a held-out benchmark set (doc_id % {_DECON_MOD} == 0 stands in for the eval suite). Shingle inverted-index join with the (small) benchmark side broadcast — the standard n-gram-overlap decontamination pass (GPT-3 appendix C / PaLM) that at 100 TB is a broadcast map-side join, never a corpus shuffle.",
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").repartition(
        python_stage_partitions(spark)
    )
    t = F.split(F.col("text"), " ")
    th = F.transform(t, lambda w: F.xxhash64(w))
    staged = docs.filter(F.size(t) >= _DECON_W).select("doc_id", th.alias("th"))
    shingle = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("th")) - (_DECON_W - 1)),
            lambda i: F.xxhash64(*[F.element_at(F.col("th"), i + j) for j in range(_DECON_W)]),
        )
    )
    sh = staged.select("doc_id", shingle.alias("s")).localCheckpoint(eager=True)
    posting = sh.select("doc_id", F.explode("s").alias("g"))
    bench = posting.filter(F.col("doc_id") % _DECON_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "g"
    )
    train = posting.filter(F.col("doc_id") % _DECON_MOD != 0)
    hits = (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_shared_shingles"),
            F.countDistinct("bench_id").alias("n_benchmark_docs"),
        )
    )
    sizes = sh.select("doc_id", F.size("s").alias("n_sh"))
    return (
        hits.join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_shared_shingles",
            "n_benchmark_docs",
            F.round(F.col("n_shared_shingles") * 1.0 / F.col("n_sh"), 6).alias(
                "contamination_frac"
            ),
        )
        .orderBy("doc_id")
    )


_LM_SCALE = 1_000_000_000  # integer-scaled log-probs: order-free summation


def _lm_oracle() -> str:
    """Char-bigram LM cross-entropy per doc — the lm_quality_scores oracle,
    also the scoring stage of the ccnet_ppl_buckets oracle."""
    return f"""
WITH grams AS (
  SELECT doc_id, lang,
         unnest(list_transform(generate_series(1, len(text) - 1),
                               i -> text[i:i+1])) AS bg
  FROM documents WHERE len(text) >= 2
),
counts AS (SELECT lang, bg, count(*) AS c FROM grams GROUP BY lang, bg),
lang_tot AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS total, count(*) AS vocab
  FROM counts GROUP BY lang
),
model AS (
  SELECT c.lang, c.bg,
         CAST(floor(ln((c.c + 1.0) / (t.total + t.vocab)) * {_LM_SCALE}) AS BIGINT)
           AS logp_scaled
  FROM counts c JOIN lang_tot t ON c.lang = t.lang
),
scored AS (
  SELECT g.doc_id, g.lang, count(*) AS n_bigrams,
         CAST(sum(m.logp_scaled) AS BIGINT) AS sum_scaled
  FROM grams g JOIN model m ON g.lang = m.lang AND g.bg = m.bg
  GROUP BY g.doc_id, g.lang
)
SELECT doc_id, lang, n_bigrams,
       round(-(sum_scaled * 1.0) / {_LM_SCALE} / n_bigrams, 6) AS cross_entropy
FROM scored
ORDER BY doc_id
"""


@register(
    "lm_quality_scores",
    oracle=_lm_oracle(),
    doc=f"CCNet-style LM quality scoring, fully distributed: 'train' an add-1-smoothed char-bigram language model per language over the corpus (one map-side-combined count shuffle), then score every document's mean cross-entropy under its language's model (broadcast model join, one agg keyed by doc). High-entropy docs are gibberish/boilerplate candidates. Log-probs are integer-scaled (x{_LM_SCALE}, floored) before summation so the aggregate is ORDER-FREE — distributed float summation would be nondeterministic across partitionings and could not hash-match an oracle.",
)
def lm_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_scores_unordered(spark, sf_dir).orderBy("doc_id")


def lm_scores_unordered(
    spark: SparkSession, sf_dir: str, materialize: bool = False
) -> DataFrame:
    """lm_quality_scores WITHOUT the presentation orderBy — the form the
    ccnet bucketing plans consume: both immediately re-exchange (range
    partition for the distributed ntile / threshold join for the approx
    path), so an upstream global sort is one full-table range exchange of
    pure waste.

    ``materialize=True`` eagerly checkpoints the FINAL per-doc result —
    one row per document, ~30 bytes: three orders of magnitude smaller
    than the docbg table. Callers that consume lm more than once (both
    ccnet modes run a statistics pass and an assignment pass) should pass
    True: each further consumption then reads #docs rows instead of
    re-running the model join + scoring aggregate over the million-row
    docbg checkpoint (interleaved A/B at sf0.1: 2.08-2.14 s vs
    2.13-2.57 s for the build + two consumptions). Single-consumption
    callers keep the default — for them the extra materialization job is
    pure overhead. (The r9 lm.persist() A/B that measured SLOWER pinned
    the un-materialized plan into an InMemoryRelation, paying cache write
    + read against consumers that each re-derived cheaply; an eager
    checkpoint of the tiny FINAL rows is a different trade.)"""
    docs = load_table(spark, sf_dir, "documents").repartition(
        python_stage_partitions(spark)
    )
    grams = docs.filter(F.length("text") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))")
        ).alias("bg"),
    )
    # Reduce to per-doc bigram counts FIRST and materialize that: both
    # consumers (model training and doc scoring) derive from it, so the
    # explode over the full text runs once, and the materialized rows are
    # the map-side-combined counts — strictly smaller than the raw bigram
    # stream. localCheckpoint, not persist: blocks auto-reclaim. (The r9
    # direct-gram variant — tiny (lang,bg) count pin + a second codegen
    # explode, no big materialization — measured consistently ~0.3-0.5 s
    # SLOWER on interleaved A/B at sf0.1: lm is consumed twice in both
    # ccnet modes, and with the checkpoint every consumer re-derives from
    # the compact counts instead of re-exploding the corpus.) LAZY, not
    # eager (r10): the first consumer action materializes the blocks as
    # part of its own job — an eager checkpoint pays a whole separate
    # job's scheduling + block-store round trip for the same compute
    # (both ccnet modes run a statistics pass first, which fuses the
    # corpus explode into itself this way).
    docbg = (
        grams.groupBy("doc_id", "lang", "bg")
        .agg(F.count(F.lit(1)).alias("dc"))
        .localCheckpoint(eager=False)
    )
    counts = docbg.groupBy("lang", "bg").agg(F.sum("dc").alias("c"))
    lang_tot = counts.groupBy("lang").agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab")
    )
    model = counts.join(F.broadcast(lang_tot), "lang").select(
        "lang",
        "bg",
        F.floor(
            F.log((F.col("c") + 1.0) / (F.col("total") + F.col("vocab"))) * _LM_SCALE
        ).cast("long").alias("logp_scaled"),
    )
    # sum over occurrences == sum over distinct bigrams of count*logp —
    # integer-exact, so the result is bit-identical to the per-row sum.
    scored = (
        docbg.join(F.broadcast(model), ["lang", "bg"])
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("dc").alias("n_bigrams"),
            F.sum(F.col("dc") * F.col("logp_scaled")).alias("sum_scaled"),
        )
    )
    out = scored.select(
        "doc_id",
        "lang",
        "n_bigrams",
        F.round(-(F.col("sum_scaled") * 1.0) / _LM_SCALE / F.col("n_bigrams"), 6).alias(
            "cross_entropy"
        ),
    )
    return out.localCheckpoint(eager=True) if materialize else out


# --------------------------------------------------------------------------
# CCNet head/middle/tail perplexity bucketing: tertile-split each
# language's documents by LM cross-entropy (CCNet, Wenzek et al. 2020 —
# 'head' is the cleanest third, 'tail' the noisiest). Exact ntile mode is
# oracle-adjudicated; the scale path replaces per-lang sorting windows with
# approx_percentile thresholds.
# --------------------------------------------------------------------------


@register(
    "ccnet_ppl_buckets",
    oracle=f"""
WITH lm AS (SELECT * FROM ({_lm_oracle()})),
b AS (
  SELECT doc_id, lang, cross_entropy,
         ntile(3) OVER (PARTITION BY lang ORDER BY cross_entropy, doc_id) AS nt
  FROM lm
)
SELECT doc_id, lang, cross_entropy,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM b ORDER BY doc_id
""",
    doc="CCNet-style head/middle/tail bucketing (Wenzek et al. 2020): per language, tertile-split documents by char-bigram LM cross-entropy — downstream mixtures sample mostly from 'head'. Exact mode (registered) computes the ntile DISTRIBUTED with ZERO full-data exchange (operators/rank.py::exact_ntile, r10 redesign: one exact (lang, log-cell) histogram pass -> broadcast verdict table -> map-only bucket label for every cell inside one tertile; only the <=2 straddling cells per language shuffle, through a window keyed on (lang, CELL) — bit-identical to the window ntile, proven by test, with no one-task-per-language sort anywhere). ADJUDICATION MODE: at fixture SF its wall is floor-bound (~2.6x its oracle; see BASELINE.md r10 ccnet note) — the registered production path is ccnet_ppl_buckets_approx (~1.6x), which trades exactness for two approx_percentile thresholds per language (same trade as dsir_importance, plan-asserted in tests).",
)
def ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ccnet_ppl_buckets_plan(spark, sf_dir, exact=True)


def ccnet_ppl_buckets_plan(
    spark: SparkSession, sf_dir: str, exact: bool = True, exact_impl: str = "distributed"
) -> DataFrame:
    # both modes consume lm twice (statistics/threshold pass + assignment
    # pass) — materialize the tiny per-doc result once (see lm_scores_
    # unordered: A/B-measured faster than re-deriving from docbg per pass)
    lm = lm_scores_unordered(spark, sf_dir, materialize=True).select(
        "doc_id", "lang", "cross_entropy"
    )
    if exact and exact_impl == "distributed":
        from ..operators.rank import exact_ntile

        return exact_ntile(
            lm,
            "lang",
            ["cross_entropy", "doc_id"],
            n_buckets=3,
            bucket_names=["head", "middle", "tail"],
            # lm derives from the compact docbg checkpoint: recomputing it
            # for the shuffle map side is cheaper than a cache write +
            # InMemoryRelation read of the full scored table (same
            # measured trade as the approx path's unpinned lm)
            pin_input=False,
        ).select("doc_id", "lang", "cross_entropy", "bucket").orderBy("doc_id")
    if exact:  # exact_impl == "window": the single-task-per-lang reference
        nt = F.ntile(3).over(
            Window.partitionBy("lang").orderBy("cross_entropy", "doc_id")
        )
        bucket = (
            F.when(nt == 1, "head").when(nt == 2, "middle").otherwise("tail")
        )
        return lm.select("doc_id", "lang", "cross_entropy", bucket.alias("bucket")).orderBy(
            "doc_id"
        )
    # Scale path: per-lang t-digest thresholds (map-side combinable), then a
    # broadcast join + plain comparisons — zero sorting windows anywhere.
    # lm is consumed twice (threshold aggregate, then the assignment join)
    # and arrives here as the eager per-doc checkpoint (materialize=True
    # above) — each consumer reads #docs rows. (r8's persist-the-lazy-lm
    # A/B measured slower; checkpointing the final tiny rows is the
    # winning variant, r10.)
    thr = lm.groupBy("lang").agg(
        F.expr("approx_percentile(cross_entropy, array(0.3333, 0.6667), 10000)").alias("t")
    )
    return (
        lm.join(F.broadcast(thr), "lang")
        .select(
            "doc_id",
            "lang",
            "cross_entropy",
            F.when(F.col("cross_entropy") <= F.element_at("t", 1), "head")
            .when(F.col("cross_entropy") <= F.element_at("t", 2), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


@register(
    "ccnet_ppl_buckets_approx",
    oracle=f"""
WITH lm AS (SELECT * FROM ({_lm_oracle()})),
st AS (
  SELECT lang, cross_entropy,
         row_number() OVER (PARTITION BY lang ORDER BY cross_entropy) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM lm
),
thr AS (
  SELECT lang,
         max(CASE WHEN rn = CAST(ceil(0.3333 * n) AS BIGINT) THEN cross_entropy END) AS t1,
         max(CASE WHEN rn = CAST(ceil(0.6667 * n) AS BIGINT) THEN cross_entropy END) AS t2
  FROM st GROUP BY lang
)
SELECT doc_id, lm.lang, cross_entropy,
       CASE WHEN cross_entropy <= t1 THEN 'head'
            WHEN cross_entropy <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM lm JOIN thr ON lm.lang = thr.lang
ORDER BY doc_id
""",
    doc="The 100 TB ccnet bucketing path, driver-adjudicated on its own: per-language head/middle/tail thresholds from ONE approx_percentile(cross_entropy, [0.3333, 0.6667]) aggregate (map-side-combinable GK sketch), bucket assignment a broadcast join + two comparisons — zero sorting windows and zero per-language serialization anywhere. Oracle: in the sketch's exact regime (per-language n below the 10000 accuracy, which holds at every fixture SF) Spark's approx_percentile returns the value at 1-based rank ceil(q*n) — replayed in DuckDB as an exact rank pick with the identical IEEE ceil(q*n) arithmetic, so the comparison is exact-by-construction at adjudication scale while the registered plan is the genuine sketch-based scale path.",
)
def ccnet_ppl_buckets_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ccnet_ppl_buckets_plan(spark, sf_dir, exact=False)


_PIPE_MIN_TOKENS = 20
_PIPE_MIN_TTR = 0.3


@register(
    "curation_pipeline",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, source, text, string_split(text, ' ') AS t
  FROM documents
),
quality AS (
  SELECT doc_id, lang, source, text, t, len(t) AS n_tokens
  FROM toks
  WHERE len(t) >= {_PIPE_MIN_TOKENS}
    AND len(list_distinct(t)) * 1.0 / len(t) >= {_PIPE_MIN_TTR}
),
canon AS (SELECT min(doc_id) AS doc_id FROM quality GROUP BY text),
dedup AS (SELECT q.* FROM quality q JOIN canon c ON q.doc_id = c.doc_id),
posting AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, len(t) - {_DECON_W - 1}),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS g
  FROM toks WHERE len(t) >= {_DECON_W}
),
bench_g AS (SELECT DISTINCT g FROM posting WHERE doc_id % {_DECON_MOD} = 0),
contaminated AS (
  SELECT DISTINCT p.doc_id FROM posting p JOIN bench_g b ON p.g = b.g
),
clean AS (
  SELECT d.* FROM dedup d
  WHERE d.doc_id % {_DECON_MOD} != 0
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT doc_id, lang, source, n_tokens,
       round({_SAMPLE_MOD}.0 / (CASE lang {" ".join(f"WHEN '{l}' THEN {r}" for l, r in sorted(_SAMPLE_RATES_BP.items()))} ELSE {_SAMPLE_MOD} END), 6) AS weight
FROM clean
WHERE ((doc_id + 1) * 48271) % 2147483647 % {_SAMPLE_MOD}
      < CASE lang {" ".join(f"WHEN '{l}' THEN {r}" for l, r in sorted(_SAMPLE_RATES_BP.items()))} ELSE {_SAMPLE_MOD} END
ORDER BY doc_id
""",
    doc=f"END-TO-END curation pipeline — the composition a training-data build actually runs, as ONE driver-checked query: quality gate (>= {_PIPE_MIN_TOKENS} tokens, type-token ratio >= {_PIPE_MIN_TTR}) -> exact dedup (canonical = min doc_id per text) -> benchmark decontamination (drop any doc sharing a {_DECON_W}-gram with the doc_id % {_DECON_MOD} == 0 held-out set, bench side broadcast) -> deterministic per-language stratified downsample with loss reweighting. Every stage is one of the already-adjudicated primitives; composing them exercises the planner across stage boundaries (scan reused, filters pushed, one agg shuffle + one broadcast join, no corpus re-shuffle between stages).",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").repartition(
        python_stage_partitions(spark)
    )
    t = F.split(F.col("text"), " ")
    n_tokens = F.size(t)
    ttr = F.size(F.array_distinct(t)) * 1.0 / n_tokens
    quality = docs.filter(
        (n_tokens >= _PIPE_MIN_TOKENS) & (ttr >= _PIPE_MIN_TTR)
    ).select("doc_id", "lang", "source", "text", n_tokens.alias("n_tokens"))

    canon = quality.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    dedup = quality.join(canon, ["text", "doc_id"]).drop("text")

    # contamination postings over the ORIGINAL corpus (bench membership is
    # defined pre-filtering, like decontamination_overlap)
    th = F.transform(t, lambda w: F.xxhash64(w))
    staged = docs.filter(F.size(t) >= _DECON_W).select("doc_id", th.alias("th"))
    shingle = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("th")) - (_DECON_W - 1)),
            lambda i: F.xxhash64(*[F.element_at(F.col("th"), i + j) for j in range(_DECON_W)]),
        )
    )
    posting = staged.select("doc_id", F.explode(shingle).alias("g"))
    bench_g = posting.filter(F.col("doc_id") % _DECON_MOD == 0).select("g").distinct()
    contaminated = (
        posting.join(F.broadcast(bench_g), "g").select("doc_id").distinct()
    )

    clean = dedup.filter(F.col("doc_id") % _DECON_MOD != 0).join(
        contaminated, "doc_id", "left_anti"
    )

    key = ((F.col("doc_id") + 1) * 48271) % 2147483647 % _SAMPLE_MOD
    rate = None
    for l, r in sorted(_SAMPLE_RATES_BP.items()):
        rate = (F.when(F.col("lang") == l, r) if rate is None else rate.when(F.col("lang") == l, r))
    rate = rate.otherwise(_SAMPLE_MOD)
    return (
        clean.filter(key < rate)
        .select(
            "doc_id", "lang", "source", "n_tokens",
            F.round(F.lit(float(_SAMPLE_MOD)) / rate, 6).alias("weight"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Similarity search: brute-force cosine top-k (baseline; LSH variant in
# operators/similarity.py)
# --------------------------------------------------------------------------



def _exact_topk_oracle() -> str:
    """Brute-force cosine top-k in SQL — the cosine_topk oracle, also the
    ground-truth side of the ann_recall_eval oracle."""
    return f"""
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < {_N_QUERY_VECS}),
     c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= {_N_QUERY_VECS}),
     scored AS (
       SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              list_dot_product(q.e, c.e)
                / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS sim
       FROM q CROSS JOIN c
     ),
     ranked AS (
       SELECT query_id, neighbor_id, sim,
              row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       FROM scored
     )
SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


@register(
    "cosine_topk",
    oracle=_exact_topk_oracle(),
    doc="Brute-force cosine top-k: broadcast the query set over the corpus; per-corpus-partition local top-k then global top-k (TakeOrdered per query via window). Dot products stay JVM-side (zip_with + aggregate in double).",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )

    def dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)

    norm = F.sqrt(dot(F.col("e"), F.col("e")))
    q = (
        emb.filter(F.col("vec_id") < _N_QUERY_VECS)
        .select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), norm.alias("qnorm"))
    )
    c = (
        emb.filter(F.col("vec_id") >= _N_QUERY_VECS)
        .select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"), norm.alias("cnorm"))
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qe"), F.col("ce")) / (F.col("qnorm") * F.col("cnorm"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the LSH index against the exact
# brute-force ranking — the metric every ANN deployment is tuned by.
# --------------------------------------------------------------------------


@register(
    "ann_recall_eval",
    oracle=f"""
WITH ex AS (SELECT query_id, neighbor_id FROM ({_exact_topk_oracle()})),
     ap AS (SELECT query_id, neighbor_id FROM ({_lsh_topk_oracle()})),
     j AS (
       SELECT ex.query_id, CASE WHEN ap.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
       FROM ex LEFT JOIN ap ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
     )
SELECT query_id, CAST(count(*) AS BIGINT) AS k, CAST(sum(hit) AS BIGINT) AS n_hits,
       CAST(floor(1000000.0 * sum(hit) / count(*)) AS BIGINT) AS recall6
FROM j GROUP BY query_id ORDER BY query_id
""",
    doc=f"Recall@{_TOP_K} of the hyperplane-LSH index against the exact brute-force cosine ranking, per query — the tuning metric for every ANN deployment (tables x planes x probes vs recall). Both sides reuse the registered plans; the comparison itself is one join on (query, neighbor) + a per-query count, all integer outputs. At scale ground truth is computed for a SAMPLED query set (here: all {_N_QUERY_VECS} fixture queries) — recall estimation never needs the full corpus ranked.",
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = cosine_topk_lsh_q(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
        )
        .withColumn(
            "recall6",
            F.floor(F.lit(1_000_000.0) * F.col("n_hits") / F.col("k")).cast("long"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# BM25 keyword retrieval (inverted-index text search, SURVEY §2.11)
# --------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_SCALE = 1_000_000
_BM25_TOPK = 10
_BM25_QUERIES = (
    (0, ("hash", "join")),
    (1, ("window", "agg", "stream")),
    (2, ("customer", "order", "line")),
)


def _bm25_oracle() -> str:
    qvals = ", ".join(
        f"({qid}, '{w}')" for qid, terms in _BM25_QUERIES for w in terms
    )
    return f"""
WITH q(query_id, w) AS (VALUES {qvals}),
dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
stats AS (SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
tf AS (SELECT doc_id, w, count(*) AS tf FROM ex WHERE w IN (SELECT w FROM q) GROUP BY doc_id, w),
dfq AS (SELECT w, count(*) AS dfq FROM tf GROUP BY w),
idf AS (
  SELECT w, CAST(floor(ln((s.n_docs - dfq + 0.5) / (dfq + 0.5) + 1.0) * {_BM25_SCALE}) AS BIGINT) AS idf6
  FROM dfq, stats s
),
terms AS (
  SELECT q.query_id, t.doc_id,
         CAST(floor(i.idf6 * ((t.tf * ({_BM25_K1} + 1.0))
               / (t.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * (d.dl / s.avgdl))))) AS BIGINT) AS term6
  FROM q JOIN tf t ON q.w = t.w JOIN idf i ON i.w = t.w JOIN dl d ON d.doc_id = t.doc_id, stats s
),
scored AS (
  SELECT query_id, doc_id, count(*) AS n_terms, CAST(sum(term6) AS BIGINT) AS score6
  FROM terms GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, n_terms, score6,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score6 DESC, doc_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, n_terms, round(score6 / {_BM25_SCALE}.0, 6) AS score
FROM ranked WHERE rank <= {_BM25_TOPK}
ORDER BY query_id, rank
"""


@register(
    "bm25_search",
    oracle=_bm25_oracle(),
    doc=(
        "BM25 keyword retrieval (k1=1.2, b=0.75) over a distributed inverted "
        "index: doc lengths come straight from size(split(text)) (no explode), "
        "and the posting explode is filtered to query terms BEFORE any shuffle "
        "so only matching postings aggregate — retrieval cost scales with "
        "postings, not corpus tokens. 1-row corpus stats broadcast by "
        "crossJoin, grouped top-k via row_number. IDF is integer-scaled "
        "(floor(ln(x)*1e6)) before the per-term summation so the aggregate is "
        "order-free and cross-engine hash-stable; the tf/length factors are "
        "pure IEEE +-*/ which both engines evaluate identically."
    ),
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").repartition(
        python_stage_partitions(spark)
    )
    qterms = spark.createDataFrame(
        [(qid, w) for qid, terms in _BM25_QUERIES for w in terms], "query_id int, w string"
    )
    # Doc length is size(split(text)) — no explode, no aggregation; the
    # explode below is filtered to query terms BEFORE any shuffle, so only
    # matching postings are ever aggregated (the inverted-index property
    # that makes retrieval sublinear in corpus tokens).
    dl = docs.select("doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("dl"))
    # Corpus stats are ONE row — collect them into literals rather than
    # crossJoin-broadcasting the aggregate subtree (which would be rebuilt
    # per broadcast exchange consuming it: once for idf, once for scoring).
    srow = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
    ).collect()[0]
    n_docs, avgdl = int(srow["n_docs"]), float(srow["avgdl"])
    ex = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    # tf feeds both the document-frequency agg (under the idf broadcast
    # exchange — a separate job) and the scoring join: localCheckpoint the
    # ~|postings| frame so the filtered explode runs once. Unlike persist(),
    # the checkpointed blocks are dropped when the frame is GC'd, so repeated
    # invocations (verify loops, benches) don't accumulate cached RDDs.
    tf = (
        ex.join(F.broadcast(qterms.select("w").distinct()), "w")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("dfq"))
    idf = dfq.select(
        "w",
        F.floor(
            F.log((F.lit(n_docs) - F.col("dfq") + 0.5) / (F.col("dfq") + 0.5) + 1.0)
            * _BM25_SCALE
        ).cast("long").alias("idf6"),
    )
    terms = (
        tf.join(F.broadcast(qterms), "w")
        .join(F.broadcast(idf), "w")
        .join(dl, "doc_id")
        .withColumn("avgdl", F.lit(avgdl))
        .select(
            "query_id",
            "doc_id",
            F.floor(
                F.col("idf6")
                * (
                    (F.col("tf") * (_BM25_K1 + 1.0))
                    / (
                        F.col("tf")
                        + _BM25_K1
                        * (1.0 - _BM25_B + _BM25_B * (F.col("dl") / F.col("avgdl")))
                    )
                )
            ).cast("long").alias("term6"),
        )
    )
    scored = terms.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"), F.sum("term6").alias("score6")
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.col("score6").desc(), F.col("doc_id"))
    return (
        scored.select(
            "query_id",
            F.row_number().over(w_rank).alias("rank"),
            "doc_id",
            "n_terms",
            F.round(F.col("score6") / float(_BM25_SCALE), 6).alias("score"),
        )
        .filter(F.col("rank") <= _BM25_TOPK)
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the BM25 ranking with a
# quality-prior ranking over the SAME candidate set — the standard modern
# retrieval stack (keyword recall + re-rank) as one declarative plan.
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_SCALE = 1_000_000
_RRF_TOPK = 5


@register(
    "rrf_fusion",
    oracle=f"""
WITH cand AS (
  SELECT query_id, doc_id, rank AS bm25_rank FROM ({_bm25_oracle()})
),
qual AS (
  SELECT doc_id,
         CAST(floor({_RRF_SCALE} * len(list_distinct(string_split(text, ' ')))
                    / len(string_split(text, ' '))) AS BIGINT) AS ttr6
  FROM documents
),
cq AS (
  SELECT c.query_id, c.doc_id, c.bm25_rank, q.ttr6,
         CAST(row_number() OVER (PARTITION BY c.query_id
                                 ORDER BY q.ttr6 DESC, c.doc_id) AS INTEGER) AS qual_rank
  FROM cand c JOIN qual q ON c.doc_id = q.doc_id
),
fused AS (
  SELECT query_id, doc_id, bm25_rank, qual_rank,
         CAST({_RRF_SCALE} // ({_RRF_K} + bm25_rank)
              + {_RRF_SCALE} // ({_RRF_K} + qual_rank) AS BIGINT) AS rrf6
  FROM cq
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf6 DESC, doc_id) AS INTEGER)
         AS fused_rank,
       doc_id, bm25_rank, qual_rank, rrf6
FROM fused
QUALIFY fused_rank <= {_RRF_TOPK}
ORDER BY query_id, fused_rank
""",
    doc=f"Reciprocal-rank fusion (k={_RRF_K}) of the BM25 top-{_BM25_TOPK} with a type-token-ratio quality prior ranked WITHIN the candidate set — the retrieval-then-rerank pattern. Scale shape: the quality rank is a per-query window over <= {_BM25_TOPK} candidate rows (never a global quality sort of the corpus); RRF contributions are integer floor divisions so the fused score is cross-engine exact. The BM25 stage keeps its inverted-index posture; fusion adds one broadcast-sized join + per-query windows.",
)
def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = bm25_search(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("bm25_rank")
    )
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    qual = docs.select(
        "doc_id",
        F.floor(F.lit(_RRF_SCALE) * F.size(F.array_distinct(t)) / F.size(t))
        .cast("long")
        .alias("ttr6"),
    )
    w_q = Window.partitionBy("query_id").orderBy(F.col("ttr6").desc(), F.col("doc_id"))
    cq = cand.join(qual, "doc_id").withColumn("qual_rank", F.row_number().over(w_q))
    fused = cq.withColumn(
        "rrf6",
        (
            F.expr(f"{_RRF_SCALE} div ({_RRF_K} + bm25_rank)")
            + F.expr(f"{_RRF_SCALE} div ({_RRF_K} + qual_rank)")
        ).cast("long"),
    )
    w_f = Window.partitionBy("query_id").orderBy(F.col("rrf6").desc(), F.col("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f))
        .filter(F.col("fused_rank") <= _RRF_TOPK)
        .select("query_id", "fused_rank", "doc_id", "bm25_rank", "qual_rank", "rrf6")
        .orderBy("query_id", "fused_rank")
    )


# --------------------------------------------------------------------------
# Dynamic quality gating + skew-safe aggregation (SURVEY §2.11 / §7.2-8)
# --------------------------------------------------------------------------


@register(
    "quality_quantile_filter",
    oracle="""
WITH tq AS (
  SELECT doc_id, lang,
         len(list_distinct(string_split(text, ' '))) * 1.0
           / len(string_split(text, ' ')) AS ttr
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, ttr,
         row_number() OVER (PARTITION BY lang ORDER BY ttr, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS cnt
  FROM tq
),
med AS (SELECT lang, ttr AS med_ttr FROM ranked WHERE rn = (cnt + 1) // 2)
SELECT t.doc_id, t.lang, round(t.ttr, 6) AS ttr, round(m.med_ttr, 6) AS med_ttr
FROM tq t JOIN med m ON t.lang = m.lang
WHERE t.ttr >= m.med_ttr
ORDER BY t.doc_id
""",
    doc=(
        "Dynamic per-language quality gate: keep documents at or above their "
        "language's MEDIAN type-token ratio. The threshold is data-derived "
        "per group (the Gopher/CCNet adaptive-cutoff pattern), computed as "
        "the element-based lower median (row_number = ceil(n/2)) rather than "
        "an interpolated percentile — an actual data value, so the >= "
        "comparison and the display are bit-exact across engines. Plan: one "
        "window shuffle on lang for the medians (tiny), broadcast join back, "
        "scan-pushable filter."
    ),
)
def quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    tq = docs.select(
        "doc_id",
        "lang",
        (F.size(F.array_distinct(toks)) * 1.0 / F.size(toks)).alias("ttr"),
    )
    w = Window.partitionBy("lang").orderBy("ttr", "doc_id")
    wc = Window.partitionBy("lang")
    ranked = tq.select(
        "lang",
        "ttr",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    med = ranked.filter(F.col("rn") == F.expr("(cnt + 1) div 2")).select(
        "lang", F.col("ttr").alias("med_ttr")
    )
    return (
        tq.join(F.broadcast(med), "lang")
        .filter(F.col("ttr") >= F.col("med_ttr"))
        .select("doc_id", "lang", F.round("ttr", 6).alias("ttr"), F.round("med_ttr", 6).alias("med_ttr"))
        .orderBy("doc_id")
    )


@register(
    "salted_agg_events",
    oracle="""
SELECT event_type,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_val6,
       count(*) AS n_rows
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc=(
        "Two-phase salted aggregation (operators/skew.py::salted_sum_count) "
        "driver-adjudicated against the plain GROUP BY it must equal: the "
        "hot-key shuffle is split across 16 salt slots, then partials "
        "combine — correct for any algebraic aggregate, and the oracle "
        "proves salting is semantically transparent. Values are integer-"
        "scaled so the two-phase sum is order-free."
    ),
)
def salted_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_sum_count

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 1_000_000).cast("long").alias("val6")
    )
    return (
        salted_sum_count(ev, ["event_type"], "val6", n_salts=16)
        .select("event_type", F.col("sum_val6"), "n_rows")
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Product-quantization ANN (PQ/ADC — Jégou et al. 2011)
# --------------------------------------------------------------------------


def _pq_oracle() -> str:
    from ..operators.similarity import PQ_K, PQ_M

    sub = 64 // PQ_M
    Q = _N_QUERY_VECS

    def d2(vec: str, m_ref: str, sub_ref: str) -> str:
        # left-fold accumulation — same order as the numpy per-dim loop
        return (
            f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {sub}), "
            f"d -> ({vec}[{m_ref}*{sub} + d] - {sub_ref}[d]) * ({vec}[{m_ref}*{sub} + d] - {sub_ref}[d]))), "
            f"(acc, x) -> acc + x)"
        )

    cjoins, ljoins, adds = [], [], []
    for m in range(PQ_M):
        cjoins.append(
            f"JOIN (SELECT vec_id, c FROM codes WHERE m = {m}) c{m} "
            + ("ON c0.vec_id = c0.vec_id" if m == 0 else f"ON c{m}.vec_id = c0.vec_id")
        )
        ljoins.append(
            f"JOIN (SELECT query_id, c, d2 FROM lutd WHERE m = {m}) l{m} "
            + (f"ON l0.c = c0.c" if m == 0 else f"ON l{m}.c = c{m}.c AND l{m}.query_id = l0.query_id")
        )
        adds.append(f"l{m}.d2")
    adc_expr = adds[0]
    for t in adds[1:]:
        adc_expr = f"({adc_expr} + {t})"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < {Q}),
corp AS (SELECT vec_id, v FROM e WHERE vec_id >= {Q}),
mm AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
cb AS (
  SELECT mm.m, corp.vec_id - {Q} AS c,
         list_slice(corp.v, mm.m*{sub}+1, mm.m*{sub}+{sub}) AS sub
  FROM corp, mm WHERE corp.vec_id < {Q + PQ_K}
),
cdist AS (
  SELECT corp.vec_id, cb.m, cb.c, {d2("corp.v", "cb.m", "cb.sub")} AS d2
  FROM corp, cb
),
codes AS (
  SELECT vec_id, m, c FROM (
    SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
    FROM cdist) t WHERE rn = 1
),
lutd AS (
  SELECT q.vec_id AS query_id, cb.m, cb.c, {d2("q.v", "cb.m", "cb.sub")} AS d2
  FROM q, cb
),
adc AS (
  SELECT l0.query_id, c0.vec_id AS neighbor_id, {adc_expr} AS adc_d2
  FROM (SELECT vec_id, c FROM codes WHERE m = 0) c0
  {" ".join(cjoins[1:])}
  {" ".join(ljoins)}
),
ranked AS (
  SELECT query_id, neighbor_id, adc_d2,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS INTEGER) AS rank
  FROM adc
)
SELECT query_id, neighbor_id, rank, round(adc_d2, 6) AS adc_d2
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


@register(
    "pq_topk",
    oracle=_pq_oracle(),
    doc=(
        "Product-quantization ANN (Jégou et al., TPAMI 2011): corpus "
        "vectors compress to M=4 sub-space codebook indices (map-only "
        "Arrow encode pass, 256x memory reduction at dim=64/fp32), queries "
        "build their MxK asymmetric-distance LUT once, and candidate "
        "scoring is 4 element_at lookups + 3 additions inside whole-stage "
        "codegen — the memory-side half of IVF-PQ, composable with "
        "ivf_topk's list pruning. Distance folds are fixed-order so Spark "
        "and the SQL oracle agree bit-for-bit on every argmin and ranking."
    ),
)
def pq_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.similarity import PQ_K, PQ_M, pq_encode, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERY_VECS)
    corp = emb.filter(F.col("vec_id") >= _N_QUERY_VECS)
    # Codebook: the first K corpus vectors' subvectors — deterministic and
    # reproducible in SQL (training a real codebook is kmeans_refine's job;
    # here the fixed codebook keeps the oracle exact). O(M*K*dim) driver
    # bytes — the same tiny-collect class as the IVF centroid table.
    first = (
        corp.filter(F.col("vec_id") < _N_QUERY_VECS + PQ_K)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    flat = np.array([r["embedding"] for r in first], dtype=np.float64)  # (K, dim)
    sub = flat.shape[1] // PQ_M
    cb = np.stack([flat[:, m * sub:(m + 1) * sub] for m in range(PQ_M)])  # (M, K, sub)
    codes = pq_encode(corp, cb, flat.shape[1])
    return pq_topk(q, codes, cb, flat.shape[1], k=5).orderBy("query_id", "rank")


def _ivfpq_oracle() -> str:
    from ..operators.similarity import PQ_K, PQ_M

    sub = 64 // PQ_M
    Q = _N_QUERY_VECS

    def d2(vec: str, m_ref: str, sub_ref: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {sub}), "
            f"d -> ({vec}[{m_ref}*{sub} + d] - {sub_ref}[d]) * ({vec}[{m_ref}*{sub} + d] - {sub_ref}[d]))), "
            f"(acc, x) -> acc + x)"
        )

    cjoins, ljoins, adds = [], [], []
    for m in range(1, PQ_M):
        cjoins.append(
            f"JOIN (SELECT vec_id, c FROM codes WHERE m = {m}) c{m} ON c{m}.vec_id = c0.vec_id"
        )
    for m in range(PQ_M):
        ljoins.append(
            f"JOIN (SELECT query_id, c, d2 FROM lutd WHERE m = {m}) l{m} "
            + ("ON l0.c = c0.c" if m == 0 else f"ON l{m}.c = c{m}.c AND l{m}.query_id = l0.query_id")
        )
        adds.append(f"l{m}.d2")
    adc_expr = adds[0]
    for t in adds[1:]:
        adc_expr = f"({adc_expr} + {t})"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {_IVF_N_CENT}),
q AS (SELECT vec_id, v FROM e WHERE vec_id < {Q}),
corp AS (SELECT vec_id, v FROM e WHERE vec_id >= {Q}),
cd AS (
  SELECT corp.vec_id, cent.centroid_id,
         row_number() OVER (PARTITION BY corp.vec_id ORDER BY
           list_sum(list_transform(list_zip(corp.v, cent.cv), x -> (x[1]-x[2])*(x[1]-x[2]))),
           cent.centroid_id) AS rn
  FROM corp CROSS JOIN cent
),
lists AS (SELECT vec_id AS neighbor_id, centroid_id FROM cd WHERE rn = 1),
qd AS (
  SELECT q.vec_id, cent.centroid_id,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY
           list_sum(list_transform(list_zip(q.v, cent.cv), x -> (x[1]-x[2])*(x[1]-x[2]))),
           cent.centroid_id) AS rn
  FROM q CROSS JOIN cent
),
probes AS (SELECT vec_id AS query_id, centroid_id FROM qd WHERE rn <= {_IVF_NPROBE}),
mm AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
cb AS (
  SELECT mm.m, corp.vec_id - {Q} AS c,
         list_slice(corp.v, mm.m*{sub}+1, mm.m*{sub}+{sub}) AS sub
  FROM corp, mm WHERE corp.vec_id < {Q + PQ_K}
),
cdist AS (
  SELECT corp.vec_id, cb.m, cb.c, {d2("corp.v", "cb.m", "cb.sub")} AS d2
  FROM corp, cb
),
codes AS (
  SELECT vec_id, m, c FROM (
    SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
    FROM cdist) t WHERE rn = 1
),
lutd AS (
  SELECT q.vec_id AS query_id, cb.m, cb.c, {d2("q.v", "cb.m", "cb.sub")} AS d2
  FROM q, cb
),
adc AS (
  SELECT l0.query_id, c0.vec_id AS neighbor_id, {adc_expr} AS adc_d2
  FROM (SELECT vec_id, c FROM codes WHERE m = 0) c0
  {" ".join(cjoins)}
  {" ".join(ljoins)}
  JOIN lists ON lists.neighbor_id = c0.vec_id
  JOIN probes ON probes.centroid_id = lists.centroid_id AND probes.query_id = l0.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, adc_d2,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS INTEGER) AS rank
  FROM adc
)
SELECT query_id, neighbor_id, rank, round(adc_d2, 6) AS adc_d2
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


@register(
    "ivfpq_topk",
    oracle=_ivfpq_oracle(),
    doc=(
        "IVF-PQ: the composed compressed-ANN pipeline — coarse centroid "
        "lists prune WHICH candidates each query scores (nprobe of "
        f"{_IVF_N_CENT} lists), PQ/ADC codes make each score 4 LUT lookups "
        "instead of a 64-dim dot product. At 100 TB both the scan "
        "(centroid-partitioned) and the per-candidate arithmetic shrink; "
        "raw vectors never move after encode. Oracle recomputes the entire "
        "assignment+codes+LUT+pruned-ADC pipeline in SQL."
    ),
)
def ivfpq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.similarity import PQ_K, PQ_M, ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _IVF_N_CENT).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    queries = emb.filter(F.col("vec_id") < _N_QUERY_VECS)
    corpus = emb.filter(F.col("vec_id") >= _N_QUERY_VECS)
    first = (
        corpus.filter(F.col("vec_id") < _N_QUERY_VECS + PQ_K)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    flat = np.array([r["embedding"] for r in first], dtype=np.float64)
    sub = flat.shape[1] // PQ_M
    cb = np.stack([flat[:, m * sub:(m + 1) * sub] for m in range(PQ_M)])
    return ivfpq_topk(
        corpus, queries, centroids, cb, flat.shape[1], k=5, nprobe=_IVF_NPROBE
    ).orderBy("query_id", "rank")


_CONTAIN_NUM = 8  # containment threshold num/den: |A∩B|/|A| >= 0.8
_CONTAIN_DEN = 10


@register(
    "near_dup_containment",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
shingles AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - {_SHINGLE_W - 1}),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
  FROM toks WHERE len(t) >= {_SHINGLE_W}
),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM shingles),
posting AS (SELECT doc_id, unnest(sh) AS shingle FROM shingles),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
ordered AS (
  SELECT doc_a AS doc_contained, doc_b AS doc_container, n_common, sa.n_sh AS n_contained
  FROM common JOIN sizes sa ON sa.doc_id = doc_a
  UNION ALL
  SELECT doc_b, doc_a, n_common, sb.n_sh
  FROM common JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT doc_contained, doc_container, n_common, n_contained,
       round(n_common * 1.0 / n_contained, 6) AS containment
FROM ordered
WHERE n_common * {_CONTAIN_DEN} >= n_contained * {_CONTAIN_NUM}
ORDER BY doc_contained, doc_container
""",
    doc=(
        "Asymmetric near-dup (containment): |A∩B|/|A| >= 0.8 flags documents "
        "largely CONTAINED in another — the quote/excerpt/boilerplate-"
        "inclusion case symmetric Jaccard misses (a 50-token quote inside a "
        "5000-token page has jaccard ~0.01 but containment ~1.0). Same "
        "shingle inverted index and integer-exact threshold as "
        "near_dup_jaccard; the unordered pair counts fan out to both "
        "directions before the size join, so the plan cost is identical "
        "plus one map-side union."
    ),
)
def near_dup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import hashed_shingles

    docs = load_table(spark, sf_dir, "documents").repartition(
        python_stage_partitions(spark)
    )
    sh = hashed_shingles(docs).localCheckpoint(eager=True)
    sizes = sh.select("doc_id", F.size("_sh").alias("n_sh"))
    posting = sh.select("doc_id", F.explode("_sh").alias("shingle"))
    a = posting.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = posting.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    withsizes = common.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
    fwd = withsizes.select(
        F.col("doc_a").alias("doc_contained"),
        F.col("doc_b").alias("doc_container"),
        "n_common",
        F.col("n_a").alias("n_contained"),
    )
    rev = withsizes.select(
        F.col("doc_b").alias("doc_contained"),
        F.col("doc_a").alias("doc_container"),
        "n_common",
        F.col("n_b").alias("n_contained"),
    )
    return (
        fwd.unionByName(rev)
        .filter(F.col("n_common") * _CONTAIN_DEN >= F.col("n_contained") * _CONTAIN_NUM)
        .select(
            "doc_contained",
            "doc_container",
            "n_common",
            "n_contained",
            F.round(F.col("n_common") * 1.0 / F.col("n_contained"), 6).alias("containment"),
        )
        .orderBy("doc_contained", "doc_container")
    )


_HH_TOPK = 50


@register(
    "token_heavy_hitters",
    oracle=f"""
WITH tf AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT token, count(*) AS n FROM tf GROUP BY token
),
docs_per AS (
  SELECT token, count(*) AS n_docs FROM (
    SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
    FROM documents
  ) GROUP BY token
),
ranked AS (
  SELECT c.token, c.n, d.n_docs,
         CAST(row_number() OVER (ORDER BY c.n DESC, c.token) AS INTEGER) AS rank
  FROM counts c JOIN docs_per d ON c.token = d.token
)
SELECT rank, token, n, n_docs FROM ranked WHERE rank <= {_HH_TOPK}
ORDER BY rank
""",
    doc=(
        "Global heavy hitters: corpus-wide top-50 tokens by occurrence with "
        "document frequency — the vocabulary-coverage signal tokenizer and "
        "quality work starts from. Occurrence counts map-side combine on "
        "the token shuffle; document frequency dedups (doc, token) BEFORE "
        "its count; the global rank is a WindowGroupLimit over the (tiny) "
        "distinct-token aggregate, so nothing unaggregated crosses the "
        "final exchange."
    ),
)
def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    tf = docs.select(F.explode(toks).alias("token"))
    counts = tf.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    docs_per = (
        docs.select("doc_id", F.explode(F.array_distinct(toks)).alias("token"))
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.join(docs_per, "token")
        .select(F.row_number().over(w).alias("rank"), "token", "n", "n_docs")
        .filter(F.col("rank") <= _HH_TOPK)
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# Distributed BPE merge training (Sennrich et al. 2016, "Neural Machine
# Translation of Rare Words with Subword Units"): learn the first M merge
# rules of a byte-pair-encoding vocabulary over the corpus. The classic
# single-process algorithm is a loop over (count adjacent symbol pairs,
# merge the argmax); here each iteration is one map-side-combined pair
# count over DISTINCT words (the word-frequency table, a dimension), an
# O(1)-row argmax collect, and a map-only string rewrite — the exact
# shape that scales: corpus text is touched once (word counting), and the
# iteration loop runs on the word DIM table only.
#
# Greedy left-to-right pair application matches the reference algorithm
# via plain non-overlapping replace() on a ' sym|' token encoding: every
# symbol carries its own lead-space + trailing marker, so consecutive
# matches never share boundary characters and replace() in Spark and
# DuckDB produce identical (greedy) merges.
# --------------------------------------------------------------------------

_BPE_ITERS = 4


def _bpe_pairs_sql(src: str) -> str:
    return f"""
  SELECT a, b, CAST(sum(freq) AS BIGINT) AS c FROM (
    SELECT freq, l[i][2:] AS a, l[i+1][2:] AS b
    FROM (SELECT freq, string_split(r, '|') AS l FROM {src}),
         LATERAL (SELECT unnest(generate_series(1, len(l) - 2)) AS i)
  ) GROUP BY a, b"""


def _bpe_oracle() -> str:
    ctes = ["""words AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE len(w) > 0 AND w NOT LIKE '%|%' GROUP BY w
)""", """w0 AS (
  SELECT freq, array_to_string(list_transform(generate_series(1, len(w)), i -> ' ' || w[i:i] || '|'), '') AS r
  FROM words
)"""]
    selects = []
    for i in range(_BPE_ITERS):
        ctes.append(f"p{i} AS ({_bpe_pairs_sql(f'w{i}')})")
        ctes.append(f"t{i} AS (SELECT a, b, c FROM p{i} ORDER BY c DESC, a, b LIMIT 1)")
        if i + 1 < _BPE_ITERS:
            ctes.append(f"""w{i + 1} AS (
  SELECT freq, replace(r,
      ' ' || (SELECT a FROM t{i}) || '| ' || (SELECT b FROM t{i}) || '|',
      ' ' || (SELECT a FROM t{i}) || (SELECT b FROM t{i}) || '|') AS r
  FROM w{i}
)""")
        selects.append(
            f"SELECT {i} AS iteration, a AS left_sym, b AS right_sym, "
            f"a || b AS merged, c AS pair_count FROM t{i}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY iteration"


@register(
    "bpe_train_merges",
    oracle=_bpe_oracle(),
    doc=f"Distributed BPE vocabulary training (Sennrich et al. 2016): the first {_BPE_ITERS} merge rules learned over the corpus word-frequency table. Per iteration: map-side-combined adjacent-pair count over DISTINCT words, O(1)-row argmax collect (ties broken by pair, byte-order identical cross-engine), map-only greedy rewrite (non-overlapping replace on a boundary-safe ' sym|' encoding). Corpus text is read once; the loop runs on the word dimension — at 100 TB that table is vocabulary-sized, not corpus-sized. Adjudicated against a {_BPE_ITERS}-stage unrolled DuckDB oracle.",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter((F.length("w") > 0) & (~F.col("w").contains("|")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    sym = words.select(
        "freq",
        F.expr(
            "array_join(transform(sequence(1, length(w)), i -> concat(' ', substring(w, i, 1), '|')), '')"
        ).alias("r"),
    ).localCheckpoint(eager=True)

    # guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) where DuckDB's
    # generate_series(1, 0) is empty — single-symbol words must yield no
    # pairs, not an index-0 error
    pair_expr = (
        "CASE WHEN size(l) < 3 THEN array() ELSE "
        "transform(sequence(1, size(l) - 2), i -> "
        "struct(substring(element_at(l, i), 2) AS a, substring(element_at(l, i + 1), 2) AS b)) END"
    )
    out = []
    for it in range(_BPE_ITERS):
        pairs = (
            sym.select("freq", F.split("r", "\\|").alias("l"))
            .select("freq", F.explode(F.expr(pair_expr)).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("c"))
        )
        top = pairs.orderBy(F.col("c").desc(), "a", "b").limit(1).collect()[0]  # O(1) driver row
        out.append((it, top["a"], top["b"], top["a"] + top["b"], int(top["c"])))
        if it + 1 < _BPE_ITERS:
            pat = f" {top['a']}| {top['b']}|"
            rep = f" {top['a']}{top['b']}|"
            # map-only rewrite; localCheckpoint truncates the growing
            # lineage so iteration i+1 does not replay iterations 0..i
            sym = sym.select(
                "freq",
                F.expr(
                    f"replace(r, {_sql_str(pat)}, {_sql_str(rep)})"
                ).alias("r"),
            ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        out, "iteration int, left_sym string, right_sym string, merged string, pair_count long"
    ).orderBy("iteration")


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _bpe_ctes_with_final() -> str:
    """The bpe_train_merges CTE chain EXTENDED with the post-final-merge
    symbolization (w{N}) — shared by the tokenize oracle."""
    ctes = ["""words AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE len(w) > 0 AND w NOT LIKE '%|%' GROUP BY w
)""", """w0 AS (
  SELECT w, freq, array_to_string(list_transform(generate_series(1, len(w)), i -> ' ' || w[i:i] || '|'), '') AS r
  FROM words
)"""]
    for i in range(_BPE_ITERS):
        ctes.append(f"p{i} AS ({_bpe_pairs_sql(f'w{i}')})")
        ctes.append(f"t{i} AS (SELECT a, b, c FROM p{i} ORDER BY c DESC, a, b LIMIT 1)")
        ctes.append(f"""w{i + 1} AS (
  SELECT w, freq, replace(r,
      ' ' || (SELECT a FROM t{i}) || '| ' || (SELECT b FROM t{i}) || '|',
      ' ' || (SELECT a FROM t{i}) || (SELECT b FROM t{i}) || '|') AS r
  FROM w{i}
)""")
    return ",\n".join(ctes)


@register(
    "bpe_tokenize",
    oracle=f"""
WITH {_bpe_ctes_with_final()},
vocab AS (
  SELECT w, len(string_split(r, '|')) - 1 AS n_sym FROM w{_BPE_ITERS}
),
docw AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE len(w) > 0 AND w NOT LIKE '%|%'
)
SELECT d.doc_id,
       count(*) AS n_words,
       CAST(sum(v.n_sym) AS BIGINT) AS n_tokens_bpe,
       round(CAST(sum(v.n_sym) AS BIGINT) * 1.0 / count(*), 6) AS tokens_per_word
FROM docw d JOIN vocab v ON d.w = v.w
GROUP BY d.doc_id
ORDER BY d.doc_id
""",
    doc=f"BPE APPLICATION at corpus scale: the {_BPE_ITERS} merges learned by bpe_train_merges are applied to every word (map-only greedy rewrites over the word DIMENSION, then a broadcast vocabulary join back onto the doc stream), yielding per-document BPE token counts vs whitespace words — the tokenizer-accounting pass of a training-data pipeline. Train + apply share one plan; corpus text is scanned twice total (word counting, doc join), never per-merge.",
)
def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter((F.length("w") > 0) & (~F.col("w").contains("|")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    sym = words.select(
        "w",
        "freq",
        F.expr(
            "array_join(transform(sequence(1, length(w)), i -> concat(' ', substring(w, i, 1), '|')), '')"
        ).alias("r"),
    ).localCheckpoint(eager=True)
    pair_expr = (
        "CASE WHEN size(l) < 3 THEN array() ELSE "
        "transform(sequence(1, size(l) - 2), i -> "
        "struct(substring(element_at(l, i), 2) AS a, substring(element_at(l, i + 1), 2) AS b)) END"
    )
    for it in range(_BPE_ITERS):
        pairs = (
            sym.select("freq", F.split("r", "\\|").alias("l"))
            .select("freq", F.explode(F.expr(pair_expr)).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("c"))
        )
        top = pairs.orderBy(F.col("c").desc(), "a", "b").limit(1).collect()[0]
        pat, rep = f" {top['a']}| {top['b']}|", f" {top['a']}{top['b']}|"
        sym = sym.select(
            "w", "freq", F.expr(f"replace(r, {_sql_str(pat)}, {_sql_str(rep)})").alias("r")
        ).localCheckpoint(eager=True)
    vocab = sym.select("w", (F.size(F.split("r", "\\|")) - 1).alias("n_sym"))
    docw = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter((F.length("w") > 0) & (~F.col("w").contains("|")))
    return (
        docw.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_words"), F.sum("n_sym").alias("n_tokens_bpe"))
        .select(
            "doc_id",
            "n_words",
            "n_tokens_bpe",
            F.round(F.col("n_tokens_bpe") * 1.0 / F.col("n_words"), 6).alias("tokens_per_word"),
        )
        .orderBy("doc_id")
    )


def _mm_bytes_cte() -> str:
    from ..operators.multimodal import _CK_BASE, _CK_MOD

    return f"""
m AS (
  SELECT doc_id AS media_id,
         list_transform(string_split_regex(text, ''), c -> CAST(ord(c) AS BIGINT)) AS cs
  FROM documents
), mb AS (
  SELECT media_id, cs, CAST(len(cs) AS BIGINT) AS n,
         list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                     (acc, c) -> (acc * {_CK_BASE} + c) % {_CK_MOD}) AS checksum
  FROM m
)"""


@register(
    "multimodal_resize",
    oracle=f"""
WITH {_mm_bytes_cte()},
resized AS (
  SELECT media_id, checksum,
         list_transform(generate_series(0, 1023), j -> coalesce(cs[(j * n) // 1024 + 1], 0)) AS rs
  FROM mb
)
SELECT media_id,
       CAST(64 + (checksum & 1023) AS INTEGER) AS src_width,
       CAST(64 + ((checksum >> 10) & 1023) AS INTEGER) AS src_height,
       CAST(32 AS INTEGER) AS width, CAST(32 AS INTEGER) AS height,
       CAST(list_sum(list_transform(generate_series(0, 63), k -> rs[k * 16 + 1])) AS BIGINT) AS fsum0,
       CAST(list_sum(list_transform(generate_series(0, 63), k -> rs[k * 16 + 8])) AS BIGINT) AS fsum7,
       CAST(list_sum(list_transform(generate_series(0, 63), k -> rs[k * 16 + 16])) AS BIGINT) AS fsum15
FROM resized ORDER BY media_id
""",
    doc="Multimodal RESIZE stage (SURVEY §2.11): every media payload resampled to a fixed 32x32 target via the Arrow-batched map-only kernel (operators/multimodal.py::resize_media; deterministic nearest-neighbor byte resample standing in for PIL bilinear — real path soft-imports PIL). The oracle recomputes the resample + per-slot sums from the document bytes in SQL; at scale the stage is pure map work, and post-resize rows carry fixed-size features, never payloads.",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import documents_as_media, resize_media

    docs = load_table(spark, sf_dir, "documents").repartition(
        python_stage_partitions(spark)
    )
    out = resize_media(documents_as_media(docs), 32, 32, fake=True)
    return out.select(
        "media_id",
        "src_width",
        "src_height",
        "width",
        "height",
        F.element_at("feature_sums", 1).alias("fsum0"),
        F.element_at("feature_sums", 8).alias("fsum7"),
        F.element_at("feature_sums", 16).alias("fsum15"),
    ).orderBy("media_id")


@register(
    "multimodal_frames",
    oracle=f"""
WITH {_mm_bytes_cte()},
frames AS (
  SELECT media_id, n, cs,
         CAST(greatest(1, ceil(n / 64.0)) AS INTEGER) AS n_frames
  FROM mb
),
sampled AS (
  SELECT media_id, CAST(fi AS INTEGER) AS frame_idx, n_frames,
         cs[fi * 64 + 1 : fi * 64 + 64] AS fr
  FROM frames, LATERAL (SELECT unnest(generate_series(0, n_frames - 1)) AS fi)
  WHERE fi % 4 = 0
)
SELECT media_id, frame_idx, n_frames,
       CAST(len(fr) AS BIGINT) AS frame_bytes,
       CAST(coalesce(list_sum(list_transform(generate_series(0, 3), k -> coalesce(fr[k * 16 + 1], 0))), 0) AS BIGINT) AS fsum0,
       CAST(coalesce(list_sum(list_transform(generate_series(0, 3), k -> coalesce(fr[k * 16 + 8], 0))), 0) AS BIGINT) AS fsum7,
       CAST(coalesce(list_sum(list_transform(generate_series(0, 3), k -> coalesce(fr[k * 16 + 16], 0))), 0) AS BIGINT) AS fsum15
FROM sampled ORDER BY media_id, frame_idx
""",
    doc="Multimodal FRAME-SAMPLING stage (SURVEY §2.11): every 4th 64-byte 'frame' of each media payload emitted with per-frame slot features (operators/multimodal.py::sample_frames; deterministic demux standing in for ffmpeg). Map-only explode; output rows carry fixed-size features, never frame payloads — the post-sampling shuffle is feature-sized at any corpus scale. Oracle recomputes the frame slices + slot sums in SQL.",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import documents_as_media, sample_frames

    docs = load_table(spark, sf_dir, "documents").repartition(
        python_stage_partitions(spark)
    )
    out = sample_frames(documents_as_media(docs), every_n=4, frame_bytes=64)
    return out.select(
        "media_id",
        "frame_idx",
        "n_frames",
        "frame_bytes",
        F.element_at("feature_sums", 1).alias("fsum0"),
        F.element_at("feature_sums", 8).alias("fsum7"),
        F.element_at("feature_sums", 16).alias("fsum15"),
    ).orderBy("media_id", "frame_idx")


_PMI_TOP = 32  # vocabulary slice: top tokens by document frequency
_PMI_SCALE = 1_000_000


@register(
    "token_pmi",
    oracle=f"""
WITH words AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE len(w) > 0
),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM words),
top AS (
  SELECT w, count(*) AS df FROM words GROUP BY w
  ORDER BY df DESC, w LIMIT {_PMI_TOP}
),
tw AS (SELECT words.doc_id, words.w, top.df FROM words JOIN top ON words.w = top.w),
pairs AS (
  SELECT a.w AS w_a, b.w AS w_b, a.df AS df_a, b.df AS df_b, count(*) AS co
  FROM tw a JOIN tw b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY a.w, b.w, a.df, b.df
)
SELECT w_a, w_b, co,
       CAST(floor(ln((co * 1.0 * (SELECT n FROM nd)) / (df_a * 1.0 * df_b)) * {_PMI_SCALE}) AS BIGINT) AS pmi6
FROM pairs
WHERE co >= 5
ORDER BY w_a, w_b
""",
    doc=f"Collocation mining: document-level PMI over the top-{_PMI_TOP}-DF vocabulary slice — log(p(a,b)/(p(a)p(b))) at doc granularity, integer-scaled (floor x1e6) so the value is order-free and hash-exact. Scale shape: the vocabulary slice is broadcast-sized, the per-doc self-join is bounded by {_PMI_TOP} tokens/doc (never corpus-wide all-pairs), and the pair space caps at {_PMI_TOP}^2 rows. The classic corpus-statistics pass (phrase detection, stopword discovery) at any corpus size.",
)
def token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_docs = words.select("doc_id").distinct().count()  # O(1) driver scalar
    top = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "w")
        .limit(_PMI_TOP)
    )
    tw = words.join(F.broadcast(top), "w")
    a = tw.select("doc_id", F.col("w").alias("w_a"), F.col("df").alias("df_a"))
    b = tw.select("doc_id", F.col("w").alias("w_b"), F.col("df").alias("df_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("w_a") < F.col("w_b"))
        .groupBy("w_a", "w_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 5)
    )
    pmi6 = F.floor(
        F.log(F.col("co") * 1.0 * n_docs / (F.col("df_a") * 1.0 * F.col("df_b")))
        * _PMI_SCALE
    ).cast("long")
    return pairs.select("w_a", "w_b", "co", pmi6.alias("pmi6")).orderBy("w_a", "w_b")


# --------------------------------------------------------------------------
# TF-IDF keyword extraction (classic IR companion to bm25_search: per-doc
# top-k salient terms, the feature most labeling/routing pipelines hang off
# a curated corpus).
# --------------------------------------------------------------------------

_TFIDF_K = 5
_TFIDF_SCALE = 1_000_000


@register(
    "tfidf_topk_terms",
    oracle=f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (
  SELECT doc_id, w, count(*) AS tf FROM words WHERE len(w) > 0 GROUP BY doc_id, w
),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
scored AS (
  SELECT tf.doc_id, tf.w AS term, tf.tf, df.df,
         CAST(floor(tf.tf * ln(n.n_docs * 1.0 / df.df) * {_TFIDF_SCALE}) AS BIGINT) AS s6
  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, df, s6,
         row_number() OVER (PARTITION BY doc_id ORDER BY s6 DESC, term) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, s6
FROM ranked WHERE rank <= {_TFIDF_K}
ORDER BY doc_id, rank
""",
    doc=f"Per-document top-{_TFIDF_K} TF-IDF terms. Scale shape: one token shuffle to (doc, term) TF pairs (map-side combined), the DF table is vocabulary-sized and broadcast back, scores stay exact scaled integers (floor(tf*ln(N/df)*1e6) — identical double ln both engines), and the per-doc top-k is a doc-partitioned WindowGroupLimit, never a global sort. n_docs is one O(1) driver scalar (dsir precedent).",
)
def tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)  # feeds df, n_docs, and the score join
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select("doc_id").distinct().count()  # O(1) driver scalar
    s6 = F.floor(
        F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")) * _TFIDF_SCALE
    ).cast("long")
    w = Window.partitionBy("doc_id").orderBy(F.col("s6").desc(), F.col("term"))
    return (
        tf.join(F.broadcast(df), "w")
        .select("doc_id", F.col("w").alias("term"), "tf", "df", s6.alias("s6"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .select("doc_id", F.col("rank").cast("int").alias("rank"), "term", "tf", "df", "s6")
        .orderBy("doc_id", "rank")
    )
