"""Near-duplicate detection operators for LLM-data pipelines (SURVEY.md
§2.11): MinHash + LSH banding and SimHash, designed for 100 TB corpora.

MinHash-LSH (the scale path for near-dedup):
- K=64 signature slots: shingle ids are hashed JVM-side (codegen), then
  the K permutation minima come from ONE Arrow-batched numpy kernel per
  partition — higher-order ``transform`` lambdas are interpreted, not
  codegen'd, so K separate array passes lose to a single (shingles x K)
  vectorized kernel by 2-3x (A/B in BASELINE.md r10; bit-identical,
  test-pinned). Map-only stage either way: no shuffle.
- B=16 bands x R=4 rows: docs colliding on any band hash become candidate
  pairs (probability ~ 1-(1-j^R)^B — >0.97 for jaccard 0.7 at these
  parameters). Only candidates are verified, via signature agreement —
  all-pairs never materializes.
- Shuffle shape: one explode to B rows/doc, hash shuffle on (band, hash),
  pair join within buckets (hot buckets are bounded because identical
  band-hash means near-identical docs; exact-dup pre-dedup keeps them small).

SimHash: 64-bit fingerprint whose hamming distance approximates cosine
similarity of the token multiset; near-dups found by exact-match banding on
4x16-bit chunks (hamming <= 3 guarantee within a chunk match).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

MINHASH_K = 64
LSH_BANDS = 16
LSH_ROWS = MINHASH_K // LSH_BANDS

# the document frame's columns (the documents fixture and every ingest spool)
DOC_ID = "doc_id"
TEXT = "text"

_SHINGLE_W = 3

# Portable-hash family: Karp-Rabin modular arithmetic instead of xxhash64.
# Same LSH/banding structure, but every hash is reproducible in ANSI SQL
# (the DuckDB oracle recomputes them), at the cost of interpreted
# higher-order-function evaluation — use the xxhash64 default in production,
# the portable family where cross-engine verifiability matters.
PORTABLE_P = 2_147_483_647  # 2^31 - 1, also the minhash permutation modulus
PORTABLE_TOKEN_BASE = 257
PORTABLE_TOKEN_BASE2 = 263  # second independent family (simhash high bits)
PORTABLE_SHINGLE_BASE = 131
PORTABLE_BAND_BASE = 131


def kr_token_hash(w, base: int = PORTABLE_TOKEN_BASE):
    """Karp-Rabin hash of one token's characters, mod 2^31-1 — identical to
    ``list_reduce((acc*base + greatest(ord(c),0)) % P)`` in DuckDB. ascii('')
    is 0 in Spark while ord('') is -1 in DuckDB, hence the greatest() guard
    on the SQL side; here ascii already yields 0."""
    cs = F.split(w, "")
    return F.aggregate(
        cs, F.lit(0).cast("long"), lambda acc, c: (acc * base + F.ascii(c).cast("long")) % PORTABLE_P
    )


def portable_combine(parts: list, base: int = PORTABLE_BAND_BASE):
    """Modular polynomial combine of already-reduced (< P) values — the
    portable stand-in for xxhash64(a, b, ...). Every intermediate stays
    below 2^52, ANSI-overflow-safe."""
    acc = None
    for p in parts:
        acc = p if acc is None else (acc * base + p) % PORTABLE_P
    return acc


def hashed_shingles(docs: DataFrame, portable: bool = False) -> DataFrame:
    """(id, _sh array<long>) — distinct 64-bit shingle ids per document.

    Two staged projections, all JVM-side: hash every token ONCE into a
    bound column, then each shingle id is one more xxhash64 over the W
    consecutive token hashes. Staging matters twice over: shingle *strings*
    (concat_ws per window) cost ~4x more in the interpreted
    higher-order-function path, and an inline token-hash array would be
    re-evaluated per element_at — O(tokens^2) hashing. Documents shorter
    than one shingle are dropped (no signature is defined for them).

    ``portable=True`` swaps xxhash64 for the Karp-Rabin family so the DuckDB
    oracle can recompute identical shingle ids."""
    t = F.split(F.col(TEXT), " ")
    if portable:
        th = F.transform(t, lambda w: kr_token_hash(w))
        combine = lambda a, b, c: portable_combine([a, b, c], PORTABLE_SHINGLE_BASE)  # noqa: E731
    else:
        th = F.transform(t, lambda w: F.xxhash64(w))
        combine = F.xxhash64
    staged = docs.filter(F.size(t) >= _SHINGLE_W).select(F.col(DOC_ID), th.alias("_th"))
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("_th")) - (_SHINGLE_W - 1)),
            lambda i: combine(
                F.element_at(F.col("_th"), i),
                F.element_at(F.col("_th"), i + 1),
                F.element_at(F.col("_th"), i + 2),
            ),
        )
    )
    return staged.select(DOC_ID, sh.alias("_sh"))


_MERSENNE_P = 2_147_483_647  # 2^31 - 1


def _permutation_params(k: int = MINHASH_K, seed: int = 99991) -> list[tuple[int, int]]:
    """Deterministic universal-hash family parameters (a*h + b) mod P."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P)) for _ in range(k)]


def _make_signature_udf():
    """Arrow-vectorized MinHash kernel: all K permutation minima in ONE
    numpy pass per document. The previous form — K=64 separate
    ``transform``/``array_min`` higher-order expressions — is NOT
    whole-stage-codegen (Spark interprets HOF lambdas per element), so it
    paid 64 interpreted array passes per doc; the (shingles x K)
    broadcasted numpy kernel computes the same minima 2-3x faster
    end-to-end (interleaved A/B at sf0.1: 0.59-0.62 s vs 1.32-1.97 s per
    signature materialization), bit-identical output (test-pinned).
    Products stay within int64: h, a < 2^31 so h*a+b < 2^62."""
    from pyspark.sql.types import ArrayType, LongType

    params = _permutation_params()
    a_list = [a for a, _ in params]
    b_list = [b for _, b in params]

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(hs: pd.Series) -> pd.Series:
        import numpy as np

        a = np.array(a_list, dtype=np.int64)
        b = np.array(b_list, dtype=np.int64)
        out = []
        for arr in hs:
            h = np.asarray(arr, dtype=np.int64) % _MERSENNE_P
            out.append(((h[:, None] * a + b) % _MERSENNE_P).min(axis=0))
        return pd.Series(out)

    return _sig


_SIGNATURE_UDF = None


def minhash_signatures(docs: DataFrame, portable: bool = False) -> DataFrame:
    """(id, signature array<long>[K]). Documents shorter than one shingle
    are dropped (no signature is defined for them).

    Shingle hashing is JVM-side (``hashed_shingles``); the K permutation
    minima (a_i*h + b_i) mod (2^31-1) come from one Arrow-batched numpy
    kernel per partition (see ``_make_signature_udf`` for why that beats
    K higher-order expressions). The modular fold into [0, P) happens
    inside the kernel (numpy ``%`` on a positive divisor equals Spark
    ``pmod``)."""
    global _SIGNATURE_UDF
    if _SIGNATURE_UDF is None:
        _SIGNATURE_UDF = _make_signature_udf()
    return hashed_shingles(docs, portable=portable).select(
        DOC_ID, _SIGNATURE_UDF(F.col("_sh")).alias("signature")
    )


def band_hash_array(portable: bool = False):
    """``array<long>`` of the LSH_BANDS band hashes of the ``signature``
    column — the COMPACT (one value per band, one row per doc) form of
    the band key-space. ``band_rows`` is this plus an explode; the
    incremental index (streaming/dedup.py) stores exactly this array so
    each signature is written once, not once per band."""
    if portable:
        bhash_of = lambda b: F.aggregate(  # noqa: E731
            F.slice(F.col("signature"), b * LSH_ROWS + 1, LSH_ROWS),
            F.lit(0).cast("long"),
            lambda acc, s: (acc * PORTABLE_BAND_BASE + s) % PORTABLE_P,
        )
    else:
        bhash_of = lambda b: F.xxhash64(F.slice(F.col("signature"), b * LSH_ROWS + 1, LSH_ROWS))  # noqa: E731
    return F.transform(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)), lambda b: bhash_of(b))


def band_rows(signatures: DataFrame, portable: bool = False) -> DataFrame:
    """Explode signatures into LSH band rows (id, signature, band, bhash)
    — the join key-space for bucket collision in the batch self-join and
    the star edges.

    The posexplode argument is INLINE in a single select, never an
    aliased column from a separate projection: over a live (un-pinned)
    signature plan, InferFiltersFromGenerate turns an aliased-array
    Generate into a pushed-down ``size(arr) > 0`` filter whose
    substituted expression re-evaluates the Arrow signature UDF — a
    silent 2x on the MinHash kernel (caught by the r12 fingerprint regen:
    python_arrow 1 -> 2 on dedup_components_lsh; the inline form plans
    one ArrowEvalPython and no inferred filter)."""
    return signatures.select(
        DOC_ID, "signature", F.posexplode(band_hash_array(portable)).alias("band", "bhash")
    )


def explode_band_hashes(compact: DataFrame) -> DataFrame:
    """(id, signature, bhashes array) -> (id, signature, band, bhash):
    the codegen-cheap reconstruction of band rows from the COMPACT form.
    For stored or checkpointed compact rows only (the bhashes column is
    materialized, so the Generate-inferred size filter is a cheap
    predicate); live plans use band_rows — see its docstring for the
    UDF-duplication trap this split avoids."""
    return compact.select(DOC_ID, "signature", F.posexplode("bhashes").alias("band", "bhash"))


def minhash_lsh_pairs(
    signatures: DataFrame, portable: bool = False, min_est: float | None = None
) -> DataFrame:
    """Candidate pairs from LSH banding, scored by signature agreement.

    Returns (doc_a, doc_b, est_jaccard) for pairs colliding in >=1 band.

    ``min_est`` applies the caller's jaccard threshold BEFORE the
    pair-dedup exchange: a filter placed after this function sits above a
    first()-aggregate Catalyst cannot push through, so below-threshold
    pairs would ride the shuffle just to be dropped — pass the threshold
    here instead (identical output to filtering after; pinned by
    tests/test_dedup.py)."""
    # signatures feed both sides of the self-join — materialize once
    # (eager: lazy checkpoints can be raced into duplicate computation by
    # concurrent consumer jobs)
    signatures = signatures.localCheckpoint(eager=True)
    exploded = band_rows(signatures, portable)
    a = exploded.select(
        F.col(DOC_ID).alias("doc_a"), F.col("signature").alias("sig_a"), "band", "bhash"
    )
    b = exploded.select(
        F.col(DOC_ID).alias("doc_b"), F.col("signature").alias("sig_b"), "band", "bhash"
    )
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    # score BEFORE the pair-dedup groupBy (r12): est_jaccard is a pure
    # function of the two signatures, so it is identical for every band a
    # pair collides in — deduplicating the 8-byte score needs only the
    # score, while the previous first(sig_a)/first(sig_b) aggregate
    # dragged two 64-slot arrays (~1 KB/row) through the second exchange
    # to score once after. Cost moved: the zip_with agreement evaluates
    # per COLLISION row instead of per pair (collisions/pair = shared
    # bands, small for non-clone corpora; the clone regime routes through
    # lsh_star_edges, never this pair-listing path).
    scored = (
        a.join(b, ["band", "bhash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / float(MINHASH_K), 6).alias("est_jaccard"),
        )
    )
    if min_est is not None:
        scored = scored.filter(F.col("est_jaccard") >= min_est)
    return scored.groupBy("doc_a", "doc_b").agg(
        F.first("est_jaccard").alias("est_jaccard")
    )


def lsh_star_edges(signatures: DataFrame, portable: bool = False) -> DataFrame:
    """Spanning-STAR edges per LSH bucket: for each (band, bhash) bucket,
    one edge (bucket-min id, member) per other member — O(docs x bands)
    edges total, versus the O(sum_buckets |bucket|^2) of full within-bucket
    pairing (``minhash_lsh_pairs``).

    Connectivity is IDENTICAL to full bucket pairing: every bucket's
    candidate clique is replaced by a spanning star, so connected
    components over these edges equal components over the unverified
    candidate-pair graph (asserted in tests/test_dedup.py). This is the
    primitive that keeps dedup clustering LINEAR under K-fold corpus
    duplication — K clones of a document share every band hash, so full
    pairing emits ~K^2/2 edges per bucket while the star emits K-1; pair
    LISTING in that regime is inherently quadratic in its own output, but
    cluster/survivorship consumers only need connectivity.

    Returns (doc_a, doc_b), doc_a < doc_b, distinct. No per-pair signature
    verification: membership evidence is the full-band minhash agreement
    itself (recall-leaning; the verified pair path remains
    ``minhash_lsh_pairs`` + threshold).
    """
    from pyspark.sql import Window

    exploded = band_rows(signatures, portable).select(DOC_ID, "band", "bhash")
    # One shuffle on the bucket key; a mega-bucket (all K clones of a hot
    # doc) is a single wide-but-narrow task computing one min — skew-safe.
    root = F.min(DOC_ID).over(Window.partitionBy("band", "bhash"))
    return (
        exploded.select(root.alias("doc_a"), F.col(DOC_ID).alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def simhash_col():
    """64-bit SimHash as a JVM column expression: for each bit position,
    sign of the sum of +-1 contributions from each distinct token's hash."""
    toks = F.array_distinct(F.split(F.col(TEXT), " "))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def bit(i: int):
        # sum over tokens of (bit_i(hash) ? 1 : -1) > 0 -> bit set
        votes = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        return F.when(votes > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))

    sim = F.lit(0).cast("long")
    for i in range(64):
        sim = sim.bitwiseOR(F.shiftleft(bit(i), i))
    return sim


SIMHASH_PORTABLE_BITS = 62  # 2 x 31-bit Karp-Rabin families


def simhash_portable_fingerprints(docs: DataFrame) -> DataFrame:
    """(id, simhash) with a 62-bit portable fingerprint: bits 0-30 vote on
    one Karp-Rabin family, bits 31-61 on an independent-base family — every
    step reproducible in ANSI SQL. Tokens explode to rows so the 62 vote
    sums run as one JVM hash aggregation instead of 62 interpreted
    array-aggregate passes per document."""
    toks = F.array_distinct(F.split(F.col(TEXT), " "))
    ex = docs.select(F.col(DOC_ID), F.explode(toks).alias("_w")).select(
        DOC_ID,
        kr_token_hash(F.col("_w"), PORTABLE_TOKEN_BASE).alias("_h1"),
        kr_token_hash(F.col("_w"), PORTABLE_TOKEN_BASE2).alias("_h2"),
    )

    def vote(i: int):
        src = F.col("_h1") if i < 31 else F.col("_h2")
        bit = F.shiftright(src, i % 31).bitwiseAND(F.lit(1))
        return F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"_v{i}")

    agg = ex.groupBy(DOC_ID).agg(*[vote(i) for i in range(SIMHASH_PORTABLE_BITS)])
    sim = F.lit(0).cast("long")
    for i in range(SIMHASH_PORTABLE_BITS):
        b = F.when(F.col(f"_v{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        sim = sim.bitwiseOR(F.shiftleft(b, i))
    return agg.select(DOC_ID, sim.alias("simhash"))


def simhash_near_dups(docs: DataFrame, portable: bool = False) -> DataFrame:
    """Near-dup pairs by SimHash banding: 4x16-bit chunks, candidates share
    >=1 exact chunk; scored by full hamming distance (JVM bit ops)."""
    if portable:
        sh = simhash_portable_fingerprints(docs)
    else:
        sh = docs.select(F.col(DOC_ID), simhash_col().alias("simhash"))
    # Both sides of the banding self-join consume `sh`; without a persist
    # barrier the token-explode + 62-vote aggregation is inlined into each
    # side and computes twice. The fingerprint frame is (id, int64) — tiny.
    sh = sh.persist()
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("chash"),
            )
            for c in range(4)
        ]
    )
    exploded = sh.select(DOC_ID, "simhash", F.explode(chunks).alias("cc")).select(
        DOC_ID, "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.chash").alias("chash")
    )
    a = exploded.select(F.col(DOC_ID).alias("doc_a"), F.col("simhash").alias("sim_a"), "chunk", "chash")
    b = exploded.select(F.col(DOC_ID).alias("doc_b"), F.col("simhash").alias("sim_b"), "chunk", "chash")
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["chunk", "chash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
    )
