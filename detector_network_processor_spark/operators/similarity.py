"""Embedding similarity search (SURVEY.md §2.11): brute-force cosine top-k
baseline (plans/llm.py::cosine_topk, oracle-checked) and the scale paths
here — multi-table random-hyperplane LSH and IVF-style coarse quantization.

Scale rationale: brute force is O(queries x corpus) dot products — fine for
a broadcastable query set, not for corpus x corpus. LSH prunes the corpus
per query to matching buckets; multi-probe (hamming-adjacent buckets)
trades recall for fan-out; multiple tables trade memory for recall.

Bucket projection runs as ONE Arrow-batched matrix multiply per batch
(pandas_udf + numpy) — a per-plane column-expression formulation compiles
48 aggregate expressions over 64-element literal arrays and is ~50x slower.
The hyperplanes derive from a fixed seed, so every executor computes
identical planes with no driver-side state. Candidate (query, neighbor)
pairs are deduplicated BEFORE scoring so each dot product is paid once.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from ..config import python_stage_partitions
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

LSH_SEED = 1234567
LSH_PLANES = 6  # hyperplanes per table: 2^6 buckets
LSH_TABLES = 8

# the embeddings frame's columns (the embeddings fixture)
VEC_ID = "vec_id"
VEC = "embedding"


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def lcg_planes(n_rows: int, dim: int) -> np.ndarray:
    """Deterministic hyperplanes in [-1, 1) from a Lehmer-style integer mix.

    Random-hyperplane LSH only needs directionally-spread planes, not
    Gaussian ones; integer-derived planes make the whole bucket assignment
    reproducible OUTSIDE this process — the DuckDB oracle recomputes the
    identical matrix from the same formula (plans/llm.py cosine_topk_lsh
    oracle), which a seeded RNG cannot offer cross-engine."""
    m = 2147483647
    idx = np.arange(n_rows * dim, dtype=np.int64) + 1 + LSH_SEED
    h = (idx * 48271) % m
    h = (h * 16807) % m
    return ((h.astype(np.float64) / 2147483647.0) * 2.0 - 1.0).reshape(n_rows, dim)


def _bucket_udf(dim: int):
    weights = (1 << np.arange(LSH_PLANES)).astype(np.int64)

    @pandas_udf(ArrayType(LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        planes = lcg_planes(LSH_TABLES * LSH_PLANES, dim)
        v = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
        bits = (v @ planes.T) > 0  # (n, tables*planes)
        per_table = [
            bits[:, t * LSH_PLANES : (t + 1) * LSH_PLANES].astype(np.int64) @ weights
            for t in range(LSH_TABLES)
        ]
        arr = np.stack(per_table, axis=1)  # (n, tables)
        return pd.Series(list(arr))

    return buckets


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k neighbors per query via multi-table hyperplane LSH.

    Returns (query_id, neighbor_id, rank, sim). Similarities are exact for
    every surfaced candidate — only the candidate set is approximate.

    Note: on uniform-random embeddings (the driver fixture) nearest
    neighbors are barely closer than random vectors — the adversarial case
    for LSH; LSH_PLANES x LSH_TABLES are tuned for recall ~0.8 at ~2x pruning there.
    Clustered real-world embeddings prune far harder at the same recall.
    """
    bucketer = _bucket_udf(dim)

    c = corpus.select(F.col(VEC_ID).alias("neighbor_id"), F.col(VEC).alias("cvec"))
    c_idx = c.select(
        "neighbor_id", F.posexplode(bucketer("cvec")).alias("table", "bucket")
    )

    q = queries.select(F.col(VEC_ID).alias("query_id"), F.col(VEC).alias("qvec"))
    q_idx = q.select("query_id", F.posexplode(bucketer("qvec")).alias("table", "bucket"))
    # single-bit multiprobe: each query also probes its LSH_PLANES
    # hamming-adjacent buckets per table
    flips = F.array(F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(LSH_PLANES)])
    q_idx = q_idx.select("query_id", "table", F.explode(flips).alias("bucket"))

    candidates = q_idx.join(c_idx, ["table", "bucket"]).select("query_id", "neighbor_id").distinct()

    qe = q.select("query_id", _as_double(F.col("qvec")).alias("qe")).withColumn(
        "qnorm", F.sqrt(dot(F.col("qe"), F.col("qe")))
    )
    ce = c.select("neighbor_id", _as_double(F.col("cvec")).alias("ce")).withColumn(
        "cnorm", F.sqrt(dot(F.col("ce"), F.col("ce")))
    )
    scored = (
        candidates.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qe"), F.col("ce")) / (F.col("qnorm") * F.col("cnorm"))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def cosine_threshold_join(
    emb: DataFrame,
    threshold: float,
    n_pivots: int = 16,
) -> DataFrame:
    """EXACT all-pairs cosine-threshold self-join (vec_a < vec_b, sim >
    threshold) without an all-pairs broadcast nested-loop plan.

    Metric pivot pruning (classic pivot-based ε-join; complete by the
    triangle inequality on the angular metric, NOT a recall-probabilistic
    LSH scheme — qualifying fixture pairs sit at sim 0.400009 vs the 0.4
    threshold, where any hashing candidate generator loses pairs):

    1. assign every vector to its most-aligned pivot (broadcast join
       against ``n_pivots`` unit pivots — tiny);
    2. per-pivot angular radius ``r_p = max angle(member, pivot)``
       (one tiny agg);
    3. a pivot PAIR (p, q) can contain a qualifying pair only if
       ``angle(p, q) - r_p - r_q <= acos(threshold)`` — prune the k×k
       pair grid driver-free (k² rows, broadcast);
    4. candidates = hash equi-join of the two assigned sides on the
       surviving (cluster_a, cluster_b) grid; exact rescore.

    The executed plan broadcasts only k-row/k²-row tables; the big join is
    a shuffled equi-join on pivot id (asserted in test_plan_shapes.py). At
    100 TB: completeness is unconditional; the PRUNING rate follows the
    data's cluster geometry — near-dup corpora (tight clusters, high
    threshold) drop almost all of the k² grid, while adversarially uniform
    vectors at low threshold degrade to the full grid, i.e. a distributed
    block-matrix sweep with work spread evenly across executors — the
    correct dense fallback, vs. the old plan's full-table broadcast that
    simply cannot ship at that scale.

    The rescore expression is bit-identical to the brute-force formula
    (``dot(va,vb)/(na*nb)`` left-fold over raw double arrays), so results
    hash-match the exact oracle.
    """
    eps = 1e-9  # conservative slack: never let fp rounding drop a pair
    theta = float(np.arccos(min(max(threshold, -1.0), 1.0)))
    spark = emb.sparkSession

    v = emb.select(F.col(VEC_ID).alias("vid"), _as_double(F.col(VEC)).alias("v"))

    # Deterministic pivots: the first n_pivots vectors, unit-normalized,
    # collected to the driver — O(k · dim) doubles, same driver-cost class
    # as the sessionizer's per-partition boundary stats. (Production: a
    # sample or kmeans_refine centroids; pivot CHOICE only affects pruning,
    # never correctness.)
    prows = v.orderBy("vid").limit(n_pivots).collect()
    P = np.stack([np.asarray(r["v"], dtype=np.float64) for r in prows])
    P /= np.linalg.norm(P, axis=1, keepdims=True)  # (k, dim) unit pivots
    k = P.shape[0]

    # 1. most-aligned pivot + angle, one Arrow batch matmul per batch (the
    # per-pivot-column formulation pays k interpreted fold expressions).
    @pandas_udf("pid long, ang double")
    def assign(vecs: pd.Series) -> pd.DataFrame:
        M = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        cos = np.clip(M @ P.T, -1.0, 1.0)  # (n, k)
        pid = np.argmax(cos, axis=1)
        ang = np.arccos(cos[np.arange(len(pid)), pid])
        return pd.DataFrame({"pid": pid.astype(np.int64), "ang": ang})

    assigned = v.withColumn("a", assign("v")).select(
        "vid", "v", F.col("a.pid").alias("pid"), F.col("a.ang").alias("ang")
    )
    # Reused by both join sides and the radius agg — persist so the scan +
    # assignment runs once (at 100 TB this is the materialized "index").
    assigned = assigned.persist()

    # 2.+3. per-pivot angular radii (k rows to the driver), then the
    # surviving UNORDERED pair grid (pa <= pb) computed in plain numpy —
    # k² is driver trivia, and keeping it out of the plan keeps the plan
    # join-only.
    radii = np.zeros(k)
    for r in assigned.groupBy("pid").agg(F.max("ang").alias("r")).collect():
        radii[int(r["pid"])] = float(r["r"])
    pp_ang = np.arccos(np.clip(P @ P.T, -1.0, 1.0))
    keep = pp_ang - radii[:, None] - radii[None, :] <= theta + eps
    grid = [(int(i), int(j)) for i, j in zip(*np.nonzero(keep)) if i <= j]
    pairs_grid = spark.createDataFrame(grid, "pa long, pb long")
    cross_grid = spark.createDataFrame(
        [(a_, b_) for a_, b_ in grid if a_ != b_], "pa long, pb long"
    )

    # 4. fan each vector out to its surviving partner CELLS (one row per
    # cell, not per candidate pair — shuffle volume is n·|partners|·dim,
    # not n²·dim), then score each cell with ONE numpy matmul. Pairs
    # inside a cell with pa == pb are deduplicated by vid order; a
    # cross-cluster pair appears in exactly one cell since pa <= pb.
    side_a = (
        assigned.withColumnRenamed("pid", "pa")
        .join(F.broadcast(pairs_grid), "pa")
        .select("pa", "pb", F.lit(0).alias("side"), "vid", "v")
    )
    side_b = (
        assigned.withColumnRenamed("pid", "pb")
        .join(F.broadcast(cross_grid), "pb")
        .select("pa", "pb", F.lit(1).alias("side"), "vid", "v")
    )

    def score_cell(key, pdf):
        same = key[0] == key[1]
        a_rows = pdf[pdf["side"] == 0]
        ids_a = a_rows["vid"].to_numpy(dtype=np.int64)
        if len(ids_a) == 0:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "sim": []})
        Ma = np.stack([np.asarray(x, dtype=np.float64) for x in a_rows["v"]])
        if same:
            ids_b, Mb = ids_a, Ma
        else:
            b_rows = pdf[pdf["side"] == 1]
            ids_b = b_rows["vid"].to_numpy(dtype=np.int64)
            if len(ids_b) == 0:
                return pd.DataFrame({"vec_a": [], "vec_b": [], "sim": []})
            Mb = np.stack([np.asarray(x, dtype=np.float64) for x in b_rows["v"]])
        na = np.sqrt(np.einsum("ij,ij->i", Ma, Ma))
        nb = np.sqrt(np.einsum("ij,ij->i", Mb, Mb))
        S = (Ma @ Mb.T) / np.outer(na, nb)
        mask = S > threshold
        if same:
            mask &= ids_a[:, None] < ids_b[None, :]
        ii, jj = np.nonzero(mask)
        va, vb = ids_a[ii], ids_b[jj]
        return pd.DataFrame(
            {"vec_a": np.minimum(va, vb), "vec_b": np.maximum(va, vb), "sim": S[ii, jj]}
        )

    # Pin the shuffle width: the cells are small in BYTES but each costs a
    # CPU-bound matmul — AQE's byte-size coalescing would serialize them
    # (same lever as the coincidence replay kernel).
    n_part = python_stage_partitions(spark)
    return (
        side_a.unionByName(side_b)
        .repartition(n_part, "pa", "pb")
        .groupBy("pa", "pb")
        .applyInPandas(score_cell, "vec_a long, vec_b long, sim double")
        .select("vec_a", "vec_b", F.round("sim", 6).alias("sim"))
    )


def ivf_assign(corpus: DataFrame, centroids: DataFrame, dim: int) -> DataFrame:
    """IVF coarse assignment: nearest centroid per vector (broadcast the
    centroid table; at 100 TB this is the standard partition-pruned ANN
    layout — vectors co-partitioned by centroid id).

    centroids: (centroid_id, centroid array<double>).
    """
    return _nearest_centroids(corpus, centroids, 1).select(
        VEC_ID, "centroid_id", F.col("e").alias(VEC)
    )


def _nearest_centroids(vecs: DataFrame, centroids: DataFrame, n: int) -> DataFrame:
    """(id, centroid_id, e) for each vector's n nearest centroids
    (L2; ties broken by centroid_id). Centroid table is broadcast — the
    cross product never shuffles the big side."""
    c = vecs.select(F.col(VEC_ID), _as_double(F.col(VEC)).alias("e"))
    cent = centroids.select(
        F.col("centroid_id"), _as_double(F.col("centroid")).alias("ce")
    )
    joined = c.join(F.broadcast(cent))
    d2 = F.aggregate(
        F.zip_with("e", "ce", lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )
    w = Window.partitionBy(VEC_ID).orderBy(F.asc("d2"), F.asc("centroid_id"))
    return (
        joined.withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select(VEC_ID, "centroid_id", "e")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    dim: int,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors live in inverted lists
    keyed by nearest centroid; each query scores ONLY the lists of its
    ``nprobe`` nearest centroids. Returns (query_id, neighbor_id, rank,
    sim) with exact cosine similarity for every surfaced candidate.

    100 TB shape: the corpus is hash-partitioned (or directory-partitioned,
    io.py::write_partitioned) by centroid_id once at ingest; a query batch
    probes nprobe/n_lists of the data — the scan itself is pruned, which
    no LSH-over-full-scan variant achieves. The candidate join is a hash
    equi-join on centroid_id; the broadcast centroid table is tiny
    (n_lists x dim doubles)."""
    lists = _nearest_centroids(corpus, centroids, 1).select(
        F.col(VEC_ID).alias("neighbor_id"), "centroid_id", F.col("e").alias("ce")
    )
    probes = _nearest_centroids(queries, centroids, nprobe).select(
        F.col(VEC_ID).alias("query_id"), "centroid_id", F.col("e").alias("qe")
    )
    sim = dot(F.col("qe"), F.col("ce")) / (
        F.sqrt(dot(F.col("qe"), F.col("qe"))) * F.sqrt(dot(F.col("ce"), F.col("ce")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        probes.join(lists, "centroid_id")
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — the memory-side half of IVF-PQ ANN
# --------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_K = 16  # codes per subspace


def pq_encode(corpus: DataFrame, codebook, dim: int) -> DataFrame:
    """(id, codes array<int>[M]): each vector compressed to M sub-space
    codebook indices (argmin L2 per subspace, ties to the lower code).

    ``codebook`` is an (M, K, dim/M) numpy array — tiny (M*K*dim floats),
    shipped in the UDF closure like a broadcast variable. The encode pass
    is a map-only Arrow stage: at 100 TB this is the compression sweep
    that turns dim*4 bytes/vector into M bytes, after which the whole ANN
    index fits in a fraction of the footprint (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011).

    Distance accumulation runs dimension-by-dimension in a fixed
    left-to-right loop — bit-identical to the SQL oracle's list_reduce
    fold (numpy's pairwise .sum() would diverge in ulps and flip argmin
    ties cross-engine).
    """
    sub = dim // PQ_M
    cb = np.asarray(codebook, dtype=np.float64)  # (M, K, sub)

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # empty Arrow batch -> 1-D empty np.array, 2-D slice would raise
            return pd.Series([], dtype=object)
        M = np.array([np.asarray(v, dtype=np.float64) for v in vecs])  # (n, dim)
        out = np.empty((M.shape[0], PQ_M), dtype=np.int32)
        for m in range(PQ_M):
            s = M[:, m * sub:(m + 1) * sub]  # (n, sub)
            d2 = np.zeros((M.shape[0], PQ_K))
            for d in range(sub):  # fixed-order fold, matches the oracle
                diff = s[:, d:d + 1] - cb[m, :, d][None, :]
                d2 += diff * diff
            out[:, m] = np.argmin(d2, axis=1)  # ties -> lowest code
        return pd.Series(list(out))

    return corpus.select(F.col(VEC_ID), encode(_as_double(F.col(VEC))).alias("codes"))


def _lut_udf(codebook, dim: int):
    """Arrow kernel: each query's M x K table of sub-space squared
    distances to the codes, in pq_encode's fixed-order fold."""
    sub = dim // PQ_M
    cb = np.asarray(codebook, dtype=np.float64)

    @pandas_udf("array<double>")
    def lut(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # empty Arrow batch guard (same as pq_encode)
            return pd.Series([], dtype=object)
        Q = np.array([np.asarray(v, dtype=np.float64) for v in vecs])  # (q, dim)
        out = np.empty((Q.shape[0], PQ_M * PQ_K))
        for m in range(PQ_M):
            s = Q[:, m * sub:(m + 1) * sub]
            d2 = np.zeros((Q.shape[0], PQ_K))
            for d in range(sub):
                diff = s[:, d:d + 1] - cb[m, :, d][None, :]
                d2 += diff * diff
            out[:, m * PQ_K:(m + 1) * PQ_K] = d2
        return pd.Series(list(out))

    return lut


def _adc():
    """ADC distance of the ``codes`` column under the ``lut`` column:
    ((t0 + t1) + t2) + t3 — explicit association so both engines add in
    the same order."""
    adc = None
    for m in range(PQ_M):
        term = F.element_at(
            F.col("lut"), m * PQ_K + F.element_at(F.col("codes"), m + 1) + 1
        )
        adc = term if adc is None else adc + term
    return adc


def pq_topk(queries: DataFrame, codes: DataFrame, codebook, dim: int, k: int = 5) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query computes
    its M x K lookup table of sub-space distances ONCE (Arrow stage over
    the tiny query frame), the LUT rides a broadcast join onto the code
    table, and the approximate distance is M element_at's + M-1 additions
    per candidate — pure whole-stage-codegen arithmetic, no per-candidate
    float vectors. Shuffle shape: broadcast(queries) x codes scan, then
    WindowGroupLimit top-k — the corpus is never re-shuffled.

    Returns (query_id, neighbor_id, rank, adc_d2)."""
    lut = _lut_udf(codebook, dim)
    q = queries.select(F.col(VEC_ID).alias("query_id"), lut(_as_double(F.col(VEC))).alias("lut"))
    c = codes.select(F.col(VEC_ID).alias("neighbor_id"), "codes")
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        c.join(F.broadcast(q))
        .withColumn("adc_d2", _adc())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("adc_d2", 6).alias("adc_d2"))
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook,
    dim: int,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-PQ: the full compressed-ANN composition — coarse inverted lists
    prune WHICH candidates are scored (ivf), PQ/ADC codes decide HOW
    cheaply (pq). At 100 TB this is the only layout in this family where
    both the scan (centroid-pruned partitions) and the per-candidate cost
    (M byte codes + LUT lookups) shrink together; the raw vectors never
    move after the encode pass.

    Shuffle shape: codes⋈lists is an equi-join on the corpus id (both
    derive from the same scan), candidates hash-join probes on
    centroid_id, the per-query LUT table broadcasts, and top-k is
    WindowGroupLimit."""
    lists = _nearest_centroids(corpus, centroids, 1).select(
        F.col(VEC_ID).alias("neighbor_id"), "centroid_id"
    )
    codes = pq_encode(corpus, codebook, dim).withColumnRenamed(VEC_ID, "neighbor_id")
    cand = lists.join(codes, "neighbor_id")
    lut = _lut_udf(codebook, dim)
    probes = _nearest_centroids(queries, centroids, nprobe).select(
        F.col(VEC_ID).alias("query_id"), "centroid_id"
    )
    qlut = queries.select(
        F.col(VEC_ID).alias("query_id"), lut(_as_double(F.col(VEC))).alias("lut")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        probes.join(cand, "centroid_id")
        .join(F.broadcast(qlut), "query_id")
        .withColumn("adc_d2", _adc())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("adc_d2", 6).alias("adc_d2"))
    )


def pq_train(corpus: DataFrame, dim: int, iters: int = 10):
    """Distributed per-subspace Lloyd training of the PQ codebook.

    Returns (codebook (M, K, dim/M) numpy array, per-iteration mean
    quantization error history). Each iteration is ONE map pass: an Arrow
    batch kernel assigns every subvector to its nearest code and emits
    per-(m, c) partial sums + counts (M*K rows per batch — the shuffle
    carries partials, never vectors), a tiny groupBy reduces them, and the
    M*K*sub new centroid values (a few KB) come back to the driver for the
    next broadcast. Empty cells keep their previous centroid; the first
    codebook is the first PQ_K vectors by id. This is the
    codebook-training half Jégou et al. assume; the fixed-seed codebook in
    the pq_topk driver query exists so the ORACLE stays exact — production
    encoding should train first.
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    sub = dim // PQ_M
    first = corpus.orderBy(VEC_ID).limit(PQ_K).select(VEC).collect()
    flat = np.array([r[VEC] for r in first], dtype=np.float64)
    cb = np.stack([flat[:, m * sub:(m + 1) * sub] for m in range(PQ_M)])

    out_schema = StructType(
        [
            StructField("m", IntegerType()),
            StructField("c", IntegerType()),
            StructField("cnt", LongType()),
            StructField("err", DoubleType()),
            StructField("sums", ArrayType(DoubleType())),
        ]
    )
    history = []
    vecs_only = corpus.select(VEC)
    for _ in range(iters):
        cb_bc = cb  # captured by closure, shipped once per stage

        def partials(batches):
            for pdf in batches:
                M = np.array([np.asarray(v, dtype=np.float64) for v in pdf[VEC]])
                if M.size == 0:
                    continue
                rows = {"m": [], "c": [], "cnt": [], "err": [], "sums": []}
                for m in range(PQ_M):
                    s = M[:, m * sub:(m + 1) * sub]
                    d2 = ((s[:, None, :] - cb_bc[m][None, :, :]) ** 2).sum(-1)
                    a = np.argmin(d2, axis=1)
                    best = d2[np.arange(len(a)), a]
                    for c in range(PQ_K):
                        mask = a == c
                        if not mask.any():
                            continue
                        rows["m"].append(m)
                        rows["c"].append(c)
                        rows["cnt"].append(int(mask.sum()))
                        rows["err"].append(float(best[mask].sum()))
                        rows["sums"].append(s[mask].sum(axis=0).tolist())
                yield pd.DataFrame(rows)

        agg = (
            vecs_only.mapInPandas(partials, out_schema)
            .select("m", "c", "cnt", "err", F.posexplode("sums").alias("d", "x"))
            .groupBy("m", "c", "d")
            .agg(F.sum("cnt").alias("cnt"), F.sum("err").alias("err"), F.sum("x").alias("sx"))
            .collect()
        )
        counts = np.zeros((PQ_M, PQ_K))
        sums = np.zeros((PQ_M, PQ_K, sub))
        err_tot, n_tot = 0.0, 0
        for r in agg:
            counts[r["m"], r["c"]] = r["cnt"]
            sums[r["m"], r["c"], r["d"]] = r["sx"]
            if r["d"] == 0:
                err_tot += r["err"]
                n_tot += r["cnt"]
        history.append(err_tot / max(n_tot, 1))
        nz = counts > 0
        cb = np.where(nz[:, :, None], sums / np.maximum(counts, 1)[:, :, None], cb)
    return cb, history
