"""Distributed connected components over a pair/edge table (SURVEY.md §2.11:
"connected components to pick canonical docs" — the step after near-dup pair
generation that turns pairwise matches into dedup clusters with one canonical
document each).

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014 — public paper).
Each round is two hash aggregations + joins on the node id; the edge set
monotonically contracts toward per-component stars rooted at the minimum
node id, converging in O(log^2 n) rounds (2-4 in practice for the short
chains near-dup graphs produce).

Why this shape at 100 TB:
- No driver-side graph: edges stay a DataFrame throughout; the per-round
  driver work is ONE 1-row observed metric (the convergence signature,
  folded into the contraction job itself via ``observe`` — r13), same
  O(1)-rows-collected posture as the k-means refinement loop and zero
  extra passes over the edge set.
- Each round's shuffle is keyed on node id — pure hash partitioning, no
  broadcast of anything unbounded, no collect_list of neighbor sets (the
  min-neighbor is a window MIN, which buffers one node's rows spillably but
  never materializes an adjacency array column).
- Lineage is cut every round with an eager localCheckpoint — without it the
  plan tree doubles per iteration and Catalyst analysis time explodes
  (the GraphX/GraphFrames iterative-algorithm pattern).

Round shape (r12 optimization): each star is ONE exchange + one sorted
window pass emitting its edges as a per-row projection — no self-join, no
groupBy-then-join-back. The previous join-based form (groupBy min + join
back + distinct per star) planned 11 Exchanges and 3 SortMergeJoins per
round because ``_small_star`` referenced the un-materialized large-star
output three times (join stream side, min aggregate, root-edge emission),
so Catalyst executed the whole large-star subtree three times per round;
the window form computes each star exactly once — 3 Exchanges, 0 joins per
round (plan captures: plans/r12/dedup_components_{before,after}.txt).
Interleaved sf0.1 A/B: bit-identical components and round count, every
window run faster than its paired join run (min 1.965 -> 1.594 s on the
isolated CC stage). Skew note: the hot node's rows land on one task under
BOTH shapes (the join also co-locates its key); the window additionally
buffers that one group, but via a spillable sorter, and the per-star
shuffled volume drops ~3x — the right trade at scale. Measured (r13,
receipt plans/r13/skew_receipt.jsonl): a celebrity node of degree 10^6
completes in-memory and FASTER than the join form (45 vs 55 s, 1.5x fewer
bytes), and with the sorter's spill threshold forced below the hub degree the
spill path engages (1.8 GB) and completes at par wall, bit-identical —
graceful degradation, no cliff, so no salted two-phase-min fallback is
needed (that rewrite — partial min on (u, pmod(xxhash64(v), k)) then min
on u — remains the escape hatch if a real deployment ever cliffs).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _orient(edges: DataFrame) -> DataFrame:
    """Canonical oriented edge set: (a, b) with a > b, deduped, no loops."""
    return (
        edges.select(
            F.greatest("a", "b").alias("a"),
            F.least("a", "b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's min neighborhood
    element: for each node u with symmetric neighborhood N(u), emit
    (v, min(N(u) ∪ {u})) for all v ∈ N(u), v > u.

    One exchange (the window's hash partitioning on u) + one sorted window
    pass; the per-(u,v) emission is a plain projection. No inter-star
    distinct: duplicates of the same (v, m) from different u's ride to
    ``_small_star``, whose min-window is duplicate-insensitive and whose
    final distinct removes them — one full exchange saved per round for a
    bounded (<= |sym|) intermediate inflation."""
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    w = Window.partitionBy("u")
    return (
        sym.select("u", "v", F.least(F.min("v").over(w), F.col("u")).alias("m"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """On the (a > b)-oriented set: for each a, link a and all its smaller
    neighbors to the minimum one: with m = min neighbor of a, emit (b, m)
    for b ∈ N(a) \\ {m} plus (a, m).

    Single-pass emission: each row yields exactly one edge — the root edge
    (a, m) from rows where b == m (every group contains its min row; the
    final distinct collapses duplicate roots), the leaf edge (b, m)
    otherwise. This replaces the join-based form whose three references to
    the incoming (un-materialized) large-star DataFrame executed that whole
    subtree three times per round."""
    w = Window.partitionBy("a")
    j = edges.select("a", "b", F.min("b").over(w).alias("m"))
    return (
        j.select(
            F.when(F.col("b") == F.col("m"), F.col("a")).otherwise(F.col("b")).alias("a"),
            F.col("m").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _signature_cols() -> list:
    """Order-independent multiset signature of an (a, b) edge set.

    xor-fold: order-independent and ANSI-overflow-free (the edge set is
    distinct, so the xor is a true set signature paired with the count)."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)).alias("h"),
    ]


def _signature(edges: DataFrame) -> tuple[int, int]:
    """The signature as a standalone 1-row job (kept for tests/tools; the
    contraction loop folds the same aggregate into its checkpoint action
    via ``_ckpt_with_signature``)."""
    row = edges.agg(*_signature_cols()).collect()[0]
    return int(row["n"]), int(row["h"])


def _ckpt_with_signature(df: DataFrame):
    """Eager tracked checkpoint + the edge-set signature of the SAME
    materialization, folded into the checkpoint job via ``observe`` (r13;
    VERDICT r12 #6 "fold the convergence signature into the contraction
    job"). CollectMetrics is a pass-through node computed by accumulators
    during the one materialization action, so each round runs ONE job
    instead of checkpoint + a separate full-scan signature aggregate —
    locally that halves the per-round job count; at scale it removes a full
    O(edges) pass per round. Metric values are identical to the standalone
    ``_signature`` job by construction (same aggregate expressions over the
    same rows; probed and pinned by test_components_observe_signature)."""
    from pyspark.sql import Observation

    from ..session import eager_ckpt_tracked

    obs = Observation()
    ck, handles = eager_ckpt_tracked(df.observe(obs, *_signature_cols()))
    row = obs.get  # already available: the eager checkpoint ran the action
    return ck, handles, (int(row["n"]), int(row["h"]))


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_rounds: int = 30
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; ``component``
    is the minimum node id of its connected component (the canonical-doc
    convention). Isolated nodes never appear in an edge table — callers map
    them to themselves with a left join + coalesce."""
    from ..session import release_ckpts

    e, e_h, sig = _ckpt_with_signature(
        _orient(
            edges.select(F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b"))
        )
    )
    for _ in range(max_rounds):
        # the new checkpoint's materialization is the previous round's edge
        # set's last read — release its storage deterministically (r12;
        # DataFrame.unpersist does not cover localCheckpoint blocks, so
        # without this every round's O(edges) state stays live until a GC
        # happens to run the ContextCleaner). The convergence signature
        # rides the SAME action (observe fold, r13) — one job per round.
        nxt, nxt_h, new_sig = _ckpt_with_signature(_small_star(_large_star(e)))
        release_ckpts(e_h)
        e, e_h = nxt, nxt_h
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"connected_components did not converge in {max_rounds} rounds")
    # Converged state is per-component stars (leaf -> min-root); the roots
    # themselves belong to their own component.
    leaves = e.select(F.col("a").alias("node"), F.col("b").alias("component"))
    roots = e.select(F.col("b").alias("node"), F.col("b").alias("component")).distinct()
    return leaves.union(roots).distinct()
