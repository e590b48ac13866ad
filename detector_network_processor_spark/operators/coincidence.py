"""The core operator: batch time-coincidence clustering (SURVEY.md §2.5).

Reference behavior (src/analysis/coincidencefilter.cpp:60-143): probe each
incoming event against the open-group buffer under a pluggable pairwise
criterion, fold into the first match, transitively merge later matches.

Spark-first decomposition (exact, not approximate):
1. **Candidate generation** — global gap sessionization on ``start`` with
   gap = the criterion's hard time cutoff. Any criterion-valid pair is
   within the cutoff, so no coincidence edge crosses a session boundary;
   feeding sessions independently to the replay kernel is provably
   equivalent to the reference's sequential scan (SURVEY.md §7.3).
2. **Singleton fast path** — sessions of size 1 (the overwhelming majority
   at production event rates) bypass Python entirely: their L1 row is built
   with JVM column expressions. Only multi-event sessions pay the
   Arrow/pandas transfer.
3. **Per-session replay** — ``applyInPandas`` over multi-event sessions runs
   the golden kernel (exact conflicting/true_e/merge bookkeeping). Sessions
   are physics-bounded (stations within 62 km, chains of <=207.9 us gaps),
   so per-group work is small and bounded regardless of total data size.

Criteria: "physics" (C3, WGS84 distance / time-of-flight scoring) or
"simple" (C4, pure 100 us window).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..constants import MAX_TIME_NS, MEAN_FALSE_THRESHOLD, SIMPLE_WINDOW_NS
from ..config import python_stage_partitions
from .golden import (
    Hit,
    cluster_hits,
    compare_physics,
    compare_simple,
    groups_to_rows,
    resolve_criterion,
)
from .sessionize import sessionize_global_gap

CONSTITUENT_SCHEMA = StructType(
    [
        StructField("hash", LongType()),
        StructField("start", LongType()),
        StructField("end", LongType()),
        StructField("time_acc", IntegerType()),
        StructField("ublox_counter", IntegerType()),
        StructField("fix", IntegerType()),
    ]
)

L1_SCHEMA = StructType(
    [
        StructField("session_id", LongType()),
        StructField("start", LongType()),
        StructField("end", LongType()),
        StructField("n", IntegerType()),
        StructField("conflicting", BooleanType()),
        StructField("true_e", IntegerType()),
        StructField("events", ArrayType(CONSTITUENT_SCHEMA)),
    ]
)

_MATRIX_MIN_N = 6  # below this, matrix setup costs more than it saves

# Largest session size resolved by the closed-form JVM path (guide §4 —
# every tier moved out of the Arrow kernel shrinks the Python surface).
# 2..3 since r9, 4 since r13; _resolve_small_jvm's CASE is NULL-safe, so a
# smaller setting only reroutes tiers to the Arrow replay (the A/B knob).
_SMALL_MAX_N = 4


def _matrix_compare(hits: list, compare):
    """Precompute the session's full pair-score matrix with numpy and
    return a lookup closure for ``cluster_hits``. The replay logic stays
    the ONE golden implementation — only scoring is batched, so parity is
    structural, not re-proven: matrix entries are bit-identical to
    ``compare`` (same memoized ECEF, same elementwise IEEE ops in the
    same association order; the int64 Δt is exact in double at session
    scales). This is the dense-session insurance: a pathological burst
    (hundreds of hits in one gap chain) costs O(n²) scored pairs — one C
    matmul-shaped pass instead of O(n²) Python ``compare`` calls."""
    import numpy as np

    from ..constants import C_M_PER_NS, MIN_TOF_NS

    starts = np.array([h.start for h in hits], dtype=np.int64)
    ds = np.abs(starts[:, None] - starts[None, :]).astype(np.float64)
    if compare is compare_simple:
        M = np.where(ds <= float(SIMPLE_WINDOW_NS), 1.0, -1.0)
    else:
        xs = np.array([h.x for h in hits])
        ys = np.array([h.y for h in hits])
        zs = np.array([h.z for h in hits])
        dx = xs[:, None] - xs[None, :]
        dy = ys[:, None] - ys[None, :]
        dz = zs[:, None] - zs[None, :]
        dist = np.sqrt(dx * dx + dy * dy + dz * dz)
        tof = np.maximum(dist / C_M_PER_NS, float(MIN_TOF_NS))
        M = np.maximum(1.0 - ds / tof, -1.0)
        M[ds > MAX_TIME_NS] = -1.0
    idx = {id(h): k for k, h in enumerate(hits)}
    return lambda a, b: M[idx[id(a)], idx[id(b)]]


def _session_rows_to_l1(sid: int, hits: list, compare) -> list[tuple]:
    """Rows as tuples in L1_SCHEMA field order — pandas builds a frame from
    tuples measurably faster than from dicts, and this runs per session."""
    if len(hits) >= _MATRIX_MIN_N and compare in (compare_physics, compare_simple):
        compare = _matrix_compare(hits, compare)
    rows = groups_to_rows(cluster_hits(hits, compare))
    return [
        (
            sid,
            r["start"],
            r["end"],
            r["n"],
            r["conflicting"],
            r["true_e"],
            [
                (e["hash"], e["start"], e["end"], e["time_acc"], e["ublox_counter"], e["fix"])
                for e in r["events"]
            ],
        )
        for r in rows
    ]


def _resolve_sessions_stream(compare):
    """mapInPandas kernel: rows arrive grouped by session (shuffled on
    session_id, sorted within partitions); sessions may straddle Arrow
    batches, so an explicit carry buffer stitches them. One Python
    invocation per Arrow batch — not per session — and numpy boundary
    slicing instead of pandas.groupby keep per-group overhead amortized
    across the thousands of small physics-bounded sessions."""
    import numpy as np
    import pandas as pd

    cols = ["session_id", "hash", "start", "end", "time_acc", "ublox_counter", "fix", "lat", "lon", "h"]

    def process_block(arrs, lo, hi, out):
        sid = int(arrs[0][lo])
        hits = [
            Hit(
                hash=int(arrs[1][i]),
                start=int(arrs[2][i]),
                end=int(arrs[3][i]),
                time_acc=int(arrs[4][i]),
                ublox_counter=int(arrs[5][i]),
                fix=int(arrs[6][i]),
                lat=float(arrs[7][i]),
                lon=float(arrs[8][i]),
                h=float(arrs[9][i]),
            )
            for i in range(lo, hi)
        ]
        out.extend(_session_rows_to_l1(sid, hits, compare))

    def kernel(iterator):
        carry: pd.DataFrame | None = None
        for pdf in iterator:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
            if len(pdf) == 0:
                continue
            arrs = [pdf[c].to_numpy() for c in cols]
            sids = arrs[0]
            # hold back the trailing session — it may continue in the next batch
            cut = int((sids != sids[-1]).nonzero()[0].max() + 1) if (sids != sids[-1]).any() else 0
            out: list[dict] = []
            if cut:
                bounds = np.flatnonzero(np.concatenate(([True], sids[1:cut] != sids[: cut - 1], [True])))
                for lo, hi in zip(bounds[:-1], bounds[1:]):
                    process_block(arrs, int(lo), int(hi), out)
            carry = pdf.iloc[cut:]
            if out:
                yield pd.DataFrame(out, columns=[f.name for f in L1_SCHEMA.fields])
        if carry is not None and len(carry):
            out = []
            arrs = [carry[c].to_numpy() for c in cols]
            sids = arrs[0]
            bounds = np.flatnonzero(np.concatenate(([True], sids[1:] != sids[:-1], [True])))
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                process_block(arrs, int(lo), int(hi), out)
            if out:
                yield pd.DataFrame(out, columns=[f.name for f in L1_SCHEMA.fields])

    return kernel


def _resolve_small_jvm(small: DataFrame, criterion: str) -> DataFrame:
    """Exact resolution of 2-, 3- and 4-hit sessions as ONE JVM aggregation —
    no Python, no per-size extra shuffle (all sizes share the same
    groupBy(session_id) + sorted collect_list shape, so they ride one
    exchange and one codegen stage).

    Replay semantics (golden.py::cluster_hits) for hits e1 <= e2 [<= e3]
    in (start, hash) order, with f_ij = "pairable" (different stations AND
    criterion score > 0):

    n=2: f12 folds the two hits into a group (true_e=1, conflicting=false,
    envelope end = max constituent start); otherwise two singletons (F6
    same-station exclusion included — f12 requires distinct hashes).

    n=3, enumerated:
    - f12: e1,e2 fold into G12 (true_e=1). e3 then probes {e1,e2} as one
      group x group verdict: skipped on any station overlap; INVALID iff
      mean(s13,s23) < MEAN_FALSE_THRESHOLD; otherwise e3 folds. Crucially
      this FIRST fold never sets ``conflicting`` (the reference's
      unreachable ``if (!score)`` branch, coincidencefilter.cpp:117-119)
      and adds true_e = v (count of positive pairs) for BOTH the Valid and
      the Conflicting verdict — so the verdict split is immaterial and the
      fold yields n=3, conflicting=false, true_e=1+v, events [e1,e2,e3].
    - !f12 and f13: e3 folds into {e1} (G13, true_e=1), then the merge
      loop probes {e2} with the ORIGINAL incoming e3: if f23, the groups
      merge — the one path that DOES set conflicting=true (transitive
      merge, coincidencefilter.cpp:131) — true_e=2, events [e1,e3,e2]
      (buffer order: G13's constituents, then the merged group's).
    - !f12 and !f13 and f23: {e1} singleton + G23.
    - else: three singletons.

    Envelope = (min constituent start, max constituent start) for groups;
    (start, end) of the hit itself for singletons (event.cpp:35-44).

    n=4 (r13): e1..e3 leave exactly six buffer states ([G123-fold],
    [G12,{e3}], [G132-merge], [G13,{e2}], [{e1},G23], three singletons);
    e4 probes them in buffer order under the same rules — overlap skip,
    mean-rule verdict vs groups (INVALID iff mean < MEAN_FALSE_THRESHOLD),
    score>0 vs singletons, first fold never sets ``conflicting``, and the
    merge loop re-probes the remaining buffer with the ORIGINAL e4
    (including the group-absorbs-group arm [{e1},G23] + e4 -> [e1,e4,e2,e3]
    and the chain-merge arm of three singletons -> [e1,e4,e2,e3], te=3).
    The enumeration lives next to its SQL in the function body; the
    randomized differential test covers every arm with traffic.

    The whole resolution is generated SQL TEXT, parsed JVM-side in three
    selectExpr calls. A Column-by-Column formulation of the same tree costs
    ~2.7 s of py4j round trips PER PLAN BUILD (thousands of driver calls
    for the struct/array/case constructors) — pure driver overhead repeated
    for every fresh query. Arithmetic mirrors functions/geodesy.py exactly
    (multiplied sin terms, power(...,2) chord squares) so scores are
    bit-identical to the golden model's numpy/math path on every platform
    Spark's and CPython's doubles agree on; floats are embedded via repr
    (shortest round-trip — exact). Verified against the golden model by a
    randomized differential test (test_coincidence.py) and the driver's
    recursive-CTE oracle.
    """
    from ..constants import C_M_PER_NS, MIN_TOF_NS, WGS84_A, WGS84_E2

    agg = small.groupBy("session_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "start", "hash", "end", "time_acc", "ublox_counter", "fix", "lat", "lon", "h"
                )
            )
        ).alias("p")
    )

    def ecef(e: str, ax: str) -> str:
        lat, lon = f"radians({e}.lat)", f"radians({e}.lon)"
        n = f"({WGS84_A!r} / sqrt(1.0D - {WGS84_E2!r} * sin({lat}) * sin({lat})))"
        if ax == "x":
            return f"(({n} + {e}.h) * cos({lat}) * cos({lon}))"
        if ax == "y":
            return f"(({n} + {e}.h) * cos({lat}) * sin({lon}))"
        return f"(({n} * {1.0 - WGS84_E2!r} + {e}.h) * sin({lat}))"

    # get(p, k) is NULL for shorter sessions (ANSI-safe, unlike p[k]): its
    # ecef/scores go NULL and the CASE below never reads them on the
    # shorter branches.
    stage_hits = [
        "session_id", "p[0] AS e1", "p[1] AS e2", "get(p, 2) AS e3", "get(p, 3) AS e4",
    ]
    stage_ecef = ["session_id", "e1", "e2", "e3", "e4"] + [
        f"{ecef(f'e{i + 1}', ax)} AS {ax}{i + 1}" for i in range(4) for ax in "xyz"
    ]
    compare, _ = resolve_criterion(criterion)

    def score(i: int, j: int) -> str:
        dt = f"CAST(e{j}.start - e{i}.start AS DOUBLE)"
        if compare is compare_physics:
            dist = (
                f"sqrt(power(x{i} - x{j}, 2) + power(y{i} - y{j}, 2) + power(z{i} - z{j}, 2))"
            )
            tof = f"greatest({dist} / {C_M_PER_NS!r}, {float(MIN_TOF_NS)!r})"
            return (
                f"(CASE WHEN {dt} > {float(MAX_TIME_NS)!r} THEN -1.0D"
                f" ELSE greatest(1.0D - {dt} / {tof}, -1.0D) END)"
            )
        return f"(CASE WHEN {dt} <= {float(SIMPLE_WINDOW_NS)!r} THEN 1.0D ELSE -1.0D END)"

    stage_scores = [
        "session_id", "e1", "e2", "e3", "e4",
        f"{score(1, 2)} AS s12", f"{score(1, 3)} AS s13", f"{score(2, 3)} AS s23",
        f"{score(1, 4)} AS s14", f"{score(2, 4)} AS s24", f"{score(3, 4)} AS s34",
    ]
    staged = (
        agg.selectExpr(*stage_hits).selectExpr(*stage_ecef).selectExpr(*stage_scores)
    )

    def cons(e: str) -> str:
        return (
            f"named_struct('hash', {e}.hash, 'start', {e}.start, 'end', {e}.end,"
            f" 'time_acc', {e}.time_acc, 'ublox_counter', {e}.ublox_counter, 'fix', {e}.fix)"
        )

    def row(start: str, end: str, n: str, confl: str, te: str, events: str) -> str:
        return (
            f"named_struct('session_id', session_id, 'start', {start}, 'end', {end},"
            f" 'n', CAST({n} AS INT), 'conflicting', {confl},"
            f" 'true_e', CAST({te} AS INT), 'events', {events})"
        )

    def single(e: str) -> str:
        return row(f"{e}.start", f"{e}.end", "1", "false", "0", f"array({cons(e)})")

    o12, o13, o23 = "(e1.hash = e2.hash)", "(e1.hash = e3.hash)", "(e2.hash = e3.hash)"
    f12 = f"(NOT {o12} AND s12 > 0.0D)"
    f13 = f"(NOT {o13} AND s13 > 0.0D)"
    f23 = f"(NOT {o23} AND s23 > 0.0D)"
    v = "(CAST(s13 > 0.0D AS INT) + CAST(s23 > 0.0D AS INT))"
    invalid3 = f"({o13} OR {o23} OR ((s13 + s23) / 2.0D < {MEAN_FALSE_THRESHOLD!r}))"

    g12 = row("e1.start", "e2.start", "2", "false", "1", f"array({cons('e1')}, {cons('e2')})")
    g13 = row("e1.start", "e3.start", "2", "false", "1", f"array({cons('e1')}, {cons('e3')})")
    g23 = row("e2.start", "e3.start", "2", "false", "1", f"array({cons('e2')}, {cons('e3')})")
    g123_fold = row(
        "e1.start", "e3.start", "3", "false", f"1 + {v}",
        f"array({cons('e1')}, {cons('e2')}, {cons('e3')})",
    )
    g123_merge = row(
        "e1.start", "e3.start", "3", "true", "2",
        f"array({cons('e1')}, {cons('e3')}, {cons('e2')})",
    )

    triple_out = (
        f"CASE WHEN {f12} THEN (CASE WHEN {invalid3}"
        f" THEN array({g12}, {single('e3')}) ELSE array({g123_fold}) END)"
        f" WHEN {f13} THEN (CASE WHEN {f23}"
        f" THEN array({g123_merge}) ELSE array({g13}, {single('e2')}) END)"
        f" WHEN {f23} THEN array({single('e1')}, {g23})"
        f" ELSE array({single('e1')}, {single('e2')}, {single('e3')}) END"
    )
    pair_out = (
        f"CASE WHEN {f12} THEN array({g12})"
        f" ELSE array({single('e1')}, {single('e2')}) END"
    )

    # ---- n=4 (r13): e4 probes the buffer the first three hits left behind.
    # The e1..e3 replay reaches exactly six buffer states (the outer CASE
    # arms below, in golden-replay condition order); e4 then probes groups
    # in buffer order — skip on station overlap, fold into the first
    # non-Invalid match (mean rule for groups, score>0 for singletons;
    # first fold NEVER sets conflicting), and keep probing the rest with
    # the ORIGINAL e4, merging on any non-Invalid verdict (merges DO set
    # conflicting and append the absorbed group's constituents in order).
    # Envelope = (min, max) constituent start — index order is start order
    # here, so grp() reads them off the member index set. true_e adds the
    # positive-pair count of every fold/merge verdict.
    def grp(members: list[int], confl: str, te: str) -> str:
        evs = ", ".join(cons(f"e{i}") for i in members)
        return row(
            f"e{min(members)}.start", f"e{max(members)}.start",
            str(len(members)), confl, te, f"array({evs})",
        )

    o14, o24, o34 = "(e1.hash = e4.hash)", "(e2.hash = e4.hash)", "(e3.hash = e4.hash)"
    f14 = f"(NOT {o14} AND s14 > 0.0D)"
    f24 = f"(NOT {o24} AND s24 > 0.0D)"
    f34 = f"(NOT {o34} AND s34 > 0.0D)"
    v4_123 = "(CAST(s14 > 0.0D AS INT) + CAST(s24 > 0.0D AS INT) + CAST(s34 > 0.0D AS INT))"
    v4_12 = "(CAST(s14 > 0.0D AS INT) + CAST(s24 > 0.0D AS INT))"
    v4_13 = "(CAST(s14 > 0.0D AS INT) + CAST(s34 > 0.0D AS INT))"
    v4_23 = "(CAST(s24 > 0.0D AS INT) + CAST(s34 > 0.0D AS INT))"
    mft = repr(MEAN_FALSE_THRESHOLD)
    inv4_123 = f"({o14} OR {o24} OR {o34} OR ((s14 + s24 + s34) / 3.0D < {mft}))"
    inv4_12 = f"({o14} OR {o24} OR ((s14 + s24) / 2.0D < {mft}))"
    inv4_13 = f"({o14} OR {o34} OR ((s14 + s34) / 2.0D < {mft}))"
    inv4_23 = f"({o24} OR {o34} OR ((s24 + s34) / 2.0D < {mft}))"

    # state [G123 fold] (f12 & !invalid3): e4 vs the 3-group, fold or append
    q_fold123 = (
        f"CASE WHEN NOT {inv4_123}"
        f" THEN array({grp([1, 2, 3, 4], 'false', f'1 + {v} + {v4_123}')})"
        f" ELSE array({g123_fold}, {single('e4')}) END"
    )
    # state [G12, {e3}] (f12 & invalid3): e4 vs G12 first (fold + possible
    # transitive merge of {e3}), else vs {e3}
    q_g12_e3 = (
        f"CASE WHEN NOT {inv4_12} THEN (CASE WHEN {f34}"
        f" THEN array({grp([1, 2, 4, 3], 'true', f'2 + {v4_12}')})"
        f" ELSE array({grp([1, 2, 4], 'false', f'1 + {v4_12}')}, {single('e3')}) END)"
        f" WHEN {f34} THEN array({g12}, {grp([3, 4], 'false', '1')})"
        f" ELSE array({g12}, {single('e3')}, {single('e4')}) END"
    )
    # state [G132 merge] (!f12 & f13 & f23): conflicting group of 3, e4 folds
    q_merge123 = (
        f"CASE WHEN NOT {inv4_123}"
        f" THEN array({grp([1, 3, 2, 4], 'true', f'2 + {v4_123}')})"
        f" ELSE array({g123_merge}, {single('e4')}) END"
    )
    # state [G13, {e2}] (!f12 & f13 & !f23)
    q_g13_e2 = (
        f"CASE WHEN NOT {inv4_13} THEN (CASE WHEN {f24}"
        f" THEN array({grp([1, 3, 4, 2], 'true', f'2 + {v4_13}')})"
        f" ELSE array({grp([1, 3, 4], 'false', f'1 + {v4_13}')}, {single('e2')}) END)"
        f" WHEN {f24} THEN array({g13}, {grp([2, 4], 'false', '1')})"
        f" ELSE array({g13}, {single('e2')}, {single('e4')}) END"
    )
    # state [{e1}, G23] (!f12 & !f13 & f23): e4 vs {e1} first (fold + possible
    # merge of the WHOLE G23 — the one group-absorbs-group arm), else vs G23
    q_e1_g23 = (
        f"CASE WHEN {f14} THEN (CASE WHEN NOT {inv4_23}"
        f" THEN array({grp([1, 4, 2, 3], 'true', f'1 + {v4_23}')})"
        f" ELSE array({grp([1, 4], 'false', '1')}, {g23}) END)"
        f" WHEN NOT {inv4_23}"
        f" THEN array({single('e1')}, {grp([2, 3, 4], 'false', f'1 + {v4_23}')})"
        f" ELSE array({single('e1')}, {g23}, {single('e4')}) END"
    )
    # state [{e1},{e2},{e3}] (no pair among the first three): e4 can chain-
    # merge up to both remaining singletons behind its first fold
    q_singles = (
        f"CASE WHEN {f14} THEN ("
        f"CASE WHEN {f24} AND {f34} THEN array({grp([1, 4, 2, 3], 'true', '3')})"
        f" WHEN {f24} THEN array({grp([1, 4, 2], 'true', '2')}, {single('e3')})"
        f" WHEN {f34} THEN array({grp([1, 4, 3], 'true', '2')}, {single('e2')})"
        f" ELSE array({grp([1, 4], 'false', '1')}, {single('e2')}, {single('e3')}) END)"
        f" WHEN {f24} THEN (CASE WHEN {f34}"
        f" THEN array({single('e1')}, {grp([2, 4, 3], 'true', '2')})"
        f" ELSE array({single('e1')}, {grp([2, 4], 'false', '1')}, {single('e3')}) END)"
        f" WHEN {f34} THEN array({single('e1')}, {single('e2')}, {grp([3, 4], 'false', '1')})"
        f" ELSE array({single('e1')}, {single('e2')}, {single('e3')}, {single('e4')}) END"
    )
    quad_out = (
        f"CASE WHEN {f12} THEN (CASE WHEN {invalid3} THEN {q_g12_e3} ELSE {q_fold123} END)"
        f" WHEN {f13} THEN (CASE WHEN {f23} THEN {q_merge123} ELSE {q_g13_e2} END)"
        f" WHEN {f23} THEN {q_e1_g23}"
        f" ELSE {q_singles} END"
    )

    out = (
        f"CASE WHEN e4 IS NOT NULL THEN {quad_out}"
        f" WHEN e3 IS NOT NULL THEN {triple_out} ELSE {pair_out} END"
    )
    return staged.selectExpr(f"inline({out})")


def cluster_coincidences(
    events: DataFrame,
    stations: DataFrame | None = None,
    criterion: str = "physics",
) -> DataFrame:
    """events: columns hash,start,end,time_acc,ublox_counter,fix(+lat,lon,h).

    If ``stations`` (hash, lat, lon, h) is given, events are enriched via a
    broadcast join (J1 analog — the station dimension is always small
    relative to the fact stream). Returns the L1 table (L1_SCHEMA),
    singletons included (filter ``n >= 2`` for the K1/K2 sink semantics).
    """
    compare, gap = resolve_criterion(criterion)

    if stations is not None:
        events = events.join(
            F.broadcast(stations.select("hash", "lat", "lon", "h")), "hash", "inner"
        )
    ev = events.select(
        F.col("hash").cast("long"),
        F.col("start").cast("long"),
        F.col("end").cast("long"),
        F.col("time_acc").cast("int"),
        F.col("ublox_counter").cast("int"),
        F.col("fix").cast("int"),
        F.col("lat").cast("double"),
        F.col("lon").cast("double"),
        F.col("h").cast("double"),
    )

    # sessionize emits session sizes in the same pass — the singleton fast
    # path below is shuffle-free (sizes via a window would re-shuffle the
    # whole stream on session_id just to count).
    sess = sessionize_global_gap(ev, "start", gap).withColumnRenamed("session_n", "_n")

    singles = sess.filter(F.col("_n") == 1).select(
        F.col("session_id"),
        F.col("start"),
        F.col("end"),
        F.lit(1).cast("int").alias("n"),
        F.lit(False).alias("conflicting"),
        F.lit(0).cast("int").alias("true_e"),
        F.array(
            F.struct(
                F.col("hash"),
                F.col("start"),
                F.col("end"),
                F.col("time_acc"),
                F.col("ublox_counter"),
                F.col("fix"),
            )
        ).alias("events"),
    )

    # 2-, 3- AND 4-hit sessions (the overwhelming majority of the multi
    # mass at physical rates) resolve in closed form inside whole-stage
    # codegen, sharing ONE groupBy exchange (_resolve_small_jvm). Only
    # sessions of n >= 5 pay the Arrow/Python replay (r13: the n=4 tier
    # moved JVM-side — guide §4, shrink the Python surface; the Arrow
    # stage's fixed task startup is its dominant cost at low tail mass).
    small_path = _resolve_small_jvm(
        sess.filter((F.col("_n") >= 2) & (F.col("_n") <= _SMALL_MAX_N)), criterion
    )

    # Pin the partition count: with a bare repartition(col), AQE coalesces
    # this exchange by BYTES, but the replay kernel is CPU-bound Python —
    # at sf0.1 AQE shrank it to 2 partitions and serialized the stage
    # (measured: the longest tail of the whole query). The byte-size
    # heuristic is wrong whenever downstream cost is per-row Python work.
    n_part = python_stage_partitions(events.sparkSession)
    multis = (
        sess.filter(F.col("_n") > _SMALL_MAX_N)
        .drop("_n")
        .repartition(n_part, F.col("session_id"))
        .sortWithinPartitions("session_id", "start", "hash")
        .mapInPandas(_resolve_sessions_stream(compare), L1_SCHEMA)
    )

    return singles.drop("_n").unionByName(small_path).unionByName(multis)


def l1_flatten(l1: DataFrame, min_n: int = 2) -> DataFrame:
    """K1-sink projection: one row per constituent of each coincidence
    (reference include/sink/mqtt.h:146-184), uuid from (hash, start)."""
    groups = l1.filter(F.col("n") >= min_n).select(
        F.concat(
            F.lpad(F.hex(F.col("events")[0]["hash"]), 16, "0"),
            F.lpad(F.hex(F.col("start")), 16, "0"),
        ).alias("uuid"),
        "session_id",
        F.col("start").alias("group_start"),
        F.col("end").alias("group_end"),
        "n",
        "conflicting",
        "true_e",
        F.posexplode("events").alias("pos", "evt"),
    )
    return groups.select(
        "uuid",
        "session_id",
        "group_start",
        "group_end",
        "n",
        "conflicting",
        "true_e",
        "pos",
        F.col("evt.hash").alias("hash"),
        F.col("evt.start").alias("start"),
        F.col("evt.end").alias("end"),
        F.col("evt.time_acc").alias("time_acc"),
    )
