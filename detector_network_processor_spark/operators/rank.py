"""Distributed exact ranking: ``ntile`` semantics with NO full-data
shuffle and no per-group single-task sort window.

``ntile(B) OVER (PARTITION BY g ORDER BY k)`` is the one remaining
global-sort shape in the engine's exact paths (ccnet_ppl_buckets): Spark
executes it as ONE task per group value, which serializes a 100 TB
language partition through a single sort. The design here needs exactly
ONE statistics pass, and assigns buckets MAP-SIDE for almost every row:

1. every order-key value is quantized by a MONOTONE, DATA-INDEPENDENT
   cell function (sign-split log2 cells, ~256 per octave — a pure column
   expression); one aggregation pass counts rows per ``(group, cell)``.
   That histogram is EXACT, so the driver knows, for every cell, the
   exact ranks [cum+1, cum+count] its rows occupy within the group —
   and therefore the exact ntile bucket of every cell whose rank range
   falls inside one bucket (closed form: with q = n div B, rem = n mod
   B, the first rem buckets hold q+1 rows);
2. the histogram goes back out as a broadcast (group, cell) -> verdict
   table: either a frozen bucket LABEL (the cell lies inside one
   bucket) or the cell's exact rank offset (it straddles a boundary).
   Label rows — in continuous-key domains, all but <= B-1 cells per
   group — get their bucket in a map-only stage: ZERO exchange of the
   data, the property that matters at 100 TB;
3. only rows of straddling cells (bounded by rows-per-cell, not by
   group size, when the key is continuous) shuffle — a window
   ``row_number() PARTITION BY (group, cell)`` whose partition key
   includes the CELL, so parallelism is per-cell, never one task per
   group; global rank = the cell's exact offset + the local number, and
   the same closed form yields the bucket — bit-identical to the window
   ntile for any total order.

The sort key must be TOTAL (include a unique tiebreaker such as doc_id);
with ties across a bucket boundary the per-engine orders could otherwise
diverge. Cell-level skew (heavy ties / one dense cell) only affects the
straddle branch's BALANCE, never correctness: a single dense cell
spanning several boundaries becomes one windowed partition (the
unsplittable-key fallback degrades the same way — one window per group —
which is the pre-existing semantics for non-numeric keys). Group
cardinality is expected to be small (languages); the broadcast table is
histogram-sized, bounded by ``_HIST_CAP``.

Everything is recompute-safe by construction: the verdict table is
frozen into the plan as literals, the map-only branch is stateless, and
the straddle window's shuffle keys on (group, cell) — pure row
functions. Recomputation of any partition replays identical buckets.
A NON-DETERMINISTIC INPUT (rows changing between the statistics pass
and the action) is detected loudly when it surfaces a (group, cell) the
histogram never saw, or more rows in a straddling cell than it counted
(``raise_error`` guards in the plan); ANY mutation of an
already-labeled cell — rows vanishing from it OR rows appearing in it
(added rows silently receive the cell's frozen label and shift the true
ranks of every later cell) — cannot be detected without a second
counting pass: exact ranks of a moving target are unknowable. Feed
this operator deterministic inputs (the ccnet caller materializes its
input with an eager checkpoint first), or pass ``verify_counts=True``
for adjudication runs: it re-runs the counting pass and fails loudly on
ANY per-(group, cell) count drift before the plan is returned.

Ref parity: CCNet's per-language perplexity tertiles (Wenzek et al.
2020) at hypertable scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

# Monotone quantization resolution: cells per octave (power of two) of
# the order key. 256 keeps the per-group histogram in the hundreds of
# rows for unit-scale domains while splitting finely enough that the
# straddle branch stays small — balance only, never correctness.
_CELLS_PER_OCTAVE = 256

# cell-space layout constants: negatives < zero < positives < NaN, with
# enough headroom that floor(K * log2(|x|)) (|log2| <= 1075) never
# crosses a category boundary
_POS_BASE = 2_000_000
_NAN_CELL = 4_000_000
_NULL_CELL = -8_000_000_000  # below every real cell: nulls sort FIRST

# driver-histogram size guard: the (group, cell) histogram is
# O(groups x distinct cells); real domains are hundreds of rows per
# group, but a pathological group cardinality x key spread could
# otherwise materialize an unbounded driver list (and an equally large
# broadcast). limit(cap+1) bounds the transfer; crossing the cap fails
# loudly before the driver eats it.
_HIST_CAP = 4_000_000

# Spark types with a weakly monotone numeric mapping in the native sort
# order — only these may be range-split within a group. date and
# timestamp_ntz do NOT cast to double in Spark 4.x (DATATYPE_MISMATCH);
# they get dedicated monotone integer expressions in _order_numeric.
# internal bookkeeping column names — rejected in the input schema up
# front (they would make the broadcast-join select ambiguous)
_RESERVED = frozenset({"_g", "_cell", "_label", "_cum", "_cnt", "_n"})

_SPLITTABLE = {
    "tinyint",
    "smallint",
    "int",
    "bigint",
    "float",
    "double",
    "date",
    "timestamp",
    "timestamp_ntz",
}


def _splittable(dtype: str) -> bool:
    return dtype in _SPLITTABLE or dtype.startswith("decimal")


def _order_numeric(col: str, dtype: str) -> F.Column:
    """Weakly monotone double for any _SPLITTABLE type. Plain cast covers
    the numerics and timestamp (epoch seconds); date and timestamp_ntz
    reject CAST-to-double in Spark 4.x, so they take explicit
    timezone-free epoch arithmetic (unix_date days; days*86400 + local
    time-of-day seconds). date_part('SECOND') keeps the fractional
    microseconds, so ntz resolution is full; both are pure column
    expressions, identical on any recompute."""
    c = F.col(col)
    if dtype == "date":
        return F.unix_date(c).cast("double")
    if dtype == "timestamp_ntz":
        return (
            F.unix_date(c.cast("date")).cast("double") * F.lit(86400.0)
            + F.hour(c).cast("double") * F.lit(3600.0)
            + F.minute(c).cast("double") * F.lit(60.0)
            + F.date_part(F.lit("SECOND"), c).cast("double")
        )
    return c.cast("double")


def _cell_expr(col: str, dtype: str) -> F.Column:
    """Monotone map order value -> long cell id, data-independent (so it
    is identical on any recompute and needs no min/max pre-pass). Null
    order keys get the dedicated bottom cell (they sort FIRST under
    Spark ascending); NaN gets the top cell (Spark sorts NaN LAST, above
    +inf)."""
    x = _order_numeric(col, dtype)
    k = float(_CELLS_PER_OCTAVE)
    # clamp the octave term so +-infinity stays inside the category band
    # (finite doubles give |floor(k*log2 |x|)| <= 1075*k << 1_000_000)
    mag = F.least(
        F.greatest(F.floor(F.log2(F.abs(x)) * k), F.lit(-1_000_000)),
        F.lit(1_000_000),
    ).cast("long")
    pos = mag + _POS_BASE
    neg = -mag - _POS_BASE
    return (
        F.when(x.isNull(), F.lit(_NULL_CELL).cast("long"))
        .when(F.isnan(x), F.lit(_NAN_CELL).cast("long"))
        .when(x > 0, pos)
        .when(x < 0, neg)
        .otherwise(F.lit(0).cast("long"))
    )


def _bucket_of(rank: int, n: int, b: int) -> int:
    """0-based ntile bucket of 1-based ``rank`` in a group of ``n``:
    q = n div b, rem = n mod b; the first rem buckets hold q+1 rows."""
    q, rem = divmod(n, b)
    fat = rem * (q + 1)
    if rank <= fat:
        return (rank - 1) // (q + 1)
    return rem + (rank - fat - 1) // max(q, 1)


def cell_rank_ranges(cells: list[tuple], n_buckets: int):
    """For ONE group's cell-sorted ``(cell, count)`` tallies, yield
    ``(cell, cnt, cum_before, n_group, lo_bucket, hi_bucket)``: the exact
    rank range [cum+1, cum+cnt] the cell's rows occupy and the 0-based
    ntile buckets of its endpoints. ``lo == hi`` means the cell lies
    inside one bucket (map-only frozen label); ``lo != hi`` means it
    straddles >= 1 boundary (windowed branch). The single source of truth
    for the straddle decision: the operator's verdict table and the
    scale sweep's analytic straddle-volume receipt both derive from it."""
    n_g = sum(c for _, c in cells)
    cum = 0
    for cell, cnt in cells:
        yield (
            cell,
            cnt,
            cum,
            n_g,
            _bucket_of(cum + 1, n_g, n_buckets),
            _bucket_of(cum + cnt, n_g, n_buckets),
        )
        cum += cnt


def exact_ntile(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    n_buckets: int,
    bucket_col: str = "bucket",
    bucket_names: list[str] | None = None,
    pin_input: bool | None = None,
    verify_counts: bool = False,
) -> DataFrame:
    """Append ``bucket_col`` holding the exact ``ntile(n_buckets)`` bucket
    of each row within its ``group_col`` group under ``order_cols``
    (which, with ``group_col`` prepended, must be a total order).

    ``bucket_names[i]`` labels bucket i+1 (default: the bucket number as
    a string). Output rows and all input columns are preserved. The
    result is deterministic under arbitrary recomputation. The input is
    consumed twice (statistics pass + assignment) and pinned by default
    (``pin_input=None`` means True); callers whose input already derives
    cheaply from a materialized checkpoint pass ``pin_input=False`` — for
    those, the cache write + InMemoryRelation read costs more than one
    recompute (measured on ccnet's post-checkpoint LM scores). The input must be DETERMINISTIC between
    the two passes; see the module docstring for what is and is not
    detected loudly when it is not. ``verify_counts=True`` (adjudication
    mode) runs the counting pass a SECOND time at plan build and raises
    on ANY per-(group, cell) count drift — closing the silent channel
    where rows added to or vanished from an already-labeled cell keep
    the frozen labels. Verify mode reads the input UNPINNED regardless of
    ``pin_input`` (Spark's cache is plan-keyed, so a persisted input
    would serve the verify pass the first pass's own blocks and drift
    could never be observed). It doubles the statistics cost and still
    cannot certify the window between the verify pass and the final
    action, so the default stays single-pass.
    """
    spark = df.sparkSession
    if bucket_names is None:
        bucket_names = [str(i + 1) for i in range(n_buckets)]
    assert len(bucket_names) == n_buckets
    assert order_cols, "exact_ntile needs at least one order column"
    # case-INSENSITIVE guards: Spark's analyzer resolves names
    # case-insensitively by default, so '_Cell' collides with '_cell'
    # just as surely as the exact spelling would
    clash = [c for c in df.columns if c.lower() in _RESERVED]
    if clash:
        raise ValueError(
            f"exact_ntile: input columns {clash} collide with the operator's "
            f"internal bookkeeping names {sorted(_RESERVED)} — rename them "
            "before bucketing (the broadcast-join select would otherwise hit "
            "ambiguous-reference analysis errors)"
        )
    if bucket_col.lower() in (c.lower() for c in df.columns):
        raise ValueError(
            f"exact_ntile: bucket_col {bucket_col!r} already exists in the "
            "input — the output would carry a duplicated column; pick a "
            "fresh name"
        )
    if dict(df.dtypes)[group_col] in ("float", "double"):
        # Spark normalizes NaN group keys into one group, but the driver
        # tallies the collected histogram in a Python dict, where two NaN
        # instances are DISTINCT keys (hash-by-id since CPython 3.10) —
        # a genuine-NaN group value would silently split its group
        raise TypeError(
            "exact_ntile: float/double group columns are unsupported — a NaN "
            "group key cannot key the driver-side histogram losslessly; "
            "cast the group column to string or decimal first"
        )

    o1 = order_cols[0]
    o1_dtype = dict(df.dtypes)[o1]
    split_ok = _splittable(o1_dtype)

    if pin_input is True and verify_counts:
        # the caller EXPLICITLY asked for both; the pin is dropped (below)
        # and the full upstream input recomputes for every pass — say so
        # loudly instead of relying on docstring reading (r11 ADVICE #4).
        # The None default stays silent: those callers never requested a
        # pin, so there is nothing to tell them was ignored.
        import warnings

        warnings.warn(
            "exact_ntile: verify_counts=True ignores pin_input=True — the "
            "verify pass must read the input UNPINNED (a persisted input "
            "would verify itself from its own cache blocks), so the input "
            "recomputes for each statistics pass AND the final assignment; "
            "the verify-to-action window also remains uncertified",
            stacklevel=2,
        )
    pin_input = True if pin_input is None else pin_input
    if pin_input and not verify_counts:
        src = df.persist()
    else:
        # verify_counts implies UNPINNED input: Spark's cache is keyed on
        # the logical plan, so with a persisted src the verify pass would
        # read the blocks the first pass just materialized and could
        # never observe source drift — the pin would verify itself
        src = df

    # ---- the ONE statistics pass: exact (group, cell) histogram -------
    # O(G x distinct cells) rows on the driver — cells are log-quantized,
    # so a unit-scale domain is a few hundred rows per group; even the
    # full double range is bounded at ~1.1M cells (pathological).
    if split_ok:
        cell_of = _cell_expr(o1, o1_dtype)
    else:
        # non-numeric first order column: cast order wouldn't be
        # monotone, so the whole group is ONE cell — the straddle branch
        # becomes one window per group (the pre-existing fallback cost)
        cell_of = F.lit(0).cast("long")
    def _collect_hist() -> list:
        rows = (
            src.groupBy(F.col(group_col).alias("_g"), cell_of.alias("_cell"))
            .count()
            .limit(_HIST_CAP + 1)
            .collect()
        )
        if len(rows) > _HIST_CAP:
            raise RuntimeError(
                f"exact_ntile: the (group={group_col!r}, cell) histogram exceeds "
                f"{_HIST_CAP:,} rows — the group column's cardinality times the "
                f"distinct log-cells of {o1!r} is too large to place on the "
                "driver. Reduce the group cardinality (e.g. bucket the group "
                "column first) or coarsen rank._CELLS_PER_OCTAVE."
            )
        return rows

    hist = _collect_hist()

    if verify_counts:
        # adjudication mode: a second, independent counting pass — any
        # drift (rows added to OR vanished from any cell, including
        # already-labeled cells the plan guards cannot see) fails here,
        # before a silently mislabeled plan can be returned
        first = {(r["_g"], r["_cell"]): r["count"] for r in hist}
        second = {(r["_g"], r["_cell"]): r["count"] for r in _collect_hist()}
        if first != second:
            drift = sorted(
                (k for k in (first.keys() | second.keys()) if first.get(k) != second.get(k)),
                key=repr,
            )[:10]
            raise RuntimeError(
                "exact_ntile(verify_counts=True): the input DataFrame is not "
                "deterministic — per-(group, cell) counts drifted between two "
                f"statistics passes (first 10 drifting keys: {drift}). Exact "
                "ranks of a moving target are unknowable; materialize the "
                "input (eager checkpoint) before bucketing."
            )

    # per-group cell tallies in cell (= sort) order
    by_group: dict = {}
    for r in hist:
        by_group.setdefault(r["_g"], []).append((r["_cell"], r["count"]))
    for cells in by_group.values():
        cells.sort()

    # ---- the verdict table: one row per (group, cell) ------------------
    # label set  -> the cell's rank range [cum+1, cum+cnt] lies inside one
    #               bucket: every row gets that bucket, map-only;
    # label null -> the cell straddles >=1 boundary: rows need their
    #               in-cell local rank; cum/cnt/n_g drive the closed form
    #               and the too-many-rows loud check.
    verdicts: list[tuple] = []  # (_g, _cell, _label, _cum, _cnt, _n)
    n_straddle = 0
    for g, cells in by_group.items():
        for cell, cnt, cum, n_g, lo, hi in cell_rank_ranges(cells, n_buckets):
            if lo == hi:
                verdicts.append((g, cell, bucket_names[lo], cum, cnt, n_g))
            else:
                verdicts.append((g, cell, None, cum, cnt, n_g))
                n_straddle += 1

    vschema = StructType(
        [
            StructField("_g", df.schema[group_col].dataType, True),
            StructField("_cell", LongType(), False),
            StructField("_label", StringType(), True),
            StructField("_cum", LongType(), False),
            StructField("_cnt", LongType(), False),
            StructField("_n", LongType(), False),
        ]
    )
    vdf = spark.createDataFrame(verdicts, vschema)

    # joined rows: every input row matched to its cell's verdict. A row
    # whose (group, cell) the histogram never saw keeps NULL bookkeeping
    # -> the straddle branch raises loudly (nondeterministic input).
    joined = src.join(
        F.broadcast(vdf),
        F.col(group_col).eqNullSafe(F.col("_g")) & cell_of.eqNullSafe(F.col("_cell")),
        "left",
    )

    inner_cols = [*df.columns, "_label", "_cum", "_cnt", "_n", "_cell"]
    joined = joined.select(*[F.col(c) for c in inner_cols])

    unseen_error = F.raise_error(
        F.concat(
            F.lit(
                "exact_ntile: a row's (group, cell) was never seen by the "
                "statistics pass — the input DataFrame is not deterministic "
                "between passes (group="
            ),
            F.col(group_col).cast("string"),
        )
    )

    # map-only branch: bucket is the cell's frozen label — ZERO exchange
    if n_straddle == 0:
        # no straddle branch exists to catch unmatched rows, so the
        # label itself must fail loudly on a (group, cell) the histogram
        # never saw (nondeterministic input) instead of dropping the row
        return joined.select(
            *df.columns,
            F.coalesce(F.col("_label"), unseen_error.cast("string")).alias(bucket_col),
        )
    labeled = joined.filter(F.col("_label").isNotNull()).select(
        *df.columns, F.col("_label").alias(bucket_col)
    )

    # straddle branch: tiny by construction for continuous keys (<= B-1
    # cells per group, each bounded by rows-per-cell). Window partition
    # key includes the CELL, so no per-group serialization.
    w = Window.partitionBy(F.col(group_col), F.col("_cell")).orderBy(
        *[F.col(c) for c in order_cols]
    )
    rn = F.row_number().over(w)
    rank = (
        F.when(F.col("_cum").isNull(), unseen_error.cast("long"))
        .when(
            rn > F.col("_cnt"),
            F.raise_error(
                F.concat(
                    F.lit(
                        "exact_ntile: a straddling cell holds more rows than the "
                        "statistics pass counted — the input DataFrame is not "
                        "deterministic between passes (group="
                    ),
                    F.col(group_col).cast("string"),
                )
            ).cast("long"),
        )
        .otherwise(F.col("_cum") + rn)
    )
    # closed-form ntile on the exact global rank (same arithmetic as
    # _bucket_of, as a column expression)
    q = F.floor(F.col("_n") / n_buckets)
    rem = F.col("_n") % n_buckets
    fat = rem * (q + 1)
    b0 = F.when(rank <= fat, F.floor((rank - 1) / (q + 1))).otherwise(
        rem + F.floor((rank - fat - 1) / F.greatest(q, F.lit(1)))
    )
    names_arr = F.array(*[F.lit(n) for n in bucket_names])
    straddled = (
        joined.filter(F.col("_label").isNull())
        .withColumn(bucket_col, F.element_at(names_arr, b0.cast("int") + 1))
        .select(*df.columns, bucket_col)
    )
    return labeled.unionByName(straddled)
