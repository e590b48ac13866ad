"""Z-order (Morton) interleaving for multi-dimensional storage layout.

Sorting/partitioning a 100 TB table by a Z-order key over (k1, k2) gives
BOTH dimensions locality inside each file: min/max footer stats per file
then bound k1 AND k2, so predicates on either dimension (or both) skip
files — the effect Delta's OPTIMIZE ZORDER and ClickHouse's
mortonEncode-keyed tables exploit. Plain (k1, k2) lexicographic sort gives
skipping only on k1.

The encoder is a flat JVM column expression (32 unrolled bit terms for
16+16 bits) — no UDF, stays in whole-stage codegen; the identical
arithmetic is emitted as ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

ZORDER_BITS = 16  # per dimension -> 32-bit Morton key


def zorder_key(x: Column, y: Column) -> Column:
    """Morton-interleave the low ``ZORDER_BITS`` of two non-negative int columns:
    bit i of x lands at position 2i, bit i of y at 2i+1."""
    acc = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        acc = acc.bitwiseOR(
            F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return acc


def zorder_key_sql(x: str, y: str) -> str:
    """The identical Morton encoder as an ANSI-SQL expression (oracle side)."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"
