"""Z-order (Morton) sort keys for multi-column data skipping.

Sorting files on a list of columns gives tight parquet row-group
min/max stats on the FIRST column only — a filter on the second
column still reads everything. Interleaving the bits of k bounded integers into one
Morton code makes file/row-group ranges tight on EVERY interleaved
dimension simultaneously (each file covers a small hypercube of the
key space instead of a thin slab), so predicate pushdown skips
row groups for filters on any clustered column — the OPTIMIZE
ZORDER layout strategy, expressed as a plain sort key.

Pure JVM bit arithmetic (shiftright/bitwiseAND/shiftleft chains) —
whole-stage codegen, no UDF. At 100 TB this is a write-time layout
decision: pay one sort at load, skip forever after.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["z_value", "bucketize"]


def bucketize(col: Column, lo: int, hi: int, bits: int) -> Column:
    """Map a value in [lo, hi] onto the integer grid [0, 2^bits):
    rank-free normalization for z-ordering a bounded numeric column.
    Out-of-range values clamp to the edge cells."""
    span = hi - lo
    cells = 1 << bits
    scaled = ((col - F.lit(lo)).cast("double") / F.lit(span)) * F.lit(
        cells
    )
    return F.least(
        F.lit(cells - 1),
        F.greatest(F.lit(0), F.floor(scaled).cast("long")),
    )


def z_value(cols: list[Column], bits: int = 16) -> Column:
    """Morton code of ``cols`` — each a non-negative long already on
    the [0, 2^bits) grid (see ``bucketize``). Bit b of column i lands
    at output bit ``b * len(cols) + i``; total bits must fit a long.

    Sorting the files by this single column is the whole integration
    point."""
    n = len(cols)
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits exceeds long range")
    terms = [
        F.shiftleft(
            F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1)),
            b * n + i,
        )
        for b in range(bits)
        for i, c in enumerate(cols)
    ]
    return reduce(lambda a, t: a.bitwiseOR(t), terms).alias("z")
