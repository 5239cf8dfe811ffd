"""Z-order (Morton) layout for multi-column data skipping.

Partition pruning handles ONE dimension (the directory key); at 100 TB
you usually filter on several (time AND customer AND price band). Sorting
by a single column gives tight parquet min/max stats on that column only;
interleaving the bits of k scaled columns into one Morton value and
range-partitioning + sorting on it gives every file a small bounding BOX
in all k dimensions at once — so a reader's min/max-stat row-group and
file skipping prunes on any filtered subset of those columns (the public
lakehouse OPTIMIZE ZORDER technique, re-expressed as three stock Spark
primitives: one bounded min/max agg, a codegen bit-interleave projection,
repartitionByRange + sortWithinPartitions).

Everything is declarative: the z-value is a pure Catalyst expression
(shift/mask/or over the scaled columns — whole-stage codegen), the range
partitioner does the global ordering, and the only driver state is the
k-column min/max row. Reference: the engine's partitioned-sink family
(sources/io.py); the reference repo has no storage layout surface at
all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_value(
    cols: list[str],
    mins: list[float],
    maxs: list[float],
    bits: int = 16,
) -> Column:
    """The Morton interleave of `cols` as ONE codegen expression: each
    column is affinely scaled into [0, 2^bits) with the given bounds
    (driver state — one bounded agg upstream), then bit i of column j
    lands at output bit i·k + j. Nulls scale to bucket 0 (they sort
    first, as in an ordinary sort). k·bits must fit a long (≤ 62)."""
    k = len(cols)
    if k < 1:
        raise ValueError("cols must be non-empty")
    if k != len(mins) or k != len(maxs):
        raise ValueError("mins/maxs must match cols")
    if bits < 1 or k * bits > 62:
        raise ValueError(f"k*bits = {k * bits} must be in [1, 62]")
    top = (1 << bits) - 1
    scaled: list[Column] = []
    for c, mn, mx in zip(cols, mins, maxs):
        mn, mx = float(mn), float(mx)
        span = mx - mn
        if span <= 0:
            scaled.append(F.lit(0).cast("long"))
            continue
        s = (F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * F.lit(float(top))
        s = F.least(F.greatest(s, F.lit(0.0)), F.lit(float(top)))
        scaled.append(F.coalesce(s.cast("long"), F.lit(0)))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(s, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 32,
    bits: int = 16,
) -> dict:
    """Write `df` as `n_files` parquet files z-ordered on `cols`:
    one bounded min/max aggregation (driver gets 2k doubles), a codegen
    z-value projection, `repartitionByRange(n_files)` + an intra-file
    sort on it, then a plain parquet write (the helper column is dropped
    — projections after the sort keep the order). Returns the bounds
    used, so readers/tests can reconstruct the z mapping.

    Why not sortWithinPartitions alone: the RANGE partitioner is what
    makes distinct files own distinct z-ranges (distinct spatial cells);
    without it every file spans the whole space and the per-file min/max
    stats prune nothing."""
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")), F.max(F.col(c).cast("double"))]
    row = df.agg(*aggs).first()
    mins = [float(row[2 * i]) for i in range(len(cols))]
    maxs = [float(row[2 * i + 1]) for i in range(len(cols))]
    z = zorder_value(cols, mins, maxs, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(int(n_files), "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return {"cols": list(cols), "mins": mins, "maxs": maxs, "bits": int(bits)}
