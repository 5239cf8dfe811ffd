"""Gram-matrix aggregation — THE scale primitive of this engine.

The reference materializes every partition as a dense Breeze matrix and
tree-reduces per-partition X'X blocks (LM.scala:142-155, utils.scala:83-100).
That shape requires each partition fully dense in executor memory and a
hand-rolled reduction.

Here the same reduction is ONE declarative aggregation over k(k+1)/2 + k + 3
sum expressions: Catalyst plans it as partial (map-side) + final hash
aggregation inside whole-stage codegen — rows stream through, nothing is
materialized, the shuffle carries exactly one O(k^2) record per task, and the
same plan runs unchanged on a 1000-executor cluster at 100 TB. The driver
only ever sees a k×k matrix.

This module owns the Gram column format (the reference's one
`utils.wlsComponents`, utils.scala:70-112): `gram_sums` builds the
aggregate list for every fitter — LM, GLM IRLS, elastic net, grouped and
per-fold — and `gram_unpack` turns its collected row back into the
symmetric matrix. No other module formats a Gram alias.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkglm_spark.plans.partitioning import collect_small


@dataclass
class GramResult:
    """O(k^2) sufficient statistics for (weighted) least squares."""

    xtx: np.ndarray      # k×k  X'WX
    xty: np.ndarray | None  # k    X'Wy
    n: int               # row count
    sum_y: float | None     # Σ w·y
    sum_y2: float | None    # Σ w·y²
    sum_w: float | None     # Σ w (None when unweighted)
    min_w: float | None = None  # min w (weighted only — validation hook)
    n_w: int | None = None      # count of NON-NULL weights (weighted only)


def _weighted(expr: Column, weight: Column | None) -> Column:
    return expr if weight is None else expr * weight


def gram_sums(
    xs: list[Column],
    w: Column | None = None,
    y: Column | None = None,
    prefix: str = "",
) -> list[Column]:
    """The X'WX (and X'Wy) aggregate expressions: Σ(w·xᵢ)·xⱼ for i ≤ j as
    `{prefix}g_{i}_{j}` and, with `y`, Σ(w·xᵢ)·y as `{prefix}xy_{i}`.
    The product order is fixed to (w·xᵢ)·xⱼ, so every caller sums the
    same terms; unweighted it is xᵢ·xⱼ. `prefix` keeps several Gram
    blocks (grouped keys, per-model blocks) apart in one aggregation."""
    k = len(xs)
    wx = xs if w is None else [w * x for x in xs]
    aggs = [
        F.sum(wx[i] * xs[j]).alias(f"{prefix}g_{i}_{j}")
        for i in range(k)
        for j in range(i, k)
    ]
    if y is not None:
        aggs += [F.sum(wx[i] * y).alias(f"{prefix}xy_{i}") for i in range(k)]
    return aggs


def gram_unpack(
    row, k: int, prefix: str = "", with_xy: bool = True
) -> tuple[np.ndarray, np.ndarray | None]:
    """(X'WX, X'Wy) from one collected `gram_sums` row — a Spark `Row` or
    a pandas record. X'Wy is None when `with_xy` is false."""
    xtx = np.empty((k, k), dtype=np.float64)
    for i in range(k):
        for j in range(i, k):
            xtx[i, j] = xtx[j, i] = float(row[f"{prefix}g_{i}_{j}"])
    xty = None
    if with_xy:
        xty = np.array([float(row[f"{prefix}xy_{i}"]) for i in range(k)])
    return xtx, xty


def gram_aggregate(
    df: DataFrame,
    x_cols: list[str],
    y_col: str | None = None,
    weight_col: str | None = None,
) -> GramResult:
    """One-pass computation of X'WX, X'Wy, n, Σwy, Σwy² via SQL aggregation.

    Replaces the reference's rowPartitionedComponents + wlsComponents
    (LM.scala:142-155, utils.scala:83-100) with a single Catalyst job.
    """
    k = len(x_cols)
    w = F.col(weight_col) if weight_col else None
    y = F.col(y_col) if y_col is not None else None
    aggs = gram_sums([F.col(c) for c in x_cols], w, y)
    if y is not None:
        aggs.append(F.sum(_weighted(y, w)).alias("sy"))
        aggs.append(F.sum(_weighted(y * y, w)).alias("syy"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    if w is not None:
        aggs.append(F.sum(w).alias("sw"))
        # same job: the weight-domain stats callers need to validate
        # (negative/null weights otherwise pass silently — F.sum skips
        # null products, silently DROPPING those rows from every moment)
        aggs.append(F.min(w).alias("minw"))
        aggs.append(F.count(w).alias("nw"))

    row = collect_small(df.agg(*aggs))[0]
    xtx, xty = gram_unpack(row, k, with_xy=y is not None)
    sy = syy = None
    if y is not None:
        sy = float(row["sy"])
        syy = float(row["syy"])
    sw = float(row["sw"]) if w is not None else None
    minw = (
        float(row["minw"]) if w is not None and row["minw"] is not None else None
    )
    nw = int(row["nw"]) if w is not None else None
    return GramResult(
        xtx=xtx, xty=xty, n=int(row["n"]), sum_y=sy, sum_y2=syy,
        sum_w=sw, min_w=minw, n_w=nw,
    )


def gram_query(
    df: DataFrame,
    x_cols: list[str],
    y_col: str | None = None,
    decimal: bool = False,
) -> DataFrame:
    """The Gram aggregation as a long-format DataFrame (term_i, term_j, value)
    — used for oracle-checked correctness queries. ``decimal=True`` runs the
    sums in DECIMAL(18,6) (product DECIMAL(37,12) — exact, fits the 38-digit
    cap in both Spark and DuckDB) and emits the result as a STRING of the
    exact DECIMAL(38,6) value: decimal→string is bit-identical across
    engines, whereas the final decimal→double cast can differ by 1 ulp
    (DuckDB converts unscaled-int→double then divides — two roundings)."""
    cols = list(x_cols) + ([y_col] if y_col else [])

    def prod(i: int, j: int) -> Column:
        a, b = F.col(cols[i]), F.col(cols[j])
        if decimal:
            a = a.cast("decimal(18,6)")
            b = b.cast("decimal(18,6)")
        return a * b

    aggs = []
    names = []
    for i in range(len(cols)):
        for j in range(i, len(cols)):
            e = F.sum(prod(i, j))
            if decimal:
                # inputs carry ≤6 decimal digits → (38,6) is exact
                e = e.cast("decimal(38,6)").cast("string")
            aggs.append(e.alias(f"c{len(names)}"))
            names.append(f"{cols[i]}__{cols[j]}")
    wide = df.agg(*aggs)
    # long format: one row per (i,j) pair → stable for hash comparison.
    # Column names travel as literals over positional aliases, never
    # through SQL text, so any column name is safe.
    pairs = [
        e for p, nm in enumerate(names) for e in (F.lit(nm), F.col(f"c{p}"))
    ]
    return wide.select(
        F.stack(F.lit(len(names)), *pairs).alias("term", "value")
    ).orderBy("term")
