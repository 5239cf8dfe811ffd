"""Design-matrix encoding operators — parity with the reference's
`modelMatrix.scala` / `utils.scala`, re-expressed as pure Catalyst column
expressions (no RDDs, no driver data movement beyond tiny level lists).

Reference semantics reproduced exactly:
- StringType columns are categorical; they expand to k-1 dummy columns for
  the sorted distinct levels minus the first (baseline) level, named
  ``<col>_<level>`` (modelMatrix.scala:56-58,71-75).
- All other columns are cast to double (modelMatrix.scala:79-85).
- ``match_cols`` backfills predictor columns absent from scoring data with
  0.0 (utils.scala:21-33); novel scoring-time categories silently get
  all-zero dummies (SURVEY §2.13.8 — preserved).

Scale notes: `get_levels` is the only action — a distinct on one column
(partial hash-agg, tiny shuffle); at 100 TB this is a cheap column-pruned
scan. Dummy projection is a lazy select that fuses into whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

MAX_LEVELS = 1000  # guardrail: categorical with more levels is a user error


def get_levels(df: DataFrame, col: str, max_levels: int = MAX_LEVELS) -> list[str]:
    """Sorted distinct levels of a string column (reference:
    modelMatrix.scala:56-58 sorts and relies on small cardinality)."""
    return get_levels_multi(df, [col], max_levels)[col]


def get_levels_multi(
    df: DataFrame, cols: list[str], max_levels: int = MAX_LEVELS
) -> dict[str, list[str]]:
    """Sorted distinct levels for SEVERAL string columns in ONE aggregation
    job (collect_set per column, partial aggregation map-side) instead of
    one distinct scan per column. Sort order is Spark's binary UTF8
    comparison — identical to orderBy on a string column, so the level
    order (and hence the dummy layout) matches the per-column path."""
    if not cols:
        return {}
    # Pre-guard (one cheap HLL pass over a column-pruned scan): a mistyped
    # high-cardinality column (ids, free text) must fail BEFORE the fused
    # collect_set job — otherwise the unbounded per-executor set can OOM an
    # executor before the exact >max_levels check below ever runs. 1.5×
    # headroom absorbs HLL error (default rsd 5%); estimates between
    # max_levels and the headroom fall through to the exact check on a
    # harmlessly small collected set.
    from sparkglm_spark.plans.partitioning import collect_small

    est = collect_small(
        df.agg(*[F.approx_count_distinct(F.col(c)).alias(c) for c in cols])
    )[0]
    too_big = {c: int(est[c]) for c in cols if est[c] > max_levels * 1.5}
    if too_big:
        raise ValueError(
            f"columns with far more than max_levels={max_levels} distinct "
            f"values (approx counts: {too_big}); not categorical columns"
        )
    # slice to max_levels+1 BEFORE collecting: bounds what ships to the
    # driver even when the estimate squeaked under the guard.
    row = collect_small(
        df.agg(
            *[
                F.slice(
                    F.array_sort(F.collect_set(F.col(c))), 1, max_levels + 1
                ).alias(c)
                for c in cols
            ]
        )
    )[0]
    out: dict[str, list[str]] = {}
    for c in cols:
        lv = list(row[c])
        if len(lv) > max_levels:
            raise ValueError(
                f"column {c!r} has >{max_levels} distinct levels; "
                "not a categorical column"
            )
        out[c] = lv
    return out


def dummy_columns(col: str, levels: list[str]) -> list[Column]:
    """k-1 dummy indicator expressions for sorted `levels` (drop first =
    baseline; reference: modelMatrix.scala:61-75 `createDummies`)."""
    return [
        F.when(F.col(col) == lvl, 1.0).otherwise(0.0).alias(f"{col}_{lvl}")
        for lvl in levels[1:]
    ]


def model_matrix(
    df: DataFrame,
    levels: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Expand string columns to k-1 sorted-level dummies and cast everything
    to double (reference: modelMatrix.scala:18-30).

    `levels` lets a fitted model re-apply its training-time encoding at
    scoring time (then no Spark job runs at all — fully lazy projection).
    Returns a DataFrame whose column order matches the reference: each input
    column in order, string columns replaced in-place by their dummy block.
    """
    str_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]
    if levels is None:
        levels = get_levels_multi(df, str_cols)

    out: list[Column] = []
    for field in df.schema.fields:
        if field.name in levels and isinstance(field.dataType, StringType):
            out.extend(dummy_columns(field.name, levels[field.name]))
        else:
            out.append(F.col(field.name).cast("double").alias(field.name))
    return df.select(*out)


def model_matrix_levels(df: DataFrame) -> dict[str, list[str]]:
    """The levels map `model_matrix` would compute — exposed so models can
    persist their encoding."""
    str_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]
    return get_levels_multi(df, str_cols)


def match_cols(df: DataFrame, expected: list[str]) -> DataFrame:
    """Align `df` to the expected predictor columns: missing columns are
    zero-filled, extras dropped, order normalized (reference:
    utils.scala:21-33 `matchCols`)."""
    have = set(df.columns)
    cols = [
        (F.col(c) if c in have else F.lit(0.0).cast("double").alias(c)).alias(c)
        for c in expected
    ]
    return df.select(*cols)


def cast_all(df: DataFrame, dtype: str = "double") -> DataFrame:
    """Cast every column to `dtype` (reference: modelMatrix.scala:79-85)."""
    return df.select(*[F.col(c).cast(dtype).alias(c) for c in df.columns])


def omit_na(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Drop rows with any null (reference: R/pkg/R/utils.R:24-27)."""
    return df.na.drop("any", subset=cols)
