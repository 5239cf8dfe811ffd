"""Sources & sinks with explicit schemas and layout control.

The reference's only sources are JSON-with-inference and in-memory frames
(testData.scala:10-14, 17-95); it has no file sinks at all. At 100 TB both
choices invert:

- **Schema inference is a job.** `spark.read.json/csv` without a schema
  runs a full (or sampled) scan before the real query starts; even parquet
  pays a footer-listing pass when schemas might merge. Declaring the
  `StructType` up front makes the scan plan instant, pins column types
  across dataset versions, and is what lets filters push down with the
  right comparison types.
- **Sink layout is the next query's scan plan.** A sink that
  hive-partitions on a low-cardinality predicate column turns future
  `WHERE` clauses into directory pruning (files never opened); pairing it
  with `maxRecordsPerFile` bounds file sizes so a 1000-executor read
  parallelizes evenly.

`TABLE_SCHEMAS` pins the driver testdata contract (TESTDATA.md) so any
format carrying these tables — parquet, CSV, JSON, a stream — reads with
zero inference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _struct(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


_LONG = T.LongType()
_INT = T.IntegerType()
_DOUBLE = T.DoubleType()
_STR = T.StringType()
# testdata timestamps are parquet timestamp[ms] with isAdjustedToUTC=false →
# Spark reads them as TIMESTAMP_NTZ (wall-clock, no zone)
_TS_NTZ = T.TimestampNTZType()

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": _struct(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _struct(
        ("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)
    ),
    "customer": _struct(
        ("c_custkey", _LONG),
        ("c_name", _STR),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STR),
    ),
    "supplier": _struct(
        ("s_suppkey", _LONG),
        ("s_name", _STR),
        ("s_nationkey", _INT),
        ("s_acctbal", _DOUBLE),
    ),
    "part": _struct(
        ("p_partkey", _LONG),
        ("p_name", _STR),
        ("p_brand", _STR),
        ("p_type", _STR),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": _struct(
        ("o_orderkey", _LONG),
        ("o_custkey", _LONG),
        ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", _TS_NTZ),
        ("o_orderpriority", _STR),
    ),
    "lineitem": _struct(
        ("l_orderkey", _LONG),
        ("l_partkey", _LONG),
        ("l_suppkey", _LONG),
        ("l_linenumber", _INT),
        ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE),
        ("l_returnflag", _STR),
        ("l_linestatus", _STR),
        ("l_shipdate", _TS_NTZ),
    ),
    "events": _struct(
        ("event_id", _LONG),
        ("ts", _TS_NTZ),
        ("user_id", _LONG),
        ("event_type", _STR),
        ("value", _DOUBLE),
        ("props", _STR),
    ),
    "documents": _struct(
        ("doc_id", _LONG),
        ("text", _STR),
        ("lang", _STR),
        ("source", _STR),
        ("n_chars", _LONG),
    ),
    "embeddings": _struct(
        ("vec_id", _LONG),
        ("embedding", T.ArrayType(T.FloatType())),
        ("label", _INT),
    ),
}


def table_schema(name: str) -> T.StructType:
    return TABLE_SCHEMAS[name]


def read_with_schema(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    fmt: str = "parquet",
    **options: str,
) -> DataFrame:
    """Read `path` as `fmt` with a declared schema — no inference job.

    CSV defaults to headered files; JSON expects newline-delimited records
    (the reference's golden-file format, testData.scala:10-14). Any reader
    option passes through (`sep`, `timestampFormat`, `mode=FAILFAST`, …).
    """
    reader = spark.read.format(fmt).schema(schema)
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"
    return reader.options(**options).load(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
    rebalance: bool = True,
) -> None:
    """Hive-partitioned sink: one directory per distinct partition-column
    tuple, so reads filtering on those columns prune at the directory level
    (PartitionFilters in the scan — never opens non-matching files).

    `rebalance` repartitions by the partition columns first so each task
    writes to few directories (without it, every task appends a file to
    every directory → small-files explosion at 1000 tasks × k partitions).
    `max_records_per_file` re-splits oversized partitions so the downstream
    scan parallelizes; AQE handles the skewed-partition-key case.
    """
    out = df.repartition(*partition_cols) if rebalance else df
    writer = out.write.format(fmt).mode(mode).partitionBy(*partition_cols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.save(path)


def csv_roundtrip_options() -> dict[str, str]:
    """Options making CSV a faithful carrier for the testdata tables
    (timestamps, quoting, nulls) in both reader and writer."""
    return {
        "header": "true",
        "timestampFormat": "yyyy-MM-dd HH:mm:ss",
        "timestampNTZFormat": "yyyy-MM-dd HH:mm:ss",
        "nullValue": "\\N",
        "escape": '"',
    }


def approx_table_stats(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """One-pass sketch summary of a table: exact row count plus HyperLogLog
    distinct estimates per key column. The HLL sketches are O(1) memory per
    partition and merge map-side — the only safe way to count distincts on
    a 100 TB key column (exact distinct = full shuffle of every key)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in key_cols:
        aggs.append(F.approx_count_distinct(c).alias(f"approx_distinct_{c}"))
    return df.agg(*aggs)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> DataFrame:
    """Deterministic hash-sharded training sink — the dataloader handoff:
    shard = portable-affine-hash(id) % n_shards (operators/split.py — the
    same engine-reproducible arithmetic as the split/sample operators, so a
    shard assignment can be re-derived in ANY engine, not just Spark), one
    directory per shard, rows id-sorted within each shard's files.

    Plan: ONE shuffle (repartition on the shard column so each shard's
    rows land in exactly one task — one file per directory, no small-files
    explosion at 1000 tasks × n_shards) + in-task sort; directory layout
    means a reader filtering on `shard` prunes at the directory level.
    Note the hash partitioner may co-locate several shard values in one
    task (others then idle), so write parallelism can be below n_shards —
    the one-file-per-directory and determinism guarantees still hold. Returns the manifest as a DataFrame
    (shard, n_rows, min/max id) aggregated from the WRITTEN output, not
    the input plan — re-running the input pipeline for accounting would be
    a second full scan at 100 TB, while the read-back prunes to the
    (shard, id) columns and doubles as a write-completeness check.

    Deterministic end to end: same input rows → same shard membership and
    same in-file order regardless of input partitioning."""
    from sparkglm_spark.operators.split import hash_sample_expr
    from sparkglm_spark.plans.partitioning import require_integral_id

    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    require_integral_id(df, id_col, "write_training_shards")
    sharded = df.withColumn(
        "shard", F.pmod(hash_sample_expr(id_col), F.lit(n_shards)).cast("int")
    )
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", id_col)
        .write.format(fmt)
        .mode(mode)
        .partitionBy("shard")
        .save(path)
    )
    back = df.sparkSession.read.format(fmt).load(path)
    return (
        back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
        .orderBy("shard")
    )
