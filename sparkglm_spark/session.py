"""SparkSession helpers tuned for this engine.

Defaults chosen for scale-readiness: AQE on (runtime shuffle coalescing +
skew-join handling), Arrow for any pandas exchange, and a shuffle partition
count that AQE can shrink. On a real cluster only `master` changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

def get_spark(app_name: str = "sparkglm", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. The `events` table's `ts` reads natively
    as TIMESTAMP_NTZ (parquet timestamp[us], isAdjustedToUTC=false); older
    testdata generations carried timestamp[ns], which Spark lacks — for
    those, read nanos as long and convert to a microsecond timestamp."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        return df
    return spark.read.parquet(path)
