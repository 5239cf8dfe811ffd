"""Sources & sinks: explicit-schema readers (no inference job), partitioned
sinks with directory-level pruning at read time, sketch-profile accuracy,
and watermark-bounded streaming dedup."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from sparkglm_spark.session import read_table
from sparkglm_spark.sources.io import (
    approx_table_stats,
    csv_roundtrip_options,
    read_with_schema,
    table_schema,
    write_partitioned,
)


@pytest.fixture(scope="module")
def lineitem_df(spark, sf_dir):
    return read_table(spark, sf_dir, "lineitem")


def test_parquet_read_with_declared_schema_matches(spark, sf_dir, lineitem_df):
    got = read_with_schema(
        spark, os.path.join(sf_dir, "lineitem.parquet"), table_schema("lineitem")
    )
    assert got.schema == table_schema("lineitem")
    assert got.count() == lineitem_df.count()


def test_csv_roundtrip_with_schema(spark, lineitem_df):
    """CSV written then read back with the declared schema carries values
    and types faithfully — and the read plans no inference scan."""
    sample = lineitem_df.limit(200)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "li_csv")
        opts = csv_roundtrip_options()
        sample.write.mode("overwrite").options(**opts).csv(path)
        back = read_with_schema(
            spark, path, table_schema("lineitem"), fmt="csv", **opts
        )
        assert back.schema == table_schema("lineitem")
        a = {tuple(r) for r in sample.collect()}
        b = {tuple(r) for r in back.collect()}
        assert a == b


def test_partitioned_sink_prunes_at_read(spark, lineitem_df):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "li_part")
        write_partitioned(
            lineitem_df, path, ["l_returnflag"], max_records_per_file=100_000
        )
        # hive layout: one directory per value
        dirs = sorted(
            e for e in os.listdir(path) if e.startswith("l_returnflag=")
        )
        assert dirs == ["l_returnflag=A", "l_returnflag=N", "l_returnflag=R"]

        back = spark.read.parquet(path)
        pruned = back.where(F.col("l_returnflag") == "A")
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # the predicate lands in PartitionFilters (directory pruning), not
        # a post-scan Filter over all rows
        assert "PartitionFilters" in plan and "l_returnflag" in plan.split(
            "PartitionFilters", 1
        )[1].split("]", 1)[0]
        expect = lineitem_df.where(F.col("l_returnflag") == "A").count()
        assert pruned.count() == expect


def test_approx_stats_close_to_exact(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    row = approx_table_stats(ev, ["user_id", "event_type"]).collect()[0]
    exact_users = ev.select("user_id").distinct().count()
    exact_types = ev.select("event_type").distinct().count()
    assert row["n_rows"] == ev.count()
    assert abs(row["approx_distinct_user_id"] - exact_users) <= 0.05 * exact_users
    assert abs(row["approx_distinct_event_type"] - exact_types) <= max(
        1, 0.05 * exact_types
    )


def test_streaming_dedup_within_watermark(spark, sf_dir):
    """Replayed events (duplicate ids) are dropped under readStream with
    bounded state; result equals batch distinct-by-id."""
    from sparkglm_spark.streaming.events import dedup_events_within_watermark

    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        # write the table twice = every event replayed once
        raw.write.mode("append").parquet(src)
        raw.write.mode("append").parquet(src)
        stream_in = spark.readStream.schema(raw.schema).parquet(src)
        out = dedup_events_within_watermark(stream_in, watermark="100 days")
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_ev")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_ev").collect()[0]
    n_ids = raw.select("event_id").distinct().count()
    assert got["n"] == n_ids  # every id exactly once
    assert got["d"] == n_ids


def test_write_training_shards_roundtrip(spark, sf_dir, tmp_path):
    """Sharded sink: membership is the portable hash, files are id-sorted,
    the union round-trips, and the manifest accounts for every row."""
    from pyspark.sql import functions as F

    from sparkglm_spark.operators.split import hash_sample_expr
    from sparkglm_spark.session import read_table
    from sparkglm_spark.sources.io import write_training_shards

    docs = read_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    manifest = write_training_shards(docs, out, n_shards=4).collect()

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # membership: every row sits in the shard its id hashes to
    mismatch = back.where(
        F.col("shard") != F.pmod(hash_sample_expr("doc_id"), F.lit(4)).cast("int")
    ).count()
    assert mismatch == 0
    # manifest accounts for every row
    assert sum(r["n_rows"] for r in manifest) == docs.count()
    # in-file order: ids ascending within each shard's files
    import glob
    import pyarrow.parquet as pq

    for shard_dir in glob.glob(out + "/shard=*"):
        for f in glob.glob(shard_dir + "/*.parquet"):
            ids = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
            assert ids == sorted(ids), f
    # reader filtering on shard prunes at the directory level
    plan_df = back.where(F.col("shard") == 2)
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()


def test_convenience_readers_and_twins(spark, sf_dir):
    """Small public conveniences stay covered: read_table loads a testdata
    table, stream_from_events_table yields a streaming frame with the
    batch schema, and bpe_token_count matches its expression twin."""
    from pyspark.sql import functions as F

    from sparkglm_spark.operators.text import bpe_token_count, bpe_token_count_expr
    from sparkglm_spark.session import read_table
    from sparkglm_spark.streaming.events import stream_from_events_table

    assert read_table(spark, sf_dir, "region").count() == 5

    s = stream_from_events_table(spark, sf_dir)
    assert s.isStreaming and s.schema == read_table(spark, sf_dir, "events").schema

    docs = read_table(spark, sf_dir, "documents").limit(50)
    got = {r["doc_id"]: r["n_tokens_bpe"] for r in bpe_token_count(docs).collect()}
    want = {
        r["doc_id"]: r["w"]
        for r in docs.select(
            "doc_id", bpe_token_count_expr(F.col("text")).alias("w")
        ).collect()
    }
    assert got == want and len(got) == 50


# ---------------------------------------------------------------------------
# z-order layout (r7, plans/zorder.py)
# ---------------------------------------------------------------------------


def _file_ranges(path, cols):
    """Per-parquet-file (min, max) of each col from footer statistics —
    what a stat-based reader prunes with."""
    import glob as g

    import pyarrow.parquet as pq

    out = []
    for f in sorted(g.glob(os.path.join(path, "part-*.parquet"))):
        md = pq.ParquetFile(f).metadata
        lo = {c: None for c in cols}
        hi = {c: None for c in cols}
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        for rg in range(md.num_row_groups):
            for i, name in enumerate(names):
                if name not in cols:
                    continue
                st = md.row_group(rg).column(i).statistics
                if st is None:
                    continue
                lo[name] = st.min if lo[name] is None else min(lo[name], st.min)
                hi[name] = st.max if hi[name] is None else max(hi[name], st.max)
        if all(lo[c] is not None for c in cols):
            out.append({c: (lo[c], hi[c]) for c in cols})
    return out


def test_zorder_value_interleaves_and_validates(spark):
    from sparkglm_spark.plans.inspect import formatted_plan
    from sparkglm_spark.plans.zorder import zorder_value

    df = spark.createDataFrame([(0.0, 0.0), (3.0, 3.0), (0.0, 3.0)], "x double, y double")
    z = df.select(
        zorder_value(["x", "y"], [0.0, 0.0], [3.0, 3.0], bits=2).alias("z")
    ).collect()
    # scaled to [0,3]: (0,0)->0b0000=0; (3,3)->0b1111=15; (0,3)->y bits at
    # odd positions -> 0b1010=10
    assert [r.z for r in z] == [0, 15, 10]
    with pytest.raises(ValueError, match="62"):
        zorder_value(["a", "b", "c", "d"], [0] * 4, [1] * 4, bits=16)
    with pytest.raises(ValueError, match="non-empty"):
        zorder_value([], [], [])
    # pure codegen expression: projection only, no UDF nodes
    plan = formatted_plan(
        df.select(zorder_value(["x", "y"], [0.0, 0.0], [3.0, 3.0]))
    )
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_zorder_layout_tightens_file_stats_on_both_columns(spark, tmp_path):
    """The point of z-order: every file's parquet min/max bounding box is
    small in BOTH filter columns, so stat-based skipping prunes on either
    — vs a single-column sort, whose files span the full range of the
    other column."""
    import numpy as np

    from sparkglm_spark.plans.zorder import write_zordered

    rng = np.random.default_rng(9)
    n = 20_000
    rows = [(float(a), float(b)) for a, b in rng.uniform(0, 1000, (n, 2))]
    df = spark.createDataFrame(rows, "x double, y double")

    zpath, spath = str(tmp_path / "zord"), str(tmp_path / "xsort")
    meta = write_zordered(df, zpath, ["x", "y"], n_files=16, bits=10)
    assert meta["cols"] == ["x", "y"] and meta["bits"] == 10
    # baseline: range-partition + sort on x alone
    (df.repartitionByRange(16, "x").sortWithinPartitions("x")
       .write.mode("overwrite").parquet(spath))

    def mean_fraction(path, col):
        ranges = _file_ranges(path, ["x", "y"])
        assert len(ranges) >= 8
        return sum(r[col][1] - r[col][0] for r in ranges) / len(ranges) / 1000.0

    # x-sorted layout: tight on x, useless on y (each file ~ full range)
    assert mean_fraction(spath, "x") < 0.15
    assert mean_fraction(spath, "y") > 0.8
    # z-ordered layout: tight on BOTH (16 files ~ 4x4 cells -> ~1/4 range
    # per axis; allow slack for cell-boundary files)
    assert mean_fraction(zpath, "x") < 0.45
    assert mean_fraction(zpath, "y") < 0.45
    # and the data round-trips exactly
    got = spark.read.parquet(zpath)
    assert got.count() == n
    assert got.columns == ["x", "y"]
