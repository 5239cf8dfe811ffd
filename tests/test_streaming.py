"""Streaming: the same windowed core in batch and under readStream, with
watermark semantics."""

import datetime
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from sparkglm_spark.streaming.events import (
    sessionize,
    windowed_event_stats,
)


from sparkglm_spark.session import read_table


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return read_table(spark, sf_dir, "events")


def test_windowed_stats_batch_matches_sql(spark, events, sf_dir):
    got = windowed_event_stats(events, window="1 hour")
    events.createOrReplaceTempView("ev")
    expect = spark.sql(
        """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events, count(DISTINCT user_id) AS n_users,
               sum(value) AS value_sum
        FROM ev GROUP BY 1, 2
        """
    )
    g = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["n_users"])
        for r in got.collect()
    }
    e = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["n_users"])
        for r in expect.collect()
    }
    assert g == e


def test_windowed_stats_streaming_equals_batch(spark, events, sf_dir):
    """Run the SAME core under readStream (file source, availableNow) and
    compare with the batch result — event-time equivalence."""
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        os.symlink(
            os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet")
        )
        stream_in = spark.readStream.schema(raw.schema).parquet(src)
        out = windowed_event_stats(stream_in, window="1 hour", watermark="100 days")
        q = (
            out.writeStream.format("memory")
            .queryName("win_stats")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM win_stats").collect()
    batch = windowed_event_stats(events, window="1 hour").collect()
    key = lambda r: (r["window_start"], r["event_type"])
    g = {key(r): r["n_events"] for r in got}
    b = {key(r): r["n_events"] for r in batch}
    assert g == b
    assert len(g) > 0


def test_sessionize_basic(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 2.0),  # same session (gap 30m)
        (1, "2024-01-01 02:00:00", 3.0),  # new session
        (2, "2024-01-01 00:05:00", 4.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = sessionize(df, gap="30 minutes").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2
    assert len(by_user[2]) == 1
    s1 = sorted(by_user[1], key=lambda r: r["session_start"])
    assert s1[0]["n_events"] == 2 and s1[0]["value_sum"] == 3.0
    assert s1[1]["n_events"] == 1


def test_user_running_totals_stateful_stream(spark, sf_dir):
    """applyInPandasWithState custom stateful op: streaming running totals
    equal the batch groupBy aggregation once the stream drains."""
    from sparkglm_spark.streaming.events import (
        user_running_totals,
        user_running_totals_stream,
    )

    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        os.symlink(
            os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet")
        )
        stream_in = spark.readStream.schema(raw.schema).parquet(src)
        out = user_running_totals_stream(stream_in)
        q = (
            out.writeStream.format("memory")
            .queryName("running_totals")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            "SELECT user_id, max_by(n_events, n_events) AS n_events,"
            " max_by(value_sum, n_events) AS value_sum"
            " FROM running_totals GROUP BY user_id"
        ).collect()
    from sparkglm_spark.session import read_table

    batch = user_running_totals(read_table(spark, sf_dir, "events")).collect()
    g = {r["user_id"]: (r["n_events"], round(r["value_sum"], 6)) for r in got}
    b = {r["user_id"]: (r["n_events"], round(r["value_sum"], 6)) for r in batch}
    assert g == b and len(g) > 0


def test_user_running_totals_stream_requires_streaming_df(spark, events):
    from sparkglm_spark.streaming.events import user_running_totals_stream

    with pytest.raises(ValueError, match="streaming"):
        user_running_totals_stream(events)


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    """The interval join runs as a genuine stream-stream join (two
    readStream inputs, watermark-bounded state) and, once drained, equals
    the batch result of the same condition AND the bucket-exploded
    range_join_points plan."""
    from sparkglm_spark.operators.asof import range_join_points
    from sparkglm_spark.streaming.events import clicks_within_window_of_signup

    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        os.symlink(
            os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet")
        )

        def stream():
            return spark.readStream.schema(raw.schema).parquet(src)

        clicks_s = stream().where(F.col("event_type") == "click")
        signups_s = stream().where(F.col("event_type") == "signup")
        out = clicks_within_window_of_signup(
            clicks_s, signups_s, window="1 hour", watermark="100 days"
        )
        q = (
            out.writeStream.format("memory")
            .queryName("ssj")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["click_id"], r["signup_id"])
            for r in spark.sql("SELECT * FROM ssj").collect()
        }

    ev = read_table(spark, sf_dir, "events")
    batch = {
        (r["click_id"], r["signup_id"])
        for r in clicks_within_window_of_signup(
            ev.where(F.col("event_type") == "click"),
            ev.where(F.col("event_type") == "signup"),
            window="1 hour",
        ).collect()
    }
    pts = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    iv = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("s_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("e_ts"),
    )
    ranged = {
        (r["click_id"], r["signup_id"])
        for r in range_join_points(
            pts, iv, point_ts="cts", start_col="s_ts", end_col="e_ts",
            on="user_id", bucket_seconds=3600,
        ).collect()
    }
    assert got == batch == ranged
    assert len(got) > 0


def test_dedup_events_batch_path(spark, sf_dir):
    """Batch twin of the watermark dedup: plain dropDuplicates on the id
    (dropDuplicatesWithinWatermark is streaming-only in Spark 4.x)."""
    import os

    from sparkglm_spark.streaming.events import dedup_events_within_watermark

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    doubled = ev.unionAll(ev)
    out = dedup_events_within_watermark(doubled, id_cols=["event_id"])
    assert out.count() == ev.select("event_id").distinct().count()
    # event-time column keeps its batch type (NTZ) untouched
    assert dict(out.dtypes)["ts"] == dict(ev.dtypes)["ts"]


def test_latest_state_stream_equals_batch(spark, sf_dir):
    """latest_state_stream (r4 verdict ask): the stream's LAST update per
    key must equal the batch latest_state compaction once the stream
    drains. event_id doubles as the unique tiebreaker the contract asks
    for."""
    from sparkglm_spark.operators.timeseries import latest_state
    from sparkglm_spark.streaming.events import latest_state_stream

    key, order, vals = ["user_id"], ["ts", "event_id"], ["event_type", "value"]
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        os.symlink(
            os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet")
        )
        stream_in = spark.readStream.schema(raw.schema).parquet(src)
        out = latest_state_stream(stream_in, key, order, vals)
        q = (
            out.writeStream.format("memory")
            .queryName("latest_state_updates")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            "SELECT user_id,"
            " max_by(named_struct('ts', ts, 'event_id', event_id,"
            "   'event_type', event_type, 'value', value),"
            "   struct(ts, event_id)) AS w"
            " FROM latest_state_updates GROUP BY user_id"
        ).collect()
    from sparkglm_spark.session import read_table

    batch = latest_state(read_table(spark, sf_dir, "events"), key, order, vals).collect()
    g = {r["user_id"]: (r["w"]["ts"], r["w"]["event_id"], r["w"]["event_type"], round(r["w"]["value"], 9)) for r in got}
    b = {r["user_id"]: (r["ts"], r["event_id"], r["event_type"], round(r["value"], 9)) for r in batch}
    assert len(g) > 0 and g == b


def test_latest_state_stream_requires_streaming_df(spark, events):
    from sparkglm_spark.streaming.events import latest_state_stream

    with pytest.raises(ValueError, match="streaming"):
        latest_state_stream(events, ["user_id"], ["ts"], ["value"])


def test_sessionize_streaming_equals_batch(spark, sf_dir):
    """session_window under readStream: a ZERO-delay watermark (append mode
    only emits sessions the watermark has passed, so a generous delay would
    emit nothing for a bounded replay) plus a far-future sentinel event
    (the watermark stops AT the max event time, so the session holding it
    would otherwise stay open forever — the sentinel pushes the watermark
    past every real session) drains to exactly the batch sessionize result
    (compared as per-user session multisets — the NTZ→LTZ watermark
    mapping shifts displayed timestamps, not session composition)."""
    from collections import Counter

    from sparkglm_spark.streaming.events import _watermark_time, sessionize

    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        os.symlink(
            os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet")
        )
        sentinel = raw.orderBy(F.col("ts").desc()).limit(1).select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("ts") + F.expr("INTERVAL 3650 DAYS")).alias("ts"),
            F.lit(-999).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        # write the sentinel OUTSIDE src (events.parquet is a symlink into
        # read-only testdata), then copy its part file in as a second input
        import glob as _glob
        import shutil

        sent_dir = os.path.join(d, "sent")
        sentinel.coalesce(1).write.parquet(sent_dir)
        shutil.copy(
            _glob.glob(os.path.join(sent_dir, "part-*.parquet"))[0],
            os.path.join(src, "sentinel.parquet"),
        )
        stream_in = spark.readStream.schema(raw.schema).parquet(src)
        stream_in = stream_in.withColumn(
            "ts", _watermark_time(stream_in, "ts")
        ).withWatermark("ts", "0 seconds")
        out = sessionize(stream_in, gap="30 minutes")
        q = (
            out.writeStream.format("memory")
            .queryName("sess_stream")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            "SELECT user_id, n_events, value_sum FROM sess_stream"
            " WHERE user_id != -999"
        ).collect()
    from sparkglm_spark.session import read_table

    batch = sessionize(read_table(spark, sf_dir, "events"), gap="30 minutes").collect()
    g = Counter((r["user_id"], r["n_events"], round(r["value_sum"], 6)) for r in got)
    b = Counter((r["user_id"], r["n_events"], round(r["value_sum"], 6)) for r in batch)
    assert len(g) > 0 and g == b


def test_latest_state_stream_validates_columns(spark, sf_dir):
    from sparkglm_spark.streaming.events import latest_state_stream

    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    s = spark.readStream.schema(raw.schema).parquet(sf_dir)
    with pytest.raises(ValueError, match="not in input schema"):
        latest_state_stream(s, ["user_id"], ["nope"], ["value"])
    with pytest.raises(ValueError, match="non-empty"):
        latest_state_stream(s, [], ["ts"], ["value"])


def test_dedup_ingest_stream_invariants(spark, sf_dir):
    """Stream the documents corpus through the foreachBatch dedup ingest
    (one file per micro-batch) and check the order-invariant contract:
    the accepted store holds EXACTLY one row per distinct content, every
    accepted row is a real input row, and the index mirrors the accepted
    fingerprints 1:1."""
    from sparkglm_spark.streaming.ingest import dedup_ingest_writer

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    # make duplicates certain: a second copy of some docs under shifted ids
    dup = docs.where(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    full = docs.unionByName(dup)
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        full.repartition(4).write.parquet(src)
        stream_in = (
            spark.readStream.schema(full.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        idx, acc = os.path.join(d, "idx"), os.path.join(d, "acc")
        q = (
            dedup_ingest_writer(stream_in, idx, acc)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        accepted = spark.read.parquet(acc).collect()
        index = spark.read.parquet(idx).collect()
        n_batches = len({r["batch_id"] for r in accepted})
    inputs = {(r["doc_id"], r["text"]) for r in full.collect()}
    distinct_texts = {t for _, t in inputs}
    got_texts = [r["text"] for r in accepted]
    # one accepted row per distinct content, each a genuine input row
    assert sorted(set(got_texts)) == sorted(distinct_texts)
    assert len(got_texts) == len(distinct_texts)
    assert all((r["doc_id"], r["text"]) in inputs for r in accepted)
    # the index mirrors accepted 1:1 (same keys, one fingerprint each)
    assert sorted(r["doc_id"] for r in index) == sorted(
        r["doc_id"] for r in accepted
    )
    assert n_batches > 1, "maxFilesPerTrigger=1 should force multiple batches"


def test_dedup_ingest_batch_retry_is_idempotent(spark):
    """A Structured Streaming retry re-runs foreachBatch with the SAME
    batch_id: the re-run must not collide the batch with its own
    first-attempt fingerprints (that would accept nothing and overwrite
    the accepted dir with an empty set)."""
    from sparkglm_spark.streaming.ingest import dedup_ingest_batch

    with tempfile.TemporaryDirectory() as d:
        idx, acc = os.path.join(d, "idx"), os.path.join(d, "acc")
        b0 = spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "doc_id long, text string"
        )
        dedup_ingest_batch(b0, 0, idx, acc)
        b1 = spark.createDataFrame(
            [(10, "beta"), (11, "gamma"), (12, "gamma")],
            "doc_id long, text string",
        )
        dedup_ingest_batch(b1, 1, idx, acc)
        first = sorted(
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(acc).where(F.col("batch_id") == 1).collect()
        )
        assert first == [(11, "gamma")]  # beta known from batch 0
        dedup_ingest_batch(b1, 1, idx, acc)  # the retry
        again = sorted(
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(acc).where(F.col("batch_id") == 1).collect()
        )
        assert again == first
        # and the whole accepted store still holds one row per content
        texts = [r["text"] for r in spark.read.parquet(acc).collect()]
        assert sorted(texts) == ["alpha", "beta", "gamma"]


def test_dedup_ingest_writer_requires_streaming_df(spark):
    from sparkglm_spark.streaming.ingest import dedup_ingest_writer

    batch_df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(TypeError, match="streaming DataFrame"):
        dedup_ingest_writer(batch_df, "/tmp/i", "/tmp/a")


def test_dedup_ingest_prepare_hook_curates_before_dedup(spark, tmp_path):
    """The curation hook runs BEFORE fingerprinting: whitespace variants of
    one document must collide post-normalization, and gated rows must
    never reach the store — across batches."""
    from sparkglm_spark.operators.text import normalize_text
    from sparkglm_spark.streaming.ingest import dedup_ingest_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")

    def prep(b):
        # normalize, drop the audit column (schema stability across
        # batches), and gate out short junk
        out = normalize_text(b).drop("n_chars_removed")
        return out.where(F.length("text") >= 10)

    b0 = spark.createDataFrame(
        [(1, "hello   world document one"), (2, "x")],  # 2 gated out
        "doc_id long, text string",
    )
    # doc 3 is a whitespace/quote variant of doc 1 → same normalized text
    b1 = spark.createDataFrame(
        [(3, "hello \t world   document one"), (4, "another “doc” here")],
        "doc_id long, text string",
    )
    dedup_ingest_batch(b0, 0, idx, acc, prepare=prep)
    dedup_ingest_batch(b1, 1, idx, acc, prepare=prep)
    rows = {r["doc_id"]: r["text"] for r in spark.read.parquet(acc).collect()}
    assert set(rows) == {1, 4}  # 2 gated, 3 deduped against normalized 1
    assert rows[1] == "hello world document one"
    assert rows[4] == 'another "doc" here'


def test_dedup_ingest_stream_with_prepare_hook(spark):
    """The prepare hook under a REAL stream: normalization runs inside
    every micro-batch before fingerprinting, so whitespace variants
    arriving in different batches still collapse to one accepted row."""
    from sparkglm_spark.operators.text import normalize_text
    from sparkglm_spark.streaming.ingest import dedup_ingest_writer

    rows = [
        (1, "hello   world document"),
        (2, "other content entirely here"),
        (3, "hello \t world   document"),   # variant of 1
        (4, "other  content entirely here"),  # variant of 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        # one file per row → one micro-batch per row
        df.repartition(4, "doc_id").write.parquet(src)
        stream_in = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            dedup_ingest_writer(
                stream_in,
                os.path.join(d, "idx"),
                os.path.join(d, "acc"),
                prepare=lambda b: normalize_text(b).drop("n_chars_removed"),
            )
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        accepted = spark.read.parquet(os.path.join(d, "acc")).collect()
    texts = sorted(r["text"] for r in accepted)
    assert texts == ["hello world document", "other content entirely here"]


# ---------------------------------------------------------------------------
# Near-dup (MinHash) streaming ingest — the r7 twin of the exact gate
# ---------------------------------------------------------------------------


def _neardup_corpus(spark):
    """Three content families with guaranteed ≥0.8 shingle-Jaccard inside
    each family (long shared text, one token changed) and ~0 across."""
    base_a = "the quick brown fox jumps over the lazy dog and runs far away into the quiet green forest tonight"
    base_b = "distributed query engines shuffle partitioned data across executor nodes to aggregate massive tables quickly"
    base_c = "a completely unrelated third document about cooking pasta with garlic olive oil and fresh basil leaves"
    rows = [
        (0, base_a),
        (1, base_a.replace("tonight", "today")),       # near-dup of 0
        (2, base_b),
        (3, base_b.replace("quickly", "slowly")),      # near-dup of 2
        (4, base_c),
        (5, base_a.replace("quiet", "silent")),        # near-dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_neardup_ingest_converges_to_batch_composition(spark, tmp_path):
    """Replayed micro-batches must converge to the sequential batch-mode
    composition: survivors(B_k) = minhash_dedup_against(B_k,
    minhash_index(accepted so far)) — including a RETRY of the last
    batch, which must rewrite identical survivors."""
    from sparkglm_spark.operators.dedup import minhash_dedup_against, minhash_index
    from sparkglm_spark.streaming.ingest import neardup_ingest_batch

    docs = _neardup_corpus(spark)
    b0 = docs.where(F.col("doc_id") <= 2)   # 0, 1 (near-dup of 0), 2
    b1 = docs.where(F.col("doc_id") > 2)    # 3 (~2), 4, 5 (~0)
    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")

    neardup_ingest_batch(b0, 0, idx, acc)
    neardup_ingest_batch(b1, 1, idx, acc)
    got_b1 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(acc).where(F.col("batch_id") == 1).collect()
    )

    # batch-mode composition twin: batch 0 survives whole (within-batch
    # near-dups unresolved, the minhash_dedup_against contract), batch 1
    # gates against the accumulated index
    expected_b1 = sorted(
        r["doc_id"]
        for r in minhash_dedup_against(
            b1, minhash_index(b0, "doc_id", "text"), "doc_id", "text"
        ).collect()
    )
    assert got_b1 == expected_b1
    # the near-dups of batch-0 content were dropped, the novel doc kept
    assert 4 in got_b1 and 3 not in got_b1 and 5 not in got_b1
    # batch 0 accepted whole + index mirrors accepted ids 1:1
    accepted = spark.read.parquet(acc).collect()
    index = spark.read.parquet(idx).collect()
    assert sorted(r["doc_id"] for r in accepted) == sorted([0, 1, 2] + got_b1)
    assert sorted(r["id"] for r in index) == sorted(
        r["doc_id"] for r in accepted
    )
    assert all(len(r["sig"]) == 128 for r in index)

    # retry of batch 1 (same batch_id): identical survivors, no dupes
    neardup_ingest_batch(b1, 1, idx, acc)
    again = sorted(
        r["doc_id"]
        for r in spark.read.parquet(acc).where(F.col("batch_id") == 1).collect()
    )
    assert again == got_b1


def test_neardup_ingest_stream_replay(spark, tmp_path):
    """Drive the foreachBatch writer under a real readStream (one file per
    trigger): the accepted store ends with exactly one representative per
    content family regardless of file order, and every accepted row is a
    genuine input row."""
    from sparkglm_spark.streaming.ingest import neardup_ingest_writer

    docs = _neardup_corpus(spark)
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    stream_in = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    q = (
        neardup_ingest_writer(stream_in, idx, acc)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    accepted = spark.read.parquet(acc).collect()
    inputs = {(r["doc_id"], r["text"]) for r in docs.collect()}
    assert all((r["doc_id"], r["text"]) in inputs for r in accepted)
    kept = {r["doc_id"] for r in accepted}
    # each family keeps at least one representative; the unrelated doc
    # always survives; cross-family content is never merged
    assert 4 in kept
    assert kept & {0, 1, 5}, "family A lost entirely"
    assert kept & {2, 3}, "family B lost entirely"
    # convergence: docs landing in LATER batches than an accepted
    # family member are gated (file order decides which member that is,
    # so assert via the index: one signature row per accepted row)
    index = spark.read.parquet(idx).collect()
    assert sorted(r["id"] for r in index) == sorted(kept)


def test_neardup_ingest_writer_requires_streaming_df(spark):
    from sparkglm_spark.streaming.ingest import neardup_ingest_writer

    batch_df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(TypeError, match="streaming DataFrame"):
        neardup_ingest_writer(batch_df, "/tmp/i", "/tmp/a")


def test_ewma_state_stream_equals_batch(spark, sf_dir):
    """ewma_state_stream over a 3-micro-batch ts-ordered replay (disjoint
    ts tertiles, maxFilesPerTrigger=1): the LAST update per key must equal
    the batch `ewma_latest` — the incremental (num, den) fold is exact,
    not approximate."""
    from sparkglm_spark.operators.timeseries import ewma_latest
    from sparkglm_spark.streaming.events import ewma_state_stream

    raw = read_table(spark, sf_dir, "events")
    alpha = 0.25
    # tertile split by ts → batches arrive in time order
    ts_sorted = raw.select("ts").orderBy("ts").collect()
    n = len(ts_sorted)
    t1, t2 = ts_sorted[n // 3].ts, ts_sorted[2 * n // 3].ts
    parts = [
        raw.where(F.col("ts") <= F.lit(t1)),
        raw.where((F.col("ts") > F.lit(t1)) & (F.col("ts") <= F.lit(t2))),
        raw.where(F.col("ts") > F.lit(t2)),
    ]
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i, p in enumerate(parts):
            p.coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
        stream_in = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        out = ewma_state_stream(
            stream_in, "user_id", "ts", "value", alpha, tiebreak_col="event_id"
        )
        q = (
            out.writeStream.format("memory")
            .queryName("ewma_updates")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.sql(
            "SELECT user_id, max_by(named_struct('n', n_events, 'e', ewma,"
            " 'l', last_ts_micros), n_events) AS w"
            " FROM ewma_updates GROUP BY user_id"
        ).collect()
    batch = {
        r.user_id: r
        for r in ewma_latest(
            raw, "user_id", "ts", "value", alpha, tiebreak_col="event_id"
        ).collect()
    }
    assert len(got) == len(batch) > 0
    for r in got:
        b = batch[r.user_id]
        assert r.w["n"] == b.n_events, r.user_id
        assert r.w["e"] == pytest.approx(b.ewma, rel=1e-9), r.user_id
        # NTZ last_ts as wall-clock epoch micros
        epoch = datetime.datetime(1970, 1, 1)
        assert r.w["l"] == (b.last_ts - epoch) // datetime.timedelta(
            microseconds=1
        ), r.user_id


def test_ewma_state_stream_guards(spark, events):
    from sparkglm_spark.streaming.events import ewma_state_stream

    with pytest.raises(ValueError, match="streaming"):
        ewma_state_stream(events, "user_id", "ts", "value", 0.5)

def test_ewma_state_stream_multi_chunk_group_order(spark):
    """A single micro-batch whose per-key rows span MULTIPLE Arrow chunks
    and arrive ts-shuffled must still fold in (ts, tiebreak) order — the
    per-chunk-sort regression: folding chunk-by-chunk weights cross-chunk
    out-of-order rows as newest and diverges from batch ewma_latest."""
    import numpy as np

    from sparkglm_spark.operators.timeseries import ewma_latest
    from sparkglm_spark.streaming.events import ewma_state_stream

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rng = np.random.default_rng(59)
        n = 60  # >> 7-row chunks -> ~9 chunks per group
        order = rng.permutation(n)  # ts-shuffled arrival inside the batch
        rows = [
            (
                "k1",
                f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}",
                float(i),
                int(i),
            )
            for i in order
        ]
        raw = spark.createDataFrame(
            rows, "user_id string, ts_s string, value double, event_id long"
        ).select(
            "user_id",
            F.col("ts_s").cast("timestamp").alias("ts"),
            "value",
            "event_id",
        )
        with tempfile.TemporaryDirectory() as d:
            src = os.path.join(d, "src")
            raw.coalesce(1).write.parquet(src)
            stream_in = spark.readStream.schema(raw.schema).parquet(src)
            out = ewma_state_stream(
                stream_in, "user_id", "ts", "value", 0.3, tiebreak_col="event_id"
            )
            q = (
                out.writeStream.format("memory")
                .queryName("ewma_chunks")
                .outputMode("update")
                .option("checkpointLocation", os.path.join(d, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            got = spark.sql(
                "SELECT ewma, n_events FROM ewma_chunks ORDER BY n_events DESC LIMIT 1"
            ).collect()[0]
        want = ewma_latest(
            raw, "user_id", "ts", "value", 0.3, tiebreak_col="event_id"
        ).collect()[0]
        assert got.n_events == want.n_events == n
        assert got.ewma == pytest.approx(want.ewma, rel=1e-12)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

def test_holt_state_stream_equals_batch(spark, sf_dir):
    """holt_state_stream over a 3-micro-batch ts-ordered replay: the LAST
    update per key must equal the batch holt_forecast — the sequential
    fold continues exactly across batch boundaries (incl. keys whose
    first two rows straddle batches: the init identity (x2, x2-x1))."""
    from sparkglm_spark.operators.timeseries import holt_forecast
    from sparkglm_spark.streaming.events import holt_state_stream

    raw = read_table(spark, sf_dir, "events")
    a, b = 0.35, 0.25
    ts_sorted = raw.select("ts").orderBy("ts").collect()
    n = len(ts_sorted)
    t1, t2 = ts_sorted[n // 3].ts, ts_sorted[2 * n // 3].ts
    parts = [
        raw.where(F.col("ts") <= F.lit(t1)),
        raw.where((F.col("ts") > F.lit(t1)) & (F.col("ts") <= F.lit(t2))),
        raw.where(F.col("ts") > F.lit(t2)),
    ]
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i, p in enumerate(parts):
            p.coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
        stream_in = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        out = holt_state_stream(
            stream_in, "user_id", "ts", "value", a, b, tiebreak_col="event_id"
        )
        q = (
            out.writeStream.format("memory")
            .queryName("holt_updates")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.sql(
            "SELECT user_id, max_by(named_struct('n', n_events, 'l', level,"
            " 't', trend, 'f', forecast_1), n_events) AS w"
            " FROM holt_updates GROUP BY user_id"
        ).collect()
    batch = {
        r.user_id: r
        for r in holt_forecast(
            raw, "user_id", "ts", "value", a, b, horizons=[1],
            tiebreak_col="event_id",
        ).collect()
    }
    assert len(got) == len(batch) > 0
    for r in got:
        bb = batch[r.user_id]
        assert r.w["n"] == bb.n_events, r.user_id
        assert r.w["l"] == pytest.approx(bb.level, rel=1e-9), r.user_id
        assert r.w["t"] == pytest.approx(bb.trend, rel=1e-9), r.user_id
        assert r.w["f"] == pytest.approx(bb.forecast_1, rel=1e-9), r.user_id


def test_holt_state_stream_guards(spark, events):
    from sparkglm_spark.streaming.events import holt_state_stream

    with pytest.raises(ValueError, match="streaming"):
        holt_state_stream(events, "user_id", "ts", "value", 0.5, 0.5)


def test_holt_damped_state_stream_equals_batch(spark):
    """Damped-trend (phi < 1) stream continuation: a 3-micro-batch
    ts-ordered replay's last update per key equals the batch
    holt_forecast(phi=) EXACTLY (rel 1e-12) — the carried (level, trend)
    state folds through the same damped one-step update, including keys
    whose first two rows straddle batches (init is phi-independent)."""
    import numpy as np

    from sparkglm_spark.operators.timeseries import holt_forecast
    from sparkglm_spark.streaming.events import holt_state_stream

    a, b, phi = 0.35, 0.25, 0.8
    rng = np.random.default_rng(7)
    rows = []
    eid = 0
    for k, n in (("u1", 7), ("u2", 1), ("u3", 11)):
        for i in range(n):
            rows.append(
                (eid, f"2024-01-01 00:00:{eid:02d}", k,
                 float(10 + i + rng.normal(0, 1))))
            eid += 1
    raw = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id string, value double"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "value",
    )
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        # u1's first two rows straddle batches 0/1 (eid 0-5 / 6-12 / rest)
        bounds = [(0, 6), (6, 13), (13, 99)]
        for i, (lo, hi) in enumerate(bounds):
            raw.where(
                (F.col("event_id") >= lo) & (F.col("event_id") < hi)
            ).coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
        stream_in = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        with pytest.raises(ValueError, match="phi"):
            holt_state_stream(
                stream_in, "user_id", "ts", "value", a, b, phi=0.0
            )
        q = (
            holt_state_stream(
                stream_in, "user_id", "ts", "value", a, b,
                tiebreak_col="event_id", phi=phi,
            )
            .writeStream.format("memory").queryName("holt_damped")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        got = spark.sql(
            "SELECT user_id, max_by(named_struct('n', n_events, 'l', level,"
            " 't', trend, 'f', forecast_1), n_events) AS w"
            " FROM holt_damped GROUP BY user_id"
        ).collect()
    batch = {
        r.user_id: r
        for r in holt_forecast(
            raw, "user_id", "ts", "value", a, b, horizons=[1],
            tiebreak_col="event_id", phi=phi,
        ).collect()
    }
    assert len(got) == len(batch) == 3
    for r in got:
        bb = batch[r.user_id]
        assert r.w["n"] == bb.n_events, r.user_id
        assert r.w["l"] == pytest.approx(bb.level, rel=1e-12), r.user_id
        assert r.w["t"] == pytest.approx(bb.trend, rel=1e-12), r.user_id
        assert r.w["f"] == pytest.approx(bb.forecast_1, rel=1e-12), r.user_id


def test_smoothing_streams_drop_null_values(spark):
    """Family null policy in the STREAMING twins: a null/NaN value in a
    micro-batch is dropped before the fold (it would otherwise
    NaN-poison the key's carried state for every later batch), so the
    final state equals the batch operator over the same dirty frame."""
    from sparkglm_spark.operators.timeseries import ewma_latest, holt_forecast
    from sparkglm_spark.streaming.events import (
        ewma_state_stream,
        holt_state_stream,
    )

    vals = [3.0, None, 7.0, float("nan"), 4.0, 9.0]
    rows = [
        (i, f"2024-01-01 00:00:{i:02d}", "k", v) for i, v in enumerate(vals)
    ]
    raw = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id string, value double"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "value",
    )
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        # null lands in its own micro-batch: rows 0-1 / 2-3 / 4-5
        for i in range(3):
            raw.where(
                (F.col("event_id") >= 2 * i) & (F.col("event_id") < 2 * i + 2)
            ).coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
        stream_in = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        hq = (
            holt_state_stream(
                stream_in, "user_id", "ts", "value", 0.4, 0.3,
                tiebreak_col="event_id",
            )
            .writeStream.format("memory").queryName("holt_null")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ck1"))
            .trigger(availableNow=True).start()
        )
        hq.awaitTermination(180)
        eq = (
            ewma_state_stream(
                stream_in, "user_id", "ts", "value", 0.5,
                tiebreak_col="event_id",
            )
            .writeStream.format("memory").queryName("ewma_null")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ck2"))
            .trigger(availableNow=True).start()
        )
        eq.awaitTermination(180)
        h = spark.sql(
            "SELECT max_by(named_struct('n', n_events, 'l', level, 't', trend),"
            " n_events) AS w FROM holt_null"
        ).collect()[0].w
        e = spark.sql(
            "SELECT max_by(named_struct('n', n_events, 'e', ewma), n_events)"
            " AS w FROM ewma_null"
        ).collect()[0].w
    hb = holt_forecast(raw, "user_id", "ts", "value", 0.4, 0.3).collect()[0]
    eb = ewma_latest(raw, "user_id", "ts", "value", 0.5).collect()[0]
    assert h["n"] == hb.n_events == 4
    assert h["l"] == pytest.approx(hb.level, rel=1e-12)
    assert h["t"] == pytest.approx(hb.trend, rel=1e-12)
    assert e["n"] == eb.n_events == 4
    assert e["e"] == pytest.approx(eb.ewma, rel=1e-12)


def test_drift_state_stream_equals_batch(spark, sf_dir):
    """drift_state_stream over a 3-micro-batch replay: the LAST update
    must equal batch distribution_drift(reference, all-arrived-rows) —
    the per-bin count fold is exact because the bins are fixed. Also
    exercises the grouped variant and the family null policy."""
    from sparkglm_spark.operators.stats import distribution_drift
    from sparkglm_spark.streaming.events import drift_state_stream

    raw = read_table(spark, sf_dir, "events")
    # dirty the stream: some null/NaN values must be dropped, not binned
    cur = raw.withColumn(
        "value",
        F.when(F.col("event_id") % 37 == 0, None)
        .when(F.col("event_id") % 41 == 0, float("nan"))
        .otherwise(F.col("value")),
    )
    ref_frame = raw.where(F.col("event_id") % 2 == 0)
    reference = distribution_drift(
        ref_frame, ref_frame, "value", n_bins=8, lo=0.0, hi=500.0
    )
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i in range(3):
            cur.where(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
                os.path.join(src, f"b{i}.parquet")
            )
        stream_in = (
            spark.readStream.schema(cur.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        q = (
            drift_state_stream(stream_in, "value", reference)
            .writeStream.format("memory").queryName("drift_updates")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        got = spark.sql(
            "SELECT max_by(named_struct('n', n_cur, 'psi', psi,"
            " 'js', js_divergence), n_cur) AS w FROM drift_updates"
        ).collect()[0].w
        updates = spark.sql("SELECT count(*) AS c FROM drift_updates").collect()[0].c
    batch = distribution_drift(ref_frame, cur, "value", n_bins=8, lo=0.0, hi=500.0)
    assert updates == 3  # one update per micro-batch
    assert got["n"] == batch["n_cur"]
    assert got["psi"] == pytest.approx(batch["psi"], rel=1e-12)
    assert got["js"] == pytest.approx(batch["js_divergence"], rel=1e-12)

    # grouped monitor: per-event-type drift, final state per group equals
    # the per-slice batch metric; NULL group keys are dropped (the batch
    # twin's isNotNull filter — review r9)
    cur = cur.withColumn(
        "event_type",
        F.when(F.col("event_id") % 13 == 0, None).otherwise(
            F.col("event_type")
        ),
    )
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i in range(2):
            cur.where(F.col("event_id") % 2 == i).coalesce(1).write.parquet(
                os.path.join(src, f"b{i}.parquet")
            )
        stream_in = (
            spark.readStream.schema(cur.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        q = (
            drift_state_stream(
                stream_in, "value", reference, group_col="event_type"
            )
            .writeStream.format("memory").queryName("drift_grouped")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        per_g = {
            r.event_type: r.w
            for r in spark.sql(
                "SELECT event_type, max_by(named_struct('n', n_cur,"
                " 'psi', psi), n_cur) AS w FROM drift_grouped"
                " GROUP BY event_type"
            ).collect()
        }
    types = [
        r.event_type
        for r in cur.select("event_type").distinct().collect()
        if r.event_type is not None
    ]
    assert None not in per_g  # NULL keys dropped, not their own segment
    assert sorted(per_g) == sorted(types)
    for t in types:
        b = distribution_drift(
            ref_frame, cur.where(F.col("event_type") == t), "value",
            n_bins=8, lo=0.0, hi=500.0,
        )
        assert per_g[t]["n"] == b["n_cur"], t
        assert per_g[t]["psi"] == pytest.approx(b["psi"], rel=1e-12), t


def test_drift_state_stream_guards(spark, events):
    from sparkglm_spark.operators.stats import distribution_drift
    from sparkglm_spark.streaming.events import drift_state_stream

    ref = distribution_drift(events, events, "value", n_bins=4, lo=0.0, hi=1.0)
    with pytest.raises(ValueError, match="streaming"):
        drift_state_stream(events, "value", ref)
    with pytest.raises(ValueError, match="reference"):
        drift_state_stream(events, "value", {"lo": 0.0})


@pytest.mark.parametrize("phi", [None, 0.8])
def test_holt_winters_state_stream_equals_batch(spark, sf_dir, phi):
    """holt_winters_state_stream over a 4-micro-batch ts-ordered replay:
    the LAST update per key equals batch holt_winters_forecast — the
    init buffer fills across batch boundaries and the fold continues
    exactly (same _hw_fold on both sides). Uses a synthetic seasonal
    frame so every key crosses the 2·period init threshold mid-stream.
    The phi=0.8 arm replays the DAMPED fold (r11) — phi must be
    forwarded through the init-buffer call, the continuation call, and
    the forecast_1 emit alike."""
    import numpy as np

    from sparkglm_spark.operators.timeseries import holt_winters_forecast
    from sparkglm_spark.streaming.events import holt_winters_state_stream

    m, a, b, g = 3, 0.5, 0.25, 0.5
    pk = {} if phi is None else {"phi": phi}
    qname = "hw_updates" if phi is None else "hw_updates_damped"
    rng = np.random.default_rng(8)
    rows = []
    eid = 0
    for k in range(4):
        n = 9 + 4 * k  # 9, 13, 17, 21 rows; init at 6
        for t in range(n):
            v = 5.0 * (k + 1) + 0.2 * t + [2.0, -1.0, -1.0][t % m]
            rows.append(
                (eid, f"2024-01-01 00:00:{t:02d}", k, float(v + rng.normal(0, 0.1)))
            )
            eid += 1
    raw = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, value double"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"),
             "user_id", "value")
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        ts_sorted = sorted(r.ts for r in raw.select("ts").collect())
        cuts = [ts_sorted[len(ts_sorted) * i // 4] for i in (1, 2, 3)]
        parts = [
            raw.where(F.col("ts") <= F.lit(cuts[0])),
            raw.where((F.col("ts") > F.lit(cuts[0])) & (F.col("ts") <= F.lit(cuts[1]))),
            raw.where((F.col("ts") > F.lit(cuts[1])) & (F.col("ts") <= F.lit(cuts[2]))),
            raw.where(F.col("ts") > F.lit(cuts[2])),
        ]
        for i, p in enumerate(parts):
            p.coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
        stream_in = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        with pytest.raises(ValueError, match="seasonal"):
            holt_winters_state_stream(
                stream_in, "user_id", "ts", "value", a, b, g, period=m,
                seasonal="typo",
            )
        q = (
            holt_winters_state_stream(
                stream_in, "user_id", "ts", "value", a, b, g, period=m,
                tiebreak_col="event_id", **pk,
            )
            .writeStream.format("memory").queryName(qname)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        got = spark.sql(
            "SELECT user_id, max_by(named_struct('n', n_events, 'l', level,"
            f" 't', trend, 'f', forecast_1), n_events) AS w"
            f" FROM {qname} GROUP BY user_id"
        ).collect()
    batch = {
        r.user_id: r
        for r in holt_winters_forecast(
            raw, "user_id", "ts", "value", a, b, g, period=m, horizons=[1],
            tiebreak_col="event_id", **pk,
        ).collect()
    }
    assert len(got) == len(batch) == 4
    for r in got:
        bb = batch[r.user_id]
        assert r.w["n"] == bb.n_events, r.user_id
        assert r.w["l"] == pytest.approx(bb.level, rel=1e-12), r.user_id
        assert r.w["t"] == pytest.approx(bb.trend, rel=1e-12), r.user_id
        assert r.w["f"] == pytest.approx(bb.forecast_1, rel=1e-12), r.user_id


def test_intermittent_state_streams_equal_batch(spark, sf_dir):
    """r12: croston_state_stream / tsb_state_stream over a 3-micro-batch
    ts-ordered replay — the LAST update per key must equal the batch
    croston_forecast / tsb_forecast EXACTLY (the folds are Markov in
    (z, p, q); the stream runs the same scalar expressions). r14: both
    sides run interval=True — the (sse, m) accumulators are Markov too,
    so se/lo/hi are bit-exact across the boundary as well."""
    from sparkglm_spark.operators.timeseries import (
        croston_forecast,
        tsb_forecast,
    )
    from sparkglm_spark.streaming.events import (
        croston_state_stream,
        tsb_state_stream,
    )

    raw = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.when(F.col("value") < 50, 0.0).otherwise(F.col("value")).alias("dm"),
    )
    ts_sorted = raw.select("ts").orderBy("ts").collect()
    n = len(ts_sorted)
    t1, t2 = ts_sorted[n // 3].ts, ts_sorted[2 * n // 3].ts
    parts = [
        raw.where(F.col("ts") <= F.lit(t1)),
        raw.where((F.col("ts") > F.lit(t1)) & (F.col("ts") <= F.lit(t2))),
        raw.where(F.col("ts") > F.lit(t2)),
    ]
    for name, mk_stream, mk_batch, second in (
        (
            "cr",
            lambda s: croston_state_stream(
                s, "user_id", "ts", "dm", alpha=0.3, variant="sba",
                tiebreak_col="event_id", interval=True,
            ),
            lambda: croston_forecast(
                raw, "user_id", "ts", "dm", alpha=0.3, variant="sba",
                tiebreak_col="event_id", interval=True,
            ),
            "interval",
        ),
        (
            "tsb",
            lambda s: tsb_state_stream(
                s, "user_id", "ts", "dm", alpha=0.3, beta=0.2,
                tiebreak_col="event_id", interval=True,
            ),
            lambda: tsb_forecast(
                raw, "user_id", "ts", "dm", alpha=0.3, beta=0.2,
                tiebreak_col="event_id", interval=True,
            ),
            "probability",
        ),
    ):
        with tempfile.TemporaryDirectory() as d:
            src = os.path.join(d, "src")
            os.makedirs(src)
            for i, p in enumerate(parts):
                p.coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
            stream_in = (
                spark.readStream.schema(raw.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(src, "*.parquet"))
            )
            out = mk_stream(stream_in)
            q = (
                out.writeStream.format("memory")
                .queryName(f"{name}_updates")
                .outputMode("update")
                .option("checkpointLocation", os.path.join(d, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            got = {
                r.user_id: r.w
                for r in spark.sql(
                    f"SELECT user_id, max_by(named_struct('n', n_periods,"
                    f" 'nd', n_demands, 'z', size, 'p', {second},"
                    f" 'fc', forecast, 'se', se, 'lo', lo, 'hi', hi),"
                    f" n_periods) AS w"
                    f" FROM {name}_updates GROUP BY user_id"
                ).collect()
            }
        batch = {r["user_id"]: r for r in mk_batch().collect()}
        assert len(got) == len(batch) > 0, name
        for uid, b in batch.items():
            g = got[uid]
            assert g["n"] == b["n_periods"], (name, uid)
            assert g["nd"] == b["n_demands"], (name, uid)
            # bit-exact: the stream runs the batch fold's own scalars
            assert g["z"] == b["size"], (name, uid)
            assert g["p"] == b[second], (name, uid)
            assert g["fc"] == b["forecast"], (name, uid)
            assert g["se"] == b["se"], (name, uid)
            assert g["lo"] == b["lo"], (name, uid)
            assert g["hi"] == b["hi"], (name, uid)


def test_intermittent_state_stream_negative_degrades(spark):
    """A negative demand permanently NULL-degrades its key in-stream
    (the batch NULL policy's streaming face); sibling keys keep state."""
    from sparkglm_spark.streaming.events import croston_state_stream

    rows = [
        ("a", i, float(v))
        for i, v in enumerate([0.0, 5.0, 0.0, -1.0, 2.0, 0.0])
    ] + [("b", i, float(v)) for i, v in enumerate([0.0, 3.0, 0.0, 4.0])]
    pdf = spark.createDataFrame(rows, "k string, t long, v double")
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        pdf.coalesce(1).write.parquet(os.path.join(src, "b0.parquet"))
        stream_in = (
            spark.readStream.schema(pdf.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        out = croston_state_stream(stream_in, "k", "t", "v", alpha=0.5)
        q = (
            out.writeStream.format("memory")
            .queryName("crneg_updates")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r.k: r for r in spark.sql("SELECT * FROM crneg_updates").collect()}
    assert got["a"].size is None and got["a"].n_demands is None
    assert got["a"].n_periods == 6
    assert got["b"].size is not None and got["b"].n_demands == 2


def test_forecast_accuracy_stream_equals_batch(spark, sf_dir):
    """r12: forecast_accuracy_stream over a 3-micro-batch ts-ordered
    replay — the LAST update per key matches the batch
    forecast_accuracy at 1e-12 (running sums vs batch means: only float
    association differs)."""
    from pyspark.sql import Window

    from sparkglm_spark.operators.timeseries import forecast_accuracy
    from sparkglm_spark.streaming.events import forecast_accuracy_stream

    ev = read_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & ~F.isnan(F.col("value"))
    )
    raw = ev.select(
        "user_id", "ts", "event_id", "value",
        F.lag("value").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("fcst"),
    )
    ts_sorted = raw.select("ts").orderBy("ts").collect()
    n = len(ts_sorted)
    t1, t2 = ts_sorted[n // 3].ts, ts_sorted[2 * n // 3].ts
    parts = [
        raw.where(F.col("ts") <= F.lit(t1)),
        raw.where((F.col("ts") > F.lit(t1)) & (F.col("ts") <= F.lit(t2))),
        raw.where(F.col("ts") > F.lit(t2)),
    ]
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i, p in enumerate(parts):
            p.coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
        stream_in = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        out = forecast_accuracy_stream(
            stream_in, "user_id", "ts", "value", "fcst",
            tiebreak_col="event_id",
        )
        q = (
            out.writeStream.format("memory")
            .queryName("fa_updates")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            r.user_id: r.w
            for r in spark.sql(
                "SELECT user_id, max_by(named_struct('n', n, 'mae', mae,"
                " 'rmse', rmse, 'mape', mape, 'nm', n_mape, 'sm', smape,"
                " 'ms', mase), n) AS w FROM fa_updates GROUP BY user_id"
            ).collect()
        }
    batch = {
        r.user_id: r
        for r in forecast_accuracy(
            raw, "user_id", "ts", "value", "fcst", tiebreak_col="event_id"
        ).collect()
    }
    assert len(got) == len(batch) > 0
    for uid, b in batch.items():
        g = got[uid]
        assert g["n"] == b.n and g["nm"] == b.n_mape, uid
        for k, bk in (("mae", b.mae), ("rmse", b.rmse), ("mape", b.mape),
                      ("sm", b.smape), ("ms", b.mase)):
            if bk is None:
                assert g[k] is None, (uid, k)
            else:
                assert g[k] == pytest.approx(bk, rel=1e-12), (uid, k)


def test_forecast_accuracy_stream_seasonal_m(spark):
    """r13 (VERDICT r12 #4): forecast_accuracy_stream(m=4) carries an
    m-deep ring buffer — on a gap-free integer grid the last update per
    key equals batch forecast_accuracy(m=4) at 1e-12; a short key (≤ m
    rows) is NULL; a key with a planted ts gap is NULL in BOTH engines
    (the r13 contiguity contract); m=0 raises."""
    import numpy as np

    from sparkglm_spark.operators.timeseries import forecast_accuracy
    from sparkglm_spark.streaming.events import forecast_accuracy_stream

    rng = np.random.default_rng(135)
    rows = []
    for k in ("a", "b"):
        base = 10.0 if k == "a" else 5.0
        for t in range(24):
            y = base + (t % 4) + float(rng.normal(0, 0.3))
            rows.append((k, t, y, y + float(rng.normal(0, 0.5))))
    rows += [("short", t, 1.0 + t, 1.5 + t) for t in range(3)]  # <= m rows
    rows += [("gap", t, 2.0 + (t % 4), 2.5)  # t=11 missing
             for t in list(range(11)) + list(range(12, 24))]
    df = spark.createDataFrame(rows, "k string, t long, y double, f double")
    parts = [
        df.where(F.col("t") < 8),
        df.where((F.col("t") >= 8) & (F.col("t") < 16)),
        df.where(F.col("t") >= 16),
    ]
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i, p in enumerate(parts):
            p.coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
        stream_in = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        with pytest.raises(ValueError, match="m must"):
            forecast_accuracy_stream(stream_in, "k", "t", "y", "f", m=0)
        out = forecast_accuracy_stream(stream_in, "k", "t", "y", "f", m=4)
        q = (
            out.writeStream.format("memory")
            .queryName("fa_seasonal")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            r.k: r.w
            for r in spark.sql(
                "SELECT k, max_by(named_struct('n', n, 'mae', mae,"
                " 'rmse', rmse, 'mape', mape, 'nm', n_mape, 'sm', smape,"
                " 'ms', mase), n) AS w FROM fa_seasonal GROUP BY k"
            ).collect()
        }
    batch = {
        r.k: r for r in forecast_accuracy(df, "k", "t", "y", "f", m=4).collect()
    }
    assert set(got) == set(batch) == {"a", "b", "short", "gap"}
    for k, b in batch.items():
        g = got[k]
        assert g["n"] == b.n and g["nm"] == b.n_mape, k
        for nm, bv in (("mae", b.mae), ("rmse", b.rmse), ("mape", b.mape),
                       ("sm", b.smape), ("ms", b.mase)):
            if bv is None:
                assert g[nm] is None, (k, nm)
            else:
                assert g[nm] == pytest.approx(bv, rel=1e-12), (k, nm)
    assert batch["a"].mase is not None          # the live seasonal value
    assert batch["short"].mase is None          # <= m rows
    assert batch["gap"].mase is None and got["gap"]["ms"] is None  # contiguity


def test_forecast_accuracy_stream_seasonal_ms_timestamp_grid(spark):
    """review r13: a regular MILLISECOND timestamp grid must stay
    regular in the stream's spacing tracker — float64's ulp at 2026-era
    epoch NANOS is 256 ns, so the ns→float conversion made exact ms
    grids look irregular (permanent NULL mase); the int64 floor to
    MICROS (the batch unix_micros semantics) keeps it exact and
    stream(m=4) == batch at 1e-12."""
    import datetime

    import numpy as np

    from sparkglm_spark.operators.timeseries import forecast_accuracy
    from sparkglm_spark.streaming.events import forecast_accuracy_stream

    rng = np.random.default_rng(138)
    t0 = datetime.datetime(2026, 3, 1, 12, 0, 0)
    rows = []
    for t in range(24):
        y = 10.0 + (t % 4) + float(rng.normal(0, 0.3))
        rows.append((t0 + datetime.timedelta(milliseconds=t), y,
                     y + float(rng.normal(0, 0.5))))
    df = spark.createDataFrame(
        [("a", ts, y, f) for ts, y, f in rows],
        "k string, ts timestamp_ntz, y double, f double",
    )
    srt = sorted(r[0] for r in rows)
    cut1, cut2 = srt[8], srt[16]
    parts = [
        df.where(F.col("ts") < F.lit(cut1)),
        df.where((F.col("ts") >= F.lit(cut1)) & (F.col("ts") < F.lit(cut2))),
        df.where(F.col("ts") >= F.lit(cut2)),
    ]
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i, p in enumerate(parts):
            p.coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
        stream_in = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        out = forecast_accuracy_stream(stream_in, "k", "ts", "y", "f", m=4)
        q = (
            out.writeStream.format("memory")
            .queryName("fa_msgrid")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        g = spark.sql(
            "SELECT max_by(mase, n) AS ms FROM fa_msgrid"
        ).collect()[0]
    b = forecast_accuracy(df, "k", "ts", "y", "f", m=4).collect()[0]
    assert b.mase is not None, "batch must see the regular ms grid"
    assert g.ms is not None, "stream must see the regular ms grid"
    assert g.ms == pytest.approx(b.mase, rel=1e-12)


def test_forecast_accuracy_stream_null_ts_poisons_grid(spark):
    """review r13 pass 2: a null-ts row arriving in a LATER micro-batch
    becomes a NaN spacing that Python min/max would silently swallow —
    the tracker must poison permanently (NaN propagation) so the stream
    NULLs mase exactly like the batch twin's null-spacing census."""
    import numpy as np

    from sparkglm_spark.operators.timeseries import forecast_accuracy
    from sparkglm_spark.streaming.events import forecast_accuracy_stream

    rows = [("k", None if t == 10 else t, 10.0 + (t % 4), 10.5 + (t % 4))
            for t in range(16)]
    df = spark.createDataFrame(rows, "k string, t bigint, y double, f double")
    parts = [df.where(F.col("t") < 8),
             df.where(F.col("t").isNull() | (F.col("t") >= 8))]
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i, p_ in enumerate(parts):
            p_.coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
        stream_in = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        out = forecast_accuracy_stream(stream_in, "k", "t", "y", "f", m=4)
        q = (
            out.writeStream.format("memory")
            .queryName("fa_nullts")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        g = spark.sql("SELECT max_by(mase, n) AS ms FROM fa_nullts").collect()[0]
    b = forecast_accuracy(df, "k", "t", "y", "f", m=4).collect()[0]
    assert b.mase is None and g.ms is None  # both engines NULL


def test_holt_winters_state_stream_mul_equals_batch(spark):
    """r14: multiplicative-seasonal stream twin. A 4-micro-batch
    ts-ordered replay's last update per key equals batch
    holt_winters_forecast(seasonal='mul') at 1e-12 — same _hw_fold on
    both sides — and a key that ships a NON-POSITIVE value mid-stream is
    POISONED: NULL level/trend/forecast_1 with n_events still counting,
    exactly the batch whole-key NULL policy over the landed rows."""
    import numpy as np

    from sparkglm_spark.operators.timeseries import holt_winters_forecast
    from sparkglm_spark.streaming.events import holt_winters_state_stream

    m, a, b, g = 3, 0.5, 0.25, 0.5
    rng = np.random.default_rng(11)
    rows = []
    eid = 0
    for k in range(3):
        n = 10 + 4 * k
        for t in range(n):
            base = (20.0 * (k + 1) + 0.5 * t) * [1.3, 0.8, 0.9][t % m]
            v = float(base + rng.normal(0, 0.2))
            # key 2: a zero value lands mid-stream (row 8) -> poison
            if k == 2 and t == 8:
                v = 0.0
            rows.append((eid, f"2024-01-01 00:00:{t:02d}", k, v))
            eid += 1
    raw = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, value double"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"),
             "user_id", "value")
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        ts_sorted = sorted(r.ts for r in raw.select("ts").collect())
        cuts = [ts_sorted[len(ts_sorted) * i // 4] for i in (1, 2, 3)]
        parts = [
            raw.where(F.col("ts") <= F.lit(cuts[0])),
            raw.where((F.col("ts") > F.lit(cuts[0]))
                      & (F.col("ts") <= F.lit(cuts[1]))),
            raw.where((F.col("ts") > F.lit(cuts[1]))
                      & (F.col("ts") <= F.lit(cuts[2]))),
            raw.where(F.col("ts") > F.lit(cuts[2])),
        ]
        for i, p in enumerate(parts):
            p.coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
        stream_in = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        q = (
            holt_winters_state_stream(
                stream_in, "user_id", "ts", "value", a, b, g, period=m,
                tiebreak_col="event_id", seasonal="mul",
            )
            .writeStream.format("memory").queryName("hw_mul")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        got = spark.sql(
            "SELECT user_id, max_by(named_struct('n', n_events, 'l', level,"
            " 't', trend, 'f', forecast_1), n_events) AS w"
            " FROM hw_mul GROUP BY user_id"
        ).collect()
    batch = {
        r.user_id: r
        for r in holt_winters_forecast(
            raw, "user_id", "ts", "value", a, b, g, period=m, horizons=[1],
            tiebreak_col="event_id", seasonal="mul",
        ).collect()
    }
    assert len(got) == len(batch) == 3
    for r in got:
        bb = batch[r.user_id]
        assert r.w["n"] == bb.n_events, r.user_id
        if r.user_id == 2:  # poisoned: NULL in BOTH engines
            assert r.w["l"] is None and bb.level is None
            assert r.w["f"] is None and bb.forecast_1 is None
        else:
            assert r.w["l"] == pytest.approx(bb.level, rel=1e-12), r.user_id
            assert r.w["t"] == pytest.approx(bb.trend, rel=1e-12), r.user_id
            assert r.w["f"] == pytest.approx(
                bb.forecast_1, rel=1e-12
            ), r.user_id


def test_holt_winters_state_stream_mul_restart_continuation(spark):
    """r14: checkpoint restart mid-stream. Run the mul stream over the
    first half, STOP, land the second half, start a NEW query on the
    SAME checkpoint — the carried (level, trend, season, phase, bad)
    state continues the fold exactly (final state == one-shot batch)."""
    import numpy as np

    from sparkglm_spark.operators.timeseries import holt_winters_forecast
    from sparkglm_spark.streaming.events import holt_winters_state_stream

    m, a, b, g = 3, 0.4, 0.3, 0.35
    rng = np.random.default_rng(23)
    rows = []
    for t in range(16):
        base = (30.0 + 0.8 * t) * [1.2, 0.7, 1.1][t % m]
        rows.append((t, f"2024-01-01 00:00:{t:02d}", "k",
                     float(base + rng.normal(0, 0.3))))
    raw = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id string, value double"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"),
             "user_id", "value")
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        raw.where(F.col("event_id") < 8).coalesce(1).write.parquet(
            os.path.join(src, "b0.parquet")
        )
        sink = os.path.join(d, "sink")

        def run():
            # memory sinks can't recover a checkpoint — land updates via
            # foreachBatch (which can) and read the parquet back
            stream_in = (
                spark.readStream.schema(raw.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(src, "*.parquet"))
            )
            q = (
                holt_winters_state_stream(
                    stream_in, "user_id", "ts", "value", a, b, g,
                    period=m, tiebreak_col="event_id", seasonal="mul",
                )
                .writeStream.foreachBatch(
                    lambda bdf, bid: bdf.write.mode("append").parquet(sink)
                )
                .outputMode("update")
                .option("checkpointLocation", os.path.join(d, "ck"))
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(180)

        run()
        raw.where(F.col("event_id") >= 8).coalesce(1).write.parquet(
            os.path.join(src, "b1.parquet")
        )
        run()
        got = (
            spark.read.parquet(sink)
            .orderBy(F.col("n_events").desc())
            .limit(1)
            .collect()[0]
        )
        got = {"n": got.n_events, "l": got.level, "t": got.trend,
               "f": got.forecast_1}
    bb = holt_winters_forecast(
        raw, "user_id", "ts", "value", a, b, g, period=m, horizons=[1],
        tiebreak_col="event_id", seasonal="mul",
    ).collect()[0]
    assert got["n"] == bb.n_events == 16
    assert got["l"] == pytest.approx(bb.level, rel=1e-12)
    assert got["t"] == pytest.approx(bb.trend, rel=1e-12)
    assert got["f"] == pytest.approx(bb.forecast_1, rel=1e-12)


def test_ar_state_stream_equals_batch(spark, sf_dir):
    """r14: ar_state_stream over a 3-micro-batch ordered replay — the
    LAST update per key matches batch ar_forecast at 1e-9 (running
    sums vs batch aggregation: float association only). The series is
    the per-user rn-INDEXED value (regular grid by construction)."""
    from pyspark.sql import Window

    from sparkglm_spark.operators.timeseries import ar_forecast
    from sparkglm_spark.streaming.events import ar_state_stream

    ev = read_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & ~F.isnan(F.col("value"))
    )
    raw = ev.select(
        "user_id",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).cast("double").alias("idx"),
        (F.col("value") / 100.0).alias("xv"),
    )
    batch = {
        r.user_id: r
        for r in ar_forecast(
            raw, "user_id", "idx", "xv", p=2, horizons=[1, 3], interval=True
        ).collect()
    }
    # split by idx so batches arrive in per-key time order
    parts = [
        raw.where(F.col("idx") <= 20),
        raw.where((F.col("idx") > 20) & (F.col("idx") <= 45)),
        raw.where(F.col("idx") > 45),
    ]
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i, pt in enumerate(parts):
            pt.coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
        stream_in = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        out = ar_state_stream(
            stream_in, "user_id", "idx", "xv", p=2, horizons=[1, 3],
            interval=True,
        )
        q = (
            out.writeStream.format("memory")
            .queryName("ar_updates")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            r.user_id: r.w
            for r in spark.sql(
                "SELECT user_id, max_by(named_struct('n', n_events,"
                " 'nf', n_fit, 'c', intercept, 'a1', ar_1, 'a2', ar_2,"
                " 's2', sigma2, 'f1', forecast_1, 'f3', forecast_3,"
                " 'se3', se_3), n_events) AS w"
                " FROM ar_updates GROUP BY user_id"
            ).collect()
        }
    assert len(got) == len(batch) > 0
    for uid, b in batch.items():
        g = got[uid]
        assert g["n"] == b.n_events and g["nf"] == b.n_fit, uid
        for k, bk in (("c", b.intercept), ("a1", b.ar_1), ("a2", b.ar_2),
                      ("s2", b.sigma2), ("f1", b.forecast_1),
                      ("f3", b.forecast_3), ("se3", b.se_3)):
            assert g[k] == pytest.approx(bk, rel=1e-9, abs=1e-12), (uid, k)


def test_ar_state_stream_gap_and_short_key_null_parity(spark):
    """A planted grid gap NULLs the fit in BOTH engines (and stays
    poisoned after later regular batches); a short key reports counts
    with NULL estimates in both."""
    import numpy as np
    import pandas as pd

    from sparkglm_spark.operators.timeseries import ar_forecast
    from sparkglm_spark.streaming.events import ar_state_stream

    rng = np.random.default_rng(6)
    rows = []
    for i in range(30):
        if i == 13:
            continue  # the gap in key 'g'
        rows.append(("g", float(i), float(rng.normal())))
    for i in range(30):
        rows.append(("ok", float(i), float(rng.normal())))
    rows += [("sh", 0.0, 1.0), ("sh", 1.0, 2.0)]
    pdf = pd.DataFrame(rows, columns=["k", "t", "v"])
    df = spark.createDataFrame(pdf)
    batch = {r.k: r for r in ar_forecast(df, "k", "t", "v", p=1).collect()}
    assert batch["g"].ar_1 is None and batch["sh"].ar_1 is None
    assert batch["ok"].ar_1 is not None
    parts = [df.where(F.col("t") <= 15), df.where(F.col("t") > 15)]
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i, pt in enumerate(parts):
            pt.coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
        stream_in = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        out = ar_state_stream(stream_in, "k", "t", "v", p=1)
        q = (
            out.writeStream.format("memory")
            .queryName("ar_gap")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r.k: r.w
            for r in spark.sql(
                "SELECT k, max_by(named_struct('n', n_events, 'a1', ar_1),"
                " n_events) AS w FROM ar_gap GROUP BY k"
            ).collect()
        }
    assert got["g"]["a1"] is None and got["g"]["n"] == 29
    assert got["sh"]["a1"] is None and got["sh"]["n"] == 2
    assert got["ok"]["a1"] == pytest.approx(batch["ok"].ar_1, rel=1e-9)


def test_ar_state_stream_guards(spark):
    from sparkglm_spark.streaming.events import ar_state_stream

    df = spark.range(1)  # not streaming
    with pytest.raises(ValueError, match="streaming"):
        ar_state_stream(df, "id", "id", "id")


def _sf(spec):
    """`StructField(...)` strings as Spark prints them, from "name:Type"
    pairs (nullable fields)."""
    return ", ".join(
        f"StructField({n},{t},true)"
        for n, t in (f.split(":") for f in spec.split())
    )


_HW_STATE = _sf(
    "buf:ArrayType(DoubleType,true) lvl:DoubleType trd:DoubleType "
    "season:ArrayType(DoubleType,true) phase:LongType n:LongType "
    "inited:BooleanType last:LongType bad:BooleanType"
)
_INT_STATE = _sf(
    "z:DoubleType p:DoubleType q:LongType n:LongType nd:LongType "
    "bad:BooleanType"
)
_INT_IV_STATE = _INT_STATE + ", " + _sf("sse:DoubleType me:LongType")
_FA_SUMS = _sf(
    "n:LongType sae:DoubleType sse:DoubleType sape:DoubleType "
    "n_mape:LongType ssm:DoubleType snd:DoubleType n_nd:LongType"
)
_FA_OUT = "user_idL, nL, mae, rmse, mape, n_mapeL, smape, mase"
_HW_OUT = "user_idL, n_eventsL, level, trend, forecast_1, last_ts_microsL"

# (operator, kwargs, output attributes, state fields) as the analyzed
# FlatMapGroupsInPandasWithState node prints them, expression ids removed
_STREAM_SCHEMAS = {
    "ewma": (
        "ewma_state_stream", dict(alpha=0.25),
        "user_idL, n_eventsL, ewma, last_ts_microsL",
        _sf("num:DoubleType den:DoubleType n:LongType last:LongType"),
    ),
    "holt": (
        "holt_state_stream", dict(alpha=0.3, beta=0.2),
        "user_idL, n_eventsL, level, trend, forecast_1, last_ts_microsL",
        _sf("lvl:DoubleType trd:DoubleType n:LongType last:LongType"),
    ),
    "hw_add": (
        "holt_winters_state_stream",
        dict(alpha=0.3, beta=0.1, gamma=0.2, period=4), _HW_OUT, _HW_STATE,
    ),
    "hw_mul": (
        "holt_winters_state_stream",
        dict(alpha=0.3, beta=0.1, gamma=0.2, period=4, seasonal="mul"),
        _HW_OUT, _HW_STATE,
    ),
    "croston": (
        "croston_state_stream", dict(alpha=0.3),
        "user_idL, n_periodsL, n_demandsL, size, interval, forecast",
        _INT_STATE,
    ),
    "croston_interval": (
        "croston_state_stream", dict(alpha=0.3, interval=True),
        "user_idL, n_periodsL, n_demandsL, size, interval, forecast, "
        "se, lo, hi",
        _INT_IV_STATE,
    ),
    "tsb": (
        "tsb_state_stream", dict(alpha=0.3, beta=0.2),
        "user_idL, n_periodsL, n_demandsL, size, probability, forecast",
        _INT_STATE,
    ),
    "tsb_interval": (
        "tsb_state_stream", dict(alpha=0.3, beta=0.2, interval=True),
        "user_idL, n_periodsL, n_demandsL, size, probability, forecast, "
        "se, lo, hi",
        _INT_IV_STATE,
    ),
    "accuracy_m1": (
        "forecast_accuracy_stream", dict(m=1), _FA_OUT,
        _FA_SUMS + ", " + _sf("prev_y:DoubleType"),
    ),
    "accuracy_m3": (
        "forecast_accuracy_stream", dict(m=3), _FA_OUT,
        _FA_SUMS + ", " + _sf(
            "tail:ArrayType(DoubleType,true) prev_ts:DoubleType "
            "dt_min:DoubleType dt_max:DoubleType"
        ),
    ),
    "ar_p2": (
        "ar_state_stream", dict(p=2, horizons=[1, 3], interval=True),
        "user_idL, n_eventsL, n_fitL, intercept, ar_1, ar_2, sigma2, "
        "forecast_1, forecast_3, se_1, lo_1, hi_1, se_3, lo_3, hi_3",
        _sf(
            "n:LongType nf:LongType sums:ArrayType(DoubleType,true) "
            "tail:ArrayType(DoubleType,true) prev_ts:DoubleType "
            "dt_min:DoubleType dt_max:DoubleType"
        ),
    ),
    "drift": (
        "drift_state_stream", {}, "n_curL, psi, js_divergence",
        _sf("counts:ArrayType(LongType,true)"),
    ),
    "totals": (
        "user_running_totals_stream", {}, "user_idL, n_eventsL, value_sum",
        _sf("n:LongType s:DoubleType"),
    ),
}


@pytest.mark.parametrize("case", sorted(_STREAM_SCHEMAS))
def test_stream_state_and_output_schemas_pinned(spark, sf_dir, case):
    """Checkpoint compatibility: every stream operator's state fields and
    output attributes, read off the analyzed plan's
    FlatMapGroupsInPandasWithState node, equal the strings a checkpoint
    written by an earlier build carries — a changed state schema would
    refuse to resume."""
    import re

    from sparkglm_spark.streaming import events as ev
    from sparkglm_spark.streaming.events import stream_from_events_table

    op, kw, want_out, want_state = _STREAM_SCHEMAS[case]
    s = stream_from_events_table(spark, sf_dir).withColumn(
        "fc", F.col("value") * 0.9
    )
    fn = getattr(ev, op)
    if op == "drift_state_stream":
        ref = {"lo": 0.0, "hi": 1.0, "n_bins": 2,
               "bins": [{"bin": 0, "p_ref": 0.5}, {"bin": 1, "p_ref": 0.5}]}
        out = fn(s, "value", ref)
    elif op == "user_running_totals_stream":
        out = fn(s)
    elif op == "forecast_accuracy_stream":
        out = fn(s, "user_id", "ts", "value", "fc", tiebreak_col="event_id", **kw)
    else:
        out = fn(s, "user_id", "ts", "value", tiebreak_col="event_id", **kw)
    plan = out._jdf.queryExecution().analyzed().toString()
    node = next(
        ln for ln in plan.splitlines() if "FlatMapGroupsInPandasWithState" in ln
    )
    m = re.search(r"\[([^\[\]]*)\], \[(StructField\(.*\))\], Update", node)
    assert re.sub(r"#\d+", "", m.group(1)) == want_out
    assert m.group(2) == want_state


def _replay(spark, parts, build, name):
    """Write `parts` as one parquet file each, replay them as micro-batches
    (one file per trigger) through `build(stream_df)` and return every
    emitted update row."""
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i, p in enumerate(parts):
            p.coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
        stream_in = (
            spark.readStream.schema(parts[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        q = (
            build(stream_in).writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return spark.sql(f"SELECT * FROM {name}").collect()


def _last_updates(rows, key, n):
    """The last update per key: the one with the largest running count."""
    out = {}
    for r in rows:
        if r[key] not in out or r[n] > out[r[key]][n]:
            out[r[key]] = r
    return out


def _fall_back_grid(spark):
    """Two keys on a regular hourly TIMESTAMP (LTZ) grid, 12 hours each
    from 2026-11-01 03:00 UTC — across the America/New_York fall-back at
    06:00 UTC, when 01:00 local repeats. The tiebreak runs against time,
    so a sort that sees the repeated local hour as a tie misorders it."""
    t0 = 1793502000  # 2026-11-01 03:00:00 UTC
    return spark.range(24).select(
        (F.col("id") % 2).cast("string").alias("k"),
        F.timestamp_seconds(F.lit(t0) + F.expr("id div 2") * 3600).alias("ts"),
        (100 - F.col("id")).alias("eid"),
        (10.0 + F.col("id") % 5 + F.sin(F.col("id"))).alias("y"),
        (10.5 + F.col("id") % 3).alias("f"),
    )


def test_dst_fall_back_grid_is_regular_batch_and_stream(spark):
    """On a regular hourly LTZ grid across a DST fall-back, Spark's
    ts − lag(ts) shows one 0-second spacing (the repeated local hour),
    which used to NULL seasonal mase and the AR estimates in batch, and
    zone-local pandas datetimes did the same in the streams. The grid
    checks read `_ts_axis` (epoch micros) instead, so both engines see
    the grid as regular and agree."""
    from sparkglm_spark.operators.timeseries import ar_forecast, forecast_accuracy
    from sparkglm_spark.streaming.events import (
        ar_state_stream,
        forecast_accuracy_stream,
    )

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = _fall_back_grid(spark)
        # hourly tertiles: the two 01:00 local hours share micro-batch 0
        cut = [F.unix_seconds("ts") < 1793502000 + 4 * 3600,
               F.unix_seconds("ts") >= 1793502000 + 8 * 3600]
        parts = [df.where(cut[0]), df.where(~cut[0] & ~cut[1]), df.where(cut[1])]
        fa = {r.k: r for r in forecast_accuracy(
            df, "k", "ts", "y", "f", tiebreak_col="eid", m=2).collect()}
        ar = {r.k: r for r in ar_forecast(
            df, "k", "ts", "y", p=1, tiebreak_col="eid").collect()}
        fa_s = _last_updates(_replay(
            spark, parts,
            lambda s: forecast_accuracy_stream(
                s, "k", "ts", "y", "f", tiebreak_col="eid", m=2),
            "dst_fa"), "k", "n")
        ar_s = _last_updates(_replay(
            spark, parts,
            lambda s: ar_state_stream(s, "k", "ts", "y", p=1, tiebreak_col="eid"),
            "dst_ar"), "k", "n_events")
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert sorted(fa) == sorted(ar) == sorted(fa_s) == sorted(ar_s) == ["0", "1"]
    for k in fa:
        assert fa[k].mase is not None and ar[k].ar_1 is not None, k
        assert fa_s[k].mase == pytest.approx(fa[k].mase, rel=1e-12), k
        assert ar_s[k].ar_1 == pytest.approx(ar[k].ar_1, rel=1e-9), k
        assert ar_s[k].forecast_1 == pytest.approx(ar[k].forecast_1, rel=1e-9), k


def test_grid_streams_resume_date_axis_checkpoint(spark):
    """A DATE-axis checkpoint of the grid-tracking streams resumes. Their
    state has always stored the axis as epoch micros of midnight
    (prev_ts, and spacings of 86400e6), so the checkpoint is seeded by
    the same operator over the wall-clock-midnight TIMESTAMP_NTZ twin of
    the column — the same number, read back from the state store — and
    the stream then resumes on the DATE column. Seasonal mase and the AR
    estimates stay non-NULL and equal the batch run over the whole
    series (a day-count axis would put a huge negative seam spacing in
    the tracker and NULL them for good)."""
    import pandas as pd

    from sparkglm_spark.operators.timeseries import ar_forecast, forecast_accuracy
    from sparkglm_spark.streaming.events import (
        ar_state_stream,
        forecast_accuracy_stream,
    )

    df = spark.range(24).select(
        (F.col("id") % 2).cast("string").alias("k"),
        F.date_add(F.lit(datetime.date(2026, 1, 1)),
                   F.expr("cast(id div 2 as int)")).alias("d"),
        (10.0 + F.col("id") % 5 + F.sin(F.col("id"))).alias("y"),
        (10.5 + F.col("id") % 3).alias("f"),
    )
    day = F.col("d")
    parts = [df.where(day < "2026-01-05"),
             df.where((day >= "2026-01-05") & (day < "2026-01-09")),
             df.where(day >= "2026-01-09")]
    seed = parts[0].withColumn("d", F.col("d").cast("timestamp_ntz"))
    builds = {
        "fa": (lambda s: forecast_accuracy_stream(s, "k", "d", "y", "f", m=3),
               "n"),
        "ar": (lambda s: ar_state_stream(s, "k", "d", "y", p=1), "n_events"),
    }
    got = {}
    for name, (build, n_col) in builds.items():
        with tempfile.TemporaryDirectory() as d:
            src, sink, ck = (os.path.join(d, x) for x in ("src", "sink", "ck"))
            os.makedirs(src)

            def run(schema):
                q = (
                    build(spark.readStream.schema(schema)
                          .option("maxFilesPerTrigger", 1)
                          .parquet(os.path.join(src, "*.parquet")))
                    .writeStream.foreachBatch(
                        lambda bdf, bid: bdf.write.mode("append").parquet(sink))
                    .outputMode("update")
                    .option("checkpointLocation", ck)
                    .trigger(availableNow=True).start()
                )
                q.awaitTermination(180)

            seed.coalesce(1).write.parquet(os.path.join(src, "b0.parquet"))
            run(seed.schema)
            state = spark.read.format("statestore").load(ck).collect()
            prev = {r.key.k: r.value.groupState.prev_ts for r in state}
            for i, p in enumerate(parts[1:], 1):
                p.coalesce(1).write.parquet(os.path.join(src, f"b{i}.parquet"))
            run(df.schema)
            got[name] = _last_updates(
                spark.read.parquet(sink).collect(), "k", n_col)
        # the unit a DATE axis has always stored: pandas midnight micros
        assert prev == {
            "0": pd.Timestamp("2026-01-04").value // 1000,
            "1": pd.Timestamp("2026-01-04").value // 1000,
        }, name
    fa = {r.k: r for r in forecast_accuracy(df, "k", "d", "y", "f", m=3).collect()}
    ar = {r.k: r for r in ar_forecast(df, "k", "d", "y", p=1).collect()}
    assert sorted(got["fa"]) == sorted(got["ar"]) == sorted(fa) == ["0", "1"]
    for k in fa:
        assert fa[k].mase is not None and ar[k].ar_1 is not None, k
        assert got["fa"][k].n == 12 and got["ar"][k].n_events == 12, k
        assert got["fa"][k].mase == pytest.approx(fa[k].mase, rel=1e-12), k
        assert got["ar"][k].ar_1 == pytest.approx(ar[k].ar_1, rel=1e-9), k


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_smoothing_streams_last_ts_micros(spark, tz):
    """`last_ts_micros` of the EWMA, Holt and Holt-Winters streams is the
    batch `last_ts` as epoch micros in any session zone (it used to read
    zone-local pandas datetimes: 5 h off under America/New_York), and
    NULL on a numeric ts axis (it used to read 0)."""
    from sparkglm_spark.operators.timeseries import ewma_latest
    from sparkglm_spark.streaming.events import (
        ewma_state_stream,
        holt_state_stream,
        holt_winters_state_stream,
    )

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        df = _fall_back_grid(spark)
        want = {
            r.k: r.us
            for r in ewma_latest(df, "k", "ts", "y", 0.3, tiebreak_col="eid")
            .select("k", F.unix_micros("last_ts").alias("us"))
            .collect()
        }
        builds = {
            "lt_ewma": lambda s: ewma_state_stream(
                s, "k", "ts", "y", 0.3, tiebreak_col="eid"),
            "lt_holt": lambda s: holt_state_stream(
                s, "k", "ts", "y", 0.3, 0.2, tiebreak_col="eid"),
            "lt_hw": lambda s: holt_winters_state_stream(
                s, "k", "ts", "y", 0.3, 0.1, 0.2, period=2,
                tiebreak_col="eid"),
        }
        got = {
            name: _last_updates(_replay(spark, [df], b, name), "k", "n_events")
            for name, b in builds.items()
        }
        numeric = _replay(
            spark, [df.withColumn("ts", F.col("eid"))],
            lambda s: ewma_state_stream(s, "k", "ts", "y", 0.3), "lt_num",
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert sorted(want) == ["0", "1"]
    for name, rows in got.items():
        assert {k: r.last_ts_micros for k, r in rows.items()} == want, name
    assert numeric and all(r.last_ts_micros is None for r in numeric)


@pytest.mark.parametrize("axis", ["string", "long_2e60"])
def test_state_stream_sorts_non_temporal_axis_raw(spark, axis):
    """A non-temporal ts column is the sort key as it stands, as the
    batch twin's window sorts it: an ISO string axis folds in string
    order (a cast to double would raise under ANSI mode) and a long axis
    past 2^53 keeps neighbouring values apart (as doubles they collide
    and the reversed tiebreak would reorder them)."""
    from sparkglm_spark.operators.timeseries import ewma_latest
    from sparkglm_spark.streaming.events import ewma_state_stream

    ts = (
        F.format_string("2026-01-01 00:%02d", F.col("id"))
        if axis == "string"
        else F.lit(2**60) + F.col("id")
    )
    df = spark.range(12).select(
        F.lit("a").alias("k"), ts.alias("ts"), (100 - F.col("id")).alias("eid"),
        (F.col("id") * F.col("id") % 7).cast("double").alias("y"),
    )
    want = ewma_latest(df, "k", "ts", "y", 0.3, tiebreak_col="eid").collect()[0]
    rows = _replay(
        spark, [df],
        lambda s: ewma_state_stream(s, "k", "ts", "y", 0.3, tiebreak_col="eid"),
        f"raw_axis_{axis}",
    )
    got = _last_updates(rows, "k", "n_events")["a"]
    assert got.n_events == want.n_events == 12
    assert got.ewma == pytest.approx(want.ewma, rel=1e-12)
    assert got.last_ts_micros is None


def test_user_running_totals_stream_string_key(spark):
    """A non-`user_id` key keeps its own name and type in the output (it
    used to be hard-coded as `user_id long`, failing at action time for
    a string key); every row counts, a null value included, and the sum
    skips the null."""
    from sparkglm_spark.streaming.events import user_running_totals_stream

    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("a", 3.0), ("a", None)],
        "k string, value double",
    )
    rows = _replay(
        spark, [df], lambda s: user_running_totals_stream(s, user_col="k"),
        "totals_str",
    )
    got = {k: (r.n_events, r.value_sum)
           for k, r in _last_updates(rows, "k", "n_events").items()}
    assert got == {"a": (3, 4.0), "b": (1, 2.0)}
